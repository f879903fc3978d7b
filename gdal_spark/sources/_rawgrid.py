"""The raw-raster slab kernel: one read loop and one write loop for every
header-plus-raw-body raster driver.

GDAL runs its raw formats (EHdr, ENVI, PAux, BT, ...) through one
``RawRasterBand`` (``gcore/rawdataset.cpp``), set up by image offset,
pixel offset, line offset and byte order.  This module plays that part
for the engine's drivers.  A driver keeps its header and its layout
(offsets, strides, byte order, row flips, transposes, record prefixes,
value scaling) and hands the kernel one callback per direction:

* :func:`read_slabs` runs one Spark task per group of slabs.  The task
  holds the data file open, and the driver's ``decode(read, slab)``
  yields ``(band, y0, x0, block)``: ``block`` is a NORTH-UP 2-D array
  whose top-left cell is grid cell ``(y0, x0)``, masked where the
  format marks nodata.  The kernel turns each block into
  ``(band?, gy, gx, val)`` rows.
* :func:`write_slabs` groups the cells by the driver's slab key, checks
  every index column against the grid, and one task per slab
  ``pwrite``s the ``(offset, bytes)`` that the driver's
  ``encode(slab, pdf)`` returns.  :func:`preallocate` sizes the file
  first, so the tasks write disjoint ranges of one file and no pixel
  bytes pass through the driver.

:func:`check_cells` is the one grid-range check of the engine's writers;
the document kernel (``_docio.py``) and the HF2 writer use it too.
"""

from __future__ import annotations

import os
from typing import Callable, Iterable, Iterator, NamedTuple, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# most read tasks a scan starts: slab ids are hash-partitioned over them
MAX_TASKS = 32

Read = Callable[[int, tuple, object], np.ndarray]
Decode = Callable[[Read, int], Iterable[tuple]]
Encode = Callable[[int, pd.DataFrame], tuple]


class Blocks(NamedTuple):
    """Slabs of ``size`` lines along an axis of ``extent`` lines, for each
    of ``bands`` bands; slab id = band * n + block."""

    extent: int
    size: int
    bands: int = 1

    @property
    def n(self) -> int:
        return -(-self.extent // self.size)

    @property
    def count(self) -> int:
        return self.bands * self.n

    def span(self, slab: int) -> tuple[int, int, int]:
        """``(band, first line, line count)`` of a slab."""
        band, blk = divmod(slab, self.n)
        start = blk * self.size
        return band, start, min(self.size, self.extent - start)

    def key(self, line: Union[str, Column] = "gy",
            banded: bool = False) -> Column:
        """The slab id of a cell, from its line (and band) column."""
        line = F.col(line) if isinstance(line, str) else line
        blk = F.floor(line / F.lit(self.size)).cast("long")
        if banded:
            return F.col("band").cast("long") * F.lit(self.n) + blk
        return blk


def read_slabs(
    spark: SparkSession, path: str, n_slabs: int, decode: Decode,
    banded: bool = False, *, val: str = "double",
) -> DataFrame:
    """Distributed scan of slabs ``0..n_slabs-1`` of the file at ``path``
    → ``(band?, gy, gx, val)``.  ``decode`` gets ``read(offset, shape,
    dtype)``, which ``pread``s one array, and a slab id; the cells of a
    masked block that are masked (the format's nodata) are not emitted.
    ``val`` is the Spark type of the value column, ``double`` or
    ``long``."""
    out_dt = np.int64 if val == "long" else np.float64
    names = ("band", "gy", "gx") if banded else ("gy", "gx")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fd = os.open(path, os.O_RDONLY)

        def read(offset: int, shape: tuple, dtype) -> np.ndarray:
            dt = np.dtype(dtype)
            blob = os.pread(fd, int(np.prod(shape)) * dt.itemsize, offset)
            return np.frombuffer(blob, dtype=dt).reshape(shape)

        try:
            for pdf in batches:
                for slab in pdf["slab"].to_numpy():
                    for band, y0, x0, block in decode(read, int(slab)):
                        rows, cols = block.shape
                        gy, gx = np.mgrid[y0:y0 + rows, x0:x0 + cols]
                        keep = ~np.ma.getmaskarray(block).ravel()
                        frame = {
                            "gy": gy.ravel()[keep], "gx": gx.ravel()[keep],
                            "val": np.ma.getdata(block).ravel()[keep]
                            .astype(out_dt)}
                        if banded:
                            frame = {"band": np.full(keep.sum(), band,
                                                     dtype=np.int64),
                                     **frame}
                        yield pd.DataFrame(frame)
        finally:
            os.close(fd)

    slabs = spark.range(n_slabs).toDF("slab").repartition(
        min(n_slabs, MAX_TASKS), "slab")
    schema = ", ".join(f"{c} long" for c in names) + f", val {val}"
    return slabs.mapInPandas(run, schema)


def write_slabs(cells: DataFrame, path: str, slab_expr: Column,
                shape: tuple, encode: Encode) -> None:
    """Distributed sink into the pre-sized file at ``path``: cells are
    grouped by ``slab_expr`` and one task per slab ``pwrite``s the
    ``(offset, bytes or array)`` of ``encode(slab, pdf)``.  ``shape`` is
    ``(h, w)`` or ``(bands, h, w)``, the ranges of ``gy``/``gx`` and
    ``band``; a cell outside them raises ``ValueError`` here, after the
    slabs whose cells all lie inside have been written."""
    shape = dict(zip(("band", "gy", "gx")[-len(shape):], shape))

    def run(key, pdf):
        bad = check_cells(pdf, shape)
        if bad:
            return pd.DataFrame({"bad": [bad]})
        offset, data = encode(int(key[0]), pdf)
        if isinstance(data, np.ndarray):
            data = data.tobytes(order="C")
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, data, offset)
        finally:
            os.close(fd)
        return pd.DataFrame({"bad": []}, dtype=object)

    raise_bad_cells(path, [
        r["bad"] for r in (
            cells.withColumn("_slab", slab_expr)
            .groupBy("_slab")
            .applyInPandas(run, "bad string")
            .collect())])  # bounded: one row per rejected slab


def check_cells(pdf: pd.DataFrame, shape: dict) -> str | None:
    """The first cell of ``pdf`` outside the grid, as a message, or
    ``None``.  ``shape`` maps each index column to its extent ``n``; a
    cell lies inside when every index is in ``[0, n)`` (not NULL).  The
    checked columns of an all-inside ``pdf`` are cast to int64."""
    for name, n in shape.items():
        col = pdf[name]
        bad = col.isna() | (col < 0) | (col >= n)
        if bad.any():
            return f"{name} must lie in [0, {n}), got {col[bad].iloc[0]}"
        pdf[name] = col.to_numpy(np.int64)
    return None


def raise_bad_cells(path: str, bad: Iterable[str | None]) -> None:
    """Raise the ``ValueError`` naming the first rejected cells of the
    write to ``path``; ``None`` entries are shards that were written."""
    bad = sorted({b for b in bad if b})
    if bad:
        raise ValueError(f"{os.path.basename(os.path.normpath(path))}: "
                         f"cell {'; '.join(bad[:3])}")


def preallocate(path: str, head: bytes, row: bytes, n: int,
                tail: int = 0) -> int:
    """Create ``path`` as ``head``, ``n`` copies of ``row`` and ``tail``
    zero bytes, and return the offset of the first row.  An all-zero
    ``row`` is left as a sparse extension instead of being written."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(head)
        if any(row):
            for _ in range(n):
                fh.write(row)
        fh.truncate(len(head) + n * len(row) + tail)
    return len(head)


def fill_row(fill: float, dtype, n: int) -> bytes:
    """``n`` samples of ``fill`` in ``dtype``: the blank row of a file."""
    return np.full(n, fill, dtype=dtype).tobytes()


def scatter(pdf: pd.DataFrame, shape: tuple, fill: float, dtype,
            *index: np.ndarray, vals: np.ndarray | None = None
            ) -> np.ndarray:
    """A ``shape`` block of ``fill`` with ``vals`` (default: the ``val``
    column) stored at ``index``, cast to ``dtype``."""
    buf = np.full(shape, fill, dtype=dtype)
    vals = pdf["val"].to_numpy() if vals is None else vals
    buf[index] = vals.astype(buf.dtype, copy=False)
    return buf


def value_range(cells: DataFrame) -> tuple[float, float]:
    """``(min, max)`` of the ``val`` column in one bounded aggregate;
    ``(0.0, 0.0)`` when there is no value."""
    lo, hi = cells.agg(F.min("val"), F.max("val")).first()
    return (0.0, 0.0) if lo is None else (float(lo), float(hi))
