"""The document kernel: one write loop and one read loop for every driver
that stores one self-contained file per shard.

GDAL's text and image drivers (KML, GPX, GML, XLSX, AAIGrid, PNM, ...)
keep only their encoding and do all file IO through one VSI layer.  This
module plays that part for the engine's document and block-image
drivers.  A driver keeps its codec and its file naming and hands the
kernel one callback per direction:

* :func:`write_files` groups the rows by the driver's shard key, and one
  task per shard writes the ``{file name: bytes}`` that the driver's
  ``encode(key, pdf)`` returns.  Each file is written under a
  dot-prefixed temporary name in the target directory (which file globs
  skip) and renamed into place.  A frame with no rows writes no file.
* :func:`read_files` decodes every file that a glob matches, files
  spread over the scan's tasks; the driver's ``decode(path, buf)`` turns
  one file into a frame.  A glob that matches nothing in an existing
  directory reads as an empty frame.
"""

from __future__ import annotations

import glob
import os
from typing import Callable, Iterator, Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _rawgrid as RG

Encode = Callable[[object, pd.DataFrame], dict]
Decode = Callable[[str, bytes], pd.DataFrame]


def hash_key(col: str, n: int) -> Column:
    """Shard ``0..n-1`` of a row by ``col``: the same Murmur3 row-to-
    partition assignment as ``repartition(n, col)``."""
    return F.pmod(F.hash(F.col(col)), F.lit(n))


def point_schema(int_fields: list[str], x: str = "x",
                 y: str = "y") -> str:
    """DDL of a point layer: ``int_fields`` as long, then ``x``, ``y``
    as double."""
    return ", ".join([f"{c} long" for c in int_fields]
                     + [f"{x} double", f"{y} double"])


def write_files(frame: DataFrame, directory: str,
                key: Union[Column, Sequence[Column]], encode: Encode,
                shape: dict | None = None) -> int:
    """Distributed sink into ``directory``: the rows are grouped by
    ``key`` (a column, or several), and one task per shard writes the
    ``{file name: bytes}`` of ``encode(key value, pdf)``; the value is a
    tuple when the key has several columns.  ``shape`` maps the index
    columns of a grid to their extents: a shard holding a cell outside
    them writes nothing, and ``ValueError`` is raised after the other
    shards are written.  Returns the number of shards written."""
    os.makedirs(directory, exist_ok=True)
    keys = list(key) if isinstance(key, (list, tuple)) else [key]
    names = [f"_key{i}" for i in range(len(keys))]

    def run(value, pdf):
        pdf = pdf.drop(columns=names)
        bad = RG.check_cells(pdf, shape) if shape else None
        if bad:
            return pd.DataFrame({"bad": [bad]})
        files = encode(value if len(value) > 1 else value[0], pdf)
        for name, data in files.items():
            tmp = os.path.join(directory, f".{name}.{os.getpid()}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.replace(tmp, os.path.join(directory, name))
        return pd.DataFrame({"bad": [None]}, dtype=object)

    bad = [r["bad"] for r in (
        frame.select("*", *[k.alias(n) for k, n in zip(keys, names)])
        .groupBy(*names)
        .applyInPandas(run, "bad string")
        .collect())]  # bounded: one row per shard
    RG.raise_bad_cells(directory, bad)
    return len(bad)


def read_files(spark: SparkSession, pattern: str, decode: Decode,
               schema: str) -> DataFrame:
    """Distributed scan of the files matching the glob ``pattern``:
    ``decode(local path, bytes)`` returns the rows of one file as a
    frame in ``schema``.  No match in an existing directory reads as an
    empty frame; a missing directory raises."""
    if not glob.glob(pattern) and os.path.isdir(os.path.dirname(pattern)):
        return spark.createDataFrame([], schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, buf in zip(pdf["path"], pdf["content"]):
                yield decode(path.removeprefix("file:"), bytes(buf))

    return spark.read.format("binaryFile").load(pattern) \
        .select("path", "content").mapInPandas(run, schema)


def grid_index(shape: tuple, keep: np.ndarray | None = None,
               y0: int = 0, x0: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """``(gy, gx)`` of the cells of an ``(h, w)`` block whose top-left
    cell is ``(y0, x0)``, row-major, only where the mask ``keep`` is
    set when one is given."""
    gy, gx = np.mgrid[y0:y0 + shape[0], x0:x0 + shape[1]]
    return (gy.ravel(), gx.ravel()) if keep is None else (gy[keep], gx[keep])


def block_of(path: str) -> int:
    """The block number of a ``block-NNNNN.<ext>`` file."""
    return int(path.rsplit("block-", 1)[1][:5])


# rows of a 1x1-degree elevation tile (SRTM HGT, DTED, USGS DEM)
TILE_SCHEMA = ("lat_sw long, lon_sw long, row long, col long, elev long,"
               " lon double, lat double")


def tile_frame(lat_sw: int, lon_sw: int, rows: np.ndarray,
               cols: np.ndarray, elev: np.ndarray, lon: np.ndarray,
               lat: np.ndarray) -> pd.DataFrame:
    """The samples of one tile as a frame in :data:`TILE_SCHEMA`."""
    return pd.DataFrame({
        "lat_sw": np.full(rows.size, lat_sw, dtype=np.int64),
        "lon_sw": np.full(rows.size, lon_sw, dtype=np.int64),
        "row": rows, "col": cols, "elev": elev.astype(np.int64),
        "lon": lon, "lat": lat})
