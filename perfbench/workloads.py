"""The benchmark's workloads: seeded inputs, the job each one times, and the
check of every job's output.

Each workload has ``prepare`` (build inputs and the oracle's answer; not
timed), ``source`` (scan + geotag, the first rung of the layer ladder),
``pip`` (its ``pip_join`` call), ``run_once`` (one timed job) and ``check``
(problems found in one job's output; empty means correct).  The traced
run also drives ``source`` and ``pip`` through a lineage pipeline
(``layers.lineage_stats``).
"""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import dense_layer
import oracle
from gdal_spark.data.geotag import derived_lat, derived_lon
from gdal_spark.data.pages import polygons_df
from gdal_spark.operators.pip_join import pip_join
from gdal_spark.operators.tiles import assign_tiles

ZOOM = 12

# derived_lon maps id to -180.0 exactly once per period; the current tile
# math sends lon = -180 to tx = -1, so geotag windows skip that id.
_LON_PERIOD, _LON_MUL, _LON_ADD = 3_600_000, 9973, 12345
_LON_EDGE_ID = (-_LON_ADD * pow(_LON_MUL, -1, _LON_PERIOD)) % _LON_PERIOD


def geotag_window(seed: int, rows: int) -> int:
    """First key of a seed-placed window of ``rows`` consecutive keys whose
    derived geotags stay inside the tile domain."""
    return _LON_EDGE_ID + 1 + (seed * 104_729) % (_LON_PERIOD - rows)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def out_of_range(zoom: int = ZOOM):
    n = 1 << zoom
    tx, ty = F.col("tx"), F.col("ty")
    return tx.isNull() | ty.isNull() | (tx < 0) | (tx >= n) | (ty < 0) | (ty >= n)


def observed_noop(df, *exprs) -> dict:
    """Write ``df`` to the noop sink while Spark aggregates ``exprs`` over
    the rows on their way out."""
    obs = Observation()
    noop(df.observe(obs, *exprs))
    return obs.get


class Workload:
    """Points keyed by ``id`` -> ``pip_join`` (-> ``assign_tiles``) -> noop
    sink."""

    name = ""
    why = ""
    how, first_match, tiles = "left", True, True
    rows = 0
    partitions = 8  # two Arrow batches (65,536 rows each) or less per task
    sample_mod = 1009

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.polys = None
        self.expected = None

    @property
    def sample_rem(self) -> int:
        return self.seed % self.sample_mod

    def sample_keys(self) -> np.ndarray:
        keys = self.first_key + np.arange(self.rows, dtype=np.int64)
        return keys[keys % self.sample_mod == self.sample_rem]

    def prepare(self, spark, con) -> None:
        self.polys = polygons_df(spark)
        self.expected = oracle.fixture_expected(con, self.sample_keys(), ZOOM)

    def pip(self, df):
        return pip_join(df, self.polys, how=self.how, first_match=self.first_match)

    def job(self, spark):
        out = self.pip(self.source(spark))
        return assign_tiles(out, ZOOM) if self.tiles else out

    def _fields(self) -> list[str]:
        return ["id", "poly_id"] + (["tx", "ty", "quadkey"] if self.tiles else [])

    def execute(self, df) -> dict:
        sampled = F.col("id") % self.sample_mod == self.sample_rem
        exprs = [
            F.count(F.lit(1)).alias("rows"),
            F.count("poly_id").alias("matched"),
            F.collect_list(F.when(sampled, F.struct(*self._fields()))).alias("sample"),
        ]
        if self.tiles:
            exprs.append(F.sum(out_of_range().cast("long")).alias("out_of_range"))
        return observed_noop(df, *exprs)

    def run_once(self, spark) -> tuple[float, dict]:
        t0 = time.perf_counter()
        obs = self.execute(self.job(spark))
        return time.perf_counter() - t0, obs

    def check(self, obs: dict) -> list[str]:
        problems = []
        if self.how == "left" and obs["rows"] != self.rows:
            problems.append(f"left join returned {obs['rows']} rows for {self.rows} inputs")
        if self.how == "inner" and obs["matched"] != obs["rows"]:
            problems.append("inner join returned NULL poly_id")
        if self.tiles and obs["out_of_range"]:
            problems.append(f"{obs['out_of_range']} tiles outside [0, 2^{ZOOM}) or NULL")
        got = Counter(tuple(r) for r in obs["sample"])
        if got != self._expected_rows():
            problems.append(f"sample differs from the oracle ({sum(got.values())} rows)")
        return problems

    def _expected_rows(self) -> Counter:
        return Counter((k,) + v for k, v in self.expected.items())


class Flagship(Workload):
    name = "flagship"
    why = ("1M seeded range points, 75-part fixture, left first-match pip_join "
           "+ z12 tiles to noop: Arrow boundary, pandas assembly, quadkey")
    rows = 1_000_000

    @property
    def first_key(self) -> int:
        return geotag_window(self.seed, self.rows)

    def source(self, spark, rows: int | None = None):
        ids = spark.range(self.first_key, self.first_key + (rows or self.rows),
                          numPartitions=self.partitions)
        return ids.select("id", derived_lon(F.col("id")).alias("lon"),
                          derived_lat(F.col("id")).alias("lat"))


class DensePolygons(Workload):
    name = "dense_polygons"
    why = ("250k points over ~5k seeded polygon parts in two overlapping "
           "layers, inner all-match pip_join, no tiles: STR probe and ray cast")
    how, first_match, tiles = "inner", False, False
    rows = 250_000
    partitions = 4
    sample_mod = 101
    first_key = 0

    def prepare(self, spark, con) -> None:
        records = dense_layer.layer_records(self.seed)
        path = os.path.join(self.work, "input", "dense_layer.parquet")
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.table({"poly_id": [r[0] for r in records],
                      "rings": [r[1] for r in records]}),
            os.path.join(path, "part-000.parquet"),
        )
        self.polys = spark.read.parquet(path)
        oracle.register_layer(con, records)
        self.expected = oracle.dense_expected(con, self.sample_keys(), self.seed)

    def source(self, spark, rows: int | None = None):
        ids = spark.range(0, rows or self.rows, numPartitions=self.partitions)
        lon, lat = dense_layer.point_columns(F.col("id"), self.seed)
        return ids.select("id", lon.alias("lon"), lat.alias("lat"))

    def _expected_rows(self) -> Counter:
        return Counter(self.expected)


WORKLOADS = {w.name: w for w in (Flagship, DensePolygons)}
