"""Tests of the benchmark itself (not of the engine).

Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import dense_layer  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import sparkstats  # noqa: E402
import workloads as W  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark import cloudpickle

    from gdal_spark.session import get_spark

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    work = harness.make_work_dir("test")
    s = get_spark(app_name="perfbench-test", master="local[2]",
                  extra_conf=harness.session_conf(work))
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
    harness.remove_work_dir(work)


@pytest.fixture(scope="module")
def con(tmp_path_factory):
    import oracle

    c = oracle.connect(str(tmp_path_factory.mktemp("duckdb")))
    yield c
    c.close()


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: cls.why for name, cls in W.WORKLOADS.items()
    }
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("text, value", [
    ("3,500,000", 3_500_000.0),
    ("25 ms", 0.025),
    ("total (min, med, max (stageId: taskId))\n15.0 s (273 ms, 470 ms, 815 ms "
     "(stage 10.0: task 154))", 15.0),
    ("total (min, med, max (stageId: taskId))\n107.2 MiB (3.4 MiB, 3.4 MiB, "
     "3.4 MiB (stage 10.0: task 153))", 107.2 * 2**20),
    ("1.5 m", 90.0),
])
def test_parse_metric(text, value):
    assert sparkstats.parse_metric(text) == pytest.approx(value)


def test_master_wider_than_nproc_is_refused(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(harness.nproc() + 1))
    with pytest.raises(SystemExit):
        harness.master_string()


def _plus_one(batches):
    for pdf in batches:
        pdf["id"] = pdf["id"] + 1
        yield pdf


def test_python_metrics_from_map_in_pandas_and_pandas_udf(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def double(v: pd.Series) -> pd.Series:
        return v * 2

    df = spark.range(0, 50_000, numPartitions=2)
    plans = {
        "mapInPandas": df.mapInPandas(_plus_one, "id long"),
        "pandas_udf": df.select(double("id").alias("x")),
    }
    for label, plan in plans.items():
        since = sparkstats.mark(spark)
        W.noop(plan)
        py = sparkstats.python_metrics(sparkstats.sql_metrics(spark, since))
        assert py["python_run_s"] > 0, label
        assert py["bytes_to_python"] > 0, label
        assert py["bytes_from_python"] > 0, label

    since = sparkstats.mark(spark)
    W.noop(df.groupBy((F.col("id") % 7).alias("k")).count())
    assert sparkstats.sql_metrics(spark, since)["shuffle bytes written"] > 0
    app = sparkstats.app_metrics(spark, since)
    assert app["jobs"] >= 1 and app["tasks"] >= 2 and app["shuffle_write_bytes"] > 0


class SmallFlagship(W.Flagship):
    rows = 20_000
    sample_mod = 53


def test_corrupted_result_is_counted_as_failed(spark, con, tmp_path):
    from pyspark.sql import functions as F

    wl = SmallFlagship(seed=5, work=str(tmp_path))
    wl.prepare(spark, con)
    tally = run.Tally()
    tally.add(wl.check(wl.execute(wl.job(spark))))
    shifted = wl.job(spark).withColumn("poly_id", F.col("poly_id") + 1)
    tally.add(wl.check(wl.execute(shifted)))
    assert (tally.attempted, tally.failed) == (2, 1)
    assert tally.failed_frac == 0.5


def test_lon_minus_180_tile_is_caught(spark, con, tmp_path):
    """The one key per period whose derived lon is -180 gets tx = -1 from
    the current tile math; workload windows avoid it, and the tile-domain
    invariant flags it when it is present."""

    class EdgeWindow(SmallFlagship):
        first_key = W._LON_EDGE_ID - 10

    wl = EdgeWindow(seed=5, work=str(tmp_path))
    wl.prepare(spark, con)
    problems = wl.check(wl.execute(wl.job(spark)))
    assert any("tiles outside" in p for p in problems)


def test_geotag_window_skips_the_edge_key():
    for seed in range(50):
        start = W.geotag_window(seed, W.Flagship.rows)
        period = (W._LON_EDGE_ID - start) % W._LON_PERIOD
        assert period >= W.Flagship.rows


def test_dense_points_match_their_numpy_mirror(spark):
    from pyspark.sql import functions as F

    ids = spark.range(0, 2000, numPartitions=2)
    lon, lat = dense_layer.point_columns(F.col("id"), 11)
    got = ids.select(lon.alias("lon"), lat.alias("lat")).toPandas()
    want_lon, want_lat = dense_layer.point_arrays(np.arange(2000), 11)
    assert np.array_equal(got["lon"].to_numpy(), want_lon)
    assert np.array_equal(got["lat"].to_numpy(), want_lat)


def test_dense_layer_is_seeded_and_sized():
    a, b = dense_layer.layer_records(3), dense_layer.layer_records(3)
    assert a == b and a != dense_layer.layer_records(4)
    assert len(a) == dense_layer.A_GRID**2 + dense_layer.B_GRID**2
    vertices = [len(rings[0]) - 1 for _, rings in a]
    assert min(vertices) >= 16 and max(vertices) <= 64
    assert any(len(rings) == 2 for _, rings in a)
