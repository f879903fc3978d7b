"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-at-scale defaults: AQE on (runtime re-plan + skew-join
splitting), Arrow transfers on (every kernel in this engine is a pandas-on-Arrow
UDF, mirroring GDAL's own Arrow bridge — ogrlayerarrow.cpp:2067, 65,536-row
batches), and an explicit shuffle-partition count.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# GDAL's Arrow stream default batch size (ogrlayerarrow.cpp:2079). We keep the
# same unit for pandas-UDF batches: big enough to amortize Python dispatch,
# small enough to stay cache/memory friendly.
ARROW_BATCH_ROWS = 65536


def get_spark(
    app_name: str = "gdal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback local[*]) —
    on a real cluster the caller passes the cluster master / lets spark-submit
    set it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting, the skew handling of
        # the shuffled cell-key joins (poly_join.py, knn.py). The PIP join
        # (operators/pip_join.py) is map-only: no exchange, no hot cell.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow everywhere: our kernels are pandas-on-Arrow UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        # ANSI off: we want permissive casts like the reference engine's SQL.
        .config("spark.sql.ansi.enabled", "false")
        # UTC: TIMESTAMP_NTZ↔epoch conversions must be tz-independent so the
        # DuckDB oracle (naive-as-UTC epoch()) agrees on any host
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship gdal_spark to executors (the spark-submit --py-files contract).

    Broadcast payloads and pandas-UDF closures reference classes in this
    package; executors must be able to import it regardless of their cwd.
    Idempotent per session.
    """
    sc = spark.sparkContext
    if getattr(sc, "_gdal_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp_dir = tempfile.mkdtemp(prefix="gdal_spark_pyfiles_")
    # In local mode the file server serves the zip from this path for the
    # life of the SparkContext, so it is removed only when the process exits.
    atexit.register(shutil.rmtree, tmp_dir, ignore_errors=True)
    zip_base = os.path.join(tmp_dir, "gdal_spark")
    zip_path = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir), "gdal_spark")
    sc.addPyFile(zip_path)
    sc._gdal_spark_shipped = True
