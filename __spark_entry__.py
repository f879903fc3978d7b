"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship north-rule query; ``queries()`` /
``oracle_sql()`` expose every implemented operator (SURVEY.md §2) as a
(Spark callable, DuckDB oracle) pair. The registry lives in
``gdal_spark/queries.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gdal_spark import queries as Q  # noqa: E402
from gdal_spark.operators import tiles as TL  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PIP spatial join + tile assignment over sf0.001 orders —
    the north rule's "which polygon contains each page, which tile does it
    land in" in one broadcast map-only plan."""
    from pyspark.sql import functions as F

    from gdal_spark.data.pages import polygons_df
    from gdal_spark.operators.pip_join import pip_join

    pts = Q.order_points(spark, "/root/testdata/sf0.001")
    joined = pip_join(pts, polygons_df(spark), how="left", first_match=True)
    return TL.assign_tiles(joined, zoom=12).select(
        "o_orderkey", "lon", "lat", "poly_id", "tx", "ty", "quadkey"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return dict(Q.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins of ``queries()`` (same column names,
    same rounding, md5-based hashing shared across engines)."""
    return dict(Q.ORACLES)
