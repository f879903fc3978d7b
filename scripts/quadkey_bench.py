"""Microbenchmark of the tile-key column math: what the quadkey costs over
the tile x/y it reads.

Usage, from the checkout whose ``gdal_spark`` is to be measured:

    python scripts/quadkey_bench.py --rows 1000000 4000000 --runs 5

For each size it times three jobs into the ``noop`` sink, each after one
warm job: the geotag scan alone, + ``lonlat_to_tile`` at ``--zoom``, and
+ ``quadkey``. It prints one JSON line per size with the median wall of
each and ``nproc``. The quadkey's cost is ``quadkey_s - xy_s``.
"""

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, nargs="+", default=[1_000_000, 4_000_000])
    ap.add_argument("--zoom", type=int, default=12)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--partitions", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from gdal_spark.data.geotag import derived_lat, derived_lon
    from gdal_spark.session import get_spark
    from gdal_spark.spatial import tilemath as TM

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="quadkey_bench", master=f"local[{cores}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    try:
        for rows in args.rows:
            pts = spark.range(0, rows, numPartitions=args.partitions).select(
                "id", derived_lon(F.col("id")).alias("lon"),
                derived_lat(F.col("id")).alias("lat"))
            tx, ty = TM.lonlat_to_tile(F.col("lon"), F.col("lat"), args.zoom)
            xy = pts.select("id", tx.alias("tx"), ty.alias("ty"))
            jobs = {
                "scan_s": pts,
                "xy_s": xy,
                "quadkey_s": xy.select(
                    "*", TM.quadkey(F.col("tx"), F.col("ty"), args.zoom).alias("qk")),
            }
            out = {"rows": rows, "zoom": args.zoom, "nproc": os.cpu_count(),
                   "cores": cores, "runs": args.runs}
            for name, df in jobs.items():
                timed(df)
                out[name] = round(statistics.median(timed(df) for _ in range(args.runs)), 4)
            print(json.dumps(out), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
