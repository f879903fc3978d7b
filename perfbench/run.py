"""Layer-resolving benchmark of the gdal_spark PIP + tiling engine.

Run from the repository root:

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

One driver process, one client, closed loop: the next job is submitted when
the previous one has finished and its output has been checked.  With
``--trace 0`` the run reports the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` a separate traced run reports the per-layer metrics.  The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import harness
import sparkstats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_JOBS = 3
SETUPS = 3
T0 = time.perf_counter()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Tally:
    """Jobs attempted and failed, failures meaning raised or wrong output."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            harness.log("check failed: " + "; ".join(problems))

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def checked_job(spark, wl, tally: Tally) -> tuple[float, object]:
    """One timed job, then its check outside the timed region."""
    t0 = time.perf_counter()
    try:
        wall, outcome = wl.run_once(spark)
        problems = wl.check(outcome)
    except Exception as exc:  # a job that raises is a failed job, not a crash
        wall, outcome = time.perf_counter() - t0, None
        problems = [f"{type(exc).__name__}: {exc}"]
    harness.log(f"perfbench: job {tally.attempted + 1}: {wall:.3f} s, "
        f"check {time.perf_counter() - t0 - wall:.3f} s")
    tally.add(problems)
    return wall, outcome


def start_sessions(master: str, conf: dict, tracer, trace: bool):
    """Start the session ``SETUPS`` times (the first start launches the JVM,
    later ones reuse it) and run a first trivial Python job each time, one
    task per core so that every Python worker starts.  Traced, also return
    the Python-node SQL metrics of the last first job: later jobs reuse the
    workers, so only this one shows the time to start them."""
    from gdal_spark.session import get_spark

    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        with tracer.span("session.start"):
            spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        since = sparkstats.mark(spark) if trace else None
        with tracer.span("session.first_job"):
            cores = spark.sparkContext.defaultParallelism
            spark.range(cores, numPartitions=cores).mapInPandas(harness.touch_engine, "id long").collect()
    first_job = sparkstats.python_metrics(sparkstats.sql_metrics(spark, since)) if trace else None
    return spark, first_job


def measure(spark, wl, seconds: float, tally: Tally) -> dict:
    """Jobs until at least ``MIN_JOBS`` have run and ``seconds`` have been
    measured.  There is no separate warm-up: the first job pays JIT and
    first use in the workers, and as the slowest of three or more it never
    sets the median."""
    walls, leaked = [], 0
    while len(walls) < MIN_JOBS or sum(walls) < seconds:
        wall, _ = checked_job(spark, wl, tally)
        walls.append(wall)
        leaked += harness.release_cached(spark)
        if tally.failed > MIN_JOBS:
            break
    return {"walls": walls, "leaked": leaked}


# name -> unit of every metric a run reports; BENCHMARK.json lists the same
END_TO_END = {"rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "session.first_job_s": "s",
    "data.scan_geotag_s": "s", "pip_join.boundary_s": "s", "pip_join.join_s": "s",
    "tiles.xy_s": "s", "tiles.quadkey_s": "s", "tiles.out_of_range": "count",
    "pip_join.index_build_s": "s", "pip_join.index_bytes": "B",
    "pip_join.python_run_s": "s", "pip_join.python_start_s": "s",
    "pip_join.python_init_s": "s",
    "pip_join.bytes_to_python": "B", "pip_join.bytes_from_python": "B",
    "pip_join.rows_matched": "count", "pip_join.match_ratio": "ratio",
    "pip_join.probe_rows_per_s": "1/s", "geometry.pip_tests_per_s": "1/s",
    "lineage.run_s": "s", "lineage.partial_resume_s": "s", "lineage.resume_s": "s",
    "lineage.bytes_written": "B", "lineage.bytes_written_per_input_byte": "ratio",
    "lineage.metrics_rows": "count", "lineage.shuffle_write_bytes": "B",
    "lineage.task_skew": "ratio",
    "spark.jobs": "count", "spark.tasks": "count", "spark.first_task_delay_s": "s",
    "spark.task_skew": "ratio", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.leaked_cached_rdds": "count",
    "fit.fixed_s": "s", "fit.per_row_ns": "ns", "trace.overhead_frac": "ratio",
}


def end_to_end(wl, walls, setups, rss) -> dict:
    return {
        "rows_per_s": wl.rows / statistics.median(walls),
        "setup_s": statistics.median(setups),
        "peak_rss_mb": rss.peak_mb,
    }


def per_layer(spark, con, wl, work, tracer, tally, first_job: dict) -> dict:
    import layers

    checked_job(spark, wl, tally)  # warm-up, so base and traced jobs compare
    base, _ = checked_job(spark, wl, tally)
    with tracer.span("job"):
        since = sparkstats.mark(spark)
        checked_job(spark, wl, tally)
        sql = sparkstats.sql_metrics(spark, since)
        app = sparkstats.app_metrics(spark, since)
    traced = tracer.seconds("job")[-1]
    leaked = harness.release_cached(spark)

    rungs = layers.ladder(spark, wl, tracer)
    fixed_s, per_row_ns = layers.fit(spark, wl, tracer, rungs["quadkey"])
    index, build_s, payload = layers.index_stats(wl, tracer)
    probe_rate, tests_rate = layers.probe_stats(spark, wl, index, tracer)
    lin = layers.lineage_stats(spark, con, wl, os.path.join(work, "lineage"), tracer)
    tally.add(lin["problems"])
    leaked += harness.release_cached(spark)

    py = sparkstats.python_metrics(sql)
    return {
        "session.start_s": statistics.median(tracer.seconds("session.start")),
        "session.first_job_s": statistics.median(tracer.seconds("session.first_job")),
        "data.scan_geotag_s": rungs["scan_geotag"],
        "pip_join.boundary_s": rungs["boundary"],
        "pip_join.join_s": rungs["pip_join"],
        "tiles.xy_s": rungs["tile_xy"],
        "tiles.quadkey_s": rungs["quadkey"],
        "tiles.out_of_range": rungs["out_of_range"],
        "pip_join.index_build_s": build_s,
        "pip_join.index_bytes": payload,
        "pip_join.python_run_s": py["python_run_s"],
        "pip_join.python_start_s": first_job["python_start_s"],
        "pip_join.python_init_s": py["python_init_s"],
        "pip_join.bytes_to_python": py["bytes_to_python"],
        "pip_join.bytes_from_python": py["bytes_from_python"],
        "pip_join.rows_matched": rungs["rows_matched"],
        "pip_join.match_ratio": rungs["rows_matched"] / wl.rows,
        "pip_join.probe_rows_per_s": probe_rate,
        "geometry.pip_tests_per_s": tests_rate,
        "lineage.run_s": lin["run_s"],
        "lineage.partial_resume_s": lin["partial_resume_s"],
        "lineage.resume_s": lin["resume_s"],
        "lineage.bytes_written": lin["bytes_written"],
        "lineage.bytes_written_per_input_byte": lin["write_amplification"],
        "lineage.metrics_rows": lin["metrics_rows"],
        "lineage.shuffle_write_bytes": lin["shuffle_write_bytes"],
        "lineage.task_skew": lin["task_skew"],
        **{f"spark.{k}": app[k] for k in (
            "jobs", "tasks", "first_task_delay_s", "task_skew", "executor_cpu_s",
            "shuffle_write_bytes", "spill_bytes")},
        "spark.gc_s": sparkstats.jvm_gc_s(spark),
        "spark.leaked_cached_rdds": leaked,
        "fit.fixed_s": fixed_s,
        "fit.per_row_ns": per_row_ns,
        "trace.overhead_frac": traced / base - 1,
    }


def run(args, master: str, work: str, rss) -> tuple[dict, dict, Tally]:
    import layers
    import oracle
    from pyspark import cloudpickle
    from workloads import WORKLOADS

    # worker-side functions of these modules travel by value
    cloudpickle.register_pickle_by_value(harness)
    cloudpickle.register_pickle_by_value(layers)

    tracer, tally = layers.Tracer(), Tally()
    spark, first_job = start_sessions(master, harness.session_conf(work), tracer,
                                      bool(args.trace))
    record = harness.stamp(spark, master, args.workload, args.seed,
                           bool(args.trace), args.seconds)
    con = oracle.connect(os.path.join(work, "tmp"))
    wl = WORKLOADS[args.workload](args.seed, work)
    harness.log(f"perfbench: sessions up at {time.perf_counter() - T0:.1f}s")
    wl.prepare(spark, con)
    harness.log(f"perfbench: inputs ready at {time.perf_counter() - T0:.1f}s")
    if args.trace:
        metrics = per_layer(spark, con, wl, work, tracer, tally, first_job)
        os.makedirs(os.path.join(harness.WORK_ROOT, "traces"), exist_ok=True)
        tracer.write(os.path.join(
            harness.WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json"))
    else:
        res = measure(spark, wl, args.seconds, tally)
        setups = [a + b for a, b in zip(tracer.seconds("session.start"),
                                        tracer.seconds("session.first_job"))]
        metrics = end_to_end(wl, res["walls"], setups, rss)
        record["job_walls_s"] = res["walls"]
        record["leaked_cached_rdds"] = res["leaked"]
    con.close()
    harness.log(f"perfbench: measured at {time.perf_counter() - T0:.1f}s")
    return metrics, record, tally


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import gdal_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    master = harness.master_string()
    harness.adopt_orphans()
    work = harness.make_work_dir(f"{args.workload}-seed{args.seed}")
    try:
        with harness.PeakRss() as rss:
            metrics, record, tally = run(args, master, work, rss)
    finally:
        harness.stop_processes()
        harness.remove_work_dir(work)
    harness.log(f"perfbench: stopped at {time.perf_counter() - T0:.1f}s")

    units = PER_LAYER if args.trace else END_TO_END
    record["failed_frac"] = tally.failed_frac
    record["metrics"] = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    for name, unit in units.items():
        print(f"{name:40s} {metrics[name]:>18.6g} {unit}")
    print(f"{'failed_frac':40s} {tally.failed_frac:>18.6g} ratio "
          f"({tally.failed}/{tally.attempted})")
    print("record " + json.dumps(record, sort_keys=True))
    os.makedirs(os.path.join(harness.WORK_ROOT, "records"), exist_ok=True)
    with open(os.path.join(harness.WORK_ROOT, "records",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, sort_keys=True)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
