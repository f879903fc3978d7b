"""Per-layer measurements for the traced run.

Spans are recorded here, around the benchmark's own calls into each layer
of the engine; nothing inside the engine is instrumented.  The layer ladder
is cumulative, each rung adding one layer to the one before:

    scan + geotag -> + identity mapInArrow -> + pip_join -> + tile x/y -> + quadkey
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

import oracle
import sparkstats
import workloads as W
from gdal_spark.operators.pip_join import build_polygon_index
from gdal_spark.operators.tiles import assign_tiles
from gdal_spark.plans.lineage import Pipeline
from gdal_spark.spatial.geometry import points_in_polygon

PROBE_BATCH = 65_536
LINEAGE_SLICE = 100_000


class Tracer:
    """In-memory spans: name, start, end, parent index and counts."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        rec = {"name": name, "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "counts": dict(counts)}
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def identity_arrow(batches):
    yield from batches


def ladder(spark, wl, tracer: Tracer) -> dict:
    """Walls of the cumulative rungs on the workload's full input, plus the
    match and tile-domain counts observed on the way."""
    src = wl.source(spark)
    joined = wl.pip(src)
    out = {}
    with tracer.span("ladder.scan_geotag"):
        W.noop(src)
    with tracer.span("ladder.boundary"):
        W.noop(src.mapInArrow(identity_arrow, src.schema))
    with tracer.span("ladder.pip_join") as sp:
        obs = W.observed_noop(joined, F.count("poly_id").alias("matched"))
        sp["counts"]["rows_matched"] = out["rows_matched"] = obs["matched"]
    with tracer.span("ladder.tile_xy"):
        W.noop(assign_tiles(joined, W.ZOOM, with_quadkey=False))
    with tracer.span("ladder.quadkey") as sp:
        obs = W.observed_noop(
            assign_tiles(joined, W.ZOOM),
            F.sum(W.out_of_range().cast("long")).alias("out_of_range"),
        )
        sp["counts"]["out_of_range"] = out["out_of_range"] = obs["out_of_range"]
    for rung in ("scan_geotag", "boundary", "pip_join", "tile_xy", "quadkey"):
        out[rung] = tracer.seconds(f"ladder.{rung}")[-1]
    return out


def fit(spark, wl, tracer: Tracer, full_wall: float) -> tuple[float, float]:
    """``t = a + b*n`` through the top rung at the full size (``full_wall``)
    and at a quarter of it; returns ``(a seconds, b ns per row)``."""
    small = wl.rows // 4
    with tracer.span("fit.quarter", rows=small):
        W.noop(assign_tiles(wl.pip(wl.source(spark, small)), W.ZOOM))
    quarter_wall = tracer.seconds("fit.quarter")[-1]
    b = (full_wall - quarter_wall) / (wl.rows - small)
    return full_wall - b * wl.rows, b * 1e9


def index_stats(wl, tracer: Tracer, reps: int = 3):
    """Median ``build_polygon_index`` wall and the pickled payload size."""
    for _ in range(reps):
        with tracer.span("pip_join.index_build"):
            index = build_polygon_index(wl.polys)
    payload = len(pickle.dumps(index, protocol=pickle.HIGHEST_PROTOCOL))
    return index, statistics.median(tracer.seconds("pip_join.index_build")), payload


def probe_stats(spark, wl, index, tracer: Tracer, reps: int = 3) -> tuple[float, float]:
    """Rows/s of ``PolygonIndex.probe`` and ray-cast tests/s of
    ``points_in_polygon`` on one batch of the workload's own points."""
    batch = wl.source(spark).select("lon", "lat").limit(PROBE_BATCH).toPandas()
    px = batch["lon"].to_numpy(dtype=np.float64)
    py = batch["lat"].to_numpy(dtype=np.float64)
    for _ in range(reps):
        with tracer.span("pip_join.probe", rows=len(px)):
            index.probe(px, py, wl.first_match)
    probe_rate = len(px) / statistics.median(tracer.seconds("pip_join.probe"))

    # candidates per part by envelope, then time only the exact kernel
    order = np.argsort(px, kind="stable")
    sx, sy = px[order], py[order]
    tests, kernel_s = 0, 0.0
    for (xmin, ymin, xmax, ymax), rings in zip(index.boxes, index.rings_list):
        lo = np.searchsorted(sx, xmin, side="left")
        hi = np.searchsorted(sx, xmax, side="right")
        cand = np.nonzero((sy[lo:hi] >= ymin) & (sy[lo:hi] <= ymax))[0] + lo
        if cand.size == 0:
            continue
        cx, cy = sx[cand], sy[cand]
        t0 = time.perf_counter()
        points_in_polygon(cx, cy, rings)
        kernel_s += time.perf_counter() - t0
        tests += cand.size
    return probe_rate, tests / kernel_s if kernel_s > 0 else 0.0


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def rollup(df):
    """Points per z12 tile; the 1% hot cell makes one group heavy."""
    return df.groupBy("tx", "ty", "quadkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("poly_id").alias("matched"),
    )


def lineage_stats(spark, con, wl, root: str, tracer: Tracer) -> dict:
    """The workload's pip -> tiles -> rollup as a ``plans.lineage.Pipeline``
    over the first ``LINEAGE_SLICE`` rows of its input, written as parquet:
    a full run, a resume after the last stage's ``_COMMIT`` is removed, and
    fully committed re-runs.  ``problems`` lists failed output checks."""
    input_dir = root + "-input"
    wl.source(spark, min(wl.rows, LINEAGE_SLICE)).write.parquet(input_dir)
    source = spark.read.parquet(input_dir)
    pipe = (
        Pipeline(root)
        .stage("pip", wl.pip)
        .stage("tiles", lambda df: assign_tiles(df, W.ZOOM))
        .stage("rollup", rollup)
    )
    since = sparkstats.mark(spark)
    with tracer.span("lineage.run"):
        pipe.run(spark, source)
    app = sparkstats.app_metrics(spark, since)
    written = _tree_bytes(root)
    tiles_dir = os.path.join(root, "tiles", "data")
    rollup_dir = os.path.join(root, "rollup", "data")
    problems = []
    if oracle.tiles_out_of_range(con, tiles_dir, W.ZOOM):
        problems.append(f"pipeline wrote tiles outside [0, 2^{W.ZOOM}) or NULL")
    if oracle.rollup_mismatches(con, tiles_dir, rollup_dir):
        problems.append("pipeline rollup differs from a rollup of its tiles")
    before = oracle.digest(con, rollup_dir)
    metrics_rows = con.execute(
        f"SELECT count(*) FROM read_parquet('{root}/_metrics/*/*.parquet')"
    ).fetchone()[0]
    os.remove(os.path.join(root, "rollup", "_COMMIT"))  # drop the last checkpoint
    with tracer.span("lineage.partial_resume"):
        pipe.run(spark, source)
    if oracle.digest(con, rollup_dir) != before:
        problems.append("resumed rollup differs from the uninterrupted one")
    for _ in range(3):
        with tracer.span("lineage.resume"):
            pipe.run(spark, source)
    return {
        "run_s": tracer.seconds("lineage.run")[-1],
        "partial_resume_s": tracer.seconds("lineage.partial_resume")[-1],
        "resume_s": statistics.median(tracer.seconds("lineage.resume")),
        "bytes_written": written,
        "write_amplification": written / _tree_bytes(input_dir),
        "metrics_rows": metrics_rows,
        "shuffle_write_bytes": app["shuffle_write_bytes"],
        "task_skew": app["task_skew"],
        "problems": problems,
    }
