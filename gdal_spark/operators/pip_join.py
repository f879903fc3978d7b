"""Point-in-polygon spatial join — the north-rule operator.

Reference semantics: GDAL's 3-stage spatial filter (ogrlayer.cpp:4005-4076
``FilterGeometry``: envelope prefilter → envelope-containment shortcut →
exact predicate) with the exact predicate being strict-interior ray casting
(ogrlinearring.cpp:452-521, holes via ogrcurvepolygon.cpp:810-867) — and the
prepared-geometry reuse pattern of ogrgeometry.cpp:7530-7665 (build the
polygon-side index ONCE, probe many points).

Spark-first execution, three physical strategies:

1. ``pip_join`` (broadcast) — the polygon side is a small dimension
   (thousands of polygons): pack rings into numpy ONCE on the driver,
   broadcast, and compute each point's matching poly_ids as one Arrow
   column UDF over ``(lon, lat)`` only, exploded in the JVM. ZERO shuffle:
   the plan is scan → ArrowEvalPython → Generate → (anything downstream),
   and pass-through columns never leave the JVM. At 100 TB of points this
   is a map-only stage that scales linearly with executors — the polygon
   index plays the role of GDAL's prepared geometries, the per-polygon
   bbox array plays the quadtree.

2. ``pip_join_cells`` (shuffle) — cover every polygon part's envelope
   with WebMercator tiles at a chosen zoom (the rasterize-lite of
   llrasterize.cpp:58 semantics) in the calling process, from the same
   index the exact test uses, and equi-join on the cell key with both sides
   shuffled. Hot cells (dense geotag clusters) are salted: the point side
   gets a deterministic salt, the polygon-cover side is replicated per
   salt — a standard two-sided skew fix the reference never needed
   single-node (SURVEY.md §4 "salting: absent").

3. ``pip_join_cells_compact`` (broadcast cover) — quadtree-compacted cell
   covers, built on the driver and broadcast; each point explodes to its
   ancestor cell at every level.

All three end in the same exact ray-cast kernel, so results are identical;
only the physical plan differs.

All three also take their ``PolygonIndex`` from one place: it is built and
broadcast once per polygon DataFrame OBJECT, at the first PIP call on it,
and every later call on that object (any strategy, any mode) reuses the
same broadcast. Python workers that Spark reuses across jobs therefore keep
the unpickled index and its STR blocks. This only pays when a caller passes
the same polygons DataFrame object to more than one call; a fresh
``polygons_df(spark)`` per call builds a fresh index, as before.

The index is a snapshot of the polygons at the first PIP call on that
object and is never refreshed, even after Spark writes to its source
(``INSERT INTO`` a table read with ``spark.table``, an overwritten path).
Read the source again for a new DataFrame object, and so a new index. The
entry goes away when its DataFrame is garbage-collected; Spark's
ContextCleaner then removes the broadcast.
"""

from __future__ import annotations

import threading
import weakref

import numpy as np
import pyarrow as pa
from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.spatial import geometry as G
from gdal_spark.spatial import tilemath as TM


# ---------------------------------------------------------------------------
# Packed polygon index (broadcast payload)
# ---------------------------------------------------------------------------

def _feature_parts(rings_obj) -> list:
    """Normalize a geometry payload to polygon PARTS: a Polygon (depth-3
    nesting: rings → points → xy) becomes [rings]; a MultiPolygon (depth-4:
    parts → rings → points → xy) explodes to its parts — the internal
    explode of ogrmultipolygon parts with per-part ring tests
    (ogrcurvepolygon.cpp:810-867 applied per part). A NULL or empty
    geometry has no parts: it can never contain a point."""
    if rings_obj is None or len(rings_obj) == 0:
        return []
    probe = rings_obj[0][0][0]
    if np.isscalar(probe) or isinstance(probe, (int, float, np.floating)):
        return [G.rings_to_numpy(rings_obj)]  # Polygon
    return [G.rings_to_numpy(part) for part in rings_obj]  # MultiPolygon


class PolygonIndex:
    """Driver-built, broadcast-able polygon index.

    One entry per polygon PART (multipolygon features explode internally,
    keeping their feature id — so first-match stays per-feature). Bbox
    arrays give the vectorized envelope prefilter; rings are numpy arrays
    parsed once (the "prepared geometry"). Entries are held in poly_id
    order so first-match (min poly_id) is a stable rule.
    """

    def __init__(self, poly_ids, rings_list, boxes):
        self.poly_ids = np.asarray(poly_ids, dtype=np.int64)
        self.rings_list = rings_list  # list[list[np.ndarray(n,2)]] (one part each)
        # (P, 4) xmin ymin xmax ymax, also for P == 0
        self.boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)

    @classmethod
    def from_rows(cls, rows):
        poly_ids, rings_list, boxes = [], [], []
        for r in rows:
            for part in _feature_parts(r["rings"]):
                poly_ids.append(r["poly_id"])
                rings_list.append(part)
                boxes.append(G.rings_envelope(part))
        order = np.argsort(np.asarray(poly_ids), kind="stable")
        return cls(
            [poly_ids[i] for i in order],
            [rings_list[i] for i in order],
            [boxes[i] for i in order],
        )

    NODE_SIZE = 16

    def _build_str_blocks(self):
        """STR (sort-tile-recursive) bulk load, FlatGeobuf packed-R-tree
        style (reference packedrtree.cpp:73-132): sort entries into
        √(P/ns) vertical slices by x-center, within a slice by y-center,
        pack runs of NODE_SIZE into blocks, store each block's union bbox.
        Lazily built once per executor."""
        ns = self.NODE_SIZE
        p = self.boxes.shape[0]
        if p == 0:
            self._str_blocks = []
            return
        cx = (self.boxes[:, 0] + self.boxes[:, 2]) / 2.0
        cy = (self.boxes[:, 1] + self.boxes[:, 3]) / 2.0
        n_blocks = max((p + ns - 1) // ns, 1)
        n_slices = max(int(np.ceil(np.sqrt(n_blocks))), 1)
        per_slice = n_slices * ns
        xorder = np.argsort(cx, kind="stable")
        order_parts = []
        for s in range(0, p, per_slice):
            sl = xorder[s:s + per_slice]
            order_parts.append(sl[np.argsort(cy[sl], kind="stable")])
        order = np.concatenate(order_parts)
        blocks = []
        for s in range(0, p, ns):
            idx = order[s:s + ns]
            bb = self.boxes[idx]
            blocks.append(
                (idx, (bb[:, 0].min(), bb[:, 1].min(),
                       bb[:, 2].max(), bb[:, 3].max()))
            )
        self._str_blocks = blocks

    def probe(self, px: np.ndarray, py: np.ndarray, first_match: bool):
        """Return (point_idx, poly_id) match pairs for a batch of points,
        sorted by point_idx then poly_id, one pair per (point, feature).

        Candidate generation walks the STR blocks: one vectorized bbox mask
        per block prunes whole groups of NODE_SIZE parts at once; per-entry
        bbox + exact ray-cast tests run only on the block's surviving point
        subset. Pairs are reduced at the end — tree order is spatial, not id
        order: first_match keeps the min poly_id per point, otherwise a
        feature whose parts overlap under the point still matches once."""
        if getattr(self, "_str_blocks", None) is None:
            self._build_str_blocks()
        out_pt: list[np.ndarray] = []
        out_poly: list[np.ndarray] = []
        for idxs, (bxmin, bymin, bxmax, bymax) in self._str_blocks:
            bmask = (px >= bxmin) & (px <= bxmax) & (py >= bymin) & (py <= bymax)
            bidx = np.nonzero(bmask)[0]
            if bidx.size == 0:
                continue
            bpx, bpy = px[bidx], py[bidx]
            for k in idxs:
                xmin, ymin, xmax, ymax = self.boxes[k]
                cand = (bpx >= xmin) & (bpx <= xmax) & (bpy >= ymin) & (bpy <= ymax)
                sub = np.nonzero(cand)[0]
                if sub.size == 0:
                    continue
                inside = G.points_in_polygon(
                    bpx[sub], bpy[sub], self.rings_list[k]
                )
                hit = bidx[sub[inside]]
                if hit.size:
                    out_pt.append(hit)
                    out_poly.append(
                        np.full(hit.shape[0], self.poly_ids[k], dtype=np.int64)
                    )
        if not out_pt:
            empty = np.empty(0, dtype=np.int64)
            return empty, empty
        pt = np.concatenate(out_pt)
        poly = np.concatenate(out_poly)
        order = np.lexsort((poly, pt))
        pt, poly = pt[order], poly[order]
        new = pt[1:] != pt[:-1]
        if not first_match:
            new |= poly[1:] != poly[:-1]
        keep = np.concatenate(([True], new))
        return pt[keep], poly[keep]

    def contains(self, px: np.ndarray, py: np.ndarray, poly_id: np.ndarray) -> np.ndarray:
        """Row-wise exact test: is point ``i`` inside feature ``poly_id[i]``
        (any of its parts)? A feature's parts are one run of the sorted
        ``poly_ids``, found by binary search."""
        out = np.zeros(px.shape[0], dtype=bool)
        order = np.argsort(poly_id, kind="stable")
        ids, starts = np.unique(poly_id[order], return_index=True)
        lo = np.searchsorted(self.poly_ids, ids, side="left")
        hi = np.searchsorted(self.poly_ids, ids, side="right")
        for rows, a, b in zip(np.split(order, starts[1:]), lo, hi):
            for k in range(a, b):
                out[rows] |= G.points_in_polygon(px[rows], py[rows], self.rings_list[k])
        return out


def build_polygon_index(polygons: DataFrame) -> PolygonIndex:
    """Collect ``polygons`` and build a fresh index (no caching; the PIP
    joins go through ``_index_broadcast``)."""
    rows = polygons.select("poly_id", "rings").collect()
    return PolygonIndex.from_rows(rows)


# polygons DataFrame -> its broadcast index; weak keys, so an entry lives
# exactly as long as the DataFrame object it was built from
_INDEXES: "weakref.WeakKeyDictionary[DataFrame, Broadcast]" = weakref.WeakKeyDictionary()
_INDEXES_LOCK = threading.Lock()


def _index_broadcast(polygons: DataFrame) -> Broadcast:
    """The broadcast ``PolygonIndex`` of ``polygons``: built and broadcast
    at the first call for this DataFrame object, the same broadcast (same
    id) on every later call. Keyed on the object, not on its plan: two
    reads of one path plan alike even after the path is overwritten.

    The lock guards only the dict: builds for different layers run in
    parallel, and when two threads race on one layer the broadcast that
    reaches the dict first is kept by both."""
    with _INDEXES_LOCK:
        bc = _INDEXES.get(polygons)
    if bc is None:
        built = polygons.sparkSession.sparkContext.broadcast(build_polygon_index(polygons))
        with _INDEXES_LOCK:
            bc = _INDEXES.setdefault(polygons, built)
    return bc


def _numpy(a: pa.Array) -> np.ndarray:
    """Arrow column → numpy. NULL doubles become NaN, which fail every
    envelope and ray-cast test, so they never match."""
    return a.to_numpy(zero_copy_only=False)


# ---------------------------------------------------------------------------
# Strategy 1: broadcast map-only join
# ---------------------------------------------------------------------------

def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    how: str = "inner",
    first_match: bool = False,
) -> DataFrame:
    """Join points to containing polygons. Output = point columns + poly_id.

    ``how='left'`` keeps unmatched points with null poly_id (GDAL LEFT JOIN);
    ``first_match=True`` keeps only the lowest poly_id per point (GDAL's
    first-match 1-row join semantics, ogr_gensql.cpp:1516-1546 — FID order).
    Any other ``how`` raises ``ValueError``.

    The polygon index is a snapshot taken at the first PIP call on this
    ``polygons`` object and is never refreshed, even after Spark writes to
    its source; read the source again to see the writes.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"pip_join: how must be 'inner' or 'left', got {how!r}")
    bc = _index_broadcast(polygons)

    @F.arrow_udf("array<long>")
    def pip_poly_ids(px: pa.Array, py: pa.Array) -> pa.Array:
        pt, poly = bc.value.probe(_numpy(px), _numpy(py), first_match)
        offsets = np.searchsorted(pt, np.arange(len(px) + 1))  # pt is sorted
        return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(poly))

    # Only the two coordinates cross into Python; explode in the JVM turns
    # each point's match list into rows (explode_outer keeps empty lists as
    # one NULL-poly_id row).
    explode = F.explode_outer if how == "left" else F.explode
    ids = pip_poly_ids(F.col(lon).cast("double"), F.col(lat).cast("double"))
    return points.withColumn("poly_id", explode(ids))


# ---------------------------------------------------------------------------
# Strategies 2 and 3: cell-key equi-joins + exact filter
# ---------------------------------------------------------------------------

def _envelope_cells(box, zoom: int) -> list:
    """XYZ tiles at ``zoom`` intersecting an envelope (xmin, ymin, xmax,
    ymax), latitudes clamped to the Mercator limit. Uses the same lon/lat →
    tile math as the point side, so edges agree."""
    xmin, ymin, xmax, ymax = box
    (tx0, ty0), (tx1, ty1) = (
        TM.py_lonlat_to_tile(x, y, zoom)
        for x, y in ((xmin, min(ymax, TM.MAX_LAT)), (xmax, max(ymin, -TM.MAX_LAT)))
    )
    return [(tx, ty) for ty in range(ty0, ty1 + 1) for tx in range(tx0, tx1 + 1)]


def _exact_matches(
    candidates: DataFrame,
    bc: Broadcast,
    point_cols: list,
    lon: str,
    lat: str,
    first_match: bool,
) -> DataFrame:
    """Keep the candidate (point, poly_id) pairs whose point is inside the
    feature, then reduce to min(poly_id) per point if ``first_match``.

    Rings come from the broadcast index ``bc`` (the prepared-geometry reuse
    pattern, ogrgeometry.cpp:7530-7665), NOT through the shuffle — the join
    only ever moves (point cols, poly_id, cell key). The first-match
    reduction keys on the compact surrogate id (``_pip_rid``) rather than
    the full point row: the aggregate shuffle moves an 8-byte key; wide
    payload columns travel as values only and collapse map-side (partial
    aggregation) before the exchange."""

    @F.arrow_udf("boolean")
    def contains(px: pa.Array, py: pa.Array, poly_id: pa.Array) -> pa.Array:
        return pa.array(bc.value.contains(_numpy(px), _numpy(py), _numpy(poly_id)))

    out = candidates.filter(
        contains(F.col(lon).cast("double"), F.col(lat).cast("double"), F.col("poly_id"))
    )
    if first_match:
        aggs = [F.first(c).alias(c) for c in point_cols]
        aggs.append(F.min("poly_id").alias("poly_id"))
        out = out.groupBy("_pip_rid").agg(*aggs)
    return out.select(*point_cols, "poly_id")


def _cover_cells(index: PolygonIndex, zoom: int) -> dict[int, set]:
    """poly_id -> the XYZ tiles at ``zoom`` that the envelope of any of its
    parts intersects: the cell cover both cell strategies join on (the
    prefilter contract; the exact test runs after the join). Built in the
    calling process from the broadcast index, so it agrees with the rings the exact
    test uses, and cover rows carry only (poly_id, cell) — the shuffle
    never moves ring geometry."""
    cells: dict[int, set] = {}
    for pid, box in zip(index.poly_ids, index.boxes):
        cells.setdefault(int(pid), set()).update(_envelope_cells(box, zoom))
    return cells


def pip_join_cells(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    zoom: int = 7,
    salt: int = 0,
    first_match: bool = False,
) -> DataFrame:
    """Cell-cover equi-join PIP + exact kernel.

    Both sides shuffle on the cell key and the (poly_id, cell) cover is
    the hash-join build side (``pip_join_cells_compact`` broadcasts its
    cover instead). ``salt`` > 1 replicates each cover row ``salt`` times
    and spreads points deterministically across replicas, shrinking a hot
    cell's shuffle partition by the salt factor.

    The polygon index, and the cover built from it, is a snapshot taken at
    the first PIP call on this ``polygons`` object and is never refreshed,
    even after Spark writes to its source; read the source again to see the
    writes.
    """
    pts = points
    if first_match:
        # Compact surrogate key for the first-match reduction: grouping on
        # every point column would shuffle-key the full row (text/html-width
        # columns at 100 TB) — a scale-killer. A 64-bit id keeps the
        # aggregate key 8 bytes; the payload columns ride as first() aggs
        # (all values within a group are identical by construction).
        pts = pts.withColumn("_pip_rid", F.monotonically_increasing_id())
    tx, ty = TM.lonlat_to_tile(F.col(lon), F.col(lat), zoom)
    pts = pts.withColumn("cell_tx", tx).withColumn("cell_ty", ty)
    bc = _index_broadcast(polygons)
    cover = points.sparkSession.createDataFrame(
        [(pid, *cell) for pid, cells in _cover_cells(bc.value, zoom).items()
         for cell in cells],
        "poly_id long, cell_tx int, cell_ty int",
    )

    join_keys = ["cell_tx", "cell_ty"]
    if salt > 1:
        pts = pts.withColumn(
            "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in points.columns]), F.lit(salt)).cast("int")
        )
        cover = cover.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        join_keys = join_keys + ["_salt"]

    # Force the at-scale plan: shuffle both sides on the cell key and
    # hash-build the cover. Without the hint, Catalyst broadcasts whichever
    # side is under the broadcast threshold — at test scale that is the
    # POINTS side, which turns the stream side into the 1-partition cover
    # and serializes the whole stage.
    joined = pts.join(cover.hint("shuffle_hash"), on=join_keys, how="inner")
    return _exact_matches(joined, bc, points.columns, lon, lat, first_match)


def pip_join_cells_compact(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    zoom: int = 7,
    first_match: bool = False,
) -> DataFrame:
    """Compacted-cover PIP join (the north rule's "compacted covers", the
    H3 compact analog): each polygon's cell cover is quadtree-compacted
    (4 complete siblings → parent, recursively — cover size scales with
    polygon PERIMETER at the finest level instead of area), and each point
    explodes to its ancestor cell at every zoom ≤ base (one row per level,
    a fixed ×(zoom+1) flatMap). The equi-join key is (z, tx, ty); the exact
    ray-cast kernel then filters candidates exactly as pip_join_cells.

    The polygon index is a snapshot taken at the first PIP call on this
    ``polygons`` object and is never refreshed, even after Spark writes to
    its source; read the source again to see the writes.
    """
    bc = _index_broadcast(polygons)
    cover = points.sparkSession.createDataFrame(
        [(pid, *cell) for pid, cells in _cover_cells(bc.value, zoom).items()
         for cell in TM.py_compact_cells(cells, zoom)],
        "poly_id long, cell_z int, cell_tx int, cell_ty int",
    )

    pts_in = points
    if first_match:
        # Compact key BEFORE the per-level explode so all of a row's
        # candidate matches share one 8-byte id (see _exact_matches).
        pts_in = pts_in.withColumn("_pip_rid", F.monotonically_increasing_id())
    tx, ty = TM.lonlat_to_tile(F.col(lon), F.col(lat), zoom)
    pts = (
        pts_in.withColumn("_tx", tx)
        .withColumn("_ty", ty)
        .withColumn("cell_z", F.explode(F.sequence(F.lit(0), F.lit(zoom))))
        .withColumn(
            "cell_tx", F.expr(f"cast(shiftright(_tx, {zoom} - cell_z) as int)")
        )
        .withColumn(
            "cell_ty", F.expr(f"cast(shiftright(_ty, {zoom} - cell_z) as int)")
        )
        .drop("_tx", "_ty")
    )
    joined = pts.join(
        F.broadcast(cover), on=["cell_z", "cell_tx", "cell_ty"], how="inner"
    )
    return _exact_matches(joined, bc, points.columns, lon, lat, first_match)
