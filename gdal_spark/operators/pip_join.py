"""Point-in-polygon spatial join — the north-rule operator.

Reference semantics: GDAL's 3-stage spatial filter (ogrlayer.cpp:4005-4076
``FilterGeometry``: envelope prefilter → envelope-containment shortcut →
exact predicate) with the exact predicate being strict-interior ray casting
(ogrlinearring.cpp:452-521, holes via ogrcurvepolygon.cpp:810-867) — and the
prepared-geometry reuse pattern of ogrgeometry.cpp:7530-7665 (build the
polygon-side index ONCE, probe many points).

Spark-first execution, one physical plan: the polygon side is a small
dimension (thousands of polygons), so its ring edges are packed into flat
numpy arrays ONCE on the driver and broadcast, and each point's matching
poly_ids are one Arrow column UDF over ``(lon, lat)`` only, exploded in the
JVM. ZERO shuffle: the plan is scan → ArrowEvalPython → Generate →
(anything downstream); pass-through columns never leave the JVM, and with
no exchange there is no hot cell to salt. At 100 TB of points this is a
map-only stage that scales with executors — the index plays GDAL's
prepared geometries, its grid of part boxes the quadtree, and its per-row
edge bands the raster intervals. A partitioned plan would pay only for a
layer too large to broadcast; it would have to move rings through the
shuffle, and is not built.

The ``PolygonIndex`` is built and broadcast once per polygon DataFrame
OBJECT, at the first ``pip_join`` on it, and every later call on that
object (any mode) reuses the same broadcast. Python workers that Spark
reuses across jobs therefore keep the unpickled index. This only pays when
a caller passes the same polygons DataFrame object to more than one call; a
fresh ``polygons_df(spark)`` per call builds a fresh index.

The index is a snapshot of the polygons at the first call on that object
and is never refreshed, even after Spark writes to its source (``INSERT
INTO`` a table read with ``spark.table``, an overwritten path). Read the
source again for a new DataFrame object, and so a new index. The entry goes
away when its DataFrame is garbage-collected; Spark's ContextCleaner then
removes the broadcast.
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


# Grid cell side as a fraction of the layer's median part height; the most
# cells the grid may have (its CSR offsets stay under 1 MB); points per
# kernel pass, which bounds the (pair, edge) temporaries
_CELL_FRAC, _MAX_CELLS, _CHUNK = 0.25, 1 << 18, 8192


def _bins(v: np.ndarray, lo: float, scale: float, n: int) -> np.ndarray:
    """Grid column or row of each coordinate: one monotone expression for
    part boxes, edges and points, so a coordinate inside a range lands in
    that range's bins. NaN is the caller's to drop."""
    return np.clip(np.floor((v - lo) * scale), 0, n - 1).astype(np.int64)


def _ranges(lo: np.ndarray, hi: np.ndarray):
    """Expand the ranges ``[lo[i], hi[i])`` into rows ``(i, position)``."""
    n = hi - lo
    item = np.repeat(np.arange(n.shape[0]), n)
    return item, np.arange(item.shape[0]) + np.repeat(lo - (np.cumsum(n) - n), n)


def _csr(keys: np.ndarray, n: int, values: np.ndarray):
    """int32 (offsets, values grouped by key, in their given order)."""
    off = np.concatenate(([0], np.cumsum(np.bincount(keys, minlength=n))))
    return off.astype(np.int32), values[np.argsort(keys, kind="stable")].astype(np.int32)


class PolygonIndex:
    """Driver-built, broadcast-able polygon index: the "prepared geometry".

    One entry per polygon PART (multipolygon features explode internally,
    keeping their feature id — so first-match stays per-feature), held in
    poly_id order so first-match (min poly_id) is a stable rule. Besides
    ``poly_ids`` and ``boxes`` it is a few flat arrays:

    * ``edges`` (4, E): every ring edge x0, y0, x1, y1, part by part and
      ring by ring; ``edge_ring`` its ring ordinal (0 = exterior);
    * a uniform grid with a CSR list of the parts whose box meets each cell;
    * per part, a CSR list of the edges that meet each grid row ("band") it
      spans. A ring of fewer than 4 points is no ring (GDAL: nPoints < 4),
      so its edges are in no band.
    """

    def __init__(self, poly_ids, rings_list, boxes):
        self.poly_ids = np.asarray(poly_ids, dtype=np.int64)
        # (P, 4) xmin ymin xmax ymax, also for P == 0
        self.boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
        rings = [r for part in rings_list for r in part]
        size = np.array([r.shape[0] for r in rings], dtype=np.int64)
        v = np.concatenate(rings + [np.empty((0, 2))])
        start = np.delete(np.arange(v.shape[0]), np.cumsum(size)[size > 0] - 1)
        self.edges = np.vstack((v[start].T, v[start + 1].T))
        n_edges, n_rings = np.maximum(size - 1, 0), [len(part) for part in rings_list]
        first = np.concatenate(([0], np.cumsum(n_rings, dtype=np.int64)))
        ordinal = np.arange(size.shape[0]) - np.repeat(first[:-1], n_rings)
        self.edge_ring = np.repeat(ordinal, n_edges).astype(np.int32)
        self.part_edges = np.concatenate(([0], np.cumsum(n_edges)))[first].astype(np.int32)

        fin = self.boxes[np.isfinite(self.boxes).all(axis=1)]
        lo, ext, cell = np.zeros(2), np.zeros(2), 0.0
        if fin.shape[0]:
            lo = fin[:, :2].min(axis=0)
            ext = fin[:, 2:].max(axis=0) - lo
            cell = max(_CELL_FRAC * np.median(fin[:, 3] - fin[:, 1]),
                       np.sqrt(ext.prod() / _MAX_CELLS))
        with np.errstate(all="ignore"):
            n = np.minimum(np.ceil(ext / cell), _MAX_CELLS)
        n = np.where(n > 1, n, 1)  # also for 0 / 0 and inf / inf
        scale = n / np.where(n > 1, ext, 1.0)
        self._grid = [(float(lo[a]), float(scale[a]), int(n[a])) for a in (0, 1)]
        nx, ny = int(n[0]), int(n[1])

        # parts -> the cells their box meets (a NaN box never passes the
        # box test; it is placed as if it were 0)
        b = np.nan_to_num(self.boxes, nan=0.0)
        cx0, cy0, cx1, cy1 = (_bins(b[:, c], *self._grid[c % 2]) for c in range(4))
        w, h = cx1 - cx0 + 1, cy1 - cy0 + 1
        part, j = _ranges(np.zeros_like(w), w * h)
        cells = (cy0[part] + j // w[part]) * nx + cx0[part] + j % w[part]
        self.cell_off, self.cell_parts = _csr(cells, nx * ny, part)

        # (part, band) slots -> the edges whose padded y-range meets the band.
        # The ray test counts an edge only for y0 <= py < y1 (or back); the
        # exact boundary test can accept a point a few ulps past an edge's
        # end, which the pad covers.
        ids = np.flatnonzero(np.repeat(size >= 4, n_edges) & ~np.isnan(self.edges).any(axis=0))
        ep = np.repeat(np.arange(len(n_rings)), np.diff(self.part_edges))[ids]  # edge -> part
        e = self.edges[:, ids]
        pad = 2.0 ** -40 * np.maximum(np.abs(e).max(axis=0, initial=0.0),
                                      np.abs(b[ep]).max(axis=1, initial=0.0))
        eb0 = np.maximum(_bins(np.minimum(e[1], e[3]) - pad, *self._grid[1]), cy0[ep])
        eb1 = np.minimum(_bins(np.maximum(e[1], e[3]) + pad, *self._grid[1]), cy1[ep])
        self.band_slot0 = (np.cumsum(h) - h - cy0).astype(np.int32)  # + band = slot
        k, j = _ranges(np.zeros_like(eb0), np.maximum(eb1 - eb0 + 1, 0))
        slots = self.band_slot0[ep[k]] + eb0[k] + j
        self.band_off, self.band_edges = _csr(slots, h.sum(), ids[k])

    @classmethod
    def from_rows(cls, rows):
        parts = sorted(
            ((r["poly_id"], part) for r in rows for part in _feature_parts(r["rings"])),
            key=lambda t: t[0],
        )
        return cls([pid for pid, _ in parts], [part for _, part in parts],
                   [G.rings_envelope(part) for _, part in parts])

    @property
    def rings_list(self) -> list:
        """Per part, its rings as ``(n, 2)`` vertex arrays, rebuilt from the
        edges on each call (a ring of under 2 points comes back empty or
        not at all; it stays no ring either way)."""
        out = []
        for a, b in zip(self.part_edges[:-1], self.part_edges[1:]):
            e, ring = self.edges[:, a:b], self.edge_ring[a:b]
            parts = np.split(e, np.flatnonzero(np.diff(ring)) + 1, axis=1)
            rings = [np.vstack((s[:2].T, s[2:, -1:].T)) for s in parts if s.size]
            out.append(rings if rings and ring[0] == 0 else [np.empty((0, 2))] + rings)
        return out

    def _inside(self, px, py, pt: np.ndarray, part: np.ndarray) -> np.ndarray:
        """Exact test of (point, part) pairs with the rule of the geometry
        module's polygon test without ``boundary_is_inside``: an odd crossing
        count of the exterior, an even one of every hole, and on no ring's
        boundary. After the box test, a pair meets only its part's edges in
        the point's band, all pairs in one pass over (pair, edge) rows, with
        the arithmetic of ``points_in_ring`` and ``points_on_ring_boundary``
        (point minus vertex, their exact negation)."""
        x, y, b = px[pt], py[pt], self.boxes[part]
        keep = np.flatnonzero((x >= b[:, 0]) & (x <= b[:, 2]) & (y >= b[:, 1]) & (y <= b[:, 3]))
        slot = self.band_slot0[part[keep]] + _bins(y[keep], *self._grid[1])
        pair, at = _ranges(self.band_off[slot], self.band_off[slot + 1])
        pair, edge = keep[pair], self.band_edges[at]
        x0, y0, x1, y1 = self.edges[:, edge]
        dx0, dy0, dx1, dy1 = x[pair] - x0, y[pair] - y0, x[pair] - x1, y[pair] - y1
        cross = dx1 * dy0 - dx0 * dy1
        with np.errstate(divide="ignore", invalid="ignore"):
            # a NaN difference gives a NaN quotient: no crossing, as in
            # points_in_ring's straddle test
            odd = np.flatnonzero(((dy1 < 0) != (dy0 < 0)) & (cross / (dy1 - dy0) > 0))
        # rows run pair by pair and ring by ring: a run of crossing rows is
        # one ring's crossing count
        p, ring = pair[odd], self.edge_ring[edge[odd]]
        new = np.flatnonzero(np.diff(p, prepend=-1) | np.diff(ring, prepend=-1))
        run = np.diff(new, append=odd.shape[0]) % 2 == 1
        inside = np.zeros(pt.shape[0], dtype=bool)
        inside[p[new[run & (ring[new] == 0)]]] = True
        inside[p[new[run & (ring[new] != 0)]]] = False
        on = np.flatnonzero(cross == 0.0)  # collinear: rare, so test the rest there only
        sx, sy = x1[on] - x0[on], y1[on] - y0[on]
        t = dx0[on] * sx + dy0[on] * sy
        degenerate = (dx0[on] == dx1[on]) & (dy0[on] == dy1[on])
        inside[pair[on[~degenerate & (t >= 0.0) & (t <= sx * sx + sy * sy)]]] = False
        return inside

    def probe(self, px: np.ndarray, py: np.ndarray, first_match: bool):
        """Return (point_idx, poly_id) match pairs for a batch of points,
        sorted by point_idx then poly_id, one pair per (point, feature).

        A chunk of points at a time, each point's grid cell lists its
        candidate parts and ``_inside`` tests them all. Pairs are reduced at
        the end: first_match keeps the min poly_id per point, otherwise a
        feature whose parts overlap under the point still matches once."""
        out_pt, out_poly = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.int64)]
        for s in range(0, px.shape[0], _CHUNK):
            x, y = px[s:s + _CHUNK], py[s:s + _CHUNK]
            ok = np.flatnonzero(~(np.isnan(x) | np.isnan(y)))
            cell = _bins(y[ok], *self._grid[1]) * self._grid[0][2] + _bins(x[ok], *self._grid[0])
            pt, at = _ranges(self.cell_off[cell], self.cell_off[cell + 1])
            pt, part = ok[pt], self.cell_parts[at]
            hit = self._inside(x, y, pt, part)
            out_pt.append(pt[hit] + s)
            out_poly.append(self.poly_ids[part[hit]])
        pt, poly = np.concatenate(out_pt), np.concatenate(out_poly)
        order = np.lexsort((poly, pt))
        pt, poly = pt[order], poly[order]
        keep = np.ones(pt.shape[0], dtype=bool)
        keep[1:] = pt[1:] != pt[:-1]
        if not first_match:
            keep[1:] |= poly[1:] != poly[:-1]
        return pt[keep], poly[keep]


def build_polygon_index(polygons: DataFrame) -> PolygonIndex:
    """Collect ``polygons`` and build a fresh index (no caching;
    ``pip_join`` goes through ``_index_broadcast``)."""
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
# The join
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
    Any other ``how`` raises ``ValueError``. ``polygons`` is read once per
    DataFrame object (see the module docstring).
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

