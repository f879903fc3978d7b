"""Deterministic geotag derivation — the engine/oracle shared rule.

The north rule's input table (url, warc_ts, html, text, lang) carries no
coordinates; geotags are DERIVED deterministically (FIXTURES.md §1). For the
driver-verified queries we derive (lon, lat) from the integer row key with
pure integer arithmetic so that Spark and DuckDB compute bit-identical
doubles:

    lon = ((id * 9973 + 12345) % 3600000) / 10000.0 - 180.0        ∈ [-180, 180)
    lat = ((id * 6151 + 54321) % 1660000) / 10000.0 - 83.0         ∈ [-83, 83)

(quantized to 1e-4 degrees, comfortably inside the WebMercator validity
domain ±85.05° — gdal2tiles.py:423-431).

Skew rule (FIXTURES.md §1): every 100th row is teleported to one hot cell
(Paris, 2.35/48.85 + <1e-3° jitter) to exercise skew handling at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HOT_LON = 2.35
HOT_LAT = 48.85


def derived_lon(id_col: Column) -> Column:
    base = ((id_col * F.lit(9973) + F.lit(12345)) % F.lit(3600000)) / F.lit(10000.0) - F.lit(180.0)
    hot = F.lit(HOT_LON) + (id_col % F.lit(7)).cast("double") * F.lit(1e-4)
    return F.when(id_col % F.lit(100) == F.lit(0), hot).otherwise(base)


def derived_lat(id_col: Column) -> Column:
    base = ((id_col * F.lit(6151) + F.lit(54321)) % F.lit(1660000)) / F.lit(10000.0) - F.lit(83.0)
    hot = F.lit(HOT_LAT) + (id_col % F.lit(5)).cast("double") * F.lit(1e-4)
    return F.when(id_col % F.lit(100) == F.lit(0), hot).otherwise(base)


def sql_lon(id_expr: str) -> str:
    return (
        f"(case when ({id_expr}) % 100 = 0 "
        f"then {HOT_LON!r} + cast(({id_expr}) % 7 as double) * 1e-4 "
        f"else (({id_expr}) * 9973 + 12345) % 3600000 / 10000.0 - 180.0 end)"
    )


def sql_lat(id_expr: str) -> str:
    return (
        f"(case when ({id_expr}) % 100 = 0 "
        f"then {HOT_LAT!r} + cast(({id_expr}) % 5 as double) * 1e-4 "
        f"else (({id_expr}) * 6151 + 54321) % 1660000 / 10000.0 - 83.0 end)"
    )


# ---------------------------------------------------------------------------
# Clustered geotag rule (the DBSCAN / cluster-within fixture).
#
# The base congruential geotags above form a near-regular 1-degree lattice —
# deliberately uniform, so density-based clustering finds nothing but the
# Paris hot cell. The CLUSTERED rule overlays deterministic dense blobs:
#
#   id % 100 == 0 → Paris hot cell (unchanged, rule above)
#   id %  10 == 0 → blob member: anchor[(id % 80) / 10] + md5-jitter ∈ [-1, 1]
#   otherwise     → sparse background (base rule)
#
# Jitter MUST be hash-derived: congruential jitter collapses onto a sub-
# lattice (gcd cycles) and every blob degenerates to ~20 repeated positions.
# md5 is the engine/oracle shared hash (bit-identical in Spark and DuckDB).
# ---------------------------------------------------------------------------

ANCHORS = [
    (-150.0, -60.0), (-110.0, 20.0), (-60.0, -30.0), (-20.0, 50.0),
    (20.0, -10.0), (70.0, 40.0), (120.0, -50.0), (160.0, 10.0),
]


def _md5_jitter(tag: str, id_col: Column) -> Column:
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(tag), id_col.cast("string"))), 1, 8),
        16, 10,
    ).cast("long")
    return (h % F.lit(201)) / F.lit(100.0) - F.lit(1.0)


def _sql_md5_jitter(tag: str, id_expr: str) -> str:
    return (
        f"(('0x' || substring(md5('{tag}' || cast(({id_expr}) as varchar)), 1, 8))::bigint"
        f" % 201) / 100.0 - 1.0"
    )


def clustered_lon(id_col: Column) -> Column:
    anchor = F.element_at(
        F.array(*[F.lit(ax) for ax, _ in ANCHORS]),
        ((id_col % F.lit(80)) / F.lit(10)).cast("int") + F.lit(1),
    )
    return F.when(id_col % 100 == 0, derived_lon(id_col)).when(
        id_col % 10 == 0, anchor + _md5_jitter("jx", id_col)
    ).otherwise(derived_lon(id_col))


def clustered_lat(id_col: Column) -> Column:
    anchor = F.element_at(
        F.array(*[F.lit(ay) for _, ay in ANCHORS]),
        ((id_col % F.lit(80)) / F.lit(10)).cast("int") + F.lit(1),
    )
    return F.when(id_col % 100 == 0, derived_lat(id_col)).when(
        id_col % 10 == 0, anchor + _md5_jitter("jy", id_col)
    ).otherwise(derived_lat(id_col))


def sql_clustered_lon(id_expr: str) -> str:
    arr = "[" + ", ".join(repr(ax) for ax, _ in ANCHORS) + "]"
    return (
        f"(case when ({id_expr}) % 100 = 0 then {sql_lon(id_expr)} "
        f"when ({id_expr}) % 10 = 0 then "
        f"({arr})[cast((({id_expr}) % 80) / 10 as int) + 1] "
        f"+ ({_sql_md5_jitter('jx', id_expr)}) "
        f"else {sql_lon(id_expr)} end)"
    )


def sql_clustered_lat(id_expr: str) -> str:
    arr = "[" + ", ".join(repr(ay) for _, ay in ANCHORS) + "]"
    return (
        f"(case when ({id_expr}) % 100 = 0 then {sql_lat(id_expr)} "
        f"when ({id_expr}) % 10 = 0 then "
        f"({arr})[cast((({id_expr}) % 80) / 10 as int) + 1] "
        f"+ ({_sql_md5_jitter('jy', id_expr)}) "
        f"else {sql_lat(id_expr)} end)"
    )


def py_lonlat(i: int) -> tuple[float, float]:
    if i % 100 == 0:
        return HOT_LON + (i % 7) * 1e-4, HOT_LAT + (i % 5) * 1e-4
    return (
        (i * 9973 + 12345) % 3600000 / 10000.0 - 180.0,
        (i * 6151 + 54321) % 1660000 / 10000.0 - 83.0,
    )
