"""Geometry codecs + trajectory assembly (SURVEY §2.7 C11-C13, §2.1 S3).

No Spark GeometryType and no PostGIS: the canonical representation is plain
``lon``/``lat`` double columns (+ optional WKT string), exactly what the
reference ultimately extracts anyway (viz.py:818 reads ``.x``/``.y``).

- WKT encode/decode: pure built-in string expressions (the reference does
  row-at-a-time Python, w4h_db_utils.py:196-197 / viz.py:126).
- WKB decode: a vectorized pandas UDF using only stdlib ``struct`` — the
  wire format PostGIS emits (hex EWKB, possibly with SRID flag).
- haversine: Column math (augment_with_trajectories.ipynb cell 3 uses the
  same Earth radius).
- trajectory: per-user time-ordered [[lat, lon], ...] path arrays
  (viz.py:814-821) via collect_list over an ordered window.

``trajectories`` and ``geofence_join`` write their expressions as parsed SQL
over quoted identifiers (:mod:`..functions.sql`), so a dashboard map request
costs a few py4j round trips per call rather than several per Column-API
node. The even-odd ring test stays Column math: ``point_in_polygon`` takes
arbitrary Columns, and ``geofence_join`` folds the very same expression.
"""

from __future__ import annotations

import math
import struct as _struct

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sql import ident, literal

__all__ = [
    "wkt_point",
    "wkt_decode_lon",
    "wkt_decode_lat",
    "wkb_hex_decode",
    "haversine_m",
    "trajectories",
    "point_in_polygon",
    "geofence_join",
    "grid_density",
]

EARTH_RADIUS_M = 6371000.0  # viz.py:37 / augment_with_trajectories.ipynb cell 3

_NUM = r"(-?[0-9]+\.?[0-9]*(?:[eE][+-]?[0-9]+)?)"


def wkt_point(lon: Column, lat: Column) -> Column:
    """POINT(lon lat) — w4h_db_utils.py:196-197's f-string, vectorized."""
    return F.concat(F.lit("POINT("), lon.cast("string"), F.lit(" "), lat.cast("string"), F.lit(")"))


def wkt_decode_lon(wkt: Column) -> Column:
    return F.regexp_extract(wkt, rf"POINT\s*\(\s*{_NUM}\s+{_NUM}\s*\)", 1).cast("double")


def wkt_decode_lat(wkt: Column) -> Column:
    return F.regexp_extract(wkt, rf"POINT\s*\(\s*{_NUM}\s+{_NUM}\s*\)", 2).cast("double")


_POINT_STRUCT = T.StructType(
    [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
)


@F.pandas_udf(_POINT_STRUCT)
def wkb_hex_decode(hex_s: pd.Series) -> pd.DataFrame:
    """Hex-(E)WKB POINT -> (lon, lat). Pure-stdlib parse of the wire format
    the reference decodes with shapely (viz.py:126): byte order flag, geom
    type (with optional SRID flag 0x20000000), two float64s."""

    def one(h):
        if h is None:
            return (None, None)
        try:
            raw = bytes.fromhex(h)
            little = raw[0] == 1
            bo = "<" if little else ">"
            (gtype,) = _struct.unpack_from(bo + "I", raw, 1)
            off = 5
            if gtype & 0x20000000:  # EWKB SRID present
                off += 4
            if gtype & 0xFF != 1:  # not a POINT
                return (None, None)
            lon, lat = _struct.unpack_from(bo + "dd", raw, off)
            return (lon, lat)
        except (ValueError, _struct.error):
            return (None, None)

    decoded = [one(h) for h in hex_s]
    return pd.DataFrame(decoded, columns=["lon", "lat"])


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters (Column math, codegen'd)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) ** 2
    return 2 * EARTH_RADIUS_M * F.asin(F.sqrt(a))


def trajectories(
    locations: DataFrame,
    user: str = "user_id",
    ts: str = "timestamp",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Per-user time-ordered path [[lat, lon], ...] (viz.py:814-821).

    sort_array over structs keyed by timestamp keeps the whole thing one
    hash aggregate (no global sort): collect unordered, order in-place.
    """
    u = ident(user)
    pt = f"struct({ident(ts)} AS ts, array({ident(lat)}, {ident(lon)}) AS p)"
    return (
        locations.groupBy(u)
        .agg(F.expr(f"sort_array(collect_list({pt}), true) AS pts"))
        .selectExpr(u, "transform(pts, s_ -> s_.p) AS path")
    )


def _ring_edges(ring: Column) -> Column:
    """A ring's edges as ``array<struct<ax, ay, by, dx, dy>>``: vertex i
    paired with vertex (i+1) mod n, with ``dx = bx - ax`` and
    ``dy = by - ay`` computed once per edge. The wraparound edge closes an
    open ring; on a closed ring it is degenerate (a == b, never straddles)."""
    nxt = F.concat(F.slice(ring, 2, F.size(ring)), F.slice(ring, 1, 1))
    return F.zip_with(
        ring,
        nxt,
        lambda a, b: F.struct(
            a["lon"].alias("ax"),
            a["lat"].alias("ay"),
            b["lat"].alias("by"),
            (b["lon"] - a["lon"]).alias("dx"),
            (b["lat"] - a["lat"]).alias("dy"),
        ),
    )


def _even_odd(lon: Column, lat: Column, edges: Column) -> Column:
    """The even-odd rule over :func:`_ring_edges`: an edge crosses the ray
    from (lon, lat) towards +lon when it straddles ``lat`` and the point lies
    left of the edge's x at ``lat``, ``ax + dx * (lat - ay) / dy`` — the
    IEEE operation order of ``ax + (bx - ax) * (lat - ay) / (by - ay)``.
    The only copy of the rule: both spatial entry points fold it."""

    def crosses(acc: Column, e: Column) -> Column:
        straddles = (e["ay"] > lat) != (e["by"] > lat)
        xcross = e["ax"] + e["dx"] * (lat - e["ay"]) / e["dy"]
        return acc + F.when(straddles & (lon < xcross), 1).otherwise(0)

    return F.pmod(F.aggregate(edges, F.lit(0), crosses), F.lit(2)) == 1


def point_in_polygon(lon: Column, lat: Column, ring: Column) -> Column:
    """Even-odd-rule point-in-polygon test as pure Column math — no UDF.

    ``ring`` is an ``array<struct<lon double, lat double>>`` of vertices
    (open or closed; a closing duplicate vertex contributes a degenerate
    edge that never crosses). The crossing count folds over the edge list
    with ``F.aggregate`` — JVM-side, codegen-friendly, and usable inside
    any join condition or filter. Points exactly on an edge land on
    whichever side the ray count puts them — deterministic, and identical
    in any engine evaluating the same IEEE expression (the oracle unrolls
    the same edges).

    The reference has no geofence operator (its maps only draw
    trajectories, viz.py:814-821); this is the north-star spatial-join
    primitive built the Spark-first way.
    """
    return _even_odd(lon, lat, _ring_edges(ring))


def geofence_join(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    polygon_id: str = "polygon_id",
    ring: str = "ring",
    cell_deg: float = 1.0,
) -> DataFrame:
    """Spatial join: each point row paired with every polygon containing it.

    Scale shape: polygons are FEW (geofences, regions — never fact-sized),
    so their grid-cell index broadcasts. Each polygon explodes to the grid
    cells covering its bounding box (computed from the ring, map-side);
    each point computes its own cell (two floors); the join is EQUI on the
    cell — broadcast hash, never a nested-loop over all (point, polygon)
    pairs — and the exact even-odd test runs only on the candidates that
    share a cell. The fact side never shuffles: cell assignment and the
    ring test are map-side expressions over the broadcast index.

    Filter and refine: each polygon's bounding box ``[x0, x1] × [y0, y1]``
    and edge list are computed once, on the broadcast side. A candidate
    must first pass the exact latitude band ``y0 <= lat < y1`` and the
    padded longitude band ``x0 - pad <= lon <= x1 + pad``, with
    ``pad = 1e-9 * greatest(1, |x0|, |x1|)``; only then does it fold the
    even-odd rule (the one :func:`point_in_polygon` folds) over the
    precomputed edges. The filter never changes an answer:

    - below ``y0`` or at/above ``y1`` every vertex lies on the same side of
      ``lat`` in the straddle test, so no edge straddles;
    - right of ``x1 + pad`` the point is right of every crossing x, which
      interpolates between an edge's endpoints and so lies within a few
      ulps of ``[x0, x1]`` — the pad is many orders of magnitude larger;
    - left of ``x0 - pad`` the point is left of every crossing x, so every
      straddling edge counts; walking a closed ring (the wraparound edge
      closes an open one) flips above/below once per straddling edge and
      ends where it started, so that count is even: outside.

    A ring with a NULL or NaN vertex coordinate skips the longitude band:
    an edge touching that vertex has a NULL or NaN crossing x, which
    breaks both longitude arguments (the latitude one still holds). A NaN
    or NULL point is never inside, in the bands as in the fold.

    ``cell_deg`` trades index size against candidate precision; cells per
    polygon ~ (bbox area / cell_deg²), so size it to the typical geofence.
    """
    r, pid = ident(ring), ident(polygon_id)
    cell = lambda v: f"CAST(FLOOR({v} / {literal(float(cell_deg))}) AS BIGINT)"  # noqa: E731
    bound = lambda agg, c: f"{agg}(transform({r}, v_ -> v_.{c}))"  # noqa: E731
    pad = "1e-9D * greatest(1.0D, abs(_x0), abs(_x1))"
    boxes = polygons.selectExpr(
        pid,
        f"{r} AS _r",
        f"{bound('array_min', 'lon')} AS _x0",
        f"{bound('array_max', 'lon')} AS _x1",
        f"{bound('array_min', 'lat')} AS _y0",
        f"{bound('array_max', 'lat')} AS _y1",
        f"exists({r}, v_ -> v_.lon IS NULL OR v_.lat IS NULL "
        "OR isnan(v_.lon) OR isnan(v_.lat)) AS _no_xband",
    )
    fences = boxes.select(
        F.col(pid),
        _ring_edges(F.col("_r")).alias("_e"),
        "_y0",
        "_y1",
        F.expr(f"IF(_no_xband, CAST('-Infinity' AS DOUBLE), _x0 - {pad}) AS _xlo"),
        F.expr(f"IF(_no_xband, CAST('Infinity' AS DOUBLE), _x1 + {pad}) AS _xhi"),
        # one row per grid cell of the bbox: the (_cx, _cy) cross product
        F.expr(
            f"inline(flatten(transform(sequence({cell('_x0')}, {cell('_x1')}), "
            f"i_ -> transform(sequence({cell('_y0')}, {cell('_y1')}), "
            "j_ -> struct(i_ AS _cx, j_ AS _cy)))))"
        ),
    )
    x, y = ident(lon), ident(lat)
    # equi keys on the point's cell (broadcast hash join), then the bands,
    # then the fold; And evaluates left to right and stops at the first false
    candidate = F.expr(
        f"_cx = {cell(x)} AND _cy = {cell(y)} "
        f"AND {y} >= _y0 AND {y} < _y1 AND {x} >= _xlo AND {x} <= _xhi"
    )
    return points.join(
        fences.hint("broadcast"), candidate & _even_odd(F.col(x), F.col(y), F.col("_e"))
    ).drop("_e", "_y0", "_y1", "_xlo", "_xhi", "_cx", "_cy")


def grid_density(
    points: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    cell_deg: float = 10.0,
    k: int = 20,
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Spatial density grid: bucket points into ``cell_deg``-degree cells
    and rank the k densest — the heatmap/hotspot aggregation behind the
    reference's map panels (viz.py density layers draw per-viewport; this
    is the precomputed global version a tile server would read).

    Cells are integer (floor(lon/cell), floor(lat/cell)) pairs — pure
    integer keys, so counts and ordering are engine-exact. Plan: ONE hash
    aggregate on the cell key (map-side partials absorb the density
    skew that motivates the query in the first place), then global top-k
    via TakeOrderedAndProject — no global sort, no window.

    ``extra_aggs`` adds named aggregate expressions (e.g. distinct
    users) computed in the same single aggregate pass.
    """
    cx = F.floor(F.col(lon) / F.lit(float(cell_deg))).cast("long")
    cy = F.floor(F.col(lat) / F.lit(float(cell_deg))).cast("long")
    aggs = [F.count(F.lit(1)).alias("n_points")]
    for name, expr in (extra_aggs or {}).items():
        aggs.append(expr.alias(name))
    return (
        points.groupBy(cx.alias("cell_x"), cy.alias("cell_y"))
        .agg(*aggs)
        .orderBy(F.desc("n_points"), "cell_x", "cell_y")
        .limit(k)
    )
