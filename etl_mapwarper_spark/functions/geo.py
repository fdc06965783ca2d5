"""Geospatial functions for the mapwarper transform.

- ``geodesic_area``: spherical polygon area matching the reference's
  ``turf.area`` v3 (which delegates to the published
  @mapbox/geojson-area algorithm — Chamberlain & Duquette spherical
  excess on an R=6378137 sphere; reference mapwarper.js:5-6,364,
  package-lock.json:7-27). Implemented as a PURE column expression
  (higher-order aggregate over the ring), so it runs JVM-side inside
  codegen with no Python round-trip — at 100 TB this is a narrow map,
  not a UDF stage.
- ``coords_all_valid``: lon/lat bounds check over every coordinate
  (mapwarper.js:260-277) — pure ``forall`` over the flattened rings.
- ``self_intersection_count``: segment-crossing count (the
  reference's ``turf.kinks``, mapwarper.js:250-257). O(n²) per ring,
  also a pure column expression (nested higher-order aggregates over
  segment pairs), so the whole validation step stays on the JVM.
  Counts strict proper crossings of non-adjacent segments; the
  reference counts each detected intersection feature, which can
  differ on degenerate (collinear/touching) rings — rule firing
  (count > 0) is equivalent for simple crossing cases.

Each is parsed from one SQL string and takes the name (or nested field
path, e.g. ``"maskGeometry.coordinates"``) of the coordinates column:
built from Column calls, these expressions cost tens of milliseconds
of driver-side py4j construction per use.

Geometry column type: STRUCT<type: STRING,
coordinates: ARRAY<ARRAY<ARRAY<DOUBLE>>>> (GeoJSON Polygon).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6378137.0


def _ring_area_sql(ring: str) -> str:
    """Signed spherical area of one ring (array<array<double>>), as SQL
    over the expression ``ring``.

    Mirrors geojson-area's ringArea: for each i, with modular indices
    lower=i, middle=i+1, upper=i+2,
    term = (rad(lon_upper) - rad(lon_lower)) * sin(rad(lat_middle));
    area = Σ term * R² / 2. Rings with ≤ 2 points have area 0.
    """

    def point(j: str) -> str:
        return f"element_at({ring}, CAST(({j}) % size({ring}) + 1 AS INT))"

    term = (
        f"(radians(element_at({point('i + 2')}, 1))"
        f" - radians(element_at({point('i')}, 1)))"
        f" * sin(radians(element_at({point('i + 1')}, 2)))"
    )
    return (
        f"CASE WHEN size({ring}) > 2 THEN"
        f" aggregate(sequence(0, size({ring}) - 1), 0D, (acc, i) -> acc + {term})"
        f" * {EARTH_RADIUS_M!r}D * {EARTH_RADIUS_M!r}D / 2D ELSE 0D END"
    )


# |outer ring| − Σ |holes| (geojson-area polygonArea semantics), as ONE
# aggregate over the signed ring areas (sign flips for holes) rather
# than slice()+aggregate over a ring subarray — the latter shape trips
# a Spark whole-stage-codegen bug ("expression is not an rvalue") when
# nested inside further expressions. The rings are mapped directly,
# not indexed by sequence(1, size): that counts down for an empty ring
# list, whose element 0 then raised.
_AREA_SQL = (
    "aggregate(transform({coords}, (ring, ri) -> CASE WHEN ri = 0"
    f" THEN abs({_ring_area_sql('ring')}) ELSE -abs({_ring_area_sql('ring')}) END),"
    " 0D, (acc_r, a) -> acc_r + a)"
)


def geodesic_area(coordinates: str) -> Column:
    """Polygon area in m²: |outer ring| − Σ |holes| of the
    ``coordinates`` column."""
    return F.expr(_AREA_SQL.format(coords=coordinates))


_VALID_SQL = (
    "forall(flatten({coords}), c -> element_at(c, 1) >= -180"
    " AND element_at(c, 1) <= 180 AND element_at(c, 2) >= -90"
    " AND element_at(c, 2) <= 90)"
)


def coords_all_valid(coordinates: str) -> Column:
    """True iff every [lon, lat] of the ``coordinates`` column satisfies
    lon∈[-180,180], lat∈[-90,90]."""
    return F.expr(_VALID_SQL.format(coords=coordinates))


def _ccw(p: str, q: str, r: str) -> str:
    """Orientation of point r against segment p→q, as SQL over the
    lambda variable ``ring``; p, q, r are point-index expressions."""

    def x(k: str) -> str:
        return f"ring[{k}][0]"

    def y(k: str) -> str:
        return f"ring[{k}][1]"

    return (
        f"(({x(q)} - {x(p)}) * ({y(r)} - {y(p)})"
        f" - ({y(q)} - {y(p)}) * ({x(r)} - {x(p)}))"
    )


def _opposite(d1: str, d2: str) -> str:
    return f"(({d1} > 0 AND {d2} < 0) OR ({d1} < 0 AND {d2} > 0))"


# Proper crossings of one closed ring. Segment k joins points k and
# k+1 (0-based; the last point repeats the first), so segments are
# 0..n-2. Pairs (i, j) with j >= i+2 are tested, except (0, n-2), which
# share the closing point; rings under 4 points count 0. The test is
# strict: each segment's endpoints lie strictly on opposite sides of the
# other, so collinear or touching pairs never count, and a null
# coordinate makes the pair count 0.
_CROSSES = (
    _opposite(_ccw("j", "j + 1", "i"), _ccw("j", "j + 1", "i + 1"))
    + " AND "
    + _opposite(_ccw("i", "i + 1", "j"), _ccw("i", "i + 1", "j + 1"))
)
_KINKS_SQL = f"""coalesce(aggregate({{coords}}, 0, (acc, ring) -> acc +
  CASE WHEN size(ring) >= 4 THEN
    aggregate(sequence(0, size(ring) - 4), 0, (acc_i, i) -> acc_i +
      aggregate(sequence(i + 2, size(ring) - 2), 0, (acc_j, j) -> acc_j +
        CASE WHEN NOT (i = 0 AND j = size(ring) - 2) AND {_CROSSES}
             THEN 1 ELSE 0 END))
  ELSE 0 END), 0)"""


def self_intersection_count(coordinates: str) -> Column:
    """Number of proper self-crossings across all rings of a polygon;
    0 for null coordinates. ``coordinates``: the name (or nested field
    path, e.g. ``"maskGeometry.coordinates"``) of an
    array<array<array<double>>> column.

    A pure column expression (nested higher-order aggregates over the
    segment-pair indices), so like ``geodesic_area`` it runs JVM-side
    with no Python round-trip. It is parsed from one SQL string: built
    from Column calls, the same expression took ~0.2 s of driver-side
    py4j construction per use (4-core host).
    """
    return F.expr(_KINKS_SQL.format(coords=coordinates))
