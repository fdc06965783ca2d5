"""Driver-gate queries for the mapwarper transform.

Each query runs the real transform operators (operators/mapwarper.py)
over the deterministic synthetic fixtures, flattened to primitive
columns for hash-stable comparison. The oracle SQL reproduces the
identical fixture records AND the full transform semantics (validation
rules, geodesic area, edge derivation) in DuckDB — so mapwarper parity
is value-level checked by the driver, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import registry
from .mapwarper import (
    map_logs,
    map_objects,
    map_relations,
    synthetic_layers,
    synthetic_maps,
    transform_layers,
    with_validation,
)

QUERIES, ORACLE, _register = registry()


# ---------------------------------------------------------------------------
# Oracle SQL building blocks (DuckDB). All double literals are cast so
# DuckDB uses DOUBLE arithmetic (its bare decimal literals are DECIMAL,
# which would diverge from Spark's double bits).
# ---------------------------------------------------------------------------

_PT = "[{x}, {y}]"


def _sq(lon="lon0", lat="lat0", d="d"):
    return (
        f"[[{lon}, {lat}], [{lon}+{d}, {lat}], [{lon}+{d}, {lat}+{d}], "
        f"[{lon}, {lat}+{d}], [{lon}, {lat}]]"
    )


_MAPS_CTE = f"""
WITH geo AS (
  SELECT p_partkey AS k,
         CAST(-74.0 AS DOUBLE) + (p_partkey % 10) * CAST(0.01 AS DOUBLE) AS lon0,
         CAST(40.7 AS DOUBLE) + ((p_partkey * 7) % 10) * CAST(0.01 AS DOUBLE) AS lat0,
         CAST(0.01 AS DOUBLE) + (p_partkey % 5) * CAST(0.001 AS DOUBLE) AS d,
         CAST(200.0 AS DOUBLE) + (p_partkey % 5) AS blon
  FROM part WHERE p_partkey < 150
), m AS (
  SELECT k, k::BIGINT AS id,
    'Map ' || k AS title,
    CASE WHEN k % 9 != 0 THEN 'Description of map ' || k END AS description,
    CASE WHEN k % 27 != 0 THEN 'img-' || k END AS nypl_digital_id,
    CASE WHEN k % 49 = 0 THEN '' WHEN k % 7 = 0 THEN NULL
         WHEN k % 11 = 0 THEN 'inset-' || k ELSE 'uuid-' || k END AS uuid,
    CASE WHEN k % 11 = 0 THEN 'uuid-parent-' || k END AS parent_uuid,
    CASE WHEN k % 17 != 0 THEN '-74.0,40.7,-73.9,40.8' END AS bbox,
    CASE WHEN k % 13 = 0 THEN 'not_map' ELSE 'is_map' END AS map_type,
    CASE k % 4 WHEN 0 THEN 'warped' WHEN 1 THEN 'published'
               WHEN 2 THEN 'unwarped' ELSE 'warped' END AS status,
    CASE k % 3 WHEN 0 THEN 'masked' WHEN 1 THEN 'masking'
               ELSE 'unmasked' END AS mask_status,
    CASE WHEN k % 4 != 0 THEN (1850 + k % 100)::VARCHAR END AS depicts_year,
    CASE WHEN k % 8 < 6 THEN (1900 + k % 50)::VARCHAR END AS issue_year,
    CASE WHEN k % 19 = 0 THEN 'mask-to-geojson failed: timeout' END AS mask_error,
    CASE
      WHEN k % 41 = 0 THEN NULL
      WHEN k % 23 = 0 THEN [[[lon0, lat0], [lon0+d, lat0], [lon0, lat0]]]
      WHEN k % 29 = 0 THEN [[[lon0, lat0], [lon0+d, lat0+d], [lon0+d, lat0],
                             [lon0, lat0+d], [lon0, lat0]]]
      WHEN k % 31 = 0 THEN [[[blon, lat0], [blon+1.0, lat0], [blon+1.0, lat0+d],
                             [blon, lat0+d], [blon, lat0]]]
      WHEN k % 37 = 0 THEN [{_sq()},
                            {_sq(lon="lon0+d/4", lat="lat0+d/4", d="d/4")}]
      ELSE [{_sq()}]
    END AS coords,
    CASE WHEN k % 43 != 0
         THEN [(k % 25)::BIGINT, ((k * 3) % 25)::BIGINT] END AS layer_ids
  FROM geo
), rings AS (
  SELECT k, ri.ring_i, coords[ri.ring_i] AS ring
  FROM m CROSS JOIN (SELECT unnest(range(1, 3)) AS ring_i) ri
  WHERE coords IS NOT NULL AND ri.ring_i <= len(coords)
), crossing AS (
  SELECT k,
    CASE WHEN ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
          AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))
         THEN 1 ELSE 0 END AS c
  FROM (
    SELECT k,
      (dx - cx) * (ay - cy) - (dy - cy) * (ax - cx) AS d1,
      (dx - cx) * (by - cy) - (dy - cy) * (bx - cx) AS d2,
      (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) AS d3,
      (bx - ax) * (dy - ay) - (by - ay) * (dx - ax) AS d4
    FROM (
      SELECT k,
        ring[ii.i][1] AS ax, ring[ii.i][2] AS ay,
        ring[ii.i + 1][1] AS bx, ring[ii.i + 1][2] AS by,
        ring[jj.j][1] AS cx, ring[jj.j][2] AS cy,
        ring[jj.j + 1][1] AS dx, ring[jj.j + 1][2] AS dy
      FROM rings
      CROSS JOIN (SELECT unnest(range(1, 5))::INT AS i) ii
      CROSS JOIN (SELECT unnest(range(1, 5))::INT AS j) jj
      WHERE len(ring) >= 4 AND ii.i < jj.j AND jj.j <= len(ring) - 1
        AND jj.j != ii.i + 1 AND NOT (ii.i = 1 AND jj.j = len(ring) - 1)
    )
  )
), kinkcounts AS (
  SELECT k, sum(c)::INT AS kinks FROM crossing GROUP BY k
), v AS (
  SELECT m.*, coalesce(kc.kinks, 0) AS kinks,
    (bbox IS NOT NULL AND map_type = 'is_map') AS passes_guard,
    (uuid IS NULL OR uuid = '') AS r_missing_uuid,
    (coords IS NOT NULL AND len(coords[1]) < 4) AS r_coord_count,
    (coords IS NOT NULL AND coalesce(kc.kinks, 0) > 0) AS r_selfx,
    (coords IS NOT NULL AND len(list_filter(flatten(coords),
        c -> NOT (c[1] >= -180 AND c[1] <= 180 AND c[2] >= -90 AND c[2] <= 90))) > 0)
      AS r_invalid,
    (coords IS NOT NULL AND len(coords) != 1) AS r_multi,
    (mask_error IS NOT NULL) AS r_maskerr,
    (status = 'warped' AND mask_status = 'unmasked') AS r_wbu,
    (status != 'warped' AND status != 'published'
     AND mask_status != 'unmasked') AS r_ubm
  FROM m LEFT JOIN kinkcounts kc ON m.k = kc.k
), v2 AS (
  SELECT *,
    (r_missing_uuid OR r_coord_count OR r_selfx OR r_invalid OR r_multi
     OR r_maskerr OR r_wbu OR r_ubm) AS has_logs
  FROM v
)
"""


def _ring_area_sql(r: str) -> str:
    return (
        f"CASE WHEN len({r}) > 2 THEN list_sum(list_transform(range(0, len({r})), i -> "
        f"(radians({r}[((i + 2) % len({r})) + 1][1]) - radians({r}[(i % len({r})) + 1][1]))"
        f" * sin(radians({r}[((i + 1) % len({r})) + 1][2]))))"
        f" * CAST(6378137.0 AS DOUBLE) * CAST(6378137.0 AS DOUBLE) / 2 "
        f"ELSE CAST(0.0 AS DOUBLE) END"
    )


_AREA_M2_SQL = (
    f"round(abs({_ring_area_sql('coords[1]')}) - "
    f"CASE WHEN len(coords) > 1 THEN "
    f"list_sum(list_transform(coords[2:], rr -> abs({_ring_area_sql('rr')}))) "
    f"ELSE CAST(0.0 AS DOUBLE) END, 0)"
)

_LAYERS_CTE = """
WITH l AS (
  SELECT n_nationkey AS n, n_nationkey::BIGINT AS id,
    'Layer ' || n_nationkey AS name,
    CASE WHEN n_nationkey % 5 != 0 THEN (1860 + n_nationkey)::VARCHAR END AS depicts_year,
    CASE WHEN n_nationkey % 10 < 8 THEN (1910 + n_nationkey)::VARCHAR END AS issue_year,
    (n_regionkey * 3 + n_nationkey % 4)::INT AS maps_count,
    CASE WHEN n_nationkey % 6 != 0 THEN '-74.1,40.6,-73.8,40.9' END AS bbox
  FROM nation
)
"""


# ---------------------------------------------------------------------------
# Queries.
# ---------------------------------------------------------------------------


def mw_layer_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = transform_layers(synthetic_layers(spark, sf_dir))
    return out.select(
        "id",
        "name",
        "validSince",
        "validUntil",
        F.col("data.mapCount").alias("mapCount"),
        F.col("data.tileUrl").alias("tileUrl"),
        F.element_at(F.col("data.bbox"), 1).alias("bbox_w"),
        F.element_at(F.col("data.bbox"), 2).alias("bbox_s"),
        F.element_at(F.col("data.bbox"), 3).alias("bbox_e"),
        F.element_at(F.col("data.bbox"), 4).alias("bbox_n"),
    )


_register(
    "mw_layer_objects",
    mw_layer_objects,
    _LAYERS_CTE
    + """
    SELECT 'layer-' || id AS id, name,
           CAST(coalesce(depicts_year, issue_year) AS INT) AS validSince,
           CAST(coalesce(depicts_year, issue_year) AS INT) AS validUntil,
           maps_count AS mapCount,
           'http://maps.nypl.org/warper/layers/tile/' || id || '/{z}/{x}/{y}.png' AS tileUrl,
           string_split(bbox, ',')[1]::DOUBLE AS bbox_w,
           string_split(bbox, ',')[2]::DOUBLE AS bbox_s,
           string_split(bbox, ',')[3]::DOUBLE AS bbox_e,
           string_split(bbox, ',')[4]::DOUBLE AS bbox_n
    FROM l
    """,
)


def mw_map_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = map_objects(synthetic_maps(spark, sf_dir))
    return out.select(
        "id",
        "name",
        "validSince",
        "validUntil",
        F.col("data.description").alias("description"),
        F.col("data.imageId").alias("imageId"),
        F.col("data.uuid").alias("uuid"),
        F.col("data.parentUuid").alias("parentUuid"),
        F.col("data.inset").alias("inset"),
        F.col("data.masked").alias("masked"),
        F.col("data.nyplUrl").alias("nyplUrl"),
        F.col("data.tileUrl").alias("tileUrl"),
        F.col("data.area").alias("area"),
    )


_register(
    "mw_map_objects",
    mw_map_objects,
    _MAPS_CTE
    + f"""
    SELECT id::VARCHAR AS id, title AS name,
           CAST(coalesce(depicts_year, issue_year) AS INT) AS validSince,
           CAST(coalesce(depicts_year, issue_year) AS INT) AS validUntil,
           description,
           nypl_digital_id AS imageId,
           uuid,
           parent_uuid AS parentUuid,
           starts_with(uuid, 'inset') AS inset,
           mask_status IN ('masked', 'masking') AS masked,
           'http://digitalcollections.nypl.org/items/' || uuid AS nyplUrl,
           'http://maps.nypl.org/warper/maps/tile/' || id || '/{{z}}/{{x}}/{{y}}.png' AS tileUrl,
           round({_AREA_M2_SQL} * CAST(0.000001 AS DOUBLE), 5) AS area
    FROM v2
    WHERE passes_guard AND NOT has_logs AND coords IS NOT NULL
    """,
)


def mw_map_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = map_logs(synthetic_maps(spark, sf_dir))
    return logs.select(
        "id", "imageId", F.explode("logs").alias("log")
    ).select(
        "id",
        "imageId",
        F.col("log.type").alias("log_type"),
        F.col("log.message").alias("message"),
    )


_register(
    "mw_map_logs",
    mw_map_logs,
    _MAPS_CTE
    + """
    , logged AS (SELECT * FROM v2 WHERE passes_guard)
    SELECT id, imageId, log_type, message FROM (
      SELECT id, nypl_digital_id AS imageId, 'missing_uuid' AS log_type,
             'Map has no UUID' AS message
      FROM logged WHERE r_missing_uuid
      UNION ALL
      SELECT id, nypl_digital_id, 'mask_coordinates_count',
             'Mask has ' || len(coords[1]) || ' coordinates (should have at least 4)'
      FROM logged WHERE r_coord_count
      UNION ALL
      SELECT id, nypl_digital_id, 'self_intersection',
             'Mask has ' || kinks || ' self-intersections'
      FROM logged WHERE r_selfx
      UNION ALL
      SELECT id, nypl_digital_id, 'invalid_coordinates',
             'Mask has invalid coordinates'
      FROM logged WHERE r_invalid
      UNION ALL
      SELECT id, nypl_digital_id, 'multipolygon',
             'Mask is a MultiPolygon with ' || len(coords) || ' polygons'
      FROM logged WHERE r_multi
      UNION ALL
      SELECT id, nypl_digital_id, 'mask_to_geojson', mask_error
      FROM logged WHERE r_maskerr
      UNION ALL
      SELECT id, nypl_digital_id, 'warped_but_unmasked',
             'Map is warped, but not masked'
      FROM logged WHERE r_wbu
      UNION ALL
      SELECT id, nypl_digital_id, 'unwarped_but_masked',
             'Map is masked, but not warped'
      FROM logged WHERE r_ubm
      UNION ALL
      SELECT id, nypl_digital_id, 'mask_missing', 'Map is unmasked'
      FROM logged WHERE NOT has_logs AND coords IS NULL
    )
    """,
)


def mw_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return map_relations(synthetic_maps(spark, sf_dir))


_register(
    "mw_relations",
    mw_relations,
    _MAPS_CTE
    + """
    SELECT 'st:in' AS rel_type, id::VARCHAR AS src,
           'layer-' || unnest(layer_ids) AS dst
    FROM v2
    WHERE passes_guard AND NOT has_logs AND coords IS NOT NULL
      AND layer_ids IS NOT NULL
    """,
)


def mw_kinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = with_validation(synthetic_maps(spark, sf_dir))
    geom = F.col("maskGeometry")
    from ..functions.geo import self_intersection_count

    return v.filter(geom.isNotNull()).select(
        "id", self_intersection_count("maskGeometry.coordinates").alias("kinks")
    )


_register(
    "mw_kinks",
    mw_kinks,
    _MAPS_CTE
    + """
    SELECT id, kinks FROM v2 WHERE coords IS NOT NULL
    """,
)


def mw_geodesic_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geo import geodesic_area

    maps = synthetic_maps(spark, sf_dir)
    geom = F.col("maskGeometry")
    return maps.filter(geom.isNotNull()).select(
        "id", F.round(geodesic_area("maskGeometry.coordinates"), 0).alias("area_m2")
    )


_register(
    "mw_geodesic_area",
    mw_geodesic_area,
    _MAPS_CTE
    + f"""
    SELECT id, {_AREA_M2_SQL} AS area_m2 FROM v2 WHERE coords IS NOT NULL
    """,
)


# ---------------------------------------------------------------------------
# mw_bbox_contains_join — spatial containment join: points against the
# fixture maps' bounding boxes (reference bbox semantics:
# mapwarper.js:411 string bbox → 4 doubles; our engine generalizes to
# a join predicate). The box side is tiny (one row per map) and
# broadcast, so the containment test is a BroadcastNestedLoopJoin with
# pure range predicates — the standard scale shape for point-in-box:
# broadcast the boxes (or a grid-partitioned variant when boxes
# outgrow memory), never shuffle the point fact twice. All coordinates
# derive from integer keys with double arithmetic CAST identically in
# the oracle, so containment decisions are bit-exact.
# ---------------------------------------------------------------------------


def mw_bbox_contains_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 150)
    boxes = part.select(
        F.col("p_partkey").alias("k"),
        (F.lit(-74.0) + (F.col("p_partkey") % 10) * 0.01).alias("lon0"),
        (F.lit(40.7) + ((F.col("p_partkey") * 7) % 10) * 0.01).alias("lat0"),
        (F.lit(0.01) + (F.col("p_partkey") % 5) * 0.001).alias("d"),
    )
    sup = load_table(spark, sf_dir, "supplier")
    points = sup.select(
        "s_suppkey",
        (F.lit(-74.0) + (F.col("s_suppkey") % 25) * 0.002).alias("plon"),
        (F.lit(40.7) + ((F.col("s_suppkey") * 5) % 25) * 0.002).alias("plat"),
    )
    hits = points.join(
        F.broadcast(boxes),
        (F.col("plon") >= F.col("lon0"))
        & (F.col("plon") <= F.col("lon0") + F.col("d"))
        & (F.col("plat") >= F.col("lat0"))
        & (F.col("plat") <= F.col("lat0") + F.col("d")),
    )
    return hits.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("s_suppkey").alias("min_suppkey"),
    )


_register(
    "mw_bbox_contains_join",
    mw_bbox_contains_join,
    """
    WITH boxes AS (
      SELECT p_partkey AS k,
             CAST(-74.0 AS DOUBLE) + (p_partkey % 10) * CAST(0.01 AS DOUBLE) AS lon0,
             CAST(40.7 AS DOUBLE) + ((p_partkey * 7) % 10) * CAST(0.01 AS DOUBLE) AS lat0,
             CAST(0.01 AS DOUBLE) + (p_partkey % 5) * CAST(0.001 AS DOUBLE) AS d
      FROM part WHERE p_partkey < 150
    ),
    points AS (
      SELECT s_suppkey,
             CAST(-74.0 AS DOUBLE) + (s_suppkey % 25) * CAST(0.002 AS DOUBLE) AS plon,
             CAST(40.7 AS DOUBLE) + ((s_suppkey * 5) % 25) * CAST(0.002 AS DOUBLE) AS plat
      FROM supplier
    )
    SELECT k,
           count(*) AS n_points,
           min(s_suppkey) AS min_suppkey
    FROM points p JOIN boxes b
      ON p.plon >= b.lon0 AND p.plon <= b.lon0 + b.d
     AND p.plat >= b.lat0 AND p.plat <= b.lat0 + b.d
    GROUP BY k
    """,
)


# ---------------------------------------------------------------------------
# mw_tile_coords — slippy-map tile math (OSM/Map Warper tile scheme,
# the arithmetic behind the reference's tile URL templates,
# mapwarper.js:277/:418): tile_x = ⌊(lon+180)/360·2^z⌋ and tile_y
# from the Web-Mercator projection ⌊(1 − ln(tan φ + sec φ)/π)/2·2^z⌋.
# Bucketing points into tiles is the geospatial PARTITIONING
# primitive — the tile id is a spatial hash key, so tile-grouped
# counts are exactly how a 100 TB point set shards for map serving.
# The Mercator expression is rounded to 9 dp before ⌊⌋ so libm/JVM
# last-ulp differences cannot flip a tile boundary between engines.
# ---------------------------------------------------------------------------

_TILE_Z = 12


def mw_tile_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    sup = load_table(spark, sf_dir, "supplier")
    pts = sup.select(
        "s_suppkey",
        (F.lit(-74.05) + (F.col("s_suppkey") % 50) * 0.004).alias("lon"),
        (F.lit(40.55) + ((F.col("s_suppkey") * 3) % 50) * 0.006).alias("lat"),
    )
    n = F.lit(float(2 ** _TILE_Z))
    lat_r = F.radians(F.col("lat"))
    merc = (
        F.lit(1.0)
        - F.log(F.tan(lat_r) + F.lit(1.0) / F.cos(lat_r)) / F.lit(3.141592653589793)
    ) / 2
    tx = F.floor(F.round((F.col("lon") + 180.0) / 360.0 * n, 9)).cast("int")
    ty = F.floor(F.round(merc * n, 9)).cast("int")
    return (
        pts.select(tx.alias("tile_x"), ty.alias("tile_y"))
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


_register(
    "mw_tile_coords",
    mw_tile_coords,
    f"""
    WITH pts AS (
      SELECT CAST(-74.05 AS DOUBLE) + (s_suppkey % 50) * CAST(0.004 AS DOUBLE) AS lon,
             CAST(40.55 AS DOUBLE) + ((s_suppkey * 3) % 50) * CAST(0.006 AS DOUBLE) AS lat
      FROM supplier
    ),
    tiles AS (
      SELECT floor(round((lon + 180.0) / 360.0 * {float(2 ** _TILE_Z)}, 9))::INT
               AS tile_x,
             floor(round((1.0 - ln(tan(radians(lat))
                                   + 1.0 / cos(radians(lat))) / pi())
                         / 2 * {float(2 ** _TILE_Z)}, 9))::INT AS tile_y
      FROM pts
    )
    SELECT tile_x, tile_y, count(*) AS n_points
    FROM tiles
    GROUP BY 1, 2
    """,
)
