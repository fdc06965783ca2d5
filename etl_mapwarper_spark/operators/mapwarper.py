"""Mapwarper transform step — Spark-first re-expression of the
reference's ``transform`` entry point (mapwarper.js:417-437).

Capabilities re-expressed (citations into /root/reference/mapwarper.js):
- layer projection  (transformLayer, :399-415): surrogate key :331,
  year coalesce :323-329, bbox split-cast :411, tile URL template :410.
- map projection    (transformMap, :353-397): guard :354-356, inset
  flag :366, masked flag :382, URL templates :383-384, geodesic area
  :363-364 (turf.area → functions/geo.py), gcps/geometry passthrough.
- validation rules  (getLogs, :221-321): 9 rules; a failing map emits
  ONLY its log record, a passing map ONLY its object (:358-361).
- relation derivation (getLayerRelations, :333-346): one ``st:in``
  edge per layerId, ``layer-<id>`` surrogate key.

Dataflow shape: all transforms are narrow column expressions, the
kinks count and geodesic area included, so nothing crosses to Python —
on a cluster each sink is a single stage with zero shuffles, exactly
the reference's per-record pipe but partition-parallel. The rules and
projections are SQL text, each parsed in one call: built from Column
calls, they took ~0.4 s of driver-side py4j construction per
``pipeline.transform``, before its first write could start.

Validate once: ``map_objects``, ``map_logs`` and ``map_relations`` are
each ``with_validation`` followed by a private sink function
(``_objects``, ``_logs``, ``_relations``) of the validated frame.
``pipeline.transform`` validates once, persists the result and calls
the three private functions on it, as the reference runs ``getLogs``
once per map and routes it to the object or the log stream
(:353-361).

Deviation from the reference, documented: node ids are STRING in all
outputs (the reference mixes number ids for maps with ``layer-N``
strings for layers).

Item contract: ``MAP_ITEM_SCHEMA`` / ``LAYER_ITEM_SCHEMA`` are the
API item fields the reference reads; the pipeline parses REST pages
with them, and nothing else restates them. The reference's one mask
gate (``mask_status ∈ {masked, masking}``, :81 and :382) is
``_MASKED`` (``_masked()`` is its Column); the mask fetch, the GCP
enrichment and the ``masked`` flag all use it.

Synthetic fixtures: ``map_records`` / ``layer_records`` derive
deterministic items of those shapes from the driver's ``part`` and
``nation`` parquet tables using pure arithmetic. ``synthetic_maps`` /
``synthetic_layers`` serve them as parquet scans (Arrow schema derived
from the Spark one), pipeline_queries' fake API serves the same dicts
as JSON pages, and the oracle SQL reproduces the identical records in
DuckDB — so the whole transform (rules, area, edges) is value-level
oracle-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geo import coords_all_valid, geodesic_area, self_intersection_count
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# Item contract: the Map Warper API item fields the reference reads
# (transformMap/transformLayer, mapwarper.js:353-415; SURVEY.md
# §1.2-1.3). maskGeometry/gcps are present when the API items arrive
# pre-enriched (or after the enrichment stage fills them).
# ---------------------------------------------------------------------------

MAP_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("nypl_digital_id", T.StringType()),
        T.StructField("uuid", T.StringType()),
        T.StructField("parent_uuid", T.StringType()),
        T.StructField("bbox", T.StringType()),
        T.StructField("map_type", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("mask_status", T.StringType()),
        T.StructField("transform_options", T.StringType()),
        T.StructField("depicts_year", T.StringType()),
        T.StructField("issue_year", T.StringType()),
        T.StructField("maskError", T.StringType()),
        T.StructField(
            "maskGeometry",
            T.StructType(
                [
                    T.StructField("type", T.StringType()),
                    T.StructField(
                        "coordinates",
                        T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))),
                    ),
                ]
            ),
        ),
        T.StructField("gcps", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("layerIds", T.ArrayType(T.LongType())),
    ]
)

LAYER_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("depicts_year", T.StringType()),
        T.StructField("issue_year", T.StringType()),
        T.StructField("maps_count", T.IntegerType()),
        T.StructField("bbox", T.StringType()),
    ]
)

# Map↔layer membership stream items (config.includeMapLayers, :172-181).
MAP_LAYER_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("map_id", T.LongType()),
        T.StructField("layer_id", T.LongType()),
    ]
)


_MASKED = "mask_status IN ('masked', 'masking')"


def _masked() -> Column:
    """The mask gate (:81, :382): the map's ``mask_status`` is
    ``masked`` or ``masking``. A function, not a module-level Column:
    building a Column needs a live SparkContext."""
    return F.expr(_MASKED)


# ---------------------------------------------------------------------------
# Synthetic fixture sources (deterministic from part/nation keys).
# ---------------------------------------------------------------------------

N_MAPS = 150  # p_partkey < 150 exists at every SF

# The fixtures are tiny by construction (150 / 25 rows at every SF).
# Their records are built driver-side (plain Python arithmetic over the
# key column collected from the driver's parquet tables, exactly
# mirroring the oracle SQL's IEEE-double arithmetic in DuckDB),
# written once per process to a temp parquet file, and read back with
# spark.read.parquet. Two earlier shapes were pathological:
# (a) building them as Spark when()-chain expressions made
#     CollapseProject inline the chains into every downstream
#     reference, exploding the optimizer tree (seconds of planning
#     per query) and generating >9k-line codegen files that failed
#     janino compilation ("not an rvalue") and fell back to
#     interpretation;
# (b) spark.createDataFrame(python_rows) plans a pickled-RDD scan
#     that round-trips through a Python worker on EVERY job (~7s per
#     materialization in this environment).
# A parquet fixture file gives a plain JVM FileSourceScan — the same
# shape real pipeline inputs have.
_FIXTURE_CACHE: dict = {}


def _fixture_df(
    spark, sf_dir: str, name: str, records, schema: T.StructType
) -> DataFrame:
    key = (spark, sf_dir, name)
    entry = _FIXTURE_CACHE.get(key)
    if entry is not None:
        return entry
    import atexit
    import os
    import pathlib
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    path = os.path.join(
        tempfile.gettempdir(),
        f"mw_fixture_{name}_{abs(hash(sf_dir)) % (1 << 32)}_{os.getpid()}.parquet",
    )
    if not os.path.exists(path):
        table = pa.Table.from_pylist(
            records(spark, sf_dir), schema=to_arrow_schema(schema)
        )
        pq.write_table(table, path)
        # The cached DataFrame reads the file lazily, so it stays until
        # the interpreter exits.
        atexit.register(pathlib.Path(path).unlink, missing_ok=True)
    df = spark.read.parquet(path).persist()
    _FIXTURE_CACHE[key] = df
    return df


def synthetic_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maps_enriched-shaped fixture: ``map_records`` as a parquet scan."""
    return _fixture_df(spark, sf_dir, "maps", map_records, MAP_ITEM_SCHEMA)


def _map_record(k: int) -> dict:
    ks = str(k)
    lon0 = -74.0 + (k % 10) * 0.01
    lat0 = 40.7 + ((k * 7) % 10) * 0.01
    d = 0.01 + (k % 5) * 0.001
    square = [
        [lon0, lat0], [lon0 + d, lat0], [lon0 + d, lat0 + d],
        [lon0, lat0 + d], [lon0, lat0],
    ]
    bad_lon = 200.0 + (k % 5)
    h = d / 4.0
    if k % 41 == 0:
        coords = None
    elif k % 23 == 0:
        coords = [[[lon0, lat0], [lon0 + d, lat0], [lon0, lat0]]]
    elif k % 29 == 0:
        coords = [[
            [lon0, lat0], [lon0 + d, lat0 + d], [lon0 + d, lat0],
            [lon0, lat0 + d], [lon0, lat0],
        ]]
    elif k % 31 == 0:
        coords = [[
            [bad_lon, lat0], [bad_lon + 1.0, lat0], [bad_lon + 1.0, lat0 + d],
            [bad_lon, lat0 + d], [bad_lon, lat0],
        ]]
    elif k % 37 == 0:
        coords = [
            square,
            [
                [lon0 + h, lat0 + h], [lon0 + 2 * h, lat0 + h],
                [lon0 + 2 * h, lat0 + 2 * h], [lon0 + h, lat0 + 2 * h],
                [lon0 + h, lat0 + h],
            ],
        ]
    else:
        coords = [square]
    if k % 49 == 0:
        uuid = ""
    elif k % 7 == 0:
        uuid = None
    elif k % 11 == 0:
        uuid = "inset-" + ks
    else:
        uuid = "uuid-" + ks
    return {
        "id": k,
        "title": "Map " + ks,
        "description": "Description of map " + ks if k % 9 != 0 else None,
        "nypl_digital_id": "img-" + ks if k % 27 != 0 else None,
        "uuid": uuid,
        "parent_uuid": "uuid-parent-" + ks if k % 11 == 0 else None,
        "bbox": "-74.0,40.7,-73.9,40.8" if k % 17 != 0 else None,
        "map_type": "not_map" if k % 13 == 0 else "is_map",
        "status": ["warped", "published", "unwarped", "warped"][k % 4],
        "mask_status": ["masked", "masking", "unmasked"][k % 3],
        "transform_options": "affine",
        "depicts_year": str(1850 + k % 100) if k % 4 != 0 else None,
        "issue_year": str(1900 + k % 50) if k % 8 < 6 else None,
        "maskError": "mask-to-geojson failed: timeout" if k % 19 == 0 else None,
        "maskGeometry": (
            {"type": "Polygon", "coordinates": coords}
            if coords is not None
            else None
        ),
        "gcps": [
            [float(k), k + 0.5, 40.0 + k * 0.001, -74.0 + k * 0.001],
            [k + 10.0, k + 10.5, 40.01 + k * 0.001, -73.99 + k * 0.001],
        ],
        "layerIds": [k % 25, (k * 3) % 25] if k % 43 != 0 else None,
    }


# Collected fixture keys per (table, sf_dir): each collect is a Spark
# job, and the pipeline configs rebuild their records on every call.
_KEYS_CACHE: dict = {}


def _map_keys(spark: SparkSession, sf_dir: str) -> list[int]:
    """The fixture map ids: every p_partkey < 150, ascending."""
    key = ("part", sf_dir)
    if key not in _KEYS_CACHE:
        keys = (
            load_table(spark, sf_dir, "part")
            .filter(F.col("p_partkey") < N_MAPS)
            .select("p_partkey")
            .collect()
        )
        _KEYS_CACHE[key] = sorted(int(r[0]) for r in keys)
    return _KEYS_CACHE[key]


def map_records(spark: SparkSession, sf_dir: str) -> list[dict]:
    """``MAP_ITEM_SCHEMA``-shaped map items, one per p_partkey < 150,
    in key order."""
    return [_map_record(k) for k in _map_keys(spark, sf_dir)]


def synthetic_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """layers_raw-shaped fixture: ``layer_records`` as a parquet scan."""
    return _fixture_df(spark, sf_dir, "layers", layer_records, LAYER_ITEM_SCHEMA)


def layer_records(spark: SparkSession, sf_dir: str) -> list[dict]:
    """``LAYER_ITEM_SCHEMA``-shaped layer items, one per nation key
    (0..24), in key order."""
    key = ("nation", sf_dir)
    if key not in _KEYS_CACHE:
        rows = (
            load_table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_regionkey")
            .collect()
        )
        _KEYS_CACHE[key] = sorted((int(x[0]), int(x[1])) for x in rows)
    return [
        {
            "id": n,
            "name": "Layer " + str(n),
            "depicts_year": str(1860 + n) if n % 5 != 0 else None,
            "issue_year": str(1910 + n) if n % 10 < 8 else None,
            "maps_count": r * 3 + n % 4,
            "bbox": "-74.1,40.6,-73.8,40.9" if n % 6 != 0 else None,
        }
        for n, r in _KEYS_CACHE[key]
    ]


# ---------------------------------------------------------------------------
# Layer transform (reference transformLayer, mapwarper.js:399-415).
# ---------------------------------------------------------------------------


# getYear (:323-329): depicts_year || issue_year, parsed to int; used
# for both validSince and validUntil (point-in-time validity).
_YEAR = "CAST(coalesce(depicts_year, issue_year) AS INT)"


def transform_layers(layers: DataFrame) -> DataFrame:
    return layers.selectExpr(
        "concat('layer-', CAST(id AS STRING)) AS id",
        "'st:Map' AS type",
        "name",
        f"{_YEAR} AS validSince",
        f"{_YEAR} AS validUntil",
        "named_struct("
        "'mapCount', maps_count, "
        "'tileUrl', concat('http://maps.nypl.org/warper/layers/tile/',"
        " CAST(id AS STRING), '/{z}/{x}/{y}.png'), "
        # bbox.split(',').map(parseFloat) (:411); a null bbox stays null
        "'bbox', CASE WHEN bbox IS NOT NULL"
        " THEN transform(split(bbox, ','), x -> CAST(x AS DOUBLE)) END"
        ") AS data",
    )


# ---------------------------------------------------------------------------
# Map validation + transform (getLogs :221-321, transformMap :353-397).
# ---------------------------------------------------------------------------

_LOG_STRUCT = "struct<type:string,message:string>"


def _log(cond: str, log_type: str, message: str) -> str:
    """SQL for one rule's log record: {type, message} where ``cond``
    holds, else null."""
    return (
        f"CAST(CASE WHEN {cond} THEN named_struct('type', '{log_type}',"
        f" 'message', {message}) END AS {_LOG_STRUCT})"
    )


# The outer ring's point count; 0 when there is no ring. try_element_at
# does not raise on an empty ring list under ANSI, and the coalesce keeps
# size(NULL) from reading -1 (legacy) in one session and NULL in another.
_RING0_N = "size(coalesce(try_element_at(maskGeometry.coordinates, 1), array()))"
_N_RINGS = "size(maskGeometry.coordinates)"
# The rules in the reference's order (:221-321), so log arrays compare
# byte for byte. ``_kinks`` and ``_valid`` are columns that
# ``with_validation`` adds before them.
_BASE_LOGS = "array_compact(array({}))".format(
    ", ".join(
        [
            _log("uuid IS NULL OR uuid = ''", "missing_uuid", "'Map has no UUID'"),
            _log(
                f"maskGeometry IS NOT NULL AND {_RING0_N} < 4",
                "mask_coordinates_count",
                f"concat('Mask has ', CAST({_RING0_N} AS STRING),"
                " ' coordinates (should have at least 4)')",
            ),
            _log(
                "maskGeometry IS NOT NULL AND _kinks > 0",
                "self_intersection",
                "concat('Mask has ', CAST(_kinks AS STRING), ' self-intersections')",
            ),
            _log(
                "maskGeometry IS NOT NULL AND NOT _valid",
                "invalid_coordinates",
                "'Mask has invalid coordinates'",
            ),
            _log(
                f"maskGeometry IS NOT NULL AND {_N_RINGS} != 1",
                "multipolygon",
                f"concat('Mask is a MultiPolygon with ', CAST({_N_RINGS} AS STRING),"
                " ' polygons')",
            ),
            _log("maskError IS NOT NULL", "mask_to_geojson", "maskError"),
            _log(
                "status = 'warped' AND mask_status = 'unmasked'",
                "warped_but_unmasked",
                "'Map is warped, but not masked'",
            ),
            _log(
                "status != 'warped' AND status != 'published'"
                " AND mask_status != 'unmasked'",
                "unwarped_but_masked",
                "'Map is masked, but not warped'",
            ),
        ]
    )
)
# The ninth rule, mask_missing, fires only when no other did.
_LOGS = (
    f"CASE WHEN size({_BASE_LOGS}) = 0"
    " AND (maskGeometry IS NULL OR maskGeometry.coordinates IS NULL)"
    " THEN array(named_struct('type', 'mask_missing', 'message', 'Map is unmasked'))"
    f" ELSE {_BASE_LOGS} END"
)
_GUARD = "bbox IS NOT NULL AND map_type = 'is_map'"


def with_validation(maps: DataFrame) -> DataFrame:
    """Adds ``logs`` (array of {type,message}) and ``passes_guard``.

    Rule order matches the reference exactly (:221-321) so log arrays
    compare byte-for-byte.
    """
    geom = {
        "_kinks": F.when(
            F.col("maskGeometry").isNotNull(),
            self_intersection_count("maskGeometry.coordinates"),
        ).otherwise(F.lit(0)),
        "_valid": coords_all_valid("maskGeometry.coordinates"),
    }
    return (
        maps.withColumns(geom)
        .withColumns({"logs": F.expr(_LOGS), "passes_guard": F.expr(_GUARD)})
        .drop(*geom)
    )


def map_logs(maps: DataFrame) -> DataFrame:
    """Quarantine records: {id, imageId, logs[]} (reference :222-226)."""
    return _logs(with_validation(maps))


def map_objects(maps: DataFrame) -> DataFrame:
    """Space/Time objects for maps that pass guard + validation."""
    return _objects(with_validation(maps))


def map_relations(maps: DataFrame) -> DataFrame:
    """st:in edges from passing maps to their layers (:333-346)."""
    return _relations(with_validation(maps))


# The sinks of one validated frame ``v``, ``with_validation``'s output.


def _logs(v: DataFrame) -> DataFrame:
    return v.filter("passes_guard AND size(logs) > 0").selectExpr(
        "id", "nypl_digital_id AS imageId", "logs"
    )


def _objects(v: DataFrame) -> DataFrame:
    clean = v.filter("passes_guard AND size(logs) = 0").withColumn(
        "_area_m2", F.round(geodesic_area("maskGeometry.coordinates"), 0)
    )
    return clean.selectExpr(
        "CAST(id AS STRING) AS id",
        "'st:Map' AS type",
        "title AS name",
        f"{_YEAR} AS validSince",
        f"{_YEAR} AS validUntil",
        "named_struct("
        "'description', description, "
        "'imageId', nypl_digital_id, "
        "'uuid', uuid, "
        "'parentUuid', parent_uuid, "
        "'inset', coalesce(startswith(uuid, 'inset'), false), "
        f"'masked', {_MASKED}, "
        "'nyplUrl', concat('http://digitalcollections.nypl.org/items/', uuid), "
        "'tileUrl', concat('http://maps.nypl.org/warper/maps/tile/',"
        " CAST(id AS STRING), '/{z}/{x}/{y}.png'), "
        # m² rounded to the metre, then km² to 5 decimals (:363-364)
        "'area', round(_area_m2 * 0.000001D, 5), "
        "'gcps', gcps"
        ") AS data",
        "maskGeometry AS geometry",
    )


def _relations(v: DataFrame) -> DataFrame:
    return v.filter(
        "passes_guard AND size(logs) = 0 AND layerIds IS NOT NULL"
    ).selectExpr("id", "explode(layerIds) AS layer_id").selectExpr(
        "'st:in' AS rel_type",
        "CAST(id AS STRING) AS src",
        "concat('layer-', CAST(layer_id AS STRING)) AS dst",
    )
