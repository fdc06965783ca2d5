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
on a cluster this pipeline is a single scan stage per input with zero
shuffles, exactly the reference's per-record pipe but
partition-parallel.

Deviation from the reference, documented: node ids are STRING in all
outputs (the reference mixes number ids for maps with ``layer-N``
strings for layers).

Item contract: ``MAP_ITEM_SCHEMA`` / ``LAYER_ITEM_SCHEMA`` are the
API item fields the reference reads; the pipeline parses REST pages
with them, and nothing else restates them. The reference's one mask
gate (``mask_status ∈ {masked, masking}``, :81 and :382) is
``_masked``; the mask fetch, the GCP enrichment and the ``masked``
flag all use it.

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
from ..functions.scalar import bbox_to_array, coalesce_year
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


def _masked() -> Column:
    """The mask gate (:81, :382): the map's ``mask_status`` is
    ``masked`` or ``masking``. A function, not a module-level Column:
    building a Column needs a live SparkContext."""
    return F.col("mask_status").isin("masked", "masking")


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


def _map_keys(spark: SparkSession, sf_dir: str) -> list[int]:
    """The fixture map ids: every p_partkey < 150, ascending."""
    keys = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < N_MAPS)
        .select("p_partkey")
        .collect()
    )
    return sorted(int(r[0]) for r in keys)


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
    rows = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .collect()
    )
    return [
        {
            "id": n,
            "name": "Layer " + str(n),
            "depicts_year": str(1860 + n) if n % 5 != 0 else None,
            "issue_year": str(1910 + n) if n % 10 < 8 else None,
            "maps_count": r * 3 + n % 4,
            "bbox": "-74.1,40.6,-73.8,40.9" if n % 6 != 0 else None,
        }
        for n, r in sorted((int(x[0]), int(x[1])) for x in rows)
    ]


# ---------------------------------------------------------------------------
# Layer transform (reference transformLayer, mapwarper.js:399-415).
# ---------------------------------------------------------------------------


def transform_layers(layers: DataFrame) -> DataFrame:
    year = coalesce_year(F.col("depicts_year"), F.col("issue_year"))
    return layers.select(
        F.concat(F.lit("layer-"), F.col("id").cast("string")).alias("id"),
        F.lit("st:Map").alias("type"),
        F.col("name"),
        year.alias("validSince"),
        year.alias("validUntil"),
        F.struct(
            F.col("maps_count").alias("mapCount"),
            F.concat(
                F.lit("http://maps.nypl.org/warper/layers/tile/"),
                F.col("id").cast("string"),
                F.lit("/{z}/{x}/{y}.png"),
            ).alias("tileUrl"),
            bbox_to_array(F.col("bbox")).alias("bbox"),
        ).alias("data"),
    )


# ---------------------------------------------------------------------------
# Map validation + transform (getLogs :221-321, transformMap :353-397).
# ---------------------------------------------------------------------------

_LOG_STRUCT = "struct<type:string,message:string>"


def _log(cond: Column, log_type: str, message: Column) -> Column:
    return F.when(
        cond,
        F.struct(
            F.lit(log_type).alias("type"), message.alias("message")
        ),
    ).cast(_LOG_STRUCT)


def with_validation(maps: DataFrame) -> DataFrame:
    """Adds ``logs`` (array of {type,message}) and ``passes_guard``.

    Rule order matches the reference exactly (:221-321) so log arrays
    compare byte-for-byte.
    """
    geom = F.col("maskGeometry")
    coords = geom["coordinates"]
    ring0_n = F.size(F.element_at(coords, 1))
    kinks = F.when(
        geom.isNotNull(), self_intersection_count("maskGeometry.coordinates")
    ).otherwise(F.lit(0))
    df = maps.withColumn("_kinks", kinks)
    rules = F.array(
        _log(
            F.col("uuid").isNull() | (F.col("uuid") == ""),
            "missing_uuid",
            F.lit("Map has no UUID"),
        ),
        _log(
            geom.isNotNull() & (ring0_n < 4),
            "mask_coordinates_count",
            F.concat(
                F.lit("Mask has "),
                ring0_n.cast("string"),
                F.lit(" coordinates (should have at least 4)"),
            ),
        ),
        _log(
            geom.isNotNull() & (F.col("_kinks") > 0),
            "self_intersection",
            F.concat(
                F.lit("Mask has "),
                F.col("_kinks").cast("string"),
                F.lit(" self-intersections"),
            ),
        ),
        _log(
            geom.isNotNull() & ~coords_all_valid(coords),
            "invalid_coordinates",
            F.lit("Mask has invalid coordinates"),
        ),
        _log(
            geom.isNotNull() & (F.size(coords) != 1),
            "multipolygon",
            F.concat(
                F.lit("Mask is a MultiPolygon with "),
                F.size(coords).cast("string"),
                F.lit(" polygons"),
            ),
        ),
        _log(F.col("maskError").isNotNull(), "mask_to_geojson", F.col("maskError")),
        _log(
            (F.col("status") == "warped") & (F.col("mask_status") == "unmasked"),
            "warped_but_unmasked",
            F.lit("Map is warped, but not masked"),
        ),
        _log(
            (F.col("status") != "warped")
            & (F.col("status") != "published")
            & (F.col("mask_status") != "unmasked"),
            "unwarped_but_masked",
            F.lit("Map is masked, but not warped"),
        ),
    )
    base_logs = F.array_compact(rules)
    mask_missing = F.struct(
        F.lit("mask_missing").alias("type"), F.lit("Map is unmasked").alias("message")
    )
    logs = F.when(
        (F.size(base_logs) == 0) & (geom.isNull() | coords.isNull()),
        F.array(mask_missing),
    ).otherwise(base_logs)
    return (
        df.withColumn("logs", logs)
        .withColumn(
            "passes_guard",
            F.col("bbox").isNotNull() & (F.col("map_type") == "is_map"),
        )
        .drop("_kinks")
    )


def map_logs(maps: DataFrame) -> DataFrame:
    """Quarantine records: {id, imageId, logs[]} (reference :222-226)."""
    v = with_validation(maps)
    return v.filter(F.col("passes_guard") & (F.size("logs") > 0)).select(
        F.col("id"),
        F.col("nypl_digital_id").alias("imageId"),
        F.col("logs"),
    )


def map_objects(maps: DataFrame) -> DataFrame:
    """Space/Time objects for maps that pass guard + validation."""
    v = with_validation(maps)
    clean = v.filter(F.col("passes_guard") & (F.size("logs") == 0))
    year = coalesce_year(F.col("depicts_year"), F.col("issue_year"))
    area_m2 = F.round(geodesic_area(F.col("maskGeometry")["coordinates"]), 0)
    return clean.select(
        F.col("id").cast("string").alias("id"),
        F.lit("st:Map").alias("type"),
        F.col("title").alias("name"),
        year.alias("validSince"),
        year.alias("validUntil"),
        F.struct(
            F.col("description"),
            F.col("nypl_digital_id").alias("imageId"),
            F.col("uuid"),
            F.col("parent_uuid").alias("parentUuid"),
            F.coalesce(F.col("uuid").startswith("inset"), F.lit(False)).alias("inset"),
            _masked().alias("masked"),
            F.concat(
                F.lit("http://digitalcollections.nypl.org/items/"), F.col("uuid")
            ).alias("nyplUrl"),
            F.concat(
                F.lit("http://maps.nypl.org/warper/maps/tile/"),
                F.col("id").cast("string"),
                F.lit("/{z}/{x}/{y}.png"),
            ).alias("tileUrl"),
            F.round(area_m2 * 0.000001, 5).alias("area"),
            F.col("gcps"),
        ).alias("data"),
        F.col("maskGeometry").alias("geometry"),
    )


def map_relations(maps: DataFrame) -> DataFrame:
    """st:in edges from passing maps to their layers (:333-346)."""
    v = with_validation(maps)
    clean = v.filter(
        F.col("passes_guard")
        & (F.size("logs") == 0)
        & F.col("layerIds").isNotNull()
    )
    return clean.select(
        F.col("id"), F.explode(F.col("layerIds")).alias("layer_id")
    ).select(
        F.lit("st:in").alias("rel_type"),
        F.col("id").cast("string").alias("src"),
        F.concat(F.lit("layer-"), F.col("layer_id").cast("string")).alias("dst"),
    )
