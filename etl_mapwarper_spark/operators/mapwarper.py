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

Synthetic fixtures: ``synthetic_maps`` / ``synthetic_layers`` derive
deterministic mapwarper-shaped records from the driver's ``part`` and
``nation`` parquet tables using pure arithmetic, and the oracle SQL
reproduces the identical records in DuckDB — so the whole transform
(rules, area, edges) is value-level oracle-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import coords_all_valid, geodesic_area, self_intersection_count
from ..functions.scalar import bbox_to_array, coalesce_year
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# Synthetic fixture sources (deterministic from part/nation keys).
# ---------------------------------------------------------------------------

N_MAPS = 150  # p_partkey < 150 exists at every SF
N_LAYERS = 25  # nation keys 0..24

# The fixtures are tiny by construction (150 / 25 rows at every SF).
# They are built driver-side (plain Python arithmetic over the key
# column collected from the driver's parquet tables, exactly
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


def _fixture_df(spark, sf_dir: str, name: str, build_table) -> DataFrame:
    key = (spark, sf_dir, name)
    entry = _FIXTURE_CACHE.get(key)
    if entry is not None:
        return entry
    import os
    import tempfile

    import pyarrow.parquet as pq

    path = os.path.join(
        tempfile.gettempdir(),
        f"mw_fixture_{name}_{abs(hash(sf_dir)) % (1 << 32)}_{os.getpid()}.parquet",
    )
    if not os.path.exists(path):
        pq.write_table(build_table(), path)
    df = spark.read.parquet(path).persist()
    _FIXTURE_CACHE[key] = df
    return df


def synthetic_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maps_enriched-shaped fixture rows keyed by p_partkey < 150."""
    return _fixture_df(spark, sf_dir, "maps", lambda: _maps_table(spark, sf_dir))


def _map_row(k: int) -> tuple:
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
    return (
        k,
        "Map " + ks,
        "Description of map " + ks if k % 9 != 0 else None,
        "img-" + ks if k % 27 != 0 else None,
        uuid,
        "uuid-parent-" + ks if k % 11 == 0 else None,
        "-74.0,40.7,-73.9,40.8" if k % 17 != 0 else None,
        "not_map" if k % 13 == 0 else "is_map",
        ["warped", "published", "unwarped", "warped"][k % 4],
        ["masked", "masking", "unmasked"][k % 3],
        "affine",
        str(1850 + k % 100) if k % 4 != 0 else None,
        str(1900 + k % 50) if k % 8 < 6 else None,
        "mask-to-geojson failed: timeout" if k % 19 == 0 else None,
        ("Polygon", coords) if coords is not None else None,
        [
            [float(k), k + 0.5, 40.0 + k * 0.001, -74.0 + k * 0.001],
            [k + 10.0, k + 10.5, 40.01 + k * 0.001, -73.99 + k * 0.001],
        ],
        [k % 25, (k * 3) % 25] if k % 43 != 0 else None,
    )


def _maps_arrow_schema():
    import pyarrow as pa

    coords = pa.list_(pa.list_(pa.list_(pa.float64())))
    return pa.schema(
        [
            ("id", pa.int64()),
            ("title", pa.string()),
            ("description", pa.string()),
            ("nypl_digital_id", pa.string()),
            ("uuid", pa.string()),
            ("parent_uuid", pa.string()),
            ("bbox", pa.string()),
            ("map_type", pa.string()),
            ("status", pa.string()),
            ("mask_status", pa.string()),
            ("transform_options", pa.string()),
            ("depicts_year", pa.string()),
            ("issue_year", pa.string()),
            ("maskError", pa.string()),
            (
                "maskGeometry",
                pa.struct([("type", pa.string()), ("coordinates", coords)]),
            ),
            ("gcps", pa.list_(pa.list_(pa.float64()))),
            ("layerIds", pa.list_(pa.int64())),
        ]
    )


def _maps_table(spark: SparkSession, sf_dir: str):
    import pyarrow as pa

    keys = [
        r[0]
        for r in load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < N_MAPS)
        .select("p_partkey")
        .collect()
    ]
    schema = _maps_arrow_schema()
    names = [f.name for f in schema]
    rows = []
    for k in sorted(int(k) for k in keys):
        row = dict(zip(names, _map_row(k)))
        geom = row["maskGeometry"]
        if geom is not None:
            row["maskGeometry"] = {"type": geom[0], "coordinates": geom[1]}
        rows.append(row)
    return pa.Table.from_pylist(rows, schema=schema)


def synthetic_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """layers_raw-shaped fixture rows keyed by n_nationkey (0..24)."""
    return _fixture_df(spark, sf_dir, "layers", lambda: _layers_table(spark, sf_dir))


def _layers_table(spark: SparkSession, sf_dir: str):
    import pyarrow as pa

    rows = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .collect()
    )
    schema = pa.schema(
        [
            ("id", pa.int64()),
            ("name", pa.string()),
            ("depicts_year", pa.string()),
            ("issue_year", pa.string()),
            ("maps_count", pa.int32()),
            ("bbox", pa.string()),
        ]
    )
    data = [
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
    return pa.Table.from_pylist(data, schema=schema)


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
            F.col("mask_status").isin("masked", "masking").alias("masked"),
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
