"""Two-step ETL pipeline — the reference's public API surface.

The reference module's ENTIRE public API is an ordered list of step
functions, ``module.exports.steps = [download, transform]``
(mapwarper.js:441-444), run by a framework that hands each step its
output dir (``dirs.current``) and the previous step's output dir
(``dirs.previous``; :152-153, :424). This module re-expresses that
contract Spark-first:

- a step is ``step(spark, config, dirs) -> dict[str, DataFrame]`` —
  it writes its outputs under ``dirs.current`` and returns each as a
  read of its written parquet checkpoint, so a consumer (the NDJSON
  export, a later sink, a test) reads the checkpoint and never
  re-runs the plan that produced it;
- the inter-step handoff is **Parquet** (columnar, splittable,
  prunable), not the reference's NDJSON (:152-153 ↔ :424) — NDJSON
  remains available at the export boundary via ``export_ndjson_file``;
- ``run_pipeline`` chains the steps exactly like the spacetime-etl
  framework: step N+1's ``dirs.previous`` is step N's
  ``dirs.current`` — which also gives step-level restartability, the
  same property the reference gets from its directory convention.

Step 1 — ``download`` (reference :151-219): paginated REST scans
(count-first fan-out for maps :183-199, short-page loop for layers
:112-149), error quarantine (:122-129), optional mask fetch and
order-1 (GDAL ``-order 1``) mask→GeoJSON enrichment (:79-110) and
optional map↔layer membership join (:57-77, replaced by a real
aggregate+broadcast join). The Map Warper contract is stated once
elsewhere: the item schemas and the mask gate in operators/mapwarper.py
(``MAP_ITEM_SCHEMA`` and ``LAYER_ITEM_SCHEMA`` are importable from
here too), the page format in sources/paginated_rest.py and the mask
body in operators/enrichment.py; the config carries only sources and
the ``enrich`` flag. Each REST page and each mask is fetched once per
run: the fetched maps pages are persisted while the step writes from
them, and released (with the short-page waves) once ``maps`` is
written, or once the step fails. The masks are fetched in line: the
map rows themselves pass through the mask fetch task, which attaches
each mask to its own map as the reference does (:79-110), and the
order-1 fit is a projection over them, so the ``maps`` write has no
join or shuffle on its mask path. The reference
builds its layers and maps pipelines in one call (:155-166,
:183-212); here the layers, membership and maps crawls run
concurrently from driver threads, each against its own source's
politeness budget (token bucket and ``max_concurrency``), so only
different endpoints overlap.

Step 2 — ``transform`` (reference :417-437): route records by type
(:418-421), validation split into clean objects vs quarantine logs
(:358-361), relation edge derivation (:333-346), layer projection
(:399-415); writes ``objects``, ``relations``, ``logs`` sinks. It
reads ``maps`` and ``layers`` with their declared item schemas, so no
schema-inference job runs, and it validates each map once, as the
reference runs ``getLogs`` once per map (:353-361): the validated maps
are persisted and feed the map objects, the relations and the logs.
All five sinks, the unified ``objects`` one included, are written in
one concurrent round, like the reference's three streams (:417-437).
Validation is a pure column expression, so the step has no Python
boundary.

Concurrent branches run on threads that inherit the caller's job
group, description and tags, so their jobs are counted and cancelled
with the caller's. When a branch fails, its error is re-raised after
the branches still in flight have ended.

Scale: every transform is a narrow column expression over the
parquet checkpoint, with no shuffle (only the optional membership join
shuffles, and its aggregated side is broadcast): each sink is one
stage, which scans ``layers`` or the cached validated maps. Each REST
scan, wave and mask fetch is one Spark task
whose ``max_concurrency`` threads share the source's token bucket:
its parallelism is the politeness budget, not the cluster size, and
it pays the per-Python-task start-up cost once per fetch (see
sources/paginated_rest.py).
"""

from __future__ import annotations

import functools
import glob
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any, Callable, Optional

import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .operators.enrichment import attach_map_layers, enrich_masks, fetch_masks
from .operators.mapwarper import (
    LAYER_ITEM_SCHEMA,
    MAP_ITEM_SCHEMA,
    MAP_LAYER_ITEM_SCHEMA,
    _logs,
    _objects,
    _relations,
    transform_layers,
    with_validation,
)
from .sources.ndjson import to_ndjson_lines
from .sources.paginated_rest import (
    RestSourceConfig,
    _scan_waves,
    fetch_count,
    page_errors,
    page_items,
    scan_pages,
)

@dataclass(frozen=True)
class PipelineDirs:
    """Mirror of the framework's dirs (mapwarper.js:152-153, :424)."""

    current: str
    previous: Optional[str] = None


@dataclass(frozen=True)
class PipelineConfig:
    """Pipeline parameters (the reference's ``config`` argument).

    ``mask_source``: optional per-map mask endpoint (``{id}`` URL
    template). When set, ``download`` performs the reference's mask
    FETCH hop (getMask, :79-110): masked maps' ``mask``/``gcps`` come
    from this endpoint rather than the items payload, and fetch
    failures surface as ``maskError``.
    ``enrich``: fit the fetched masks to GeoJSON with the order-1 GCP
    transform (reference :79-110); needs ``mask_source``, the only
    source of the ``mask`` ring. With ``mask_source`` but not
    ``enrich``, ``maskGeometry`` is null; with neither, the items' own
    ``maskGeometry`` passes through (an API serving enriched items).
    ``map_layers_source``: optional membership stream config; when
    set, ``download`` attaches ``layerIds`` via a real join instead
    of the reference's N+1 lookups (``config.includeMapLayers``,
    :172-181).

    A config ``download`` cannot run is rejected here, before the first
    fetch, as the reference aborts a run it cannot finish
    (mapwarper.js:168-171). The run's other prerequisite, numpy, fails
    this module's import when missing (operators/enrichment.py imports
    it), which is earlier still.
    """

    maps_source: RestSourceConfig
    layers_source: RestSourceConfig
    mask_source: Optional[RestSourceConfig] = None
    enrich: bool = False
    map_layers_source: Optional[RestSourceConfig] = None

    def __post_init__(self) -> None:
        if self.enrich and self.mask_source is None:
            raise ValueError(
                "enrich=True needs mask_source: the maps items carry no "
                "mask ring to fit"
            )


def _concurrently(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """Run each thunk on its own driver thread; return their results in
    submission order. Each thread starts with the caller's Spark local
    properties (job group, description) and session tags, so its jobs
    count where the caller's would. A failure is re-raised (the first in
    submission order) only after every thunk has finished."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(t)) for t in thunks
        ]
    return [f.result() for f in futures]


def _read_checkpoint(
    spark: SparkSession, step_dir: str, name: str, schema: StructType
) -> DataFrame:
    """Read checkpoint ``name`` of ``step_dir`` with its declared
    ``schema``, so the read starts no schema-inference job. Such a read
    would fill a missing column with nulls, so the names are checked
    first against one part file's footer, on the driver."""
    path = os.path.join(step_dir, name)
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    if not parts:
        raise FileNotFoundError(f"checkpoint {path} has no part files")
    footer = set(pq.read_schema(parts[0]).names)
    missing = [c for c in schema.names if c not in footer]
    if missing:
        raise ValueError(f"checkpoint {path} lacks the columns {missing}")
    return spark.read.schema(schema).parquet(path)


def _write(df: DataFrame, dirs: PipelineDirs, name: str) -> DataFrame:
    """Write ``df`` as parquet and return the read-back checkpoint. The
    schema is passed so the read-back starts no schema-inference job."""
    path = os.path.join(dirs.current, name)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def download(
    spark: SparkSession, config: PipelineConfig, dirs: PipelineDirs
) -> dict[str, DataFrame]:
    """Step 1 (reference :151-219): crawl maps + layers, quarantine
    fetch errors, optionally enrich masks and attach layer membership;
    checkpoint everything as parquet under ``dirs.current``.

    The layers crawl and its two writes, the membership crawl, and the
    maps crawl (count probe, fan-out, ``map_errors`` write, mask
    fetch/enrich plan) run concurrently; ``maps`` gets its membership
    and is written once all three end. Each crawl keeps its own
    source's token bucket and ``max_concurrency``: only different
    endpoints overlap. If a branch fails, its error is re-raised once
    the others have ended, and every cache the step persisted is
    released either way.

    With ``mask_source`` set, ``maps`` carries ``maskError`` (fetch
    errors first, then fit errors) and ``maskGeometry`` (null unless
    ``enrich``), and never the raw ``mask`` ring."""
    # Every persisted frame, appended right after its persist() by the
    # branch that made it, so each branch's dependents follow its bases.
    cached: list[DataFrame] = []

    def layers_branch() -> dict[str, DataFrame]:
        # Short-page loop (:155-166).
        pages, waves = _scan_waves(spark, config.layers_source)
        cached.extend(waves)
        layers = page_items(pages, LAYER_ITEM_SCHEMA).drop("page")
        return {
            "layers": _write(layers, dirs, "layers"),
            "layer_errors": _write(page_errors(pages), dirs, "layer_errors"),
        }

    def membership_branch() -> Optional[DataFrame]:
        if config.map_layers_source is None:
            return None
        pages, waves = _scan_waves(spark, config.map_layers_source)
        cached.extend(waves)
        return page_items(pages, MAP_LAYER_ITEM_SCHEMA).drop("page")

    def maps_branch() -> tuple[DataFrame, DataFrame]:
        # Count precheck then fan-out (:183-212).
        total = fetch_count(config.maps_source)
        num_pages = -(-total // config.maps_source.per_page)
        map_pages = scan_pages(spark, config.maps_source, num_pages).persist()
        cached.append(map_pages)
        maps = page_items(map_pages, MAP_ITEM_SCHEMA).drop("page")
        if config.map_layers_source is not None:
            # Replaced by the membership join, so it need not cross the
            # mask fetch's Arrow boundary.
            maps = maps.drop("layerIds")
        map_errors = _write(page_errors(map_pages), dirs, "map_errors")

        if config.mask_source is not None:
            # Reference getMask hop (:79-110): masks/GCPs come from the
            # Warper API per map, not the items payload, fetched onto the
            # map rows in line. Not persisted: only the maps write reads
            # them, and it requests each mask once.
            maps = fetch_masks(
                spark,
                maps.drop("gcps", "maskGeometry", "maskError"),
                config.mask_source,
            )
            if config.enrich:
                # fetch-level errors win over transform-level ones, like
                # the reference's maskError attachment on fetch failure
                maps = enrich_masks(maps).withColumn(
                    "maskError",
                    F.coalesce(F.col("mask_fetch_error"), F.col("maskError")),
                ).drop("mask_fetch_error")
            else:
                # Schema-stable: the checkpointed maps table looks the
                # same whether or not the transform ran — fetch failures
                # still surface as maskError (reference :90), and
                # maskGeometry exists (null: nothing computed it).
                maps = maps.withColumnRenamed(
                    "mask_fetch_error", "maskError"
                ).withColumn(
                    "maskGeometry",
                    F.lit(None).cast(MAP_ITEM_SCHEMA["maskGeometry"].dataType),
                )
            # The raw pixel-space ring is fetch-internal (the transform
            # consumes it); MAP_ITEM_SCHEMA has no such column.
            maps = maps.drop("mask")
        return maps, map_errors

    try:
        out, membership, (maps, map_errors) = _concurrently(
            spark, layers_branch, membership_branch, maps_branch
        )
        out["map_errors"] = map_errors
        if membership is not None:
            maps = attach_map_layers(maps, membership)
        out["maps"] = _write(maps, dirs, "maps")
        return out
    finally:
        # Every output is a read-back of its checkpoint, so the caches
        # can go; dependents first, so no cached plan is re-planned.
        for df in reversed(cached):
            df.unpersist()


def transform(
    spark: SparkSession, config: PipelineConfig, dirs: PipelineDirs
) -> dict[str, DataFrame]:
    """Step 2 (reference :417-437): previous checkpoint → objects +
    relations + logs sinks. The reference routes one mixed NDJSON
    stream by ``line.type`` (:418-421, :429); the Spark-first shape
    keeps one DataFrame per variant and unions the object outputs.

    ``maps`` and ``layers`` are read with their declared item schemas,
    so no schema-inference job runs. The maps are validated once, as
    the reference runs ``getLogs`` once per map (:353-361), and the
    validated frame is persisted: ``map_objects``, ``relations`` and
    ``logs`` all read it, and the unified ``objects`` sink is built
    from the same map and layer object frames. All five sinks are
    written in one concurrent round; the cache is released once they
    are written, or once one fails."""
    assert dirs.previous is not None, "transform needs dirs.previous"
    maps = _read_checkpoint(spark, dirs.previous, "maps", MAP_ITEM_SCHEMA)
    layers = _read_checkpoint(spark, dirs.previous, "layers", LAYER_ITEM_SCHEMA)

    # Map and layer objects have different nested `data` shapes (the
    # reference's oneOf output schema, mapwarper.dataset.json:41-153);
    # they stay one-DataFrame-per-variant, and the unified tagged
    # stream serializes the variant payload to JSON at the boundary.
    def _boundary(df: DataFrame) -> DataFrame:
        geometry_json = (
            "to_json(geometry)"
            if "geometry" in df.columns
            else "CAST(NULL AS STRING)"
        )
        return df.selectExpr(
            "id",
            # ``type`` is a literal, so Catalyst marks it not null. The
            # sink keeps it nullable, like every other column of a
            # checkpoint read-back: ``data`` is a non-null struct, so
            # the guard always holds, and a to_json result cannot be
            # proven non-null, so it is not folded away.
            "CASE WHEN to_json(data) IS NOT NULL THEN type END AS type",
            "name",
            "validSince",
            "validUntil",
            "to_json(data) AS data_json",
            f"{geometry_json} AS geometry_json",
        )

    # Validated once; the first write to read the cache fills it, and
    # the other map sinks wait on its block and read it.
    v = with_validation(maps).persist()
    try:
        mo, lo = _objects(v), transform_layers(layers)
        sinks = {
            "map_objects": mo,
            "layer_objects": lo,
            "objects": _boundary(mo).unionByName(_boundary(lo)),
            "relations": _relations(v),
            "logs": _logs(v),
        }
        written = _concurrently(
            spark,
            *(
                functools.partial(_write, df, dirs, name)
                for name, df in sinks.items()
            ),
        )
        return dict(zip(sinks, written))
    finally:
        # Every output is a read-back of its checkpoint.
        v.unpersist()


# The reference's public API (mapwarper.js:441-444).
steps: list[Callable[..., dict[str, DataFrame]]] = [download, transform]


def run_pipeline(
    spark: SparkSession, config: PipelineConfig, workdir: str
) -> dict[str, DataFrame]:
    """Run all steps; step N+1 reads step N's directory (framework
    semantics, :152-153 ↔ :424). Returns the union of step outputs."""
    outputs: dict[str, DataFrame] = {}
    previous: Optional[str] = None
    for i, step in enumerate(steps):
        current = os.path.join(workdir, f"step{i}_{step.__name__}")
        os.makedirs(current, exist_ok=True)
        outputs.update(
            step(spark, config, PipelineDirs(current=current, previous=previous))
        )
        previous = current
    return outputs


def export_ndjson_file(df: DataFrame, path: str) -> None:
    """SINGLE-file exact-format NDJSON export.

    The reference's sink is one newline-delimited file —
    ``JSON.stringify`` per record, ``intersperse('\\n')``, one write
    (mapwarper.js:164-165) — and that single file IS the framework
    handoff format. Spark's text sink writes a directory of
    part-files; this export writes them distributed (all
    serialization stays on executors via ``to_json``), then streams
    the parts in partition order into one file with a bounded-buffer
    copy — the driver never materializes the dataset, only relays
    bytes. Field order is the DataFrame's column order, so the byte
    format is stable for a given schema. Use for boundary handoffs
    only; 100 TB intermediates stay parquet (see sources/ndjson.py).
    """
    import shutil

    tmp = path + ".parts.tmp"
    to_ndjson_lines(df).write.mode("overwrite").text(tmp)
    parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
    with open(path, "wb") as out:
        for p in parts:
            with open(p, "rb") as src:
                shutil.copyfileobj(src, out, length=1 << 20)
    shutil.rmtree(tmp)
