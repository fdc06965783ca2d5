"""Driver-gate queries for the two-step pipeline (pipeline.py).

These run the WHOLE reference workflow end-to-end — paginated REST
download (count-first fan-out for maps, short-page loop for layers)
→ parquet checkpoint → transform step (validation split, projection,
edge derivation) — against a deterministic in-process API whose one
page server, ``_serve``, pages the SAME record dicts
(``mapwarper.map_records`` / ``layer_records``) that the mw_* parquet
fixtures hold. The oracle SQL is therefore shared verbatim with the
mw_* queries: if the pipeline's plumbing (pagination, JSON round-trip,
checkpointing, step chaining) changes any value anywhere, the hash
comparison fails.

Reference trace covered end-to-end: mapwarper.js:151-219 (download) →
:417-437 (transform), chained via dirs (:152-153 ↔ :424).
"""

from __future__ import annotations

import atexit
import functools
import json
import shutil
import tempfile
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import PipelineConfig, run_pipeline
from ..sources.paginated_rest import FetchResult, RestSourceConfig
from . import registry
from .enrichment import ORACLE as ENRICH_ORACLE
from .enrichment import _masked_map_record
from .mapwarper import layer_records, map_records
from .mapwarper_queries import ORACLE as MW_ORACLE

QUERIES, ORACLE, _register = registry()


# ---------------------------------------------------------------------------
# Deterministic fake API. Module-level + functools.partial → picklable
# for executor-side fetch inside the fetch task's mapInArrow.
# ---------------------------------------------------------------------------


def _serve(url: str, timeout_s: float, items: list) -> FetchResult:
    """One ``{total_entries, items}`` page of ``items``."""
    q = parse_qs(urlparse(url).query)
    per_page = int(q["per_page"][0])
    start = (int(q["page"][0]) - 1) * per_page
    body = {"total_entries": len(items), "items": items[start : start + per_page]}
    return FetchResult(200, json.dumps(body))


_FAST = dict(requests_per_second=1e9, backoff_s=0.0, max_concurrency=4)


def _source(kind: str, per_page: int, items: list) -> RestSourceConfig:
    return RestSourceConfig(
        url_template=f"http://fake/{kind}.json?page={{page}}&per_page={{per_page}}",
        per_page=per_page,
        fetcher=functools.partial(_serve, items=items),
        **_FAST,
    )


def _config(spark: SparkSession, sf_dir: str) -> PipelineConfig:
    return PipelineConfig(
        maps_source=_source("maps", 50, map_records(spark, sf_dir)),
        layers_source=_source("layers", 10, layer_records(spark, sf_dir)),
    )


# One pipeline run per (session, sf_dir); all pipe_* queries read the
# same checkpoint outputs.
_RUNS: dict = {}


def _workdir(prefix: str) -> str:
    """A fresh run directory, removed at interpreter exit: the returned
    DataFrames read its checkpoints lazily until then."""
    workdir = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    return workdir


def _outputs(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = (spark, sf_dir)
    if key not in _RUNS:
        _RUNS[key] = run_pipeline(
            spark, _config(spark, sf_dir), _workdir("mw_pipeline_")
        )
    return _RUNS[key]


# ---------------------------------------------------------------------------
# End-to-end with the mask-fetch hop (reference getMask,
# mapwarper.js:79-110): the maps API serves items WITHOUT mask data;
# a per-map mask endpoint serves {mask, gcps}; download fetches masks
# for the gated subset, the order-1 GCP expression transforms them, and
# both steps run through run_pipeline's parquet checkpoint chain. The
# mask endpoint and the maps' mask_status serve the records of
# enrichment.synthetic_masked_maps (``_masked_map_record``), so the
# oracle SQL is shared verbatim with mw_gcp_transform — any drift
# anywhere in the chain (pagination, JSON, in-line mask fetch,
# enrichment, checkpoint) breaks the hash.
# ---------------------------------------------------------------------------


def _serve_mask(url: str, timeout_s: float) -> FetchResult:
    r = _masked_map_record(int(urlparse(url).path.split("/")[-2]))
    return FetchResult(200, json.dumps({"mask": r["mask"], "gcps": r["gcps"]}))


def _e2e_config(spark: SparkSession, sf_dir: str) -> PipelineConfig:
    # The maps API serves no mask data.
    maps = [
        {
            **m,
            "maskGeometry": None,
            "gcps": None,
            "maskError": None,
            "mask_status": _masked_map_record(m["id"])["mask_status"],
        }
        for m in map_records(spark, sf_dir)
    ]
    return PipelineConfig(
        maps_source=_source("maps", 50, maps),
        layers_source=_source("layers", 10, layer_records(spark, sf_dir)),
        mask_source=RestSourceConfig(
            url_template="http://fake/maps/{id}/mask.json",
            fetcher=_serve_mask,
            **_FAST,
        ),
        enrich=True,
    )


_E2E_RUNS: dict = {}


def _e2e_outputs(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = (spark, sf_dir)
    if key not in _E2E_RUNS:
        _E2E_RUNS[key] = run_pipeline(
            spark, _e2e_config(spark, sf_dir), _workdir("mw_pipeline_e2e_")
        )
    return _E2E_RUNS[key]


def pipe_rest_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    maps = _e2e_outputs(spark, sf_dir)["maps"]
    ring0 = F.element_at(F.col("maskGeometry")["coordinates"], 1)
    return (
        maps.filter(F.col("maskGeometry").isNotNull())
        .select("id", F.posexplode(ring0).alias("idx", "pt"))
        .select(
            "id",
            "idx",
            F.round(F.element_at("pt", 1), 6).alias("lon"),
            F.round(F.element_at("pt", 2), 6).alias("lat"),
        )
    )


_register(
    "pipe_rest_end_to_end",
    pipe_rest_end_to_end,
    ENRICH_ORACLE["mw_gcp_transform"],
)


# ---------------------------------------------------------------------------
# Queries — projections identical to the mw_* fixture queries, oracle
# SQL shared verbatim.
# ---------------------------------------------------------------------------


def pipe_map_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _outputs(spark, sf_dir)["map_objects"]
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


_register("pipe_map_objects", pipe_map_objects, MW_ORACLE["mw_map_objects"])


def pipe_layer_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _outputs(spark, sf_dir)["layer_objects"]
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
    "pipe_layer_objects", pipe_layer_objects, MW_ORACLE["mw_layer_objects"]
)


def pipe_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _outputs(spark, sf_dir)["relations"]


_register("pipe_relations", pipe_relations, MW_ORACLE["mw_relations"])


def pipe_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = _outputs(spark, sf_dir)["logs"]
    return logs.select("id", "imageId", F.explode("logs").alias("log")).select(
        "id",
        "imageId",
        F.col("log.type").alias("log_type"),
        F.col("log.message").alias("message"),
    )


_register("pipe_logs", pipe_logs, MW_ORACLE["mw_map_logs"])
