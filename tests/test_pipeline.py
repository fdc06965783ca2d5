"""End-to-end tests for the two-step pipeline (pipeline.py).

The pipeline must reproduce the standalone operators' outputs exactly
(same fixture records served through the fake REST API, JSON
round-trip, parquet checkpoints) and quarantine fetch errors as data.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import warnings
from collections import Counter
from urllib.parse import parse_qs, urlparse

import pytest

from etl_mapwarper_spark import pipeline
from etl_mapwarper_spark.operators.mapwarper import (
    map_objects,
    map_records,
    synthetic_layers,
    synthetic_maps,
)
from etl_mapwarper_spark.operators.pipeline_queries import (
    _config,
    _e2e_config,
    _outputs,
)
from etl_mapwarper_spark.pipeline import (
    LAYER_ITEM_SCHEMA,
    MAP_ITEM_SCHEMA,
    PipelineConfig,
    PipelineDirs,
    download,
    run_pipeline,
)
from etl_mapwarper_spark.sources.paginated_rest import (
    FetchResult,
    RestSourceConfig,
    with_injected_failures,
)

from conftest import SF_DIR


def _rows(df, cols):
    return sorted(map(repr, df.select(*cols).collect()))


def _shape(schema):
    # simpleString ignores nullability: names, order and types only
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_pipeline_matches_operator_outputs(spark, tmp_path):
    out = _outputs(spark, SF_DIR)
    # the parquet fixtures and the landed checkpoints both carry exactly
    # the item contract
    for df, schema in (
        (synthetic_maps(spark, SF_DIR), MAP_ITEM_SCHEMA),
        (synthetic_layers(spark, SF_DIR), LAYER_ITEM_SCHEMA),
        (out["maps"], MAP_ITEM_SCHEMA),
        (out["layers"], LAYER_ITEM_SCHEMA),
    ):
        assert _shape(df.schema) == _shape(schema)
    direct = map_objects(synthetic_maps(spark, SF_DIR))
    cols = ["id", "name", "validSince", "validUntil", "data", "geometry"]
    assert _rows(out["map_objects"], cols) == _rows(direct, cols)
    # unified boundary stream holds every object exactly once
    n_maps = direct.count()
    n_layers = out["layer_objects"].count()
    assert out["objects"].count() == n_maps + n_layers
    # relation targets use the layer surrogate key
    rel = out["relations"]
    assert rel.filter(~rel.dst.startswith("layer-")).count() == 0


def test_pipeline_outputs_are_checkpointed(spark, tmp_path):
    """Step 2 reads ONLY step 1's directory — rerunning transform from
    the checkpoint gives identical results without refetching."""
    from etl_mapwarper_spark.pipeline import PipelineDirs, transform

    cfg = _config(spark, SF_DIR)
    wd = str(tmp_path / "pipe")
    run_pipeline(spark, cfg, wd)
    again = transform(
        spark,
        cfg,
        PipelineDirs(current=str(tmp_path / "re"), previous=f"{wd}/step0_download"),
    )
    out = _outputs(spark, SF_DIR)
    cols = ["id", "name", "validSince", "validUntil"]
    assert _rows(again["map_objects"], cols) == _rows(out["map_objects"], cols)


def test_download_quarantines_fetch_errors(spark, tmp_path):
    """A failing page becomes error records; the step still completes
    and good pages' items survive (reference mapwarper.js:122-129)."""
    from etl_mapwarper_spark.sources.paginated_rest import (
        with_injected_failures,
    )

    base = _config(spark, SF_DIR)
    flaky_maps = RestSourceConfig(
        url_template=base.maps_source.url_template,
        per_page=base.maps_source.per_page,
        requests_per_second=1e9,
        backoff_s=0.0,
        retries=1,
        max_concurrency=4,
        fetcher=with_injected_failures(base.maps_source.fetcher, [2]),
    )
    cfg = PipelineConfig(
        maps_source=flaky_maps, layers_source=base.layers_source
    )
    from etl_mapwarper_spark.pipeline import PipelineDirs, download

    out = download(
        spark, cfg, PipelineDirs(current=str(tmp_path / "dl"), previous=None)
    )
    errs = out["map_errors"].collect()
    assert [e.page for e in errs] == [2]
    assert "HTTP 500" in errs[0].error
    # pages 1 and 3 still landed their items
    assert out["maps"].count() > 0


def _logging_fetcher(inner, log_dir):
    """Wrap a fetcher so every request appends its URL to a per-process
    file under ``log_dir``; a closure, so it pickles by value to the
    Python workers."""

    def fetch(url, timeout_s):
        with open(os.path.join(log_dir, f"{os.getpid()}.log"), "a") as fh:
            fh.write(url + "\n")
        return inner(url, timeout_s)

    return fetch


def _read_requests(log_dir) -> Counter:
    urls: Counter = Counter()
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as fh:
            urls.update(line.rstrip("\n") for line in fh)
    return urls


def test_download_fetches_each_page_and_mask_once(spark, tmp_path):
    """Every maps page and every masked map's mask is requested exactly
    once per download (page 1 once more for the driver's count probe),
    however many outputs and enrichment branches read them."""
    log_dir = tmp_path / "requests"
    log_dir.mkdir()
    base = _e2e_config(spark, SF_DIR)
    cfg = dataclasses.replace(
        base,
        maps_source=dataclasses.replace(
            base.maps_source,
            fetcher=_logging_fetcher(base.maps_source.fetcher, str(log_dir)),
        ),
        mask_source=dataclasses.replace(
            base.mask_source,
            fetcher=_logging_fetcher(base.mask_source.fetcher, str(log_dir)),
        ),
    )
    download(spark, cfg, PipelineDirs(current=str(tmp_path / "dl")))
    urls = _read_requests(str(log_dir))

    keys = [m["id"] for m in map_records(spark, SF_DIR)]
    n_pages = -(-len(keys) // cfg.maps_source.per_page)
    expected_pages = Counter(
        cfg.maps_source.url_for(p) for p in range(1, n_pages + 1)
    )
    expected_pages[cfg.maps_source.url_for(1)] += 1  # count probe
    masked = [k for k in keys if k % 10 != 0]  # the fixture's mask gate
    expected_masks = Counter(
        cfg.mask_source.url_template.format(id=k) for k in masked
    )
    assert n_pages > 1 and masked
    assert urls == expected_pages + expected_masks


def _recorded_write_plans(monkeypatch) -> dict[str, str]:
    """Record the executed plan of each ``pipeline._write``, by name."""
    plans = {}
    write = pipeline._write

    def recording_write(df, dirs, name):
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
        return write(df, dirs, name)

    monkeypatch.setattr(pipeline, "_write", recording_write)
    return plans


def _own_nodes(plan: str) -> str:
    """``plan`` without the plans of the cached relations it scans, which
    ran when the cache was filled, not in this plan."""
    lines, cached_at = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" +-:"))
        if cached_at is not None and depth > cached_at:
            continue
        cached_at = depth if "InMemoryRelation" in line else None
        lines.append(line)
    return "\n".join(lines)


def test_download_maps_write_fetches_masks_in_line(spark, tmp_path, monkeypatch):
    """With the default order-1 enrichment, the plan that writes the
    ``maps`` checkpoint has one Python node, the mask fetch
    (``MapInArrow``), and no exchange or join: each mask is fetched onto
    its own map row. No write of the step scans an RDD."""
    plans = _recorded_write_plans(monkeypatch)
    cfg = _e2e_config(spark, SF_DIR)
    assert cfg.enrich
    out = download(spark, cfg, PipelineDirs(current=str(tmp_path / "dl")))
    maps = _own_nodes(plans["maps"])
    assert "InMemoryTableScan" in maps  # the fetched maps pages
    assert maps.count("MapInArrow") == 1, maps
    for node in ("EvalPython", "InPandas", "Exchange", "SortMergeJoin"):
        assert node not in maps, maps
    assert not [name for name, plan in plans.items() if "ExistingRDD" in plan]
    assert out["maps"].filter("maskGeometry IS NOT NULL").count() > 0


def test_run_pipeline_releases_its_caches(spark, tmp_path):
    """The short-page waves and fetched maps pages that download
    persists are all released by the end of the run."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    run_pipeline(spark, _e2e_config(spark, SF_DIR), str(tmp_path / "pipe"))
    assert persistent().size() == before


def test_failed_download_releases_its_caches(spark, tmp_path):
    """A download whose maps count probe fails re-raises that error and
    still releases what it persisted (the layers wave) on the way out."""
    base = _e2e_config(spark, SF_DIR)
    cfg = dataclasses.replace(
        base,
        maps_source=dataclasses.replace(
            base.maps_source,
            fetcher=with_injected_failures(base.maps_source.fetcher, [1]),
        ),
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(RuntimeError, match="count request failed"):
        download(spark, cfg, PipelineDirs(current=str(tmp_path / "dl")))
    assert persistent().size() == before


def test_run_pipeline_jobs_stay_in_the_callers_job_group(spark, tmp_path):
    """Every job the pipeline starts, on whichever driver thread, runs in
    the caller's job group, so per-group job and failed-task counts see
    them all; escalating UserWarning also catches a thread started
    without the session ("Tags will not be inherited")."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cfg = _e2e_config(spark, SF_DIR)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("pipeline-job-group-guard", "run_pipeline")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            run_pipeline(spark, cfg, str(tmp_path / "pipe"))
    finally:
        sc._jsc.clearJobGroup()
    assert tracker.getJobIdsForGroup("pipeline-job-group-guard")
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_repeat_config_runs_no_spark_job(spark):
    """``_config``/``_e2e_config`` rebuild their records on every call,
    but the part and nation keys they collect are memoized per sf_dir:
    a repeat call runs no Spark job."""
    _config(spark, SF_DIR)
    sc = spark.sparkContext
    sc.setJobGroup("repeat-config", "_config and _e2e_config again")
    try:
        _config(spark, SF_DIR)
        _e2e_config(spark, SF_DIR)
    finally:
        sc._jsc.clearJobGroup()
    assert not sc.statusTracker().getJobIdsForGroup("repeat-config")


def _fixture_checkpoint(spark, tmp_path, drop=()) -> PipelineDirs:
    """A download-shaped previous step built from the parquet fixtures,
    less the ``drop`` columns of ``maps``."""
    prev = tmp_path / "prev"
    synthetic_maps(spark, SF_DIR).drop(*drop).write.parquet(str(prev / "maps"))
    synthetic_layers(spark, SF_DIR).write.parquet(str(prev / "layers"))
    return PipelineDirs(current=str(tmp_path / "tf"), previous=str(prev))


def test_transform_writes_every_sink_in_one_round(spark, tmp_path):
    """``transform`` runs one job per sink and nothing else: both inputs
    are read with their declared schemas (no schema-inference jobs), and
    ``objects`` does not wait for other sinks to land."""
    dirs, cfg = _fixture_checkpoint(spark, tmp_path), _config(spark, SF_DIR)
    sc = spark.sparkContext
    sc.setJobGroup("transform-one-round", "transform")
    try:
        out = pipeline.transform(spark, cfg, dirs)
    finally:
        sc._jsc.clearJobGroup()
    assert sorted(out) == sorted(
        ["map_objects", "layer_objects", "objects", "relations", "logs"]
    )
    assert len(sc.statusTracker().getJobIdsForGroup("transform-one-round")) == 5


def test_transform_validates_once(spark, tmp_path, monkeypatch):
    """The validation (its kinks aggregate marks it) is computed only in
    the cached relation that every map sink scans, ``objects`` included,
    and ``objects`` scans no sink checkpoint."""
    # the kinks count's outer aggregate, over the rings with an int zero
    kinks = re.compile(r"aggregate\(maskGeometry#\d+\.coordinates, 0,")
    plans = _recorded_write_plans(monkeypatch)
    dirs = _fixture_checkpoint(spark, tmp_path)
    pipeline.transform(spark, _config(spark, SF_DIR), dirs)
    assert len(plans) == 5
    for name, plan in plans.items():
        assert not kinks.search(_own_nodes(plan)), (name, plan)
    for name in ("map_objects", "relations", "logs", "objects"):
        assert "InMemoryTableScan" in plans[name], (name, plans[name])
        assert kinks.search(plans[name]), (name, plans[name])
    assert dirs.current not in plans["objects"], plans["objects"]


def test_failed_transform_releases_its_cache(spark, tmp_path, monkeypatch):
    """A transform whose ``logs`` write fails re-raises that error once
    the other writes end, and releases the validated maps it cached."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    dirs = _fixture_checkpoint(spark, tmp_path)
    before = persistent().size()
    during = []
    write = pipeline._write

    def failing_write(df, dirs, name):
        written = write(df, dirs, name)
        if name == "logs":
            during.append(persistent().size())
            raise RuntimeError("logs write failed")
        return written

    monkeypatch.setattr(pipeline, "_write", failing_write)
    with pytest.raises(RuntimeError, match="logs write failed"):
        pipeline.transform(spark, _config(spark, SF_DIR), dirs)
    assert during == [before + 1]
    assert persistent().size() == before


def test_transform_rejects_a_checkpoint_missing_a_column(spark, tmp_path):
    """A declared-schema read would fill a missing item column with
    nulls; ``transform`` refuses such a checkpoint instead, before any
    Spark job."""
    dirs = _fixture_checkpoint(spark, tmp_path, drop=["uuid"])
    cfg = _config(spark, SF_DIR)
    sc = spark.sparkContext
    sc.setJobGroup("transform-missing-column", "transform")
    try:
        with pytest.raises(ValueError, match=r"lacks the columns \['uuid'\]"):
            pipeline.transform(spark, cfg, dirs)
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("transform-missing-column") == []
    assert not os.path.exists(dirs.current)


def _membership_fetcher(pairs, log_dir):
    """Short-page ``{"items": [{map_id, layer_id}, ...]}`` endpoint over
    ``pairs`` that logs every request like ``_logging_fetcher``; a
    closure, so it pickles by value to the Python workers."""

    def serve(url, timeout_s):
        q = parse_qs(urlparse(url).query)
        per_page = int(q["per_page"][0])
        lo = (int(q["page"][0]) - 1) * per_page
        items = [
            {"map_id": m, "layer_id": layer}
            for m, layer in pairs[lo : lo + per_page]
        ]
        return FetchResult(200, json.dumps({"items": items}))

    return _logging_fetcher(serve, log_dir)


def test_download_attaches_map_layer_membership(spark, tmp_path, monkeypatch):
    """With ``map_layers_source`` set, ``maps.layerIds`` is each map's
    sorted distinct layer ids (null for a map with no membership), each
    membership page is requested once across the scan's waves, and the
    membership join stays a broadcast, so the maps side never shuffles."""
    plans = _recorded_write_plans(monkeypatch)
    log_dir = tmp_path / "requests"
    log_dir.mkdir()
    base = _e2e_config(spark, SF_DIR)
    keys = [m["id"] for m in map_records(spark, SF_DIR)]
    # A duplicate pair per map, sorted by layer so a map's pairs span
    # several pages; every 7th map has none.
    pairs = sorted(
        ((k, layer) for k in keys if k % 7 for layer in (k % 5, k % 11, k % 5)),
        key=lambda p: (p[1], p[0]),
    )
    per_page = 20
    cfg = dataclasses.replace(
        base,
        map_layers_source=RestSourceConfig(
            url_template="http://fake/map_layers.json"
            "?page={page}&per_page={per_page}",
            per_page=per_page,
            requests_per_second=1e9,
            backoff_s=0.0,
            max_concurrency=4,
            fetcher=_membership_fetcher(pairs, str(log_dir)),
        ),
    )
    out = download(spark, cfg, PipelineDirs(current=str(tmp_path / "dl")))
    assert "BroadcastHashJoin" in plans["maps"], plans["maps"]
    assert "SortMergeJoin" not in plans["maps"], plans["maps"]
    # the join replaces the items' layerIds, so they never cross the
    # mask fetch's Arrow boundary
    maps = _own_nodes(plans["maps"])
    (fetch,) = [ln for ln in maps.splitlines() if "MapInArrow" in ln]
    assert "layerIds" not in fetch, fetch

    got = {r.id: r.layerIds for r in out["maps"].select("id", "layerIds").collect()}
    expected = {k: None for k in keys}
    for m, layer in pairs:
        expected[m] = sorted({*(expected[m] or []), layer})
    assert got == expected

    short_page = len(pairs) // per_page + 1  # first page under per_page
    waves = -(-short_page // 8)  # the scan's default wave size
    assert waves > 1
    assert _read_requests(str(log_dir)) == Counter(
        cfg.map_layers_source.url_for(p) for p in range(1, 8 * waves + 1)
    )


def test_download_maps_schema_stable_across_enrich_flag(spark, tmp_path):
    """With mask_source set, the checkpointed maps schema must be the
    same whether enrich ran or not: fetch failures land in maskError,
    maskGeometry always exists, and the internal mask_fetch_error /
    raw mask columns never leak into the checkpoint."""
    import dataclasses

    from etl_mapwarper_spark.operators.pipeline_queries import _e2e_config
    from etl_mapwarper_spark.pipeline import PipelineDirs, download

    def cols(enrich):
        cfg = dataclasses.replace(
            _e2e_config(spark, SF_DIR), enrich=enrich
        )
        out = download(
            spark,
            cfg,
            PipelineDirs(
                current=str(tmp_path / f"dl_{enrich}"), previous=None
            ),
        )
        return out["maps"].schema

    s_plain, s_enriched = cols(False), cols(True)
    # simpleString ignores nullability flags — the consumer-visible
    # column shape is what must not drift
    plain = {f.name: f.dataType.simpleString() for f in s_plain.fields}
    enriched = {f.name: f.dataType.simpleString() for f in s_enriched.fields}
    assert set(plain) == set(enriched), (
        f"schema drift: {set(plain) ^ set(enriched)}"
    )
    for name in ("maskError", "maskGeometry"):
        assert name in plain
        assert plain[name] == enriched[name]
    for leaked in ("mask_fetch_error", "mask"):
        assert leaked not in plain


def test_enrich_without_mask_source_is_rejected_before_any_fetch(
    spark, tmp_path
):
    """``enrich`` fits the fetched ``mask`` ring, which the maps items do
    not carry: such a config must fail driver-side BEFORE the first
    request (reference mapwarper.js:168-171), not after download has
    crawled every maps and layers page."""
    log_dir = tmp_path / "requests"
    log_dir.mkdir()
    base = _config(spark, SF_DIR)
    with pytest.raises(ValueError, match="mask_source"):
        cfg = dataclasses.replace(
            base,
            maps_source=dataclasses.replace(
                base.maps_source,
                fetcher=_logging_fetcher(base.maps_source.fetcher, str(log_dir)),
            ),
            layers_source=dataclasses.replace(
                base.layers_source,
                fetcher=_logging_fetcher(
                    base.layers_source.fetcher, str(log_dir)
                ),
            ),
            enrich=True,
        )
        download(spark, cfg, PipelineDirs(current=str(tmp_path / "dl")))
    assert _read_requests(str(log_dir)) == Counter()


def test_export_ndjson_single_file_golden(spark, tmp_path):
    """export_ndjson_file writes ONE newline-delimited file whose bytes
    match the reference sink format (mapwarper.js:164-165): compact
    JSON.stringify per record, nulls dropped, one '\\n' between."""
    from pyspark.sql import functions as F

    from etl_mapwarper_spark.pipeline import export_ndjson_file

    # objects-boundary shape (mapwarper.dataset.json: id/type/name/
    # validSince/validUntil + serialized data payload)
    df = spark.createDataFrame(
        [
            ("26986", "st:Map", "Plate 1", 1857, 1857, '{"nyplDigitalId":"X1"}'),
            ("layer-860", "st:Layer", "Manhattan", 1857, None, '{"mapsCount":4}'),
        ],
        "id string, type string, name string, validSince int, validUntil int, data_json string",
    ).coalesce(1).orderBy("id")
    out = tmp_path / "objects.ndjson"
    export_ndjson_file(df, str(out))
    expected = (
        '{"id":"26986","type":"st:Map","name":"Plate 1","validSince":1857,'
        '"validUntil":1857,"data_json":"{\\"nyplDigitalId\\":\\"X1\\"}"}\n'
        '{"id":"layer-860","type":"st:Layer","name":"Manhattan",'
        '"validSince":1857,"data_json":"{\\"mapsCount\\":4}"}\n'
    )
    assert out.read_text() == expected
    assert out.is_file()
