"""The three workloads: ``sql`` and ``curation`` run registry entries,
``etl`` runs the reference's two-step pipeline against the fake API.

A workload reads the catalog tables under ``data/sf0.01`` and builds
the rest of its inputs from the seed (``prepare``), finishes its part
of set-up (``setup``), runs one pass at a time (``run_pass``, returning
per-operation latencies) and checks its outputs outside the timed
region (``check``). One client drives it in a closed loop: the
next operation starts only after the previous one returned.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import fakeapi, oracle

# The engine's catalog tables at scale factor 0.01, byte for byte; the
# repository's oracle tests run on the same tables. Read only.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
N_MAPS = 1000
N_LAYERS = 100
# Page sizes: 8 maps pages (one fails), one layers wave, two membership
# waves of 8 pages.
PER_PAGE = dict(maps_per_page=125, layers_per_page=25, membership_per_page=100)

# The q* headline entries of bench.py: scan, join, aggregate, window
# and as-of queries whose time is mostly the per-query floor.
SQL = [
    "q01_pricing_summary", "q03_top_revenue_orders", "q05_region_revenue",
    "q06_customer_order_stats", "q09_top3_orders_per_customer",
    "q14_distinct_parts_per_flag", "q19_events_json", "q21_user_sessions",
    "q22_asof_last_order", "q33_above_brand_avg", "q35_price_percentiles",
    "q38_moving_avg_7d", "q48_snapshot_merge", "q51_multi_distinct",
    "q53_click_purchase_funnel", "q89_approx_quantiles",
]
# Shuffle-heavy curation entries (LSH bands, n-gram joins, multi-stage
# pipelines) and the entries that cross the Arrow/Python boundary into
# functions/ kernels (pandas_udf, mapInPandas, applyInPandas).
CURATION = [
    "dd_minhash_lsh", "dd_ngram_jaccard", "sim_srp_lsh_topk",
    "sim_embedding_covariance", "tx_tfidf_top_terms", "tx_bpe_train_merges",
    "ds_llm_pipeline", "mw_map_objects", "mw_gcp_transform",
    "mm_phash_neardups",
]


def family(fn) -> str:
    """Layer name of a registry entry: its defining module, with the
    four relational* modules counted as one family."""
    mod = fn.__module__.rsplit(".", 1)[-1]
    return "operators." + ("relational" if mod.startswith("relational") else mod)


@dataclass
class Ctx:
    spark: object
    queries: dict
    data_dir: str
    work_dir: str
    seed: int
    tracer: object
    errors: dict = field(default_factory=dict)  # name -> first error


class QueryWorkload:
    """Registry entries run through construction plus a noop-sink action."""

    def __init__(self, names: list[str], layers: tuple[str, ...]):
        self.names = names
        # Declared per-layer metric families a traced run must produce.
        self.layers = layers

    def prepare(self, seed: int) -> dict:
        """The tables are fixed; the seed sets only the query order."""
        return {"tables": "catalog sf0.01", "entries": len(self.names)}

    def setup(self, ctx: Ctx) -> None:
        pass

    def order(self, seed: int, pass_idx: int) -> list[str]:
        names = list(self.names)
        random.Random(f"{seed}:order:{pass_idx}").shuffle(names)
        return names

    def run_pass(self, ctx: Ctx, pass_idx: int) -> tuple[list[float], int]:
        """Returns (latency of each successful query, failed count)."""
        from etl_mapwarper_spark.functions.dist_rank import release_ranked_cache

        lat, failed = [], 0
        pass_id = str(pass_idx)
        for name in self.order(ctx.seed, pass_idx):
            fn = ctx.queries.get(name)
            if fn is None:
                failed += 1
                ctx.errors.setdefault(name, "missing from queries()")
                continue
            fam = family(fn)
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(name, fam + ".construct", pass_id):
                    df = fn(ctx.spark, ctx.data_dir)
                with ctx.tracer.span(name, fam + ".execute", pass_id):
                    df.write.mode("overwrite").format("noop").save()
            except Exception as e:  # one failing entry must not stop the run
                failed += 1
                ctx.errors.setdefault(name, f"{type(e).__name__}: {str(e)[:300]}")
                continue
            finally:
                release_ranked_cache()
            lat.append(time.perf_counter() - t0)
        return lat, failed

    def check(self, ctx: Ctx) -> dict[str, str | None]:
        """Each entry's result against its ``oracle_sql()`` text on
        DuckDB over the same parquet files: name -> None or the first
        difference."""
        import __spark_entry__

        osql = __spark_entry__.oracle_sql()
        con = oracle.connect(ctx.data_dir, len(os.sched_getaffinity(0)))
        out: dict[str, str | None] = {}
        try:
            for name in self.names:
                if name not in ctx.queries or name in ctx.errors:
                    continue  # already counted as a failed operation
                if name not in osql:
                    out[name] = "no oracle_sql() entry"
                    continue
                try:
                    got = ctx.queries[name](ctx.spark, ctx.data_dir).toPandas()
                    out[name] = oracle.mismatch(got, con.execute(osql[name]).df())
                except Exception as e:
                    out[name] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            con.close()
        return out

    def summary(self, pass_s: float) -> dict:
        return {}

    def layer_values(self) -> dict:
        return {}


@contextmanager
def traced_steps(tracer, pass_id: str):
    """Wrap the pipeline's public step list so run_pipeline's calls to
    ``download`` and ``transform`` each get a span."""
    from etl_mapwarper_spark import pipeline

    if not tracer.enabled:
        yield
        return
    original = list(pipeline.steps)

    def wrap(step):
        @functools.wraps(step)
        def traced(spark, config, dirs):
            with tracer.span(step.__name__, "pipeline." + step.__name__, pass_id):
                return step(spark, config, dirs)

        return traced

    pipeline.steps[:] = [wrap(s) for s in original]
    try:
        yield
    finally:
        pipeline.steps[:] = original


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


class EtlWorkload:
    """run_pipeline (download -> transform) plus the NDJSON export of
    ``objects`` and ``relations``; one operation is one such run."""

    names = ["run_pipeline"]
    layers = ("session.", "registry.", "pipeline.", "paginated_rest.", "harness.", "trace.")

    def prepare(self, seed: int) -> dict:
        return {"maps": N_MAPS, "layers": N_LAYERS, **PER_PAGE}

    def setup(self, ctx: Ctx) -> None:
        api = self.api = fakeapi.build(ctx.seed, N_MAPS, N_LAYERS, **PER_PAGE)
        self.landed = [
            k for k in range(1, api.n_maps + 1) if (k - 1) // api.maps_per_page + 1 not in api.failed_map_pages
        ]
        # Distinct pages and keys a run has to fetch at least once.
        self.needed = {
            "maps": api.map_pages,
            "layers": fakeapi.pages_needed(api.n_layers, api.layers_per_page),
            "membership": fakeapi.pages_needed(api.n_pairs, api.membership_per_page),
            "masks": sum(fakeapi.map_item(api, k)["mask_status"] in ("masked", "masking") for k in self.landed),
        }
        self.last_pass_dir = None
        self.last_stats: dict = {}
        self.quarantined_pages = self.quarantined_rows = 0

    def config(self, api: fakeapi.FakeApi):
        from etl_mapwarper_spark.pipeline import PipelineConfig
        from etl_mapwarper_spark.sources.paginated_rest import RestSourceConfig

        # No politeness delay and no retries: the timings measure the
        # engine, and the request counts measure the politeness cost.
        fast = dict(
            requests_per_second=1e9,
            max_concurrency=len(os.sched_getaffinity(0)),
            retries=0,
            backoff_s=0.0,
            fetcher=fakeapi.fetcher(api),
        )
        page = "?page={page}&per_page={per_page}"
        return PipelineConfig(
            maps_source=RestSourceConfig(fakeapi.HOST + "/maps.json" + page, per_page=api.maps_per_page, **fast),
            layers_source=RestSourceConfig(fakeapi.HOST + "/layers.json" + page, per_page=api.layers_per_page, **fast),
            map_layers_source=RestSourceConfig(
                fakeapi.HOST + "/map_layers.json" + page, per_page=api.membership_per_page, **fast
            ),
            mask_source=RestSourceConfig(fakeapi.HOST + "/maps/{id}/mask.json", **fast),
            enrich=True,
        )

    def run_pass(self, ctx: Ctx, pass_idx: int) -> tuple[list[float], int]:
        from etl_mapwarper_spark import pipeline

        pass_dir = os.path.join(ctx.work_dir, f"etl-pass-{pass_idx}")
        api = self.api.logging_to(os.path.join(pass_dir, "api"))
        config = self.config(api)
        pass_id = str(pass_idx)
        t0 = time.perf_counter()
        try:
            with traced_steps(ctx.tracer, pass_id):
                out = pipeline.run_pipeline(ctx.spark, config, os.path.join(pass_dir, "out"))
            for sink in ("objects", "relations"):
                with ctx.tracer.span(sink, "pipeline.export", pass_id):
                    pipeline.export_ndjson_file(out[sink], os.path.join(pass_dir, f"{sink}.ndjson"))
        except Exception as e:
            ctx.errors.setdefault("run_pipeline", f"{type(e).__name__}: {str(e)[:300]}")
            return [], 1
        elapsed = time.perf_counter() - t0
        self.last_stats = self._stats(pass_dir)
        if self.last_pass_dir:
            shutil.rmtree(self.last_pass_dir, ignore_errors=True)
        self.last_pass_dir = pass_dir
        return [elapsed], 0

    def _stats(self, pass_dir: str) -> dict:
        log = fakeapi.read_log(os.path.join(pass_dir, "api"))
        req, needed = log.requests, self.needed
        written = _dir_bytes(os.path.join(pass_dir, "out")) + sum(
            os.path.getsize(os.path.join(pass_dir, f"{s}.ndjson")) for s in ("objects", "relations")
        )
        values = {f"paginated_rest.requests.{e}": req[e] for e in ("count", "maps", "layers", "membership", "masks")}
        values.update(
            {
                "paginated_rest.requests_per_page": sum(req.values()) / sum(needed.values()),
                "paginated_rest.map_fetches_per_page": req["maps"] / needed["maps"],
                "paginated_rest.wave_overfetch": req["layers"] - needed["layers"] + req["membership"] - needed["membership"],
                "paginated_rest.api_busy_s": log.busy_s,
                "pipeline.bytes_written": written,
                "pipeline.write_amplification": written / log.bytes_served,
            }
        )
        return values

    def summary(self, pass_s: float) -> dict:
        records = len(self.landed) + self.api.n_layers  # map and layer records landed
        return {
            "records": records,
            "records_per_s": records / pass_s,
            "api": {k.split(".", 1)[1]: v for k, v in self.last_stats.items() if k.startswith("paginated_rest.")},
            "failed_map_pages": list(self.api.failed_map_pages),
            "quarantined_pages": self.quarantined_pages,
            "quarantined_rows": self.quarantined_rows,
        }

    def layer_values(self) -> dict:
        return dict(self.last_stats)

    def expected_maps(self, spark):
        """The maps table download should land, built straight from the
        generated records: items of the pages that did not fail, mask
        bodies joined in, GCP enrichment, and layer membership."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from etl_mapwarper_spark.operators.enrichment import MASK_BODY_SCHEMA, enrich_masks
        from etl_mapwarper_spark.pipeline import MAP_ITEM_SCHEMA

        api = self.api
        computed = ("maskError", "maskGeometry", "gcps", "layerIds")
        keep = [f for f in MAP_ITEM_SCHEMA.fields if f.name not in computed]
        schema = T.StructType(
            keep
            + [
                T.StructField("mask", MASK_BODY_SCHEMA["mask"].dataType),
                T.StructField("gcps", MASK_BODY_SCHEMA["gcps"].dataType),
                T.StructField("mask_fetch_error", T.StringType()),
                T.StructField("layerIds", T.ArrayType(T.LongType())),
            ]
        )
        rows = []
        for k in self.landed:
            item = fakeapi.map_item(api, k)
            body, err = None, None
            if item["mask_status"] in ("masked", "masking"):
                body = fakeapi.mask_body(api, k)
                err = "HTTP 404: mask not found" if body is None else None
            body = body or {"mask": None, "gcps": None}
            layers = fakeapi.layers_of(api, k) or None
            rows.append(tuple(item[f.name] for f in keep) + (body["mask"], body["gcps"], err, layers))
        maps = enrich_masks(spark.createDataFrame(rows, schema))
        return maps.withColumn("maskError", F.coalesce("mask_fetch_error", "maskError")).drop(
            "mask_fetch_error", "mask"
        )

    def check(self, ctx: Ctx) -> dict[str, str | None]:
        """The last pass's sinks against the mapwarper functions applied
        straight to the generated records; quarantined pages against the
        injected failures; NDJSON line counts against the sinks."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from etl_mapwarper_spark.operators.mapwarper import (
            map_logs,
            map_objects,
            map_relations,
            transform_layers,
        )

        spark, api = ctx.spark, self.api
        if self.last_pass_dir is None:
            return {}
        out = os.path.join(self.last_pass_dir, "out")

        def read(step: str, name: str):
            return spark.read.parquet(os.path.join(out, step, name))

        maps = self.expected_maps(spark).persist()
        layers = spark.createDataFrame(
            [fakeapi.layer_item(api, n) for n in range(1, api.n_layers + 1)],
            read("step0_download", "layers").schema,
        )
        expected = {
            "map_objects": map_objects(maps),
            "layer_objects": transform_layers(layers),
            "relations": map_relations(maps),
            "logs": map_logs(maps),
        }
        # One Spark job for all four outputs: rows are hashed over all
        # their columns, landed rows count +1 and expected rows -1 per
        # hash, so a nonzero sum is a row one side holds more often.
        signed = []
        for name, want in expected.items():
            h = F.xxhash64(*sorted(want.columns)).alias("h")
            signed.append(read("step1_transform", name).select(F.lit(name).alias("out"), h, F.lit(1).alias("d")))
            signed.append(want.select(F.lit(name).alias("out"), h, F.lit(-1).alias("d")))
        per_hash = (
            functools.reduce(DataFrame.unionByName, signed)
            .groupBy("out", "h")
            .agg(F.sum("d").alias("n"), F.count_if(F.col("d") > 0).alias("landed"))
        )
        totals = per_hash.groupBy("out").agg(
            F.sum(F.greatest("n", F.lit(0))).alias("unexpected"),
            F.sum(F.greatest(-F.col("n"), F.lit(0))).alias("missing"),
            F.sum("landed").alias("landed"),
        )
        result: dict[str, str | None] = dict.fromkeys(expected)
        rows = {}
        for r in totals.collect():
            rows[r.out] = r.landed
            if r.unexpected or r.missing:
                result[r.out] = f"{r.unexpected} unexpected and {r.missing} missing rows"
        download = os.path.join(out, "step0_download")
        pages = sorted(pq.read_table(os.path.join(download, "map_errors"), columns=["page"])["page"].to_pylist())
        result["map_errors"] = (
            None if pages == list(api.failed_map_pages)
            else f"quarantined pages {pages} != injected {list(api.failed_map_pages)}"
        )
        n_layer_errors = pq.read_table(os.path.join(download, "layer_errors")).num_rows
        result["layer_errors"] = f"{n_layer_errors} layer pages quarantined, none failed" if n_layer_errors else None
        for sink, n in (
            ("objects", rows.get("map_objects", 0) + rows.get("layer_objects", 0)),
            ("relations", rows.get("relations", 0)),
        ):
            with open(os.path.join(self.last_pass_dir, f"{sink}.ndjson"), "rb") as fh:
                lines = sum(1 for _ in fh)
            result[f"{sink}.ndjson"] = f"{lines} lines != {n} rows" if lines != n else None
        maps.unpersist()
        self.quarantined_pages = len(pages) + n_layer_errors
        self.quarantined_rows = rows.get("logs", 0)
        return result
