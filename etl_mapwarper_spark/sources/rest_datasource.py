"""Paginated REST as a Spark 4 Python DataSource (DataSource V2 API).

``sources/paginated_rest.py`` drives the crawl imperatively (one
``mapInArrow`` task over a page-number range). This module exposes the
same scan as a REGISTERED SOURCE —
``spark.read.format("paginated_rest")`` — which is the idiomatic
Spark 4 surface: the planner sees a real relation, partition
planning lives in ``partitions()``, and any SQL
user can consume the API without touching Python plumbing
(SURVEY.md §2.B "Scans/sources"; reference crawl semantics
mapwarper.js:49-55, :183-199).

Contract mirrors the imperative scanner:
- one output row per page, PAGE_SCHEMA-shaped (page/url/status/ok/
  body/error) — error-as-data (:122-129); item explosion stays
  JVM-side via ``page_items`` / ``from_json``;
- all pages are one input partition, fetched by ``max_concurrency``
  threads under one token bucket, so at most ``max_concurrency``
  requests are in flight and the global request rate honors the
  politeness budget on any cluster size;
- retry/timeout mirror GOT_OPTIONS (:12-16).

Options (all strings, per the DataSource API):
  url_template   required; receives {page} and {per_page}
  total_pages    required; count-first fan-out is the caller's
                 ``fetch_count`` (the reference's :183-187 precheck)
  per_page, max_concurrency, requests_per_second, timeout_s,
  retries, backoff_s   as in RestSourceConfig
  fetcher        optional "module.path:attr" of an importable fetcher
                 (url, timeout_s) -> FetchResult — used by tests and
                 mock servers; omitted = stdlib HTTP fetch
"""

from __future__ import annotations

import importlib
from dataclasses import fields

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from .paginated_rest import PAGE_SCHEMA, RestSourceConfig, _fetch_partition


def _resolve_fetcher(path: str):
    mod, _, attr = path.partition(":")
    return getattr(importlib.import_module(mod), attr)


def _config_from_options(options: dict) -> RestSourceConfig:
    """Each numeric ``RestSourceConfig`` field is an option; its type
    and default are the dataclass field's."""
    kw = {
        f.name: type(f.default)(options[f.name])
        for f in fields(RestSourceConfig)
        if isinstance(f.default, (int, float)) and f.name in options
    }
    if "fetcher" in options:
        kw["fetcher"] = _resolve_fetcher(options["fetcher"])
    return RestSourceConfig(options["url_template"], **kw)


class _Pages(InputPartition):
    def __init__(self, pages: list[int]):
        self.pages = pages


def _read(options: dict, partition: _Pages):
    cfg = _config_from_options(options)
    return _fetch_partition(cfg, partition.pages, cfg.url_for)


class PaginatedRestReader(DataSourceReader):
    def __init__(self, options: dict):
        self._options = dict(options)
        self._total_pages = int(options["total_pages"])

    def partitions(self):
        return [_Pages(list(range(1, self._total_pages + 1)))]

    def read(self, partition: _Pages):
        return _read(self._options, partition)


class PaginatedRestStreamReader(DataSourceStreamReader):
    """Incremental page ingestion as a STREAMING source.

    The offset is the page high-water mark: ``latestOffset`` reports
    how many pages the API currently exposes (``available_pages``),
    Spark plans the [committed, latest) delta, and ``read`` fetches
    those pages on EXECUTORS — the driver only moves page numbers.
    With a checkpoint, repeated ``availableNow`` runs land each run's
    newly-published pages exactly once: the streaming counterpart of
    the reference's re-crawl (the mapwarper pipeline re-downloads the
    full API each run; the offset log turns that into an incremental
    crawl).
    """

    def __init__(self, options: dict):
        self._options = dict(options)
        self._available = int(options.get("available_pages", 0))

    def initialOffset(self):
        return {"page": 0}

    def latestOffset(self):
        return {"page": self._available}

    def partitions(self, start, end):
        # One partition per microbatch, also when the delta is empty:
        # Spark requires >=1
        return [_Pages(list(range(start["page"] + 1, end["page"] + 1)))]

    def read(self, partition: _Pages):
        return _read(self._options, partition)

    def commit(self, end) -> None:
        pass


class PaginatedRestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paginated_rest"

    def schema(self):
        return PAGE_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return PaginatedRestReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return PaginatedRestStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(PaginatedRestDataSource)
