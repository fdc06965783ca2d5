"""Paginated-REST source — Spark-first re-expression of the reference's
HTTP ingestion (mapwarper.js:23-26, :49-55, :112-149, :183-199).

The reference crawls a REST API two ways:

1. **Count-first fan-out** (maps, :183-199): request page 1, read
   ``total_entries`` (:185-187), plan ceil(total/per_page) page URLs
   (:49-55), fetch sequentially with a 2 s sleep (:18, :194).
2. **Short-page loop** (layers, :112-149): fetch pages until one comes
   back with fewer than ``per_page`` items (:138-143); fetch errors are
   pushed into the stream as error records, not thrown (:122-129).

Spark mapping (designed for a 1000-executor cluster, tested local):

- Fan-out = ``spark.range(num_pages)`` fetched in ONE Spark task by
  ``max_concurrency`` threads that share one token bucket at the full
  ``requests_per_second``, so at most ``max_concurrency`` requests are
  in flight and the scan's global request rate matches the politeness
  budget no matter how many executors the cluster has. REST
  parallelism is a politeness budget, not a compute need, and every
  Python task pays a fixed worker start-up cost (BASELINE.md, "The
  per-Python-task floor"), so a fetch is one task. The reference's
  ``H.series()`` (concurrency 1) is the degenerate case
  ``max_concurrency=1``: strictly serial.
  The budget is per scan, not per process: two scans of one endpoint
  running at once would each spend it, so ``pipeline.download``
  overlaps only scans of different endpoints.
- Short-page termination is inherently sequential; we fetch in *waves*
  of ``wave_size`` pages (driver loop), stopping after the first wave
  that contains a short or failed page — at most ``wave_size - 1``
  wasted requests, with full parallelism inside a wave.
- Every fetch adds one **result struct** ``(url, status, ok, body,
  error)`` to the row whose key it requested — error-as-data
  (:122-129); callers split ok/error with two filters and parse bodies
  JVM-side via ``from_json``. Page scans, keyed fetches and the mask
  fetch share one fetch path (``_fetch``, one ``mapInArrow`` task).
- The page format is the Map Warper API's, stated once here: a page
  body is a JSON object whose ``items`` (``_ITEMS_FIELD``) array holds
  the records, and the count probe reads ``total_entries``
  (``_COUNT_FIELD``, :185-187).
- The short-page loop stops at ``_MAX_PAGES`` pages. An API that has
  served that many full pages without a short one raises a
  ``RuntimeError`` naming the cap; the loop never returns a truncated
  scan as if it were complete.
- Retry/timeout mirror GOT_OPTIONS (:12-16): 25 s timeout, 5 retries,
  exponential backoff. Spark's own task retry is the outer layer.

At 100 TB the right pattern is: land raw pages to object storage with
this source once, then all downstream passes read the parquet/NDJSON
landing zone — re-crawling per query would re-pay the politeness
budget, the slowest resource in the pipeline.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.error
import urllib.request
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fetch result contract: one per requested key, success or not.
FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("body", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)
PAGE_SCHEMA = T.StructType(
    [T.StructField("page", T.IntegerType(), False), *FETCHED_SCHEMA.fields]
)

Fetcher = Callable[[str, float], "FetchResult"]

_ITEMS_FIELD = "items"  # body.items, mapwarper.js:138-143, :195-197
_COUNT_FIELD = "total_entries"  # body.total_entries, :185-187
_MAX_PAGES = 100_000  # short-page scan cap, see _scan_waves


@dataclass(frozen=True)
class FetchResult:
    status: Optional[int]
    body: Optional[str]
    error: Optional[str] = None


@dataclass(frozen=True)
class RestSourceConfig:
    """Scan parameters; defaults mirror the reference's politeness.

    url_template receives ``{page}`` and ``{per_page}``.
    """

    url_template: str
    per_page: int = 250  # PER_PAGE, mapwarper.js:21
    requests_per_second: float = 0.5  # SLEEP_MS=2000, :18
    timeout_s: float = 25.0  # GOT_OPTIONS.timeout, :13
    retries: int = 5  # GOT_OPTIONS.retries, :14
    max_concurrency: int = 1  # H.series(), :194 — raise per API budget
    backoff_s: float = 0.5
    fetcher: Optional[Fetcher] = field(default=None, compare=False)

    def url_for(self, page: int) -> str:
        return self.url_template.format(page=page, per_page=self.per_page)


def http_fetch(url: str, timeout_s: float) -> FetchResult:
    """Stdlib fetch; returns a result, never raises."""
    try:
        with urllib.request.urlopen(url, timeout=timeout_s) as resp:
            return FetchResult(resp.status, resp.read().decode("utf-8"))
    except urllib.error.HTTPError as e:  # non-2xx still has a status
        return FetchResult(e.code, None, f"HTTP {e.code}: {e.reason}")
    except Exception as e:  # timeout, connection refused, DNS …
        return FetchResult(None, None, f"{type(e).__name__}: {e}")


def _fetch_with_retry(config: RestSourceConfig, url: str) -> FetchResult:
    fetch = config.fetcher or http_fetch
    last = FetchResult(None, None, "no attempt made")
    for attempt in range(config.retries + 1):
        last = fetch(url, config.timeout_s)
        if last.error is None:
            return last
        if attempt < config.retries:
            time.sleep(config.backoff_s * (2**attempt))
    return last


class _TokenBucket:
    """One fetch's global limiter: request starts are spaced
    ``1 / rate_per_s`` apart, whichever thread makes them."""

    def __init__(self, rate_per_s: float):
        self._interval = 1.0 / rate_per_s if rate_per_s > 0 else 0.0
        self._next_ok = 0.0
        self._lock = threading.Lock()

    def acquire(self) -> None:
        with self._lock:
            now = time.monotonic()
            at = max(now, self._next_ok)
            self._next_ok = at + self._interval
        if at > now:
            time.sleep(at - now)


def _fetch_partition(
    config: RestSourceConfig, keys: Iterable[int], url_of: Callable[[int], str]
) -> Iterator[tuple]:
    """Fetch ``url_of(key)`` for each key on ``max_concurrency`` threads
    under one token bucket; yields ``(key, url, status, ok, body,
    error)`` in key order.

    At most ``max_concurrency`` requests are in flight and at most that
    many results wait to be yielded; with ``max_concurrency=1`` each
    request starts after the previous one has ended."""
    bucket = _TokenBucket(config.requests_per_second)

    def one(key: int) -> tuple:
        bucket.acquire()
        url = url_of(key)
        r = _fetch_with_retry(config, url)
        return (key, url, r.status, r.error is None, r.body, r.error)

    n = max(config.max_concurrency, 1)
    window: deque = deque()
    with ThreadPoolExecutor(max_workers=n) as pool:
        for key in keys:
            if len(window) == n:
                yield window.popleft().result()
            window.append(pool.submit(one, key))
        while window:
            yield window.popleft().result()


def fetch_count(config: RestSourceConfig) -> int:
    """Driver-side count precheck (reference :183-187; throws if absent)."""
    r = _fetch_with_retry(config, config.url_for(1))
    if r.error is not None:
        raise RuntimeError(f"count request failed: {r.error}")
    body = json.loads(r.body)
    if _COUNT_FIELD not in body:
        raise RuntimeError(f"API response has no {_COUNT_FIELD!r} field")
    return int(body[_COUNT_FIELD])


def _fetch(
    config: RestSourceConfig,
    rows: DataFrame,
    key: str,
    url_of: Callable[[int], str],
) -> DataFrame:
    """``rows`` plus a ``_fetched`` struct (``FETCHED_SCHEMA``, nested so rows
    may have their own ``status``): ``url_of(row[key])``'s result, null where
    ``key`` is null. One ``coalesce(1).mapInArrow`` task; its one fetcher (one
    token bucket, one in-flight window) spans all the task's Arrow batches."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        held: deque = deque()  # (batch, its keys) once the fetcher has them

        def keys() -> Iterator[int]:
            for batch in batches:
                held.append((batch, batch.column(key).to_pylist()))
                yield from (k for k in held[-1][1] if k is not None)

        fetched = _fetch_partition(config, keys(), url_of)
        results = (dict(zip(FETCHED_SCHEMA.names, r[1:])) for r in fetched)
        # The fetcher yields a result only after taking the next key, so the
        # next batch is held by then; pulling the first result fills ``held``.
        results = itertools.chain(list(itertools.islice(results, 1)), results)
        while held:
            batch, ks = held.popleft()
            col = [None if k is None else next(results) for k in ks]
            col = pa.array(col, to_arrow_type(FETCHED_SCHEMA))
            yield batch.append_column("_fetched", col)

    schema = T.StructType(
        [*rows.schema.fields, T.StructField("_fetched", FETCHED_SCHEMA)]
    )
    return rows.coalesce(1).mapInArrow(run, schema)


def scan_pages(
    spark: SparkSession,
    config: RestSourceConfig,
    num_pages: int,
    first_page: int = 1,
) -> DataFrame:
    """Count-first fan-out scan: one result row per page (:49-55, :189-199).

    ``spark.range`` plans the page list cluster-side.
    """
    pages = spark.range(first_page, first_page + num_pages).selectExpr("int(id) page")
    return _fetch(config, pages, "page", config.url_for).select("page", "_fetched.*")


# Columns the short-page probe is allowed to pull to the driver —
# metadata only, never ``body`` (tests pin this contract).
WAVE_META_COLUMNS = ("page", "ok", "n_items", "bad_json")


def _wave_meta(wave: DataFrame) -> DataFrame:
    """Per-page termination metadata, computed JVM-side on executors.

    ``n_items`` = length of the items array (0 when the field is
    absent, mirroring the reference's ``.get('items', [])``);
    ``bad_json`` = body present but not a parseable JSON object.
    """
    raw_items = F.get_json_object("body", f"$.{_ITEMS_FIELD}")
    return wave.select(
        "page",
        "ok",
        F.coalesce(F.json_array_length(raw_items), F.lit(0)).alias("n_items"),
        (
            F.col("body").isNotNull()
            & (
                F.try_parse_json("body").isNull()
                | ~F.startswith(F.ltrim("body"), F.lit("{"))
            )
        ).alias("bad_json"),
    )


def scan_until_short_page(
    spark: SparkSession, config: RestSourceConfig, wave_size: int = 8
) -> DataFrame:
    """Unknown-total scan (reference downloadLayers loop, :112-149).

    Fetches waves of ``wave_size`` pages in parallel; terminates after
    the first wave containing a short page (< per_page items), a failed
    page, or an unparseable body — matching the reference's
    stop-on-short-page contract (:138-143) with error-as-record
    (:122-129).

    Page *bodies* never cross to the driver: each wave is persisted on
    the executors, the driver collects only ``WAVE_META_COLUMNS``
    (page, ok, n_items, bad_json — four scalars per page) to decide
    termination, and the returned DataFrame is the union of the cached
    waves filtered to the accepted page range. Each page is therefore
    fetched exactly once; the politeness budget is paid per wave, not
    per downstream action. At 100 TB scale the same shape holds — the
    driver's working set is O(pages probed), not O(bytes fetched).

    Raises ``RuntimeError`` when ``_MAX_PAGES`` pages come back with no
    short one, rather than return a scan cut short at the cap.
    """
    return _scan_waves(spark, config, wave_size)[0]


def _scan_waves(
    spark: SparkSession, config: RestSourceConfig, wave_size: int = 8
) -> tuple[DataFrame, list[DataFrame]]:
    """``scan_until_short_page`` plus the persisted waves behind it, so
    a caller that has written what it needs can ``unpersist`` them."""
    kept: list[DataFrame] = []
    waves: list[DataFrame] = []
    page = 1
    done = False
    while not done and page <= _MAX_PAGES:
        n = min(wave_size, _MAX_PAGES - page + 1)
        wave = scan_pages(spark, config, n, page).persist()
        waves.append(wave)
        meta = sorted(_wave_meta(wave).collect(), key=lambda r: r.page)
        last_accepted = None  # last page of this wave kept as-is
        bad_json_page = None  # page replaced by an invalid-JSON error row
        for r in meta:
            if not r.ok:
                last_accepted = r.page  # error record kept verbatim
                done = True  # reference falls through after error record
                break
            if r.bad_json:
                bad_json_page = r.page
                done = True
                break
            last_accepted = r.page
            if r.n_items < config.per_page:
                done = True
                break
        if last_accepted is not None:
            kept.append(wave.filter(F.col("page") <= last_accepted))
        if bad_json_page is not None:
            kept.append(
                wave.filter(F.col("page") == bad_json_page).select(
                    "page",
                    "url",
                    "status",
                    F.lit(False).alias("ok"),
                    F.lit(None).cast("string").alias("body"),
                    F.lit("invalid JSON body").alias("error"),
                )
            )
        page += len(meta)
    if not done:
        for wave in waves:
            wave.unpersist()
        raise RuntimeError(
            f"short-page scan of {config.url_template} reached its cap of "
            f"{_MAX_PAGES} pages without a short page"
        )
    if not kept:
        return spark.createDataFrame([], PAGE_SCHEMA), waves
    out = kept[0]
    for w in kept[1:]:
        out = out.unionByName(w)
    return out, waves


def page_items(pages: DataFrame, item_schema: T.StructType) -> DataFrame:
    """Explode ok-pages into item rows — parsing stays JVM-side.

    ``from_json`` + ``explode`` is the reference's ``.map(body =>
    body.items)…flatten()`` (:195-197) with codegen; the page body
    string is the only thing that ever crossed from Python.
    """
    body_schema = T.StructType(
        [T.StructField(_ITEMS_FIELD, T.ArrayType(item_schema))]
    )
    return (
        pages.filter(F.col("ok"))
        .select(
            "page",
            F.explode(
                F.from_json(F.col("body"), body_schema)[_ITEMS_FIELD]
            ).alias("item"),
        )
        .select("page", "item.*")
    )


def page_errors(pages: DataFrame) -> DataFrame:
    """Quarantine stream: failed fetches as data (:122-129)."""
    return pages.filter(~F.col("ok")).select("page", "url", "status", "error")


def fetch_by_key(
    spark: SparkSession, config: RestSourceConfig, keys_df: DataFrame
) -> DataFrame:
    """Per-entity endpoint fetch (reference getMask, mapwarper.js:79-110).

    The reference hits ``…/{mapId}/mask`` once per qualifying map,
    serially. Spark shape: one ``(key, url, status, ok, body, error)``
    row per ``id`` of ``keys_df``, fetched through the same path as the
    page scans (``_fetch``: one task, ``max_concurrency`` threads, one
    token bucket, retry), so at most ``max_concurrency`` requests are
    in flight and the global request rate honors the politeness budget
    on any cluster size. ``url_template`` receives ``{id}``. Errors are
    result rows (error-as-data), mirroring the reference's maskError
    attachment (:90) rather than stream failure.
    """
    keys = keys_df.select(F.col("id").cast("long").alias("key"))
    url_of = lambda k: config.url_template.format(id=k)  # noqa: E731
    return _fetch(config, keys, "key", url_of).select("key", "_fetched.*")


def _inject(url: str, timeout_s: float, inner: Fetcher, pages: tuple, status: int):
    from urllib.parse import parse_qs, urlparse

    page = int(parse_qs(urlparse(url).query).get("page", ["-1"])[0])
    if page in pages:
        return FetchResult(status, None, f"HTTP {status}: injected failure")
    return inner(url, timeout_s)


def with_injected_failures(
    inner: Fetcher, pages: Iterable[int], status: int = 500
) -> Fetcher:
    """Fault-injection wrapper: the given pages fail with an HTTP
    error result. Module-level (picklable) — usable from executors for
    testing the error-quarantine path end-to-end."""
    import functools

    return functools.partial(
        _inject, inner=inner, pages=tuple(pages), status=status
    )
