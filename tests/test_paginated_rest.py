"""Paginated-REST source: scan contract tests against a real local
HTTP server (count-first fan-out, short-page loop, retry, error-as-
record) plus NDJSON round-trip. Mirrors the reference's iterator
contract (mapwarper.js:112-149, :183-199)."""

from __future__ import annotations

import json
import os
import sys
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from etl_mapwarper_spark.sources.paginated_rest import (  # noqa: E402
    FetchResult,
    RestSourceConfig,
    fetch_count,
    http_fetch,
    page_errors,
    page_items,
    scan_pages,
    scan_until_short_page,
)

TOTAL = 537
PER_PAGE = 100

_fail_counts: dict[int, int] = {}  # page -> remaining failures
_fail_lock = threading.Lock()


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # silence
        pass

    def do_GET(self):
        q = parse_qs(urlparse(self.path).query)
        page = int(q.get("page", ["1"])[0])
        per_page = int(q.get("per_page", [str(PER_PAGE)])[0])
        if self.path.startswith("/flaky"):
            with _fail_lock:
                remaining = _fail_counts.get(page, 0)
                if remaining > 0:
                    _fail_counts[page] = remaining - 1
                    self.send_response(503)
                    self.end_headers()
                    return
        if self.path.startswith("/broken"):
            self.send_response(500)
            self.end_headers()
            return
        lo = (page - 1) * per_page
        hi = min(lo + per_page, TOTAL)
        body = json.dumps(
            {
                "total_entries": TOTAL,
                "items": [{"id": i, "name": f"rec-{i}"} for i in range(lo, hi)],
            }
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


ITEM = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
)


def _cfg(base: str, path: str = "/items.json", **kw) -> RestSourceConfig:
    defaults = dict(
        url_template=base + path + "?per_page={per_page}&page={page}",
        per_page=PER_PAGE,
        requests_per_second=1e9,
        max_concurrency=4,
        retries=0,
        backoff_s=0.01,
    )
    defaults.update(kw)
    return RestSourceConfig(**defaults)


def test_fetch_count(server):
    assert fetch_count(_cfg(server)) == TOTAL


def test_count_first_fanout_full_scan(spark, server):
    cfg = _cfg(server)
    n_pages = -(-TOTAL // PER_PAGE)
    pages = scan_pages(spark, cfg, n_pages)
    items = page_items(pages, ITEM)
    got = sorted(r.id for r in items.collect())
    assert got == list(range(TOTAL))
    assert page_errors(pages).count() == 0


def test_short_page_termination(spark, server):
    cfg = _cfg(server)
    pages = scan_until_short_page(spark, cfg, wave_size=3)
    # 537 items / 100 per page -> stops at page 6 (37 items, short);
    # wave_size=3 means at most pages 1..6 fetched (2 waves), never 7+.
    fetched = sorted(r.page for r in pages.collect())
    assert fetched == [1, 2, 3, 4, 5, 6]
    items = page_items(pages, ITEM)
    assert items.count() == TOTAL


def test_retry_recovers_from_transient_failures(spark, server):
    with _fail_lock:
        _fail_counts.clear()
        _fail_counts.update({1: 2, 2: 1})  # fail page1 twice, page2 once
    cfg = _cfg(server, path="/flaky.json", retries=3)
    pages = scan_pages(spark, cfg, 2)
    assert page_errors(pages).count() == 0
    assert page_items(pages, ITEM).count() == 2 * PER_PAGE


def test_error_as_record_not_exception(spark, server):
    cfg = _cfg(server, path="/broken.json")
    pages = scan_pages(spark, cfg, 3)
    errs = page_errors(pages).collect()
    assert len(errs) == 3
    assert all(e.status == 500 for e in errs)
    assert all("500" in e.error for e in errs)
    assert page_items(pages, ITEM).count() == 0  # no exception raised


def test_http_fetch_connection_error_is_record():
    r = http_fetch("http://127.0.0.1:1/nothing", timeout_s=0.5)
    assert r.error is not None and r.status is None


def test_token_bucket_rate(spark, server):
    import time

    cfg = _cfg(server, requests_per_second=10.0, max_concurrency=1)
    t0 = time.monotonic()
    scan_pages(spark, cfg, 5).collect()
    elapsed = time.monotonic() - t0
    # 5 requests at 10 rps through one partition >= ~0.4s of spacing
    assert elapsed >= 0.35


def test_page_items_keeps_parsing_jvm_side(spark, server):
    cfg = _cfg(server)
    items = page_items(scan_pages(spark, cfg, 1), ITEM)
    plan = items._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" in plan  # parse is a Catalyst expression


def test_fetch_by_key_roundtrip_and_errors(spark, server):
    from etl_mapwarper_spark.sources.paginated_rest import fetch_by_key

    keys = spark.range(1, 6).select(F.col("id"))
    cfg = _cfg(server)
    # keyed template: only {id} is substituted
    cfg = RestSourceConfig(
        url_template=server + "/items.json?per_page=10&page={id}",
        requests_per_second=1e9,
        max_concurrency=3,
        retries=0,
    )
    rows = fetch_by_key(spark, cfg, keys).collect()
    assert sorted(r.key for r in rows) == [1, 2, 3, 4, 5]
    assert all(r.ok and r.status == 200 and r.body for r in rows)
    assert all(f"page={r.key}" in r.url for r in rows)

    broken = RestSourceConfig(
        url_template=server + "/broken?page={id}",
        requests_per_second=1e9,
        max_concurrency=2,
        retries=0,
    )
    errs = fetch_by_key(spark, broken, keys).collect()
    assert all((not r.ok) and r.error for r in errs)
    assert len(errs) == 5


def test_fetch_masks_gates_and_parses(spark):
    from etl_mapwarper_spark.operators.enrichment import fetch_masks
    from etl_mapwarper_spark.operators.pipeline_queries import _serve_mask

    maps = spark.createDataFrame(
        [(3, "masked"), (5, "masking"), (10, "unmasked"), (11, None)],
        "id long, mask_status string",
    )
    cfg = RestSourceConfig(
        url_template="http://fake/maps/{id}/mask.json",
        requests_per_second=1e9,
        max_concurrency=2,
        retries=0,
        fetcher=_serve_mask,
    )
    out = {r["id"]: r for r in fetch_masks(spark, maps, cfg).collect()}
    assert out[3]["mask"] is not None and len(out[3]["gcps"]) == 4
    assert out[5]["mask"] is not None
    # unmasked / null-status rows never fetched
    assert out[10]["mask"] is None and out[11]["mask"] is None
    assert all(out[k]["mask_fetch_error"] is None for k in out)


def test_rest_datasource_matches_imperative_scan(spark):
    from etl_mapwarper_spark.operators.ingestion import (
        src_rest_datasource,
        src_rest_scan,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    a = src_rest_scan(spark, sf).orderBy("id").collect()
    b = src_rest_datasource(spark, sf).orderBy("id").collect()
    assert a == b and len(a) == 1234


def test_short_page_driver_never_collects_bodies(spark, server, monkeypatch):
    """The short-page probe's driver-side payload is page METADATA only
    (WAVE_META_COLUMNS) — item bodies must stay on executors."""
    from etl_mapwarper_spark.sources.paginated_rest import WAVE_META_COLUMNS

    # patch the concrete class (pyspark.sql.classic), not the ABC —
    # instance method lookup never reaches the base's collect
    _DF = type(spark.range(1))

    seen: list[list[str]] = []
    orig = _DF.collect

    def spy(self):
        seen.append([f.name for f in self.schema.fields])
        return orig(self)

    monkeypatch.setattr(_DF, "collect", spy)
    pages = scan_until_short_page(spark, _cfg(server), wave_size=3)
    assert seen, "probe must have collected wave metadata"
    assert all("body" not in cols for cols in seen), (
        f"driver collected page bodies: {seen}"
    )
    assert all(set(cols) <= set(WAVE_META_COLUMNS) for cols in seen)
    monkeypatch.setattr(_DF, "collect", orig)
    # result still complete and correct after the probe
    assert sorted(r.page for r in pages.collect()) == [1, 2, 3, 4, 5, 6]


def test_short_page_invalid_json_becomes_error_record(spark, server):
    """A page whose body is not a JSON object terminates the scan with
    an error-as-data row (ok=False, body dropped), reference :122-129."""
    def bad_json_fetch(url, timeout_s):
        if "page=3" in url:
            return FetchResult(200, "not json at all {")
        return http_fetch(url, timeout_s)

    cfg = _cfg(server, fetcher=bad_json_fetch)
    pages = scan_until_short_page(spark, cfg, wave_size=2)
    rows = {r.page: r for r in pages.collect()}
    assert sorted(rows) == [1, 2, 3]
    assert rows[3].ok is False
    assert rows[3].body is None
    assert rows[3].error == "invalid JSON body"
    assert rows[1].ok and rows[2].ok


def test_short_page_scan_raises_at_its_page_cap(spark, server, monkeypatch):
    """An API that never serves a short page stops the scan at the page
    cap with an error naming it, not a silently truncated result; the
    waves it persisted are released."""
    from etl_mapwarper_spark.sources import paginated_rest

    def full_page_fetch(url, timeout_s):
        items = [{"id": 1, "name": "rec-1"}] * PER_PAGE
        return FetchResult(200, json.dumps({"items": items}))

    monkeypatch.setattr(paginated_rest, "_MAX_PAGES", 5)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(RuntimeError, match="cap of 5 pages"):
        scan_until_short_page(
            spark, _cfg(server, fetcher=full_page_fetch), wave_size=2
        )
    assert persistent().size() == before


# --- fetch contract: one task, bounded in flight, one global rate ---------


@pytest.mark.parametrize("concurrency", [1, 3, 8])
def test_each_fetch_plans_one_partition(spark, server, concurrency):
    """REST parallelism is threads inside one task, never partitions."""
    from etl_mapwarper_spark.sources.paginated_rest import fetch_by_key
    from etl_mapwarper_spark.sources.rest_datasource import register

    cfg = _cfg(server, max_concurrency=concurrency)
    keyed = RestSourceConfig(
        url_template=server + "/items.json?per_page=10&page={id}",
        max_concurrency=concurrency,
    )
    register(spark)
    source = (
        spark.read.format("paginated_rest")
        .option("url_template", cfg.url_template)
        .option("total_pages", 20)
        .option("max_concurrency", concurrency)
        .load()
    )
    for df in (
        scan_pages(spark, cfg, 20),
        fetch_by_key(spark, keyed, spark.range(1, 21).repartition(5)),
        source,
    ):
        assert df.rdd.getNumPartitions() == 1


def _timed_fetcher(log: str, sleep_s: float = 0.05):
    """A fetcher that takes ``sleep_s`` and appends its request's
    monotonic start and end times and its URL to ``log``. It serves an
    empty page, which for ``…/{k}/mask.json`` also carries the mask
    ``[[k, k]]``."""

    def fetch(url, timeout_s):
        import time

        t0 = time.monotonic()
        time.sleep(sleep_s)
        t1 = time.monotonic()
        with open(log, "a") as fh:
            fh.write(f"{t0!r} {t1!r} {url}\n")
        body = {"items": []}
        if url.endswith("/mask.json"):
            k = float(url.split("/")[-2])
            body.update(mask=[[k, k]], gcps=[])
        return FetchResult(200, json.dumps(body))

    return fetch


def _spans(log: str) -> list[tuple[float, float]]:
    with open(log) as fh:
        return [tuple(map(float, line.split()[:2])) for line in fh]


def _urls(log: str) -> Counter:
    with open(log) as fh:
        return Counter(line.split()[2] for line in fh)


def _max_in_flight(spans: list[tuple[float, float]]) -> int:
    # (t, -1) sorts before (t, +1): a request that ends as another
    # starts does not overlap it
    events = sorted([(t0, 1) for t0, _ in spans] + [(t1, -1) for _, t1 in spans])
    depth = peak = 0
    for _, d in events:
        depth += d
        peak = max(peak, depth)
    return peak


@pytest.mark.parametrize("via", ["scan_pages", "fetch_by_key"])
@pytest.mark.parametrize("concurrency", [1, 4])
def test_in_flight_requests_stay_within_max_concurrency(
    spark, tmp_path, via, concurrency
):
    from etl_mapwarper_spark.sources.paginated_rest import fetch_by_key

    log = str(tmp_path / "requests.log")
    cfg = RestSourceConfig(
        url_template=(
            "http://fake/p.json?page={page}"
            if via == "scan_pages"
            else "http://fake/k/{id}.json"
        ),
        requests_per_second=1e9,
        max_concurrency=concurrency,
        retries=0,
        fetcher=_timed_fetcher(log),
    )
    if via == "scan_pages":
        rows = scan_pages(spark, cfg, 12).collect()
    else:
        rows = fetch_by_key(spark, cfg, spark.range(1, 13)).collect()
    assert len(rows) == 12 and all(r.ok for r in rows)
    spans = _spans(log)
    assert len(spans) == 12
    peak = _max_in_flight(spans)
    if concurrency == 1:
        assert peak == 1  # strictly serial, as the reference's H.series()
    else:
        assert 2 <= peak <= concurrency


def test_rate_is_global_across_threads(spark, tmp_path):
    """Nine requests at 20 req/s take >= 0.4 s however many threads
    share them: the token bucket is one per fetch, not one per thread."""
    log = str(tmp_path / "requests.log")
    cfg = RestSourceConfig(
        url_template="http://fake/p.json?page={page}",
        requests_per_second=20.0,
        max_concurrency=4,
        retries=0,
        fetcher=_timed_fetcher(log),
    )
    assert len(scan_pages(spark, cfg, 9).collect()) == 9
    spans = _spans(log)
    assert len(spans) == 9
    assert max(t1 for _, t1 in spans) - min(t0 for t0, _ in spans) >= 0.4


def test_token_bucket_loses_no_slot_under_thread_contention(monkeypatch):
    """Every acquire reserves its own slot. With the clock frozen and
    sleeps skipped, 16 threads x 1,000 acquires at 1/s must leave the
    next slot at exactly 16,000 s; a lost read-modify-write of the slot
    leaves it short."""
    import types

    from etl_mapwarper_spark.sources import paginated_rest

    monkeypatch.setattr(
        paginated_rest,
        "time",
        types.SimpleNamespace(monotonic=lambda: 0.0, sleep=lambda s: None),
    )
    bucket = paginated_rest._TokenBucket(1.0)

    def hammer():
        for _ in range(1000):
            bucket.acquire()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert bucket._next_ok == 16_000.0


# --- in-line fetch: rows pass through, results stay on their own row -------


@pytest.fixture
def two_row_batches(spark):
    """Arrow batches of two rows, so every fetch spans several batches."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    yield
    spark.conf.set(conf, old)


def _mask_cfg(fetcher, **kw) -> RestSourceConfig:
    defaults = dict(requests_per_second=1e9, max_concurrency=4, retries=0)
    defaults.update(kw)
    return RestSourceConfig(
        url_template="http://fake/maps/{id}/mask.json", fetcher=fetcher, **defaults
    )


def test_fetch_masks_keeps_columns_named_like_fetch_results(spark, tmp_path):
    """Map rows that carry ``status``, ``url``, ``ok``, ``body`` and
    ``error`` columns of their own come out of ``fetch_masks`` unchanged:
    the fetch result is one struct beside them, never flat columns."""
    from etl_mapwarper_spark.operators.enrichment import fetch_masks

    maps = spark.createDataFrame(
        [
            (1, "masked", "active", "u1", True, "b1", None),
            (2, "unmasked", "draft", None, False, None, "e2"),
        ],
        "id long, mask_status string, status string, url string, "
        "ok boolean, body string, error string",
    )
    log = str(tmp_path / "requests.log")
    out = fetch_masks(spark, maps, _mask_cfg(_timed_fetcher(log, 0.0)))
    assert out.columns == maps.columns + ["mask", "gcps", "mask_fetch_error"]
    assert sorted(out.select(*maps.columns).collect()) == sorted(maps.collect())
    assert {r.id: r.mask for r in out.collect()} == {1: [[1.0, 1.0]], 2: None}


def test_fetch_masks_fetches_map_id_zero(spark, tmp_path):
    """A masked map with id 0 is fetched: 0 is a key, not a missing one."""
    from etl_mapwarper_spark.operators.enrichment import fetch_masks

    maps = spark.createDataFrame(
        [(0, "masked"), (1, "masking")], "id long, mask_status string"
    )
    log = str(tmp_path / "requests.log")
    out = fetch_masks(spark, maps, _mask_cfg(_timed_fetcher(log, 0.0)))
    assert {r.id: r.mask for r in out.collect()} == {
        0: [[0.0, 0.0]],
        1: [[1.0, 1.0]],
    }
    assert _urls(log) == Counter(
        f"http://fake/maps/{k}/mask.json" for k in (0, 1)
    )


def test_fetch_spans_arrow_batches_with_one_window(
    spark, tmp_path, two_row_batches
):
    """With two-row Arrow batches, each row still gets its own fetch
    result, each key is requested once, and the fetch keeps one in-flight
    window across batches: more than one batch's requests overlap, never
    more than ``max_concurrency``."""
    from etl_mapwarper_spark.operators.enrichment import fetch_masks

    ids = range(14)
    maps = spark.createDataFrame(
        [(k, "unmasked" if k % 3 == 2 else "masked") for k in ids],
        "id long, mask_status string",
    )
    log = str(tmp_path / "requests.log")
    rows = fetch_masks(spark, maps, _mask_cfg(_timed_fetcher(log))).collect()
    masked = [k for k in ids if k % 3 != 2]
    assert {r.id: r.mask for r in rows} == {
        k: [[float(k), float(k)]] if k in masked else None for k in ids
    }
    assert all(r.mask_fetch_error is None for r in rows)
    assert _urls(log) == Counter(f"http://fake/maps/{k}/mask.json" for k in masked)
    assert 3 <= _max_in_flight(_spans(log)) <= 4


def test_rate_is_global_across_arrow_batches(spark, tmp_path, two_row_batches):
    """Nine requests at 20 req/s span >= 0.4 s when each Arrow batch
    carries two keys: the token bucket is one per fetch, not one per
    batch (a bucket per batch lets each batch start at once)."""
    from etl_mapwarper_spark.sources.paginated_rest import fetch_by_key

    log = str(tmp_path / "requests.log")
    cfg = RestSourceConfig(
        url_template="http://fake/k/{id}.json",
        requests_per_second=20.0,
        max_concurrency=4,
        retries=0,
        fetcher=_timed_fetcher(log, 0.0),
    )
    assert len(fetch_by_key(spark, cfg, spark.range(9)).collect()) == 9
    spans = _spans(log)
    assert len(spans) == 9
    assert max(t1 for _, t1 in spans) - min(t0 for t0, _ in spans) >= 0.4


def test_all_failed_mask_batch_writes(spark, tmp_path, two_row_batches):
    """A batch whose masked fetches all fail (one with no HTTP status),
    on maps whose ``layerIds`` are null, writes without a worker error,
    and every failure lands in ``maskError``."""
    from etl_mapwarper_spark.operators.enrichment import enrich_masks, fetch_masks

    def fail(url, timeout_s):
        if "/1/" in url:
            return FetchResult(None, None, "ConnectionError: refused")
        return FetchResult(404, None, "HTTP 404: mask not found")

    maps = spark.createDataFrame(
        [
            (1, "masked", None),
            (2, "masked", None),
            (3, "unmasked", None),
            (5, "unmasked", None),
            (4, "masked", [7]),
        ],
        "id long, mask_status string, layerIds array<long>",
    )
    out = enrich_masks(fetch_masks(spark, maps, _mask_cfg(fail)))
    out = out.withColumn(
        "maskError", F.coalesce("mask_fetch_error", "maskError")
    ).drop("mask_fetch_error", "mask")
    path = str(tmp_path / "maps")
    out.write.parquet(path)
    got = {
        r.id: (r.maskError, r.layerIds)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        1: ("ConnectionError: refused", None),
        2: ("HTTP 404: mask not found", None),
        3: (None, None),
        5: (None, None),
        4: ("HTTP 404: mask not found", [7]),
    }
