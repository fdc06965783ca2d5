"""Seeded in-process fake of the Map Warper REST API.

Four endpoints, served through the ``RestSourceConfig.fetcher`` hook:

- ``maps.json?page=&per_page=``: map items plus ``total_entries``
  (count-first fan-out); a fixed share of pages fails with HTTP 500;
- ``layers.json?page=&per_page=``: layer items (short-page loop);
- ``map_layers.json?page=&per_page=``: map-to-layer membership pairs
  (short-page loop);
- ``maps/<id>/mask.json``: pixel-space mask ring and GCPs (keyed fetch).

Every record is a pure function of ``(seed, kind, id)``, so any worker
can serve any page. Handlers are module-level and the API description
is a frozen dataclass, so ``functools.partial(serve, api=...)`` pickles
to the Python workers like ``operators/pipeline_queries._serve``.

Each served request appends ``endpoint<TAB>key<TAB>busy_ns<TAB>bytes`` to a
per-process file under ``api.log_dir``; ``read_log`` sums them, so the
request counts are exact across workers and repeat for a given seed.
"""

from __future__ import annotations

import functools
import json
import math
import os
import random
import time
from collections import Counter
from dataclasses import dataclass, replace
from urllib.parse import parse_qs, urlparse

from etl_mapwarper_spark.sources.paginated_rest import FetchResult

HOST = "http://mapwarper.test"
# Pairs per block of 4 maps: map k carries (k - 1) % 4 layers (0+1+2+3).
_PAIRS_PER_BLOCK = 6


@dataclass(frozen=True)
class FakeApi:
    seed: int
    n_maps: int
    n_layers: int
    maps_per_page: int = 250
    layers_per_page: int = 50
    membership_per_page: int = 250
    failed_map_pages: tuple = ()
    log_dir: str = ""
    driver_pid: int = 0

    @property
    def map_pages(self) -> int:
        return -(-self.n_maps // self.maps_per_page)

    @property
    def n_pairs(self) -> int:
        full, rest = divmod(self.n_maps, 4)
        return full * _PAIRS_PER_BLOCK + sum(range(rest))

    def logging_to(self, log_dir: str) -> "FakeApi":
        os.makedirs(log_dir, exist_ok=True)
        return replace(self, log_dir=log_dir, driver_pid=os.getpid())


def build(seed: int, n_maps: int, n_layers: int, failed_page_share: float = 0.01, **per_page) -> FakeApi:
    api = FakeApi(seed=seed, n_maps=n_maps, n_layers=n_layers, **per_page)
    # Page 1 carries the count probe, so it never fails.
    candidates = list(range(2, api.map_pages + 1))
    k = min(len(candidates), max(1, round(api.map_pages * failed_page_share)))
    failed = tuple(sorted(random.Random(f"{seed}:failed").sample(candidates, k)))
    return replace(api, failed_map_pages=failed)


def _rng(api: FakeApi, kind: str, key: int) -> random.Random:
    return random.Random(f"{api.seed}:{kind}:{key}")


def _year(r: random.Random, missing: float) -> str | None:
    return None if r.random() < missing else str(r.randint(1820, 1950))


def map_item(api: FakeApi, k: int) -> dict:
    r = _rng(api, "map", k)
    u = r.random()
    uuid = None if u < 0.05 else "" if u < 0.07 else f"inset-{k}" if u < 0.15 else f"uuid-{k}"
    w = -74.3 + r.random() * 0.4
    s = 40.5 + r.random() * 0.4
    return {
        "id": k,
        "title": f"Map {k}",
        "description": None if r.random() < 0.1 else f"Description of map {k}",
        "nypl_digital_id": None if r.random() < 0.05 else f"img-{k}",
        "uuid": uuid,
        "parent_uuid": f"uuid-{k // 2}" if uuid and uuid.startswith("inset") else None,
        "bbox": None if r.random() < 0.05 else f"{w:.4f},{s:.4f},{w + 0.05:.4f},{s + 0.05:.4f}",
        "map_type": "not_map" if r.random() < 0.08 else "is_map",
        "status": r.choices(["warped", "published", "unwarped"], [6, 3, 1])[0],
        "mask_status": r.choices(["masked", "masking", "unmasked"], [70, 10, 20])[0],
        "transform_options": "affine",
        "depicts_year": _year(r, 0.25),
        "issue_year": _year(r, 0.3),
    }


def layer_item(api: FakeApi, n: int) -> dict:
    r = _rng(api, "layer", n)
    w = -74.3 + r.random() * 0.4
    s = 40.5 + r.random() * 0.4
    return {
        "id": n,
        "name": f"Layer {n}",
        "depicts_year": _year(r, 0.2),
        "issue_year": _year(r, 0.3),
        "maps_count": r.randint(0, 400),
        "bbox": None if r.random() < 0.15 else f"{w:.4f},{s:.4f},{w + 0.2:.4f},{s + 0.2:.4f}",
    }


def membership_pair(api: FakeApi, i: int) -> dict:
    """The i-th (0-based) map-to-layer pair; map k has (k - 1) % 4 layers."""
    block, j = divmod(i, _PAIRS_PER_BLOCK)
    slot = 1 if j < 1 else 2 if j < 3 else 3  # which map of the block
    k = block * 4 + slot + 1  # map ids start at 1; id k has (k-1) % 4 pairs
    nth = j - (0, 0, 1, 3)[slot]
    layer = 1 + _rng(api, "member", k * 4 + nth).randrange(api.n_layers)
    return {"map_id": k, "layer_id": layer}


def layers_of(api: FakeApi, k: int) -> list[int]:
    """Sorted distinct layer ids of map k (what membership attaches)."""
    n = (k - 1) % 4
    return sorted({1 + _rng(api, "member", k * 4 + j).randrange(api.n_layers) for j in range(n)})


def mask_body(api: FakeApi, k: int) -> dict | None:
    """Mask ring and GCPs of map k, or None when the endpoint fails."""
    r = _rng(api, "mask", k)
    u = r.random()
    if u < 0.03:
        return None
    w, h = float(r.randint(100, 400)), float(r.randint(80, 300))
    if u < 0.06:  # self-intersecting bow-tie
        ring = [[0.0, 0.0], [w, h], [w, 0.0], [0.0, h], [0.0, 0.0]]
    elif u < 0.08:  # too few points
        ring = [[0.0, 0.0], [w, 0.0], [0.0, 0.0]]
    else:
        ring = [[0.0, 0.0], [w, 0.0], [w, h], [0.0, h], [0.0, 0.0]]
    a, e = (r.randint(1, 3)) * 1e-4, (r.randint(2, 3)) * 5e-5
    c = 250.0 if 0.08 <= u < 0.10 else -74.2 + r.random() * 0.3  # invalid longitudes
    f = 40.6 + r.random() * 0.2
    corners = [(0.0, 0.0), (w, 0.0), (0.0, h), (w, h)]
    if 0.10 <= u < 0.14:  # too short a GCP set for an affine fit
        corners = corners[:2]
    gcps = [[px, py, e * py + f, a * px + c] for px, py in corners]
    return {"mask": ring, "gcps": gcps}


def _page(url: str) -> tuple[int, int]:
    q = parse_qs(urlparse(url).query)
    return int(q["page"][0]), int(q["per_page"][0])


def _respond(api: FakeApi, url: str) -> tuple[str, int, FetchResult]:
    path = urlparse(url).path
    if path.endswith("/mask.json"):
        k = int(path.split("/")[-2])
        body = mask_body(api, k)
        if body is None:
            return "masks", k, FetchResult(404, None, "HTTP 404: mask not found")
        return "masks", k, FetchResult(200, json.dumps(body))
    page, per_page = _page(url)
    lo = (page - 1) * per_page
    if path.endswith("/maps.json"):
        endpoint = "count" if os.getpid() == api.driver_pid else "maps"
        if page in api.failed_map_pages and endpoint == "maps":
            return endpoint, page, FetchResult(500, None, "HTTP 500: injected failure")
        ids = range(lo + 1, min(lo + per_page, api.n_maps) + 1)
        items = [map_item(api, k) for k in ids]
        body = {"total_entries": api.n_maps, "items": items}
    elif path.endswith("/map_layers.json"):
        endpoint = "membership"
        body = {"items": [membership_pair(api, i) for i in range(lo, min(lo + per_page, api.n_pairs))]}
    else:
        endpoint = "layers"
        ids = range(lo + 1, min(lo + per_page, api.n_layers) + 1)
        body = {"items": [layer_item(api, n) for n in ids]}
    return endpoint, page, FetchResult(200, json.dumps(body))


def serve(url: str, timeout_s: float, api: FakeApi) -> FetchResult:
    t0 = time.perf_counter_ns()
    endpoint, key, result = _respond(api, url)
    busy = time.perf_counter_ns() - t0
    if api.log_dir:
        path = os.path.join(api.log_dir, f"{os.getpid()}.log")
        with open(path, "a", encoding="ascii") as fh:
            fh.write(f"{endpoint}\t{key}\t{busy}\t{len(result.body or '')}\n")
    return result


def fetcher(api: FakeApi):
    return functools.partial(serve, api=api)


@dataclass(frozen=True)
class ApiLog:
    requests: Counter  # endpoint -> requests served
    keys: dict  # endpoint -> Counter(key -> requests)
    busy_s: float
    bytes_served: int


def read_log(log_dir: str) -> ApiLog:
    requests: Counter = Counter()
    keys: dict = {}
    busy = served = 0
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="ascii") as fh:
            for line in fh:
                endpoint, key, ns, size = line.rstrip("\n").split("\t")
                requests[endpoint] += 1
                keys.setdefault(endpoint, Counter())[int(key)] += 1
                busy += int(ns)
                served += int(size)
    return ApiLog(requests, keys, busy / 1e9, served)


def pages_needed(n_items: int, per_page: int) -> int:
    """Pages a short-page loop must read: a full last page needs one
    more (empty) page to prove the stream ended."""
    return n_items // per_page + 1 if n_items % per_page == 0 else math.ceil(n_items / per_page)
