"""Tests for the benchmark's own code (not for the engine).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import fakeapi, host, oracle, run, stats, trace  # noqa: E402


# -- percentiles ------------------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(1000, 99), (200, 95), (199, 90), (100, 90), (99, 75), (40, 75), (39, 50), (20, 50), (19, None)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0.0) == 1.0
    assert stats.percentile(xs, 1.0) == 4.0
    assert stats.percentile(xs, 0.5) == 2.5


def test_steal_share_is_the_steal_column_of_the_delta():
    before = [100, 0, 50, 800, 10, 0, 5, 20, 0, 0]
    after = [160, 0, 70, 900, 10, 0, 5, 40, 0, 0]
    assert host.steal_share(before, after) == pytest.approx(20 / 200)
    assert len(host.cpu_times()) >= 8


# -- spans and self time ----------------------------------------------------


def _span(i, parent, start, end, layer="x"):
    return trace.Span(i, f"s{i}", layer, "0", parent, start, end)


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: [1, 6] is covered once
        _span(3, 0, 8.0, 12.0),  # runs past its parent: only [8, 10] counts
        _span(4, 1, 2.0, 3.0),  # grandchild: counts against span 1 only
    ]
    got = trace.self_times(spans)
    assert got[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[4] == pytest.approx(1.0)


def test_tracer_nests_spans_and_skips_when_disabled():
    t = trace.Tracer()
    with t.span("outer", "a", "0"):
        with t.span("inner", "b", "0"):
            pass
        with t.span("inner2", "b", "0"):
            pass
    t.enabled = False
    with t.span("ignored", "c", "1") as s:
        assert s is None
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0), ("inner2", 0)]
    selfs = trace.self_times(t.spans)
    assert 0.0 <= selfs[0] <= t.spans[0].duration


def test_tracer_records_error_and_reraises():
    t = trace.Tracer()
    with pytest.raises(ValueError):
        with t.span("boom", "a", "0"):
            raise ValueError("x")
    assert t.spans[0].error == "ValueError: x"
    assert t.spans[0].end >= t.spans[0].start


# -- fake API -----------------------------------------------------------------


def _bodies(api):
    urls = [
        fakeapi.HOST + "/maps.json?page=2&per_page=250",
        fakeapi.HOST + "/layers.json?page=1&per_page=50",
        fakeapi.HOST + "/map_layers.json?page=3&per_page=250",
    ] + [fakeapi.HOST + f"/maps/{k}/mask.json" for k in range(1, 60)]
    return [fakeapi.serve(u, 1.0, api) for u in urls]


def test_fake_api_is_deterministic_per_seed():
    a, b, c = fakeapi.build(5, 3000, 100), fakeapi.build(5, 3000, 100), fakeapi.build(6, 3000, 100)
    assert a == b
    assert _bodies(a) == _bodies(b)
    assert _bodies(a) != _bodies(c)
    assert 1 not in a.failed_map_pages and len(a.failed_map_pages) == 1


def test_fake_api_is_deterministic_across_processes():
    code = (
        "import sys, json; sys.path.insert(0, %r)\n"
        "from perfbench import fakeapi\n"
        "api = fakeapi.build(9, 1000, 50)\n"
        "print(json.dumps([fakeapi.map_item(api, k) for k in range(1, 40)]))"
    ) % ROOT
    runs = [
        subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, check=True,
            env=dict(os.environ, PYTHONHASHSEED=str(h)),
        ).stdout
        for h in (1, 2)
    ]
    api = fakeapi.build(9, 1000, 50)
    assert json.loads(runs[0]) == json.loads(runs[1]) == [fakeapi.map_item(api, k) for k in range(1, 40)]


def test_membership_pages_agree_with_layers_of():
    api = fakeapi.build(3, 1003, 40)
    pairs = [fakeapi.membership_pair(api, i) for i in range(api.n_pairs)]
    by_map: dict[int, set] = {}
    for p in pairs:
        by_map.setdefault(p["map_id"], set()).add(p["layer_id"])
    for k in range(1, api.n_maps + 1):
        assert sorted(by_map.get(k, ())) == fakeapi.layers_of(api, k)
    assert max(p["map_id"] for p in pairs) <= api.n_maps


def test_fake_api_mixes_edge_cases():
    api = fakeapi.build(1, 2000, 50)
    items = [fakeapi.map_item(api, k) for k in range(1, 2001)]
    masks = [fakeapi.mask_body(api, k) for k in range(1, 2001)]
    assert any(i["depicts_year"] is None and i["issue_year"] is None for i in items)
    assert any(i["mask_status"] == "unmasked" for i in items)
    assert any(m is None for m in masks)  # mask endpoint errors
    assert any(m is not None and len(m["gcps"]) < 3 for m in masks)  # too few GCPs


def test_pages_needed_counts_the_terminating_page():
    assert fakeapi.pages_needed(500, 250) == 3
    assert fakeapi.pages_needed(501, 250) == 3
    assert fakeapi.pages_needed(499, 250) == 2


def test_request_log_counts_by_endpoint_and_key(tmp_path):
    api = fakeapi.build(2, 1000, 10).logging_to(str(tmp_path))
    for u in ("/maps.json?page=2&per_page=250", "/maps.json?page=2&per_page=250", "/maps/7/mask.json"):
        fakeapi.serve(fakeapi.HOST + u, 1.0, api)
    log = fakeapi.read_log(str(tmp_path))
    # served from this (driver) process, so maps pages count as count probes
    assert log.requests == {"count": 2, "masks": 1}
    assert log.keys["count"][2] == 2
    assert log.bytes_served > 0 and log.busy_s > 0


# -- result comparison and reporting -------------------------------------------


def test_mismatch_is_order_insensitive():
    import pandas as pd

    x = pd.DataFrame({"b": [1.0, 2.0], "a": ["p", "q"]})
    y = pd.DataFrame({"a": ["q", "p"], "b": [2.0, 1.0]})
    assert oracle.mismatch(x, y) is None
    assert oracle.mismatch(x, y.iloc[:1]).startswith("row count")
    assert "row mismatches" in oracle.mismatch(x, y.assign(b=[2.0, 3.0]))


def test_report_fails_on_a_missing_owned_metric():
    names = [("pipeline.download_s", "s"), ("operators.relational.jobs", "count")]
    got = run.report({"pipeline.download_s": 1.5}, names, ("pipeline.",))
    assert got == {
        "pipeline.download_s": {"value": 1.5, "unit": "s"},
        "operators.relational.jobs": {"value": 0.0, "unit": "count"},
    }
    with pytest.raises(RuntimeError, match="operators.relational.jobs"):
        run.report({"pipeline.download_s": 1.5}, names, ("pipeline.", "operators."))
    with pytest.raises(RuntimeError, match="pipeline.download_s"):
        run.report({}, names, ("",))


def test_floor_checks_flag_jobs_during_construction():
    t = trace.Tracer()
    with t.span("q", "operators.relational.construct", "0") as s:
        s.jobs = 2
    with t.span("q", "operators.relational.execute", "0") as s:
        s.jobs = 3
    with t.span("q", "operators.relational.construct", "1") as s:
        s.jobs = 1
    counters, checks = run.floor_checks(t)
    assert counters == {"construct_jobs": {"q": 3}, "failed_tasks": 0}
    assert checks == {"failed_tasks": None}
    t.spans[1].failed_tasks = 1
    assert run.floor_checks(t)[1] == {"failed_tasks": "1 failed tasks"}


# -- request counting through Spark -------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from etl_mapwarper_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


def test_unpersisted_three_page_scan_is_fetched_twice(spark, tmp_path):
    """Writing two outputs from one unpersisted maps scan, as download
    writes ``map_errors`` and ``maps``, costs 6 fetches for 3 pages;
    the request log must see every one of them."""
    from etl_mapwarper_spark.pipeline import MAP_ITEM_SCHEMA
    from etl_mapwarper_spark.sources.paginated_rest import (
        RestSourceConfig,
        page_errors,
        page_items,
        scan_pages,
    )

    api = fakeapi.build(1, 750, 10).logging_to(str(tmp_path / "log"))
    cfg = RestSourceConfig(
        fakeapi.HOST + "/maps.json?page={page}&per_page={per_page}",
        per_page=250, requests_per_second=1e9, max_concurrency=2, retries=0,
        fetcher=fakeapi.fetcher(api),
    )
    pages = scan_pages(spark, cfg, 3)
    page_errors(pages).write.parquet(str(tmp_path / "errors"))
    page_items(pages, MAP_ITEM_SCHEMA).write.parquet(str(tmp_path / "maps"))
    log = fakeapi.read_log(str(tmp_path / "log"))
    assert log.requests["maps"] == 6
    assert sorted(log.keys["maps"].items()) == [(1, 2), (2, 2), (3, 2)]
