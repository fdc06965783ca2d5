"""Unit tests for the GCP mask-enrichment operator (reference #20,
mapwarper.js:79-110): polynomial fit math, the order-1 JVM expression
against the numpy fit, result-struct error handling, masked-only
gating, plan shape, and the map-layers broadcast join."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_mapwarper_spark.operators.enrichment import (  # noqa: E402
    _SINGULAR_MSG,
    _TOO_FEW_GCPS_MSG,
    _design,
    attach_map_layers,
    enrich_masks,
    fit_gcp_polynomial,
    mw_gcp_errors,
)
from etl_mapwarper_spark.plans.audit import audit  # noqa: E402

from conftest import SF_DIR  # noqa: E402

_MASKS_DDL = (
    "id INT, mask_status STRING, mask ARRAY<ARRAY<DOUBLE>>, "
    "gcps ARRAY<ARRAY<DOUBLE>>"
)


def _affine_gcps(a, b, c, d, e, f, pts):
    """GCP rows [px,py,lat,lon] for lon=a·px+b·py+c, lat=d·px+e·py+f."""
    return [
        [float(px), float(py), d * px + e * py + f, a * px + b * py + c]
        for px, py in pts
    ]


def test_affine_fit_with_shear_recovers_exactly():
    a, b, c, d, e, f = 1e-4, 2e-5, -74.0, -1e-5, 5e-5, 40.7
    gcps = _affine_gcps(a, b, c, d, e, f, [(0, 0), (500, 0), (0, 400), (500, 400)])
    lon_c, lat_c = fit_gcp_polynomial(gcps, order=1)
    assert np.allclose(lon_c, [a, b, c], atol=1e-9)
    assert np.allclose(lat_c, [d, e, f], atol=1e-9)


def test_order2_fit_recovers_quadratic():
    # lon = 1e-8·px² + 1e-4·px - 74 ; lat = 5e-5·py + 40.7
    pts = [(x, y) for x in (0, 100, 200, 300) for y in (0, 150, 300)]
    gcps = [
        [px, py, 5e-5 * py + 40.7, 1e-8 * px * px + 1e-4 * px - 74.0]
        for px, py in pts
    ]
    lon_c, lat_c = fit_gcp_polynomial(gcps, order=2)
    # design: [px, py, px², py², px·py, 1]
    assert np.allclose(lon_c, [1e-4, 0, 1e-8, 0, 0, -74.0], atol=1e-9)
    assert np.allclose(lat_c, [0, 5e-5, 0, 0, 0, 40.7], atol=1e-9)


def test_order3_fit_recovers_cubic():
    # lon = 2e-12·px³ + 1e-4·px - 74 ; lat = 3e-12·py³ + 40.7
    pts = [(x, y) for x in (0, 100, 200, 350) for y in (0, 120, 260, 400)]
    gcps = [
        [
            px,
            py,
            3e-12 * py**3 + 40.7,
            2e-12 * px**3 + 1e-4 * px - 74.0,
        ]
        for px, py in pts
    ]
    lon_c, lat_c = fit_gcp_polynomial(gcps, order=3)
    # design: [px,py,px²,py²,px·py,px³,px²y,px·y²,py³,1]
    assert np.allclose(
        lon_c, [1e-4, 0, 0, 0, 0, 2e-12, 0, 0, 0, -74.0], atol=1e-9
    )
    assert np.allclose(
        lat_c, [0, 0, 0, 0, 0, 0, 0, 0, 3e-12, 40.7], atol=1e-9
    )


def test_transform_options_maps_to_gdal_orders():
    """The reference forwards transform_options to GDAL (mapwarper.js:86)
    — pin the public GDAL contract: explicit 1-3 honored, 0/None auto
    (order 2 with >= 6 GCPs, else 1, never auto-3), tps refused."""
    from etl_mapwarper_spark.operators.enrichment import (
        order_from_transform_options,
    )

    assert order_from_transform_options(1) == 1
    assert order_from_transform_options(2, n_gcps=3) == 2  # explicit wins
    assert order_from_transform_options(3) == 3
    assert order_from_transform_options(None, n_gcps=4) == 1
    assert order_from_transform_options(0, n_gcps=6) == 2
    assert order_from_transform_options(0, n_gcps=100) == 2  # no auto-3
    assert order_from_transform_options("tps") == "tps"
    assert order_from_transform_options("-tps") == "tps"
    with pytest.raises(ValueError, match="orders are 1-3"):
        order_from_transform_options(7)


def test_enrich_masks_order2_golden(spark):
    """Fixture parity at order != 1: a quadratic pixel→world surface
    round-trips exactly through the order-2 enrichment path."""
    pts = [(x, y) for x in (0, 80, 160, 240) for y in (0, 100, 200)]
    gcps = [
        [
            float(px),
            float(py),
            1e-9 * py * py + 5e-5 * py + 40.7,
            1e-8 * px * px + 1e-4 * px - 74.0,
        ]
        for px, py in pts
    ]
    ring = [[0.0, 0.0], [160.0, 0.0], [160.0, 200.0], [0.0, 0.0]]
    df = spark.createDataFrame(
        [(1, "masked", ring, gcps)],
        "id int, mask_status string, mask array<array<double>>, "
        "gcps array<array<double>>",
    )
    out = enrich_masks(df, order=2).collect()[0]
    assert out["maskError"] is None
    got = out["maskGeometry"]["coordinates"][0]
    for (px, py), (lon, lat) in zip(ring, got):
        assert abs(lon - (1e-8 * px * px + 1e-4 * px - 74.0)) < 1e-9
        assert abs(lat - (1e-9 * py * py + 5e-5 * py + 40.7)) < 1e-9


def test_tps_interpolates_gcps_exactly_and_bends_between():
    """TPS contract (GDAL -tps / Bookstein 1989): the spline passes
    through EVERY GCP exactly, and with a non-affine displacement the
    surface genuinely differs from the order-1 least-squares fit."""
    from etl_mapwarper_spark.operators.enrichment import (
        apply_tps,
        fit_gcp_polynomial,
        fit_gcp_tps,
    )

    pts = [(0, 0), (200, 0), (0, 200), (200, 200), (100, 100)]
    # Affine base + a bump at the center point only -> non-affine data.
    gcps = [
        [
            float(px),
            float(py),
            5e-5 * py + 40.7 + (0.01 if (px, py) == (100, 100) else 0.0),
            1e-4 * px - 74.0,
        ]
        for px, py in pts
    ]
    p, sol_lon, sol_lat = fit_gcp_tps(gcps)
    xy = np.asarray([g[:2] for g in gcps])
    lon = apply_tps(p, sol_lon, xy)
    lat = apply_tps(p, sol_lat, xy)
    for g, lo, la in zip(gcps, lon, lat):
        assert abs(lo - g[3]) < 1e-9  # exact interpolation
        assert abs(la - g[2]) < 1e-9
    # The affine LSQ fit CANNOT pass through the bumped center point.
    lon_c, lat_c = fit_gcp_polynomial(gcps, order=1)
    lsq_lat = lat_c[0] * 100 + lat_c[1] * 100 + lat_c[2]
    assert abs(lsq_lat - gcps[4][2]) > 1e-3
    # Off-GCP evaluation: the bump decays smoothly, so a point between
    # center and a corner sits strictly between base and bumped values.
    mid = apply_tps(p, sol_lat, np.asarray([[50.0, 50.0]]))[0]
    base = 5e-5 * 50 + 40.7
    assert base < mid < gcps[4][2]


def test_tps_affine_data_reduces_to_affine_map():
    """GCPs sampled from an exact affine map: the unique TPS solution
    has zero kernel weights and reproduces the map everywhere — the
    property the mw_gcp_transform_tps oracle relies on."""
    from etl_mapwarper_spark.operators.enrichment import (
        apply_tps,
        fit_gcp_tps,
    )

    gcps = _affine_gcps(
        1e-4, 0, -74.0, 0, 5e-5, 40.7, [(0, 0), (200, 0), (0, 200), (200, 200)]
    )
    p, sol_lon, sol_lat = fit_gcp_tps(gcps)
    assert np.allclose(sol_lon[:4], 0.0, atol=1e-12)
    assert np.allclose(sol_lat[:4], 0.0, atol=1e-12)
    xy = np.asarray([[13.0, 57.0], [150.0, 20.0], [99.0, 180.0]])
    assert np.allclose(
        apply_tps(p, sol_lon, xy), 1e-4 * xy[:, 0] - 74.0, atol=1e-9
    )
    assert np.allclose(
        apply_tps(p, sol_lat, xy), 5e-5 * xy[:, 1] + 40.7, atol=1e-9
    )


def test_tps_degenerate_gcps_error_as_data(spark):
    """Collinear / coincident GCPs make the TPS system singular; the
    UDF path must land an error record, never raise on an executor."""
    ring = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 0.0]]
    collinear = [[float(x), 0.0, 40.7, -74.0 + x * 1e-4] for x in (0, 1, 2, 3)]
    df = spark.createDataFrame(
        [(1, "masked", ring, collinear), (2, "masked", ring, collinear[:2])],
        "id int, mask_status string, mask array<array<double>>, "
        "gcps array<array<double>>",
    )
    out = {r.id: r for r in enrich_masks(df, order="tps").collect()}
    assert out[1].maskGeometry is None and "LinAlgError" in out[1].maskError
    assert out[2].maskGeometry is None and "need >= 3 GCPs" in out[2].maskError


def test_too_few_gcps_raises_value_error():
    with pytest.raises(ValueError, match="need >= 3 GCPs"):
        fit_gcp_polynomial([[0, 0, 40.7, -74.0]], order=1)
    with pytest.raises(ValueError, match="need >= 6 GCPs"):
        fit_gcp_polynomial(
            _affine_gcps(1, 0, 0, 0, 1, 0, [(0, 0), (1, 0), (0, 1)]), order=2
        )


@pytest.fixture(scope="module")
def maps_df(spark):
    gcps = _affine_gcps(
        1e-4, 0, -74.0, 0, 5e-5, 40.7, [(0, 0), (200, 0), (0, 200), (200, 200)]
    )
    ring = [[0.0, 0.0], [100.0, 0.0], [100.0, 80.0], [0.0, 80.0], [0.0, 0.0]]
    rows = [
        (1, "masked", ring, gcps),
        (2, "masking", ring, gcps),
        (3, "unmasked", ring, gcps),  # gated out of Python
        (4, "masked", ring, gcps[:2]),  # too few GCPs -> error record
        (5, "masked", [], gcps),  # empty mask -> error record
        (6, None, ring, gcps),  # null status treated as unmasked
    ]
    return spark.createDataFrame(
        rows,
        "id INT, mask_status STRING, mask ARRAY<ARRAY<DOUBLE>>, "
        "gcps ARRAY<ARRAY<DOUBLE>>",
    )


def test_enrich_masks_success_and_gating(spark, maps_df):
    out = {r.id: r for r in enrich_masks(maps_df).collect()}
    for i in (1, 2):
        geom = out[i].maskGeometry
        assert geom.type == "Polygon" and out[i].maskError is None
        lon, lat = geom.coordinates[0][2]  # pixel (100, 80)
        assert lon == pytest.approx(-74.0 + 1e-4 * 100, abs=1e-9)
        assert lat == pytest.approx(40.7 + 5e-5 * 80, abs=1e-9)
    for i in (3, 6):  # never entered Python: both columns null
        assert out[i].maskGeometry is None and out[i].maskError is None
    assert "need >= 3 GCPs" in out[4].maskError
    assert out[4].maskGeometry is None
    assert out[5].maskError == "empty mask"


def _parity_cases(seed: int = 7):
    """Seeded order-1 GCP sets: rotated and sheared affine maps plus
    non-affine noise (so the fit is a true least-squares solve), pixel
    offsets of 0, 1e4 and 1e5, 3, 4 and 8 GCPs, and near-collinear sets
    (a thin band along a line) that the fit must still accept."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(240):
        n = (3, 4, 8)[i % 3]
        offset = (0.0, 1e4, 1e5)[(i // 3) % 3]
        theta = rng.uniform(0, 2 * np.pi)
        rot = np.array(
            [[np.cos(theta), -np.sin(theta)], [np.sin(theta), np.cos(theta)]]
        )
        shear = np.array(
            [[1.0, rng.uniform(-0.5, 0.5)], [0.0, rng.uniform(0.5, 2.0)]]
        )
        lin = 1e-4 * rot @ shear
        if i % 4 == 3:  # near-collinear: a 1-px-wide band, ~500 px long
            t = rng.uniform(0, 500, n)
            px = offset + t
            py = offset + 0.3 * t + rng.uniform(-0.5, 0.5, n)
        else:
            px = offset + rng.uniform(0, 600, n)
            py = offset + rng.uniform(0, 400, n)
        lon = lin[0, 0] * px + lin[0, 1] * py - 74.0 + rng.normal(0, 1e-4, n)
        lat = lin[1, 0] * px + lin[1, 1] * py + 40.7 + rng.normal(0, 1e-4, n)
        gcps = [list(map(float, r)) for r in zip(px, py, lat, lon)]
        ring = [
            [float(offset + x), float(offset + y)]
            for x, y in zip(rng.uniform(-100, 700, 7), rng.uniform(-100, 500, 7))
        ]
        rows.append((i, "masked", ring, gcps))
    return rows


def test_affine_expression_matches_numpy_fit(spark):
    """The order-1 JVM expression computes the least-squares fit of
    ``fit_gcp_polynomial``: every seeded well-posed row succeeds and
    matches numpy's lstsq to 1e-9 relative per coordinate."""
    rows = _parity_cases()
    out = {
        r.id: r
        for r in enrich_masks(spark.createDataFrame(rows, _MASKS_DDL)).collect()
    }
    worst = 0.0
    for i, _, ring, gcps in rows:
        assert out[i].maskError is None, (i, out[i].maskError)
        lon_c, lat_c = fit_gcp_polynomial(gcps, order=1)
        xy = np.asarray(ring)
        X = _design(xy[:, 0], xy[:, 1], 1)
        want = np.column_stack([X @ lon_c, X @ lat_c])
        got = np.asarray(out[i].maskGeometry.coordinates[0])
        worst = max(worst, float(np.max(np.abs(got - want) / np.abs(want))))
    assert worst < 1e-9, worst


_RING = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 0.0]]
_GCPS = [
    [0.0, 0.0, 40.7, -74.0],
    [200.0, 0.0, 40.7, -73.98],
    [0.0, 200.0, 40.71, -74.0],
    [200.0, 200.0, 40.71, -73.98],
]
_MALFORMED = (
    "ValueError: mask points must be [px,py] and GCP rows [px,py,lat,lon] "
    "of finite numbers"
)
_SINGULAR = (
    "LinAlgError: collinear or coincident GCPs, the order 1 fit is singular"
)
_NAN, _INF = float("nan"), float("inf")
_COLLINEAR = [
    [float(t), float(t), 40.7 + t * 1e-5, -74.0 + t * 1e-4] for t in range(4)
]

# (case, mask ring, GCP rows, the exact maskError at order 1)
_GARBAGE = [
    ("ring_points_1_wide", [[0.0], [1.0]], _GCPS, _MALFORMED),
    ("ring_and_gcps_both_short", [[0.0], [1.0]], [[1.0, 2.0]], _MALFORMED),
    ("ring_null_point", [_RING[0], None, _RING[2]], _GCPS, _MALFORMED),
    ("ring_null_coordinate", [[0.0, None], _RING[1]], _GCPS, _MALFORMED),
    ("gcps_ragged", _RING, [_GCPS[0], _GCPS[1][:3], *_GCPS[2:]], _MALFORMED),
    ("gcps_null_row", _RING, [_GCPS[0], None, *_GCPS[2:]], _MALFORMED),
    ("gcps_null_coordinate", _RING, [*_GCPS[:3], [200.0, None, 40.71, -73.98]], _MALFORMED),
    ("gcps_nan", _RING, [*_GCPS[:3], [200.0, 200.0, _NAN, -73.98]], _MALFORMED),
    ("gcps_inf", _RING, [*_GCPS[:3], [_INF, 200.0, 40.71, -73.98]], _MALFORMED),
    ("gcps_collinear", _RING, _COLLINEAR, _SINGULAR),
    ("gcps_coincident", _RING, [_GCPS[0]] * 4, _SINGULAR),
    ("gcps_too_few", _RING, _GCPS[:2], _TOO_FEW_GCPS_MSG),
    ("gcps_one", _RING, _GCPS[:1], _TOO_FEW_GCPS_MSG.replace("2, 4", "1, 4")),
    ("ring_inf", [[_INF, 0.0], *_RING[1:]], _GCPS, "non-finite transform result"),
    ("ring_nan", [[_NAN, 0.0], *_RING[1:]], _GCPS, "non-finite transform result"),
    ("mask_empty", [], _GCPS, "empty mask"),
    ("mask_null", None, _GCPS, "empty mask"),
    ("gcps_empty", _RING, [], "no GCPs"),
    ("gcps_null", _RING, None, "no GCPs"),
]


@pytest.fixture(scope="module")
def garbage_out(spark):
    rows = [(i, "masked", ring, gcps) for i, (_, ring, gcps, _) in enumerate(_GARBAGE)]
    df = spark.createDataFrame(rows, _MASKS_DDL)
    return {r.id: r for r in enrich_masks(df).collect()}  # must not raise


@pytest.mark.parametrize(
    "i", range(len(_GARBAGE)), ids=[case[0] for case in _GARBAGE]
)
def test_enrich_masks_never_throws_on_garbage(garbage_out, i):
    """Bad rows become exact error records, never executor exceptions.
    Collinear and coincident GCPs are refused (numpy's lstsq would
    return a min-norm "fit" for them)."""
    assert garbage_out[i].maskGeometry is None
    assert garbage_out[i].maskError == _GARBAGE[i][3]


@pytest.mark.parametrize("order", [2, "tps"])
def test_numpy_orders_turn_bad_rings_into_error_records(spark, order):
    """A ring whose points have one coordinate, or a null point, lands
    an error record on the UDF path too (it used to raise IndexError /
    TypeError on the executor and fail the task)."""
    gcps = [
        [float(x), float(y), 40.7 + y * 5e-5, -74.0 + x * 1e-4]
        for x in (0, 100, 200)
        for y in (0, 150)
    ]
    df = spark.createDataFrame(
        [
            (1, "masked", [[0.0], [1.0]], gcps),
            (2, "masked", [[0.0, 0.0], None], gcps),
        ],
        _MASKS_DDL,
    )
    out = {r.id: r for r in enrich_masks(df, order=order).collect()}
    assert out[1].maskGeometry is None
    assert out[1].maskError == (
        "ValueError: mask points must be [px,py], got shape (2, 1)"
    )
    assert out[2].maskGeometry is None
    assert out[2].maskError.startswith("TypeError: ")


def test_order1_plan_has_no_python_and_other_orders_stay_arrow(maps_df):
    """Order 1 is one JVM projection; orders 2 and tps keep the Arrow
    UDF behind the masked-only filter."""
    affine = audit(enrich_masks(maps_df))
    assert not affine.has_row_python and affine.arrow_python_nodes == []
    for order in (2, "tps"):
        a = audit(enrich_masks(maps_df, order=order))
        assert a.arrow_python_nodes == ["ArrowEvalPython"]
        assert not a.has_row_python


def test_attach_map_layers_left_join_and_broadcast(spark):
    maps = spark.createDataFrame([(1,), (2,), (3,)], "id INT")
    member = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 10), (2, 12)], "map_id INT, layer_id INT"
    )
    out = attach_map_layers(maps, member)
    got = {r.id: r.layerIds for r in out.collect()}
    assert got[1] == [10, 11]  # deduped + sorted
    assert got[2] == [12]
    assert got[3] is None  # left join keeps layer-less maps
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_gcp_errors_plan_holds_the_affine_fit_once(spark):
    """``mw_gcp_errors`` selects the error rows without a Filter on
    ``maskError``, which Catalyst would push through ``enrich_masks``'
    projection and so copy ``_AFFINE_SQL`` into the plan again."""
    df = mw_gcp_errors(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count(_SINGULAR_MSG) == 1, plan
