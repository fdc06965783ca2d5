"""Mask→GeoJSON enrichment — the reference's one genuinely hard
operator (#20 in SURVEY.md §2): pixel-space mask polygon + ground
control points (GCPs) → georeferenced GeoJSON polygon.

Reference behavior (citations into /root/reference/mapwarper.js):
- ``getMask`` (:79-110) calls mask-to-geojson (GDAL under the hood) for
  maps whose ``mask_status ∈ {masked, masking}`` (:81); success attaches
  ``maskGeometry``/``gcps``/``mask``, failure attaches ``maskError``
  (:90) — error-as-data, the map stays in the stream.
- The transform family is GDAL's GCP polynomial warp, order selected by
  ``transform_options`` (:86).

Spark-first design:
- Every row's fit yields a **result struct** ``{ok, coordinates,
  error}`` — executors never raise on bad data.
- Order 1 (affine, the fit the pipeline runs) is a pure JVM column
  expression (``_AFFINE_SQL``): GCP means, centered 2×2 normal
  equations, a closed-form solve and a ``transform`` over the ring,
  parsed from one SQL string, with the masked-only gate as a ``CASE``
  in the same projection. No Python node in its plan.
- Orders 2/3 and TPS least-squares fit per row in numpy inside one
  Arrow-batched ``pandas_udf`` (``make_gcp_transform_udf``). Their
  masked-only gate is an explicit ``filter`` + ``unionByName`` so
  Catalyst cannot reorder the Python stage in front of the cheap
  predicate; unmasked rows never reach Python at all.
- ``attach_map_layers`` replaces the reference's N+1 per-map HTTP
  lookup (:57-77) with a real aggregate+broadcast join: fetch the
  membership table ONCE, ``collect_list`` per map, broadcast (bounded
  by |layers|, tiny next to |maps| at scale).

Polynomial orders: 1 (affine, 6 coefficients — GDAL ``-order 1``),
2 (quadratic, 12 coefficients — ``-order 2``) and 3 (20 coefficients),
requiring ≥3 / ≥6 / ≥10 GCPs respectively.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import broadcast, pandas_udf

from . import registry
from .mapwarper import _fixture_df, _map_keys, _masked

QUERIES, ORACLE, _register = registry()


RESULT_SCHEMA = T.StructType(
    [
        T.StructField("ok", T.BooleanType(), False),
        T.StructField(
            "coordinates",
            T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))),
        ),
        T.StructField("error", T.StringType()),
    ]
)

_MIN_GCPS = {1: 3, 2: 6, 3: 10, "tps": 3}


def _design(px: np.ndarray, py: np.ndarray, order: int) -> np.ndarray:
    if order == 1:
        return np.column_stack([px, py, np.ones_like(px)])
    if order == 2:
        return np.column_stack(
            [px, py, px * px, py * py, px * py, np.ones_like(px)]
        )
    return np.column_stack(
        [
            px,
            py,
            px * px,
            py * py,
            px * py,
            px * px * px,
            px * px * py,
            px * py * py,
            py * py * py,
            np.ones_like(px),
        ]
    )


def order_from_transform_options(
    transform_options, n_gcps: int | None = None
) -> int:
    """Map the reference's ``transform_options`` to a polynomial order.

    The reference (mapwarper.js:86) passes ``map.transform_options``
    straight into its mask-to-GeoJSON helper, which delegates to GDAL's
    GCP transformer — so the option semantics are GDAL's public
    contract (gdal/alg/gdal_crs.cpp, GDALCreateGCPTransformerEx):

    - ``1``/``2``/``3`` — that exact polynomial order (GDAL ``-order N``);
      the fit then needs >= 3/6/10 GCPs respectively (``_MIN_GCPS``).
    - ``0``/``None``/missing — AUTO: GDAL picks from the GCP count —
      order 2 when >= 6 GCPs are available, else order 1. (GDAL never
      auto-selects order 3 — the "for now we avoid 3rd order" rule —
      and neither do we.)
    - ``'tps'``/``'-tps'`` — thin-plate spline (GDAL ``-tps``,
      gdal/alg/gdal_tps.cpp): exact interpolation through every GCP
      with minimum bending energy; returned as the ``"tps"`` sentinel,
      which ``fit_gcp_tps``/``_transform_one`` dispatch on. Needs
      >= 3 non-collinear GCPs (the affine part of the spline).
    """
    if transform_options in ("tps", "-tps"):
        return "tps"
    if transform_options in (None, 0, "0", ""):
        return 2 if (n_gcps or 0) >= _MIN_GCPS[2] else 1
    order = int(transform_options)
    if order not in _MIN_GCPS:
        raise ValueError(
            f"transform_options={transform_options!r}: GDAL polynomial "
            "orders are 1-3"
        )
    return order


def fit_gcp_polynomial(
    gcps: Iterable[Iterable[float]], order: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """Least-squares pixel→world fit from GCP rows ``[px, py, lat, lon]``.

    Returns (lon_coef, lat_coef) for the design (order 1: [px,py,1]).
    GCP component order matches the reference's mapwarper API rows
    (x, y, lat, lon).
    """
    g = np.asarray(list(gcps), dtype=np.float64)
    need = _MIN_GCPS[order]
    if g.ndim != 2 or g.shape[0] < need or g.shape[1] != 4:
        raise ValueError(
            f"need >= {need} GCPs of [px,py,lat,lon] for order {order}, "
            f"got shape {getattr(g, 'shape', None)}"
        )
    X = _design(g[:, 0], g[:, 1], order)
    lon_coef, *_ = np.linalg.lstsq(X, g[:, 3], rcond=None)
    lat_coef, *_ = np.linalg.lstsq(X, g[:, 2], rcond=None)
    return lon_coef, lat_coef


def _tps_kernel(r2: np.ndarray) -> np.ndarray:
    """TPS radial basis U(r) = r² · ln(r²) with U(0) = 0.

    Equivalent (×2) to the classic r² ln r — the constant factor is
    absorbed by the solved weights, so the interpolant is identical.
    """
    with np.errstate(divide="ignore", invalid="ignore"):
        k = r2 * np.log(r2)
    return np.where(r2 > 0.0, k, 0.0)


def fit_gcp_tps(
    gcps: Iterable[Iterable[float]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Thin-plate-spline pixel→world fit from GCP rows ``[px,py,lat,lon]``.

    Classic TPS interpolation (Bookstein 1989; GDAL's ``-tps``,
    gdal/alg/thinplatespline.cpp): solve the dense (n+3)×(n+3) system

        [ K  P ] [w]   [v]        K_ij = U(|p_i − p_j|),
        [ Pᵀ 0 ] [a] = [0]        P_i  = [1, x_i, y_i]

    once per target axis. Exact interpolation: the spline passes
    through every GCP; with GCPs sampled from an exact affine map the
    unique solution has w = 0 and reduces to that affine map.

    Returns ``(pts, sol_lon, sol_lat)`` where each ``sol`` is the
    concatenated ``[w (n), a0, ax, ay]``. Degenerate configurations
    (coincident or collinear GCPs) make the system singular —
    ``np.linalg.LinAlgError`` propagates and ``_transform_one`` turns
    it into an error record, never a crash.

    The fit is per-row work inside the Arrow-batched pandas UDF — the
    dense solve is O(n³) in the row's OWN GCP count (tens, not data
    volume), so the 100 TB story is unchanged: embarrassingly parallel
    per map, no shuffle, no driver traffic.
    """
    g = np.asarray(list(gcps), dtype=np.float64)
    need = _MIN_GCPS["tps"]
    if g.ndim != 2 or g.shape[0] < need or g.shape[1] != 4:
        raise ValueError(
            f"need >= {need} GCPs of [px,py,lat,lon] for tps, "
            f"got shape {getattr(g, 'shape', None)}"
        )
    pts = g[:, :2]
    n = pts.shape[0]
    diff = pts[:, None, :] - pts[None, :, :]
    K = _tps_kernel(np.einsum("ijk,ijk->ij", diff, diff))
    P = np.column_stack([np.ones(n), pts])
    A = np.zeros((n + 3, n + 3))
    A[:n, :n] = K
    A[:n, n:] = P
    A[n:, :n] = P.T
    rhs = np.zeros((n + 3, 2))
    rhs[:n, 0] = g[:, 3]  # lon
    rhs[:n, 1] = g[:, 2]  # lat
    sol = np.linalg.solve(A, rhs)
    return pts, sol[:, 0], sol[:, 1]


def apply_tps(
    pts: np.ndarray, sol: np.ndarray, xy: np.ndarray
) -> np.ndarray:
    """Evaluate a fitted TPS axis at query points ``xy`` (m×2)."""
    n = pts.shape[0]
    diff = xy[:, None, :] - pts[None, :, :]
    U = _tps_kernel(np.einsum("ijk,ijk->ij", diff, diff))
    return U @ sol[:n] + sol[n] + xy[:, 0] * sol[n + 1] + xy[:, 1] * sol[n + 2]


def _transform_one(mask, gcps, order):
    import json

    if isinstance(mask, str):
        mask = json.loads(mask)
    if isinstance(gcps, str):
        gcps = json.loads(gcps)
    if mask is None or len(mask) == 0:
        return (False, None, "empty mask")
    if gcps is None or len(gcps) == 0:
        return (False, None, "no GCPs")
    try:
        ring = np.asarray([list(p) for p in mask], dtype=np.float64)
        if ring.ndim != 2 or ring.shape[1] < 2:
            raise ValueError(
                f"mask points must be [px,py], got shape {ring.shape}"
            )
        if order == "tps":
            pts, sol_lon, sol_lat = fit_gcp_tps(gcps)
            lon = apply_tps(pts, sol_lon, ring)
            lat = apply_tps(pts, sol_lat, ring)
        else:
            lon_c, lat_c = fit_gcp_polynomial(gcps, order)
            X = _design(ring[:, 0], ring[:, 1], order)
            lon = X @ lon_c
            lat = X @ lat_c
        if not (np.isfinite(lon).all() and np.isfinite(lat).all()):
            return (False, None, "non-finite transform result")
        coords = [[[float(x), float(y)] for x, y in zip(lon, lat)]]
        return (True, coords, None)
    except (TypeError, ValueError, np.linalg.LinAlgError) as e:
        return (False, None, f"{type(e).__name__}: {e}")


def make_gcp_transform_udf(order: int = 1):
    """Result-struct pandas UDF: (mask ring, gcps) → {ok, coordinates, error}.

    Inputs arrive as JSON strings (see ``enrich_masks``): nested-list
    Arrow batches with zero leaf values segfault the worker's
    arrow→pandas step on pyspark 4.1.2, and a partition of all-failed
    fetches (null masks) is exactly that shape. Strings are immune.
    """

    @pandas_udf(RESULT_SCHEMA)
    def gcp_transform(mask: pd.Series, gcps: pd.Series) -> pd.DataFrame:
        rows = [_transform_one(m, g, order) for m, g in zip(mask, gcps)]
        return pd.DataFrame(rows, columns=["ok", "coordinates", "error"])

    return gcp_transform


# The order-1 (affine) fit as one SQL expression over the row's own
# ``mask`` ring and ``gcps`` rows [px, py, lat, lon]. ``_let`` binds
# each intermediate once per row as a lambda variable: the GCP means
# ``m``, the centered 2x2 normal equations ``c`` and their determinant
# ``det`` (the intercept is the target mean, so px/py offsets of 1e5
# cost no precision), the closed-form solution ``k`` and the
# transformed ring ``r``. Guards run first, in CASE order, so no
# division or index can fail in ANSI mode.
def _let(value: str, var: str, body: str) -> str:
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def _fail(message: str) -> str:
    return f"named_struct('ok', false, 'coordinates', NULL, 'error', {message})"


_MALFORMED_MSG = (
    "ValueError: mask points must be [px,py] and GCP rows [px,py,lat,lon] "
    "of finite numbers"
)
_SINGULAR_MSG = (
    "LinAlgError: collinear or coincident GCPs, the order 1 fit is singular"
)
_TOO_FEW_FMT = (
    "ValueError: need >= 3 GCPs of [px,py,lat,lon] for order 1, "
    "got shape (%d, 4)"
)
_FINITE = "abs({0}) < double('Infinity')"  # false for NaN and ±inf
_MEANS = """aggregate(gcps, named_struct('x', 0D, 'y', 0D, 'lat', 0D, 'lon', 0D),
  (s, q) -> named_struct('x', s.x + q[0], 'y', s.y + q[1],
                         'lat', s.lat + q[2], 'lon', s.lon + q[3]),
  s -> named_struct('x', s.x / size(gcps), 'y', s.y / size(gcps),
                    'lat', s.lat / size(gcps), 'lon', s.lon / size(gcps)))"""
_NORMAL = """aggregate(gcps,
  named_struct('uu', 0D, 'uv', 0D, 'vv', 0D, 'ulat', 0D, 'vlat', 0D,
               'ulon', 0D, 'vlon', 0D),
  (s, q) -> named_struct(
    'uu', s.uu + (q[0] - m.x) * (q[0] - m.x),
    'uv', s.uv + (q[0] - m.x) * (q[1] - m.y),
    'vv', s.vv + (q[1] - m.y) * (q[1] - m.y),
    'ulat', s.ulat + (q[0] - m.x) * (q[2] - m.lat),
    'vlat', s.vlat + (q[1] - m.y) * (q[2] - m.lat),
    'ulon', s.ulon + (q[0] - m.x) * (q[3] - m.lon),
    'vlon', s.vlon + (q[1] - m.y) * (q[3] - m.lon)))"""
_SOLVE = """named_struct(
  'alon', (c.vv * c.ulon - c.uv * c.vlon) / det,
  'blon', (c.uu * c.vlon - c.uv * c.ulon) / det,
  'alat', (c.vv * c.ulat - c.uv * c.vlat) / det,
  'blat', (c.uu * c.vlat - c.uv * c.ulat) / det)"""
_APPLY = """transform(mask, p -> array(
  m.lon + k.alon * (p[0] - m.x) + k.blon * (p[1] - m.y),
  m.lat + k.alat * (p[0] - m.x) + k.blat * (p[1] - m.y)))"""
_RESULT = f"""CASE WHEN forall(r, p -> {_FINITE.format("p[0]")} AND {_FINITE.format("p[1]")})
  THEN named_struct('ok', true, 'coordinates', array(r), 'error', CAST(NULL AS STRING))
  ELSE {_fail("'non-finite transform result'")} END"""
_FIT = _let(_MEANS, "m", _let(_NORMAL, "c", _let("c.uu * c.vv - c.uv * c.uv", "det", f"""
  CASE WHEN det <= 1e-9 * c.uu * c.vv THEN {_fail(f"'{_SINGULAR_MSG}'")}
  ELSE {_let(_SOLVE, "k", _let(_APPLY, "r", _RESULT))} END""")))
_AFFINE_SQL = f"""CASE
  WHEN mask IS NULL OR size(mask) = 0 THEN {_fail("'empty mask'")}
  WHEN gcps IS NULL OR size(gcps) = 0 THEN {_fail("'no GCPs'")}
  WHEN NOT forall(mask, p -> coalesce(
      size(p) >= 2 AND p[0] IS NOT NULL AND p[1] IS NOT NULL, false))
    OR NOT forall(gcps, q -> coalesce(
      size(q) = 4 AND forall(q, z -> z IS NOT NULL AND {_FINITE.format("z")}), false))
    THEN {_fail(f"'{_MALFORMED_MSG}'")}
  WHEN size(gcps) < 3
    THEN {_fail(f"format_string('{_TOO_FEW_FMT}', size(gcps))")}
  ELSE {_FIT}
END"""


def enrich_masks(maps: DataFrame, order: int = 1) -> DataFrame:
    """Conditional enrichment with the reference's gating (:81).

    Only rows that pass the mask gate (``mapwarper._masked``:
    ``mask_status ∈ {masked, masking}``) are transformed; the rest
    keep null enrichment columns. Success → ``maskGeometry`` polygon
    struct; failure → ``maskError`` string (:90) — downstream
    validation rule #6 picks it up. The pixel ring and the GCP rows
    are the ``mask`` and ``gcps`` columns, as ``MASK_BODY_SCHEMA``
    names them.

    Order 1 (the default, GDAL ``-order 1``) is a pure JVM expression
    (``_AFFINE_SQL``): no Python node in the plan, one projection, and
    every row gets its result in SQL. It matches ``fit_gcp_polynomial``
    to ~1e-11 relative on well-posed sets (tests pin 1e-9), with the
    same ``empty mask``, ``no GCPs``, too-few-GCPs and ``non-finite
    transform result`` messages. Two deliberate differences from the
    numpy path:
    - a GCP row that is not 4 non-null finite numbers, or a ring point
      without a non-null x and y, gets ``_MALFORMED_MSG``;
    - collinear or coincident GCPs (centered determinant
      ``uu·vv − uv² ≤ 1e-9·uu·vv``) get ``_SINGULAR_MSG``, where
      ``lstsq`` returns a min-norm "fit". GDAL's GCP transformer
      (gdal/alg/gdal_crs.cpp) likewise refuses an unsolvable set.

    Orders 2/3 and ``"tps"`` run ``make_gcp_transform_udf`` behind an
    explicit ``filter`` + ``unionByName``, so Catalyst cannot move the
    Python stage in front of the gate and unmasked rows never reach
    Python.
    """
    gate = _masked()
    if order == 1:
        enriched = maps.withColumn("_gcp_result", F.when(gate, F.expr(_AFFINE_SQL)))
    else:
        udf = make_gcp_transform_udf(order)
        # JSON-string boundary (see make_gcp_transform_udf docstring).
        result = udf(F.to_json(F.col("mask")), F.to_json(F.col("gcps")))
        enriched = (
            maps.filter(gate)
            .withColumn("_gcp_result", result)
            .unionByName(
                maps.filter(~gate | F.col("mask_status").isNull()).withColumn(
                    "_gcp_result", F.lit(None).cast(RESULT_SCHEMA)
                )
            )
        )
    res = F.col("_gcp_result")
    return (
        enriched.withColumn(
            "maskGeometry",
            F.when(
                res["ok"],
                F.struct(
                    F.lit("Polygon").alias("type"),
                    res["coordinates"].alias("coordinates"),
                ),
            ),
        )
        .withColumn("maskError", F.when(~res["ok"], res["error"]))
        .drop("_gcp_result")
    )


# JSON body served by the per-map mask endpoint (the fetch half of the
# reference's maskToGeoJSON.getMaskAndTransform, mapwarper.js:84-86):
# the pixel-space mask ring and the GCP rows [px, py, lat, lon].
MASK_BODY_SCHEMA = T.StructType(
    [
        T.StructField("mask", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("gcps", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)


def fetch_masks(spark, maps: DataFrame, config) -> DataFrame:
    """The mask-FETCH hop of reference getMask (mapwarper.js:79-110).

    Only maps that pass the mask gate (``_masked``, computed JVM-side)
    are requested (:81). The map rows themselves go through the fetch
    (``paginated_rest._fetch``), so each mask lands on its own map, as
    the reference attaches it (:84-90): no join back. Bodies parse
    JVM-side (``from_json``) into ``mask``/``gcps``; fetch failures land
    in ``mask_fetch_error`` (error-as-data, :90). Compose with
    ``enrich_masks`` for the transform half.
    """
    from ..sources.paginated_rest import _fetch

    masked = maps.withColumn("_mask_id", F.when(_masked(), F.col("id")))
    url_of = lambda k: config.url_template.format(id=k)  # noqa: E731
    f = F.col("_fetched")
    return _fetch(config, masked, "_mask_id", url_of).select(
        *maps.columns,
        F.when(f["ok"], F.from_json(f["body"], MASK_BODY_SCHEMA)).alias("_mb"),
        F.when(~f["ok"], f["error"]).alias("mask_fetch_error"),
    ).select(*maps.columns, "_mb.*", "mask_fetch_error")


def attach_map_layers(maps: DataFrame, map_layers: DataFrame) -> DataFrame:
    """Left join maps to aggregated layer membership (replaces :57-77).

    ``map_layers`` carries ``MAP_LAYER_ITEM_SCHEMA``'s ``map_id`` and
    ``layer_id``. The aggregated membership side is broadcast: it is
    bounded by the number of (map, layer) pairs — dimension-sized next
    to a 100 TB fact scan — so the maps side never shuffles.
    """
    grouped = map_layers.groupBy(F.col("map_id").alias("_ml_map_id")).agg(
        F.sort_array(F.collect_set(F.col("layer_id"))).alias("layerIds")
    )
    return maps.join(
        broadcast(grouped), maps["id"] == grouped["_ml_map_id"], "left"
    ).drop("_ml_map_id")


# ---------------------------------------------------------------------------
# Oracle-gated queries. The fixture GCPs lie EXACTLY on an affine map
# (world = a·px + c, e·py + f), so the least-squares fit recovers the
# coefficients to ~1e-12 and DuckDB can reproduce the transformed ring
# with direct arithmetic; round(·, 6) absorbs the solver noise (values
# are multiples of 1e-5/1e-4 — never near a rounding midpoint).
# ---------------------------------------------------------------------------

_TOO_FEW_GCPS_MSG = (
    "ValueError: need >= 3 GCPs of [px,py,lat,lon] for order 1, "
    "got shape (2, 4)"
)


def _masked_map_record(k: int) -> dict:
    """Map ``k`` of the masked-map fixture: a pixel-space ``mask`` ring
    and ``gcps`` lying exactly on lon = a·px + c, lat = e·py + f0.

    k%10==0 → unmasked (gated out of the fit); k%17==0 → only 2 GCPs
    (error record); everything else transforms cleanly. The oracle SQL
    repeats this arithmetic in the same IEEE operation order. Both
    ``synthetic_masked_maps`` and the pipeline's fake mask endpoint
    (``pipeline_queries._serve_mask``) serve these records.
    """
    a = (k % 3 + 1) * 0.0001
    e = (k % 2 + 2) * 0.00005
    c = -74.0 + k * 0.001
    f0 = 40.7 + k * 0.0005
    w = float(k % 50 + 100)
    h = float(k % 40 + 80)
    corners = [(0.0, 0.0), (200.0, 0.0), (0.0, 200.0), (200.0, 200.0)]
    return {
        "id": k,
        "mask_status": "unmasked" if k % 10 == 0 else "masked",
        "mask": [[0.0, 0.0], [w, 0.0], [w, h], [0.0, h], [0.0, 0.0]],
        "gcps": [
            [px, py, e * py + f0, a * px + c]
            for px, py in corners[: 2 if k % 17 == 0 else 4]
        ],
    }


_MASKED_MAP_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("mask_status", T.StringType()),
        *MASK_BODY_SCHEMA.fields,
    ]
)


def synthetic_masked_maps(spark, sf_dir: str) -> DataFrame:
    """``_masked_map_record`` for each p_partkey < 150, as a parquet scan."""
    return _fixture_df(
        spark,
        sf_dir,
        "masked_maps",
        lambda s, d: [_masked_map_record(k) for k in _map_keys(s, d)],
        _MASKED_MAP_SCHEMA,
    )


def mw_gcp_transform(spark, sf_dir: str) -> DataFrame:
    maps = synthetic_masked_maps(spark, sf_dir)
    enriched = enrich_masks(maps)
    # posexplode of a null ring yields no rows, so unfitted maps drop
    # out without a filter (one on maskGeometry would copy the whole
    # _AFFINE_SQL into the Filter as well as the Project).
    ring0 = F.element_at(F.col("maskGeometry")["coordinates"], 1)
    return (
        enriched.select("id", F.posexplode(ring0).alias("idx", "pt"))
        .select(
            "id",
            "idx",
            F.round(F.element_at("pt", 1), 6).alias("lon"),
            F.round(F.element_at("pt", 2), 6).alias("lat"),
        )
    )


_register(
    "mw_gcp_transform",
    mw_gcp_transform,
    """
    WITH keys AS (
      SELECT p_partkey AS k FROM part
      WHERE p_partkey < 150 AND p_partkey % 10 <> 0 AND p_partkey % 17 <> 0
    ), pts AS (
      SELECT k, i.i::INT AS idx,
        CASE i.i WHEN 1 THEN (100 + k % 50) WHEN 2 THEN (100 + k % 50) ELSE 0 END AS px,
        CASE i.i WHEN 2 THEN (80 + k % 40) WHEN 3 THEN (80 + k % 40) ELSE 0 END AS py
      FROM keys CROSS JOIN (SELECT unnest(range(0, 5)) AS i) i
    )
    SELECT k::BIGINT AS id, idx,
      round((k % 3 + 1) * CAST(0.0001 AS DOUBLE) * px
            + (CAST(-74.0 AS DOUBLE) + k * CAST(0.001 AS DOUBLE)), 6) AS lon,
      round((k % 2 + 2) * CAST(0.00005 AS DOUBLE) * py
            + (CAST(40.7 AS DOUBLE) + k * CAST(0.0005 AS DOUBLE)), 6) AS lat
    FROM pts
    """,
)


def mw_gcp_transform_tps(spark, sf_dir: str) -> DataFrame:
    """The mw_gcp_transform surface under ``transform_options='tps'``
    (reference mapwarper.js:86 passes transform_options through to
    GDAL, whose ``-tps`` path is gdal/alg/gdal_tps.cpp). The fixture
    GCPs lie EXACTLY on an affine map, and TPS interpolation of
    affine data has the unique solution w=0 + that affine map — so
    the polynomial oracle SQL is shared verbatim, while the engine
    exercises the full dense-spline solve/apply path. round(·, 6)
    absorbs the (n+3)×(n+3) solver noise exactly as for lstsq."""
    maps = synthetic_masked_maps(spark, sf_dir)
    enriched = enrich_masks(maps, order=order_from_transform_options("tps"))
    ring0 = F.element_at(F.col("maskGeometry")["coordinates"], 1)
    return (
        enriched.select("id", F.posexplode(ring0).alias("idx", "pt"))
        .select(
            "id",
            "idx",
            F.round(F.element_at("pt", 1), 6).alias("lon"),
            F.round(F.element_at("pt", 2), 6).alias("lat"),
        )
    )


_register(
    "mw_gcp_transform_tps",
    mw_gcp_transform_tps,
    ORACLE["mw_gcp_transform"],
)


def mw_gcp_errors(spark, sf_dir: str) -> DataFrame:
    # explode, not filter: Catalyst pushes a Filter on maskError through
    # enrich_masks' projection, which copies _AFFINE_SQL into the Filter
    errors = F.explode(F.array_compact(F.array("maskError")))
    return enrich_masks(synthetic_masked_maps(spark, sf_dir)).select(
        "id", errors.alias("maskError")
    )


_register(
    "mw_gcp_errors",
    mw_gcp_errors,
    f"""
    SELECT p_partkey::BIGINT AS id,
           '{_TOO_FEW_GCPS_MSG}' AS maskError
    FROM part
    WHERE p_partkey < 150 AND p_partkey % 10 <> 0 AND p_partkey % 17 = 0
    """,
)


def mw_map_layers_join(spark, sf_dir: str) -> DataFrame:
    """Real join replacing the reference's N+1 per-map layer lookup."""
    from ..sources.tables import load_table

    k = F.col("p_partkey")
    maps = (
        load_table(spark, sf_dir, "part")
        .filter(k < 150)
        .select(k.cast("long").alias("id"))
    )
    membership = (
        load_table(spark, sf_dir, "part")
        .filter((k < 150) & (k % 43 != 0))
        .select(
            k.cast("long").alias("map_id"),
            F.explode(
                F.array(
                    (k % 25).cast("long"),
                    ((k * 3) % 25).cast("long"),
                    ((k * 7) % 25).cast("long"),
                )
            ).alias("layer_id"),
        )
    )
    joined = attach_map_layers(maps, membership)
    ids = F.col("layerIds")
    return joined.select(
        "id",
        F.when(ids.isNotNull(), F.size(ids)).otherwise(F.lit(0)).alias("n_layers"),
        F.when(ids.isNotNull(), F.concat_ws(",", ids.cast("array<string>"))).alias(
            "layer_csv"
        ),
    )


_register(
    "mw_map_layers_join",
    mw_map_layers_join,
    """
    WITH maps AS (
      SELECT p_partkey::BIGINT AS id FROM part WHERE p_partkey < 150
    ), member AS (
      SELECT p_partkey::BIGINT AS map_id,
             list_sort(list_distinct([
               (p_partkey % 25)::BIGINT,
               ((p_partkey * 3) % 25)::BIGINT,
               ((p_partkey * 7) % 25)::BIGINT
             ])) AS layer_ids
      FROM part WHERE p_partkey < 150 AND p_partkey % 43 <> 0
    )
    SELECT id,
           coalesce(len(layer_ids), 0)::INT AS n_layers,
           array_to_string(layer_ids, ',') AS layer_csv
    FROM maps LEFT JOIN member ON id = map_id
    """,
)
