"""Unit tests for the mapwarper transform (reference parity).

Golden values are computed by INDEPENDENT pure-Python ports — of the
published geojson-area algorithm (the same one turf.area v3 uses) and
of the strict segment-crossing count behind the self-intersection
rule — so the Spark column expressions are cross-checked against a
second implementation, not against themselves.
"""

from __future__ import annotations

import math
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_mapwarper_spark.functions.geo import (  # noqa: E402
    self_intersection_count,
)
from etl_mapwarper_spark.operators.mapwarper import (  # noqa: E402
    map_logs,
    map_objects,
    map_relations,
    synthetic_maps,
    transform_layers,
    synthetic_layers,
)

SF = "/root/testdata/sf0.001"
RADIUS = 6378137.0


def ref_ring_area(coords):
    n = len(coords)
    if n <= 2:
        return 0.0
    area = 0.0
    for i in range(n):
        lower, middle, upper = i, (i + 1) % n, (i + 2) % n
        p1, p2, p3 = coords[lower], coords[middle], coords[upper]
        area += (math.radians(p3[0]) - math.radians(p1[0])) * math.sin(
            math.radians(p2[1])
        )
    return area * RADIUS * RADIUS / 2


def ref_polygon_area(rings):
    total = abs(ref_ring_area(rings[0]))
    for hole in rings[1:]:
        total -= abs(ref_ring_area(hole))
    return total


def test_geodesic_area_matches_independent_impl(spark):
    from etl_mapwarper_spark.functions.geo import geodesic_area

    maps = synthetic_maps(spark, SF).filter(F.col("maskGeometry").isNotNull())
    got = {
        r["id"]: r["a"]
        for r in maps.select(
            "id", geodesic_area("maskGeometry.coordinates").alias("a")
        ).collect()
    }
    rows = maps.select("id", "maskGeometry.coordinates").collect()
    assert len(got) > 100
    for r in rows:
        expected = ref_polygon_area(r["coordinates"])
        assert abs(got[r["id"]] - expected) <= max(1e-6 * abs(expected), 1e-6), r["id"]


def _proper_cross(ax, ay, bx, by, cx, cy, dx, dy) -> bool:
    """Strict proper crossing of segments AB and CD (no collinear/touch)."""

    def ccw(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    d1 = ccw(cx, cy, dx, dy, ax, ay)
    d2 = ccw(cx, cy, dx, dy, bx, by)
    d3 = ccw(ax, ay, bx, by, cx, cy)
    d4 = ccw(ax, ay, bx, by, dx, dy)
    return ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
        (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
    )


def _ring_kinks(ring) -> int:
    pts = [(float(p[0]), float(p[1])) for p in ring]
    nseg = len(pts) - 1  # closed ring: last point repeats the first
    count = 0
    for i in range(nseg):
        for j in range(i + 1, nseg):
            # skip adjacent segments (share an endpoint), incl. wraparound
            if j == i + 1 or (i == 0 and j == nseg - 1):
                continue
            a, b = pts[i], pts[i + 1]
            c, d = pts[j], pts[j + 1]
            if _proper_cross(a[0], a[1], b[0], b[1], c[0], c[1], d[0], d[1]):
                count += 1
    return count


def ref_kinks(coords) -> int:
    if coords is None:
        return 0
    return sum(
        _ring_kinks(ring) for ring in coords if ring is not None and len(ring) >= 4
    )


SQUARE = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
BOWTIE = [[0.0, 0.0], [1.0, 1.0], [1.0, 0.0], [0.0, 1.0], [0.0, 0.0]]


def _random_ring(rng: random.Random):
    n = rng.choice([0, 1, 2, 3, 4, 5, 6, 8, 12])
    if rng.random() < 0.5:
        # small integer grid: many collinear and duplicate points
        pts = [[float(rng.randint(0, 3)), float(rng.randint(0, 3))] for _ in range(n)]
    else:
        pts = [[rng.uniform(-74.1, -73.8), rng.uniform(40.6, 40.9)] for _ in range(n)]
    if pts and rng.random() < 0.2:
        k = rng.randrange(len(pts))
        pts.insert(k, list(pts[k]))  # repeated vertex
    if pts and rng.random() < 0.8:
        pts.append(list(pts[0]))  # closed ring
    return pts


def _kinks_corpus(n: int, seed: int = 20260):
    rng = random.Random(seed)
    corpus = [None, [], [None], [SQUARE], [BOWTIE], [SQUARE, BOWTIE]]
    while len(corpus) < n:
        if rng.random() < 0.05:
            corpus.append(None)
            continue
        rings = [
            None if rng.random() < 0.05 else _random_ring(rng)
            for _ in range(rng.choice([1, 1, 1, 2, 3]))
        ]
        corpus.append(rings)
    return corpus


def test_kinks_bowtie_and_square(spark):
    assert _ring_kinks(SQUARE) == 0
    assert _ring_kinks(BOWTIE) == 1
    df = spark.createDataFrame(
        [(0, [SQUARE]), (1, [BOWTIE])], "id int, c array<array<array<double>>>"
    )
    got = dict(df.select("id", self_intersection_count("c")).collect())
    assert got == {0: 0, 1: 1}


def test_kinks_expression_matches_reference(spark):
    """The JVM kinks expression equals the pure-Python reference on a
    seeded corpus with null polygons, null and short rings, collinear
    and repeated points, and multi-ring polygons."""
    corpus = _kinks_corpus(3000)
    df = spark.createDataFrame(
        list(enumerate(corpus)), "id int, c array<array<array<double>>>"
    )
    got = dict(
        df.select("id", self_intersection_count("c").alias("k")).collect()
    )
    expected = {i: ref_kinks(c) for i, c in enumerate(corpus)}
    mismatched = sorted(i for i in expected if got[i] != expected[i])
    assert not mismatched, [(corpus[i], got[i], expected[i]) for i in mismatched[:5]]
    # the corpus exercises the crossing branch, not just the zero paths
    assert sum(v > 0 for v in expected.values()) > 300


def test_logs_xor_objects(spark):
    """A guarded map yields logs XOR an object, never both (ref :358-361)."""
    maps = synthetic_maps(spark, SF)
    log_ids = {r["id"] for r in map_logs(maps).collect()}
    obj_ids = {int(r["id"]) for r in map_objects(maps).collect()}
    assert log_ids and obj_ids
    assert not (log_ids & obj_ids)
    guarded = maps.filter(
        F.col("bbox").isNotNull() & (F.col("map_type") == "is_map")
    ).count()
    assert len(log_ids) + len(obj_ids) == guarded


def test_all_nine_rules_fire(spark):
    maps = synthetic_maps(spark, SF)
    types = {
        r["t"]
        for r in map_logs(maps)
        .select(F.explode("logs").alias("l"))
        .select(F.col("l.type").alias("t"))
        .distinct()
        .collect()
    }
    assert types == {
        "missing_uuid",
        "mask_coordinates_count",
        "self_intersection",
        "invalid_coordinates",
        "multipolygon",
        "mask_to_geojson",
        "warped_but_unmasked",
        "unwarped_but_masked",
        "mask_missing",
    }


def test_relations_shape(spark):
    rels = map_relations(synthetic_maps(spark, SF)).collect()
    assert rels
    for r in rels:
        assert r["rel_type"] == "st:in"
        assert r["dst"].startswith("layer-")


def test_layer_objects_surrogate_key_and_year(spark):
    out = transform_layers(synthetic_layers(spark, SF)).collect()
    assert len(out) == 25
    by_id = {r["id"]: r for r in out}
    # n=3: depicts 1863 → validSince 1863; id surrogate
    assert by_id["layer-3"]["validSince"] == 1863
    # n=5: depicts null (5%5==0) → falls back to issue_year 1915
    assert by_id["layer-5"]["validSince"] == 1915
    # n=6: bbox null → data.bbox null
    assert by_id["layer-6"]["data"]["bbox"] is None
    assert by_id["layer-3"]["data"]["bbox"] == [-74.1, 40.6, -73.8, 40.9]


def test_empty_ring_list_is_logged_in_ansi_and_legacy_sessions(spark, tmp_path):
    """A mask with an empty ring list gets log records, not a failed job,
    in an ANSI session (Spark 4's default, so that of a plain
    ``SparkSession``) and in ``get_spark``'s non-ANSI one alike: the same
    records, reading 0 coordinates. ANSI is a SQL conf, so a
    ``newSession`` of the test context with it on runs the ANSI
    semantics."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from etl_mapwarper_spark.functions.geo import coords_all_valid, geodesic_area
    from etl_mapwarper_spark.operators.mapwarper import MAP_ITEM_SCHEMA, map_records

    good = [r for r in map_records(spark, SF) if r["maskGeometry"]][:20]
    empty = {
        **good[1],
        "id": 10_000,
        "maskGeometry": {"type": "Polygon", "coordinates": []},
    }
    path = str(tmp_path / "maps.parquet")
    pq.write_table(
        pa.Table.from_pylist(good + [empty], schema=to_arrow_schema(MAP_ITEM_SCHEMA)),
        path,
    )
    ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    outputs = []
    for session in (ansi, spark):
        maps = session.read.schema(MAP_ITEM_SCHEMA).parquet(path)
        logs = {r["id"]: r["logs"] for r in map_logs(maps).collect()}
        objects = sorted(r["id"] for r in map_objects(maps).collect())
        relations = sorted(map(tuple, map_relations(maps).collect()))
        geo = maps.filter("id = 10000").select(
            self_intersection_count("maskGeometry.coordinates").alias("k"),
            coords_all_valid("maskGeometry.coordinates").alias("ok"),
            geodesic_area("maskGeometry.coordinates").alias("a"),
        ).collect()
        assert [tuple(r) for r in geo] == [(0, True, 0.0)]
        outputs.append((logs, objects, relations))
    assert outputs[0] == outputs[1]
    logs = outputs[0][0]
    assert {(l["type"], l["message"]) for l in logs[10_000]} >= {
        (
            "mask_coordinates_count",
            "Mask has 0 coordinates (should have at least 4)",
        ),
        ("multipolygon", "Mask is a MultiPolygon with 0 polygons"),
    }
    assert "10000" not in outputs[0][1]
