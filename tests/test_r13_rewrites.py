"""Pins for the r13 plan rewrites: each optimization replaced a
multi-pass shape with a single-pass one, and these tests hold the
replaced shape and the shipped shape to exact equality on real data —
the property the oracle parity rests on.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402


def test_admission_single_join_equals_anti_semi(spark):
    """dd_incremental_dedup (r13) computes admitted/rejected per source
    in ONE left join against the distinct landed set instead of
    separate anti and semi probes stitched with a full-outer join.
    Because the landed side is distinct, the left join preserves the
    batch row count exactly and the match flag partitions it into the
    anti rows (no match) and the semi rows (match), so every
    (source, n_admitted, n_rejected) must be identical."""
    from etl_mapwarper_spark.operators.dedup import (
        _INCR_SPLIT,
        _admission_report,
        doc_fingerprint,
    )
    from etl_mapwarper_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", doc_fingerprint(F.col("text")).alias("fp")
    )
    landed = (
        docs.filter(F.col("doc_id") < _INCR_SPLIT).select("fp").distinct()
    )
    batch = docs.filter(F.col("doc_id") >= _INCR_SPLIT)

    admitted = batch.join(landed, "fp", "left_anti")
    rejected = batch.join(landed, "fp", "left_semi")
    old = (
        admitted.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_admitted"))
        .join(
            rejected.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_rejected")
            ),
            "source",
            "full_outer",
        )
        .select(
            "source",
            F.coalesce("n_admitted", F.lit(0)).alias("n_admitted"),
            F.coalesce("n_rejected", F.lit(0)).alias("n_rejected"),
        )
    )
    new = _admission_report(landed, batch)

    a = {r.source: (r.n_admitted, r.n_rejected) for r in old.collect()}
    b = {r.source: (r.n_admitted, r.n_rejected) for r in new.collect()}
    assert a == b, "single-join admission must match anti+semi report"
    # row-count preservation: the left join may not multiply batch rows
    n_batch = batch.count()
    n_flagged = batch.join(
        landed.select("fp", F.lit(True).alias("_seen")), "fp", "left"
    ).count()
    assert n_batch == n_flagged, "distinct landed side must not fan out"


def test_bloom_confirm_inner_equals_semi(spark):
    """dd_bloom_incremental (r13) confirms maybes with an inner join
    against the DISTINCT landed set instead of a left_semi against the
    raw one (Catalyst pushes semi joins below the Bloom probe — see
    _bloom_route). On a distinct build side the two are row-identical,
    and the union-aggregated report must match the join-stitched one."""
    from etl_mapwarper_spark.operators.dedup import (
        _INCR_SPLIT,
        _bloom_route,
        doc_fingerprint,
    )
    from etl_mapwarper_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", doc_fingerprint(F.col("text")).alias("fp")
    )
    landed = docs.filter(F.col("doc_id") < _INCR_SPLIT).select("fp")
    batch = docs.filter(F.col("doc_id") >= _INCR_SPLIT)

    new = _bloom_route(landed, batch, landed.distinct())

    # the replaced r6-r12 report: semi-join confirm + two groupBys
    # stitched with a left join
    rejected = (
        batch.join(landed, "fp", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_rejected"))
    )
    totals = batch.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch")
    )
    old = totals.join(rejected, "source", "left").select(
        "source",
        (F.col("n_batch") - F.coalesce("n_rejected", F.lit(0))).alias(
            "n_admitted"
        ),
        F.coalesce("n_rejected", F.lit(0)).alias("n_rejected"),
        "n_batch",
    )
    a = sorted(map(tuple, old.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b, "union-aggregated Bloom report must match join form"


def test_bloom_confirm_sits_above_probe(spark):
    """The exact confirm join must consume the Bloom probe's output
    (prune first, confirm the survivors) — the property Catalyst's
    PushDownLeftSemiAntiJoin silently destroyed in the r6-r12 semi
    shape by running the confirm on every batch row."""
    import re

    import __spark_entry__ as entrymod
    from etl_mapwarper_spark.plans.audit import formatted_plan

    queries = entrymod.queries()
    for name in ("dd_bloom_incremental", "dd_bloom_incremental_fp"):
        plan = formatted_plan(queries[name](spark, SF_DIR))
        tree = plan.split("\n\n")[0]
        m_confirm = re.search(r"BroadcastHashJoin Inner", tree)
        m_probe = re.search(r"BroadcastNestedLoopJoin Cross", tree)
        assert m_confirm and m_probe, f"{name}: expected joins missing"
        assert m_confirm.start() < m_probe.start(), (
            f"{name}: confirm join was pushed below the Bloom probe"
        )


def test_synthetic_media_substring_payload_byte_identical(spark):
    """synthetic_media (r13) builds the (m + i) % 256 payload as one
    substring of a repeated 0..255 binary literal instead of a per-byte
    hex-string transform. Every payload byte must be identical to the
    replaced form for both media kinds."""
    from etl_mapwarper_spark.operators.multimodal import (
        FRAMES,
        H,
        W,
        synthetic_media,
    )
    from etl_mapwarper_spark.sources.tables import load_table

    for kind in ("image", "video"):
        n_bytes = W * H * (FRAMES if kind == "video" else 1)
        m = F.col("doc_id")
        payload_hex = F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bytes - 1)),
                lambda i: F.lpad(F.lower(F.hex((m + i) % 256)), 2, "0"),
            ),
            "",
        )
        old = (
            load_table(spark, SF_DIR, "documents")
            .filter(m < 200)
            .select(
                m.alias("media_id"), F.unhex(payload_hex).alias("payload")
            )
        )
        new = synthetic_media(spark, SF_DIR, kind=kind).select(
            "media_id", "payload"
        )
        a = {r.media_id: bytes(r.payload) for r in old.collect()}
        b = {r.media_id: bytes(r.payload) for r in new.collect()}
        assert a == b, f"{kind}: substring payload differs from hex form"
