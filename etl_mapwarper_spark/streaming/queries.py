"""Driver-gate queries for the streaming surface.

Each query replays ``events`` as a finite file-source stream
(``availableNow``) through a real streaming plan — event-time windows,
watermarks, within-watermark dedup, ``applyInPandasWithState`` — and
returns the settled result as a batch DataFrame. Aggregations run in
complete mode, whose final result equals batch semantics by
construction, so every query here is value-checked against DuckDB
rather than rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import registry
from . import ops
from .runner import read_events_stream, run_foreach_batch, run_to_memory

QUERIES, ORACLE, _register = registry()


def st_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory(ops.tumbling_counts(ev), output_mode="complete")


_register(
    "st_tumbling_counts",
    st_tumbling_counts,
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)


def st_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory(ops.sliding_counts(ev), output_mode="complete")


_register(
    "st_sliding_counts",
    st_sliding_counts,
    # each event belongs to 2 two-hour windows sliding by 1 hour
    """
    SELECT date_trunc('hour', ts) - o.o * INTERVAL 1 HOUR AS window_start,
           count(*) AS n
    FROM events CROSS JOIN (VALUES (0), (1)) o(o)
    GROUP BY 1
    """,
)


def st_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory(ops.session_windows(ev), output_mode="complete")


_register(
    "st_session_windows",
    st_session_windows,
    # gap-based sessionization; session_window end = last ts + gap.
    # New session when the gap is >= 30 min (window end is exclusive).
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                              )::BIGINT AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           round(sum(value), 6) AS sum_value
    FROM sessions GROUP BY user_id, session_id
    """,
)


def st_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate every event (self-union), dedup within watermark."""
    ev = read_events_stream(spark, sf_dir)
    doubled = ev.unionByName(read_events_stream(spark, sf_dir))
    deduped = run_to_memory(
        ops.dedup_within_watermark(doubled, keys=["event_id"]),
        output_mode="append",
    )
    return deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


_register(
    "st_dedup_watermark",
    st_dedup_watermark,
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)


def st_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful op (applyInPandasWithState) via foreachBatch.

    Each micro-batch's update rows land in an append-only parquet
    zone — executor-side writes, nothing materializes on the driver.
    The settled readback keeps the LAST update per user with a
    ``max_by`` on (batch_id, n_events), entirely JVM-side: running
    totals are monotone in n_events within a user, so the max update
    is the settled row. This is the scale-safe shape of the pattern —
    the landing zone grows with update volume, not with driver memory.
    """
    import tempfile

    ev = read_events_stream(spark, sf_dir)
    land = tempfile.mkdtemp(prefix="st_user_totals_") + "/updates"

    def write_updates(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(land)

    run_foreach_batch(
        ops.stateful_user_totals(ev), write_updates, output_mode="update"
    )
    settled = (
        spark.read.parquet(land)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "total_value"),
                F.struct("batch_id", "n_events"),
            ).alias("s")
        )
    )
    return settled.select("user_id", "s.n_events", "s.total_value")


_register(
    "st_user_totals",
    st_user_totals,
    """
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 6) AS total_value
    FROM events GROUP BY user_id
    """,
)


def st_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import dim_broadcast, load_table

    ev = read_events_stream(spark, sf_dir)
    # size-gated dimension broadcast (r9 broadcast audit): customer is
    # a catalog table that grows with the dataset; past the gate, AQE/
    # the stream planner pick the join side from runtime stats instead
    # of an unconditional hint
    cust = dim_broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        ),
        sf_dir,
        "customer",
    )
    return run_to_memory(
        ops.stream_static_enrich(ev, cust), output_mode="complete"
    )


_register(
    "st_stream_static_join",
    st_stream_static_join,
    """
    SELECT date_trunc('hour', ts) AS window_start,
           c_mktsegment,
           count(*) AS n,
           round(sum(value), 6) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)


def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution: each click joined to the same
    user's purchases within the following hour — two live streams,
    watermarks bounding join state on both sides."""
    clicks = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = run_to_memory(
        ops.stream_stream_interval_join(clicks, purchases),
        output_mode="append",
    )
    return joined.select(
        F.col("l_event").alias("click_id"),
        F.col("r_event").alias("purchase_id"),
        F.round("r_value", 6).alias("purchase_value"),
    )


_register(
    "st_stream_stream_join",
    st_stream_stream_join,
    """
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           round(p.value, 6) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)


def st_foreach_batch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sink via foreachBatch: partial-agg append + final merge.

    The pattern behind every warehouse-bound streaming pipeline: each
    micro-batch aggregates ITS OWN rows (map-side-style partials) and
    appends them to a parquet landing zone; readers merge partials
    with a second aggregation. Because the raw stream is stateless
    (no streaming agg), every event contributes to exactly one
    partial, so the merged totals equal the batch computation for any
    micro-batch slicing — and the landing zone is append-only, which
    is what object stores want. Compaction of the accreted partial
    files is ``sources/compaction.py``'s job.
    """
    import tempfile

    ev = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    land = tempfile.mkdtemp(prefix="fb_partials_") + "/partials"

    def write_partials(bdf: DataFrame, batch_id: int) -> None:
        (
            bdf.groupBy("user_id")
            .agg(
                F.sum("value").alias("v"),
                F.count(F.lit(1)).alias("n"),
            )
            .write.mode("append")
            .parquet(land)
        )

    run_foreach_batch(ev, write_partials, output_mode="append")
    partials = spark.read.parquet(land)
    return partials.groupBy("user_id").agg(
        F.round(F.sum("v"), 6).alias("total_value"),
        F.sum("n").alias("n_purchases"),
    )


_register(
    "st_foreach_batch_merge",
    st_foreach_batch_merge,
    """
    SELECT user_id,
           round(sum(value), 6) AS total_value,
           count(*) AS n_purchases
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)


_STCMS_D = 4
_STCMS_W = 64
_STCMS_TOP = 10


def _stcms_bucket(col, i: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}|"), col.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % _STCMS_W
    )


def st_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min-sketch maintenance via foreachBatch.

    The mergeable-sketch counterpart of st_foreach_batch_merge: each
    micro-batch builds its OWN d×w partial counter table over the
    user_id stream and appends it to the landing zone; the reader
    sums counters per (row, bucket) — exact because CMS counters are
    additive — and serves heavy-hitter estimates from the merged
    sketch. This is how a streaming pipeline keeps an always-current
    frequency sketch with bounded state (d×w cells per batch) and no
    streaming aggregation state at all. Estimates are checked against
    the exact top-10 (the tx_heavy_hitters_cms report shape); the
    merged sketch is bit-identical to a one-pass batch sketch, which
    is what the DuckDB oracle computes.
    """
    import tempfile

    ev = read_events_stream(spark, sf_dir).select("user_id")
    land = tempfile.mkdtemp(prefix="st_cms_") + "/partials"

    def write_partial_sketch(bdf: DataFrame, batch_id: int) -> None:
        (
            bdf.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("i"),
                                _stcms_bucket(F.col("user_id"), i).alias("b"),
                            )
                            for i in range(_STCMS_D)
                        ]
                    )
                ).alias("ib")
            )
            .groupBy(F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .write.mode("append")
            .parquet(land)
        )

    run_foreach_batch(ev, write_partial_sketch, output_mode="append")
    sketch = (
        spark.read.parquet(land)
        .groupBy("i", "b")
        .agg(F.sum("c").alias("c"))
    )
    from ..sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    top = exact.orderBy(F.desc("n"), F.asc("user_id")).limit(_STCMS_TOP)
    probes = top.select(
        "user_id",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _stcms_bucket(F.col("user_id"), i).alias("b"),
                    )
                    for i in range(_STCMS_D)
                ]
            )
        ).alias("ib"),
    ).select("user_id", "n", F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
    return (
        probes.join(F.broadcast(sketch), ["i", "b"])
        .groupBy("user_id", "n")
        .agg(F.min("c").alias("n_est"))
        .select(
            "user_id",
            F.col("n").alias("n_exact"),
            "n_est",
            (F.col("n_est") - F.col("n")).alias("overcount"),
        )
    )


_register(
    "st_cms_topk",
    st_cms_topk,
    f"""
    WITH ids AS (SELECT user_id FROM events),
    exact AS (SELECT user_id, count(*) AS n FROM ids GROUP BY 1),
    top AS (
      SELECT user_id, n FROM exact
      ORDER BY n DESC, user_id ASC LIMIT {_STCMS_TOP}
    ),
    hrows AS (SELECT unnest(range({_STCMS_D})) AS i),
    sk AS (
      SELECT i,
             TRY_CAST('0x' || substr(md5(concat(i::VARCHAR, '|',
                      user_id::VARCHAR)), 1, 8) AS BIGINT)
               % {_STCMS_W} AS b,
             count(*) AS c
      FROM ids CROSS JOIN hrows
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT t.user_id, t.n, h.i,
             TRY_CAST('0x' || substr(md5(concat(h.i::VARCHAR, '|',
                      t.user_id::VARCHAR)), 1, 8) AS BIGINT)
               % {_STCMS_W} AS b
      FROM top t CROSS JOIN hrows h
    )
    SELECT p.user_id,
           p.n AS n_exact,
           min(sk.c)::BIGINT AS n_est,
           (min(sk.c) - p.n)::BIGINT AS overcount
    FROM probes p JOIN sk ON p.i = sk.i AND p.b = sk.b
    GROUP BY 1, 2
    """,
)


def st_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithState twin of st_user_totals — NOT registered as a
    driver entry: the TWS Python worker needs google.protobuf, absent
    in this container (see ops.stateful_user_totals_tws docstring);
    registering it would put a guaranteed-crash row in a driver window.

    On a protobuf-present host this runs the REAL
    transformWithStateInPandas pipeline through the same
    foreachBatch landing zone + settled readback as st_user_totals,
    and tests/test_streaming.py::test_transform_with_state_gate
    becomes a DIFFERENTIAL test asserting its rows equal the
    applyInPandasWithState twin's (the executable parity artifact for
    the one env-gated surface). Here it fails fast with the gate's
    NotImplementedError."""
    import tempfile

    ev = read_events_stream(spark, sf_dir)
    tws = ops.stateful_user_totals_tws(ev)  # raises without protobuf
    land = tempfile.mkdtemp(prefix="st_user_totals_tws_") + "/updates"

    def write_updates(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(land)

    run_foreach_batch(tws, write_updates, output_mode="update")
    settled = (
        spark.read.parquet(land)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "total_value"),
                F.struct("batch_id", "n_events"),
            ).alias("s")
        )
    )
    return settled.select("user_id", "s.n_events", "s.total_value")


# ---------------------------------------------------------------------------
# st_rest_incremental — incremental REST crawl via the STREAMING
# Python DataSource: the API "publishes" more pages between runs, and
# three checkpointed availableNow passes each land only their delta
# (offset = page high-water mark, fetches on executors, the offset
# log makes re-runs exactly-once). This is the streaming counterpart
# of the reference's full re-crawl (mapwarper.js:183-199 re-downloads
# everything each run); with a checkpoint the crawl becomes
# incremental. The landed parquet is then read back batch-side and
# items are exploded JVM-side exactly like src_rest_scan.
# ---------------------------------------------------------------------------


def st_rest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.ingestion import ITEM_SCHEMA
    from ..sources.paginated_rest import PAGE_SCHEMA, page_items
    from ..sources.rest_datasource import register

    register(spark)
    base = tempfile.mkdtemp(prefix="rest_stream_")
    out, ckpt = f"{base}/pages", f"{base}/ckpt"
    total, per_page = 530, 100  # 6 pages; grows 2 → 4 → 6 across runs
    for available in (2, 4, 6):
        pages = (
            spark.readStream.format("paginated_rest")
            .option(
                "url_template",
                "fake://api/items.json?total=%d&per_page={per_page}"
                "&page={page}" % total,
            )
            .option("per_page", per_page)
            .option("available_pages", available)
            .option("max_concurrency", 4)
            .option("requests_per_second", 1e9)
            .option("retries", 0)
            .option(
                "fetcher",
                "etl_mapwarper_spark.operators.ingestion:fake_api_fetch",
            )
            .load()
        )
        q = (
            pages.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    landed = spark.read.schema(PAGE_SCHEMA).parquet(out)
    return page_items(landed, ITEM_SCHEMA).select("id", "name", "value")


_register(
    "st_rest_incremental",
    st_rest_incremental,
    """
    SELECT i AS id, 'item-' || i AS name, i * 0.25 AS value
    FROM range(0, 530) t(i)
    """,
)


# ---------------------------------------------------------------------------
# st_dq_gate — streaming data-quality gate: every micro-batch is
# split by the declarative rule set (the dq_expectations pattern) —
# clean rows land in the promoted sink, violating rows in the
# quarantine sink with a rule tag, and nothing is dropped silently.
# This is the reference's error-as-data contract (mapwarper.js:
# 122-129 quarantines failed pages as records) applied to a stream.
# Replay is finite (availableNow); the returned summary aggregates
# both sinks and must reconcile: clean + quarantined = corpus.
# ---------------------------------------------------------------------------

_DQ_STREAM_RULES = [
    ("value_nonnegative", "value IS NULL OR value < 0"),
    ("type_in_domain",
     "event_type NOT IN ('click', 'view', 'purchase', 'signup', 'error')"),
    ("value_under_cap", "value > 400.0"),  # outlier gate — fires on real rows
]


def st_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    base = tempfile.mkdtemp(prefix="st_dq_")
    clean_path, quar_path = f"{base}/clean", f"{base}/quarantine"
    viol = " OR ".join(f"({p})" for _, p in _DQ_STREAM_RULES)
    rule_tag = F.concat_ws(
        ",",
        *[
            F.when(F.expr(p), F.lit(name)) for name, p in _DQ_STREAM_RULES
        ],
    )

    def gate(batch: DataFrame, _batch_id: int) -> None:
        # Three-valued-logic guard: a NULL rule predicate (e.g. NULL
        # event_type) must not let the row skip BOTH sinks — unknown
        # rows are quarantined, preserving clean + quarantine = corpus.
        tagged = batch.withColumn(
            "violates", F.coalesce(F.expr(viol), F.lit(True))
        ).withColumn(
            "rules",
            F.when(rule_tag == "", F.lit("null_unknown")).otherwise(rule_tag),
        )
        tagged.filter(~F.col("violates")).drop("violates", "rules").write.mode(
            "append"
        ).parquet(clean_path)
        tagged.filter(F.col("violates")).drop("violates").write.mode(
            "append"
        ).parquet(quar_path)

    ev = read_events_stream(spark, sf_dir)
    run_foreach_batch(ev, gate, output_mode="append")
    import os

    def _sink_count(path: str) -> DataFrame:
        # Either sink can legitimately be empty (all-clean or all-violating
        # replays, or a zero-micro-batch stream) — guard BOTH reads so the
        # gate reports n=0 instead of failing schema inference on a missing
        # directory (ADVICE r3: clean side was unguarded).
        if os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            return spark.read.parquet(path).agg(F.count(F.lit(1)).alias("n"))
        return spark.range(1).agg(F.lit(0).cast("long").alias("n"))

    clean = _sink_count(clean_path)
    quar = _sink_count(quar_path)
    return (
        clean.select(F.lit("clean").alias("sink"), "n")
        .unionByName(quar.select(F.lit("quarantine").alias("sink"), "n"))
    )


_register(
    "st_dq_gate",
    st_dq_gate,
    """
    SELECT 'clean' AS sink, count(*) AS n FROM events
    WHERE NOT coalesce(
        (value IS NULL OR value < 0)
        OR (event_type NOT IN
            ('click', 'view', 'purchase', 'signup', 'error'))
        OR (value > 400.0), true)
    UNION ALL
    SELECT 'quarantine', count(*) FROM events
    WHERE coalesce(
        (value IS NULL OR value < 0)
        OR (event_type NOT IN
            ('click', 'view', 'purchase', 'signup', 'error'))
        OR (value > 400.0), true)
    """,
)


# ---------------------------------------------------------------------------
# st_incremental_dedup — dedup-on-arrival: the streaming twin of
# dd_incremental_dedup. A landed corpus (the doc_id % 7 == 0 slice,
# standing in for yesterday's warehouse) is seeded into the store;
# the remaining documents arrive as a multi-micro-batch file stream
# (staged into 4 files BY FINGERPRINT HASH, so every fingerprint's
# docs arrive in one delivery and the batch-local argmin survivor is
# deterministic regardless of file-arrival order). Each micro-batch:
# LEFT ANTI against the landed fingerprint set (already-landed wins),
# then packed-argmin within the batch (best new copy wins), then
# append — the store is only ever appended to, never rewritten, which
# is the 100 TB contract (the anti-join probe is fingerprint-keyed;
# at scale the landed side is a bucketed table on fp). Output: per
# source, streamed volume, how many docs landed, how many were
# dropped as duplicates.
# ---------------------------------------------------------------------------

_SID_SEED_MOD = 7  # doc_id % 7 == 0 -> pre-landed corpus
_SID_FILES = 4  # staged stream files (one micro-batch each)


def st_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..functions.text import doc_fingerprint
    from ..sources.tables import load_table

    base = tempfile.mkdtemp(prefix="st_inc_dedup_")
    stage, landed = f"{base}/stage", f"{base}/landed"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", doc_fingerprint(F.col("text")).alias("fp")
    )
    is_seed = F.col("doc_id") % _SID_SEED_MOD == 0
    docs.filter(is_seed).withColumn("origin", F.lit("seed")).write.mode(
        "overwrite"
    ).parquet(landed)
    # Stage by fingerprint hash: co-deliver every fp's copies so the
    # within-batch argmin is the global argmin for new fingerprints.
    docs.filter(~is_seed).repartition(
        _SID_FILES, F.xxhash64("fp")
    ).write.mode("overwrite").parquet(stage)

    def merge(batch: DataFrame, _batch_id: int) -> None:
        s = batch.sparkSession
        landed_fps = s.read.parquet(landed).select("fp").distinct()
        fresh = batch.join(landed_fps, "fp", "left_anti")
        survivors = (
            fresh.groupBy("fp")
            .agg(F.min(F.struct("doc_id", "source")).alias("s"))
            .select("fp", "s.doc_id", "s.source")
            .withColumn("origin", F.lit("stream"))
        )
        survivors.write.mode("append").parquet(landed)

    stream = (
        spark.readStream.schema(
            "doc_id long, source string, fp string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    run_foreach_batch(stream, merge, output_mode="append")

    streamed = docs.filter(~is_seed).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_streamed")
    )
    new_landed = (
        spark.read.parquet(landed)
        .filter(F.col("origin") == "stream")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_new_landed"))
    )
    return (
        streamed.join(new_landed, "source", "left")
        .select(
            "source",
            "n_streamed",
            F.coalesce("n_new_landed", F.lit(0)).alias("n_new_landed"),
            (
                F.col("n_streamed")
                - F.coalesce("n_new_landed", F.lit(0))
            ).alias("n_dropped_dup"),
        )
    )


_register(
    "st_incremental_dedup",
    st_incremental_dedup,
    f"""
    WITH fps AS (
      SELECT doc_id, source,
             md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
             doc_id % {_SID_SEED_MOD} = 0 AS is_seed
      FROM documents
    ),
    seeded AS (SELECT DISTINCT fp FROM fps WHERE is_seed),
    streamed AS (SELECT * FROM fps WHERE NOT is_seed),
    survivors AS (
      SELECT fp, min(doc_id) AS doc_id
      FROM streamed
      WHERE fp NOT IN (SELECT fp FROM seeded)
      GROUP BY fp
    ),
    landed AS (
      SELECT s.source, count(*) AS n_new_landed
      FROM streamed s
      JOIN survivors v ON s.fp = v.fp AND s.doc_id = v.doc_id
      GROUP BY s.source
    ),
    per_source AS (
      SELECT source, count(*) AS n_streamed FROM streamed GROUP BY source
    )
    -- Drive the final aggregation from `streamed` (every source with at
    -- least one streamed doc), not from `landed`: a source whose entire
    -- stream is deduplicated away must still emit a row with
    -- n_new_landed = 0 and n_dropped_dup = n_streamed, matching the
    -- engine's left join of survivors onto all streamed sources.
    SELECT p.source,
           p.n_streamed,
           coalesce(l.n_new_landed, 0) AS n_new_landed,
           p.n_streamed - coalesce(l.n_new_landed, 0) AS n_dropped_dup
    FROM per_source p
    LEFT JOIN landed l ON p.source = l.source
    """,
)
