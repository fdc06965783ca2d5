"""Event-analytics operators: funnel conversion and cohort retention.

The product-analytics query family over the ``events`` stream table —
distinct from the windowed rollups in ``relational.py`` (q20/q21)
because both need a per-entity anchor timestamp (first click, first
activity) correlated against the entity's other events. The scalable
shape for that correlation is ONE shuffle on the entity key: compute
the anchor with a partition-window (or carry it through the same
aggregation), never a fact-to-fact self-join — at 100 TB the
anchor-join alternative shuffles the fact twice and joins it against
itself.

Conventions as in ``relational.py``: every column aliased identically
in Spark and oracle SQL; timestamps are µs-truncated on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from . import registry

QUERIES, ORACLE, _register = registry()


# ---------------------------------------------------------------------------
# q53 — click→purchase funnel. Per user: first click, first purchase AT
# OR AFTER that click, and whether conversion happened within 1 hour.
# The anchor (first click) is a conditional window-min over the user
# partition; the conditional aggregate then filters purchases against
# it row-wise. One shuffle total (window + same-key groupBy collapse
# into a single exchange); no self-join of events against events.
# ---------------------------------------------------------------------------


def q53_click_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    with_fc = ev.withColumn(
        "fc",
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).over(w),
    ).filter(F.col("fc").isNotNull())
    per_user = with_fc.groupBy("user_id").agg(
        F.max("fc").alias("first_click"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("fc")),
                F.col("ts"),
            )
        ).alias("first_purchase_after"),
    )
    return per_user.withColumn(
        "converted_1h",
        F.coalesce(
            F.col("first_purchase_after")
            <= F.col("first_click") + F.expr("INTERVAL 1 HOUR"),
            F.lit(False),
        ),
    )


_register(
    "q53_click_purchase_funnel",
    q53_click_purchase_funnel,
    """
    WITH fc AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'click') AS first_click
      FROM events GROUP BY 1
    )
    SELECT f.user_id,
           f.first_click,
           min(e.ts) FILTER (
             WHERE e.event_type = 'purchase' AND e.ts >= f.first_click
           ) AS first_purchase_after,
           coalesce(min(e.ts) FILTER (
             WHERE e.event_type = 'purchase' AND e.ts >= f.first_click
           ) <= f.first_click + INTERVAL 1 HOUR, false) AS converted_1h
    FROM fc f JOIN events e USING (user_id)
    WHERE f.first_click IS NOT NULL
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# q54 — cohort retention. Cohort = week of the user's first event
# (both engines truncate weeks to Monday); each event then lands in
# (cohort_week, weeks_since) and the cell value is distinct active
# users. Same single-shuffle anchor pattern: the cohort week is a
# window-min over the user partition, so the fact is scanned once and
# shuffled once on user_id before the small (weeks × weeks)
# distinct-count aggregate. weeks_since divides the day gap between
# truncated weeks — exact, since both ends are week-aligned.
# ---------------------------------------------------------------------------


def q54_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    cohorted = ev.withColumn(
        "cohort_week", F.date_trunc("week", F.min("ts").over(w))
    ).withColumn(
        "weeks_since",
        (
            F.datediff(
                F.date_trunc("week", F.col("ts")).cast("date"),
                F.col("cohort_week").cast("date"),
            )
            / 7
        ).cast("int"),
    )
    return cohorted.groupBy("cohort_week", "weeks_since").agg(
        F.count_distinct("user_id").alias("active_users")
    )


_register(
    "q54_cohort_retention",
    q54_cohort_retention,
    """
    WITH fu AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1
    )
    SELECT f.cohort_week,
           (datediff('day', f.cohort_week::DATE,
                     date_trunc('week', e.ts)::DATE) / 7)::INT AS weeks_since,
           count(DISTINCT e.user_id) AS active_users
    FROM fu f JOIN events e USING (user_id)
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# q60 — share-of-total (uncorrelated scalar subquery). The grand total
# is a one-row aggregate broadcast back over the per-group aggregates
# — the decorrelated plan Spark also produces for a scalar subquery,
# written explicitly. Shares are computed from exact integer cents so
# numerator/denominator are bit-identical across engines before the
# single rounded division.
# ---------------------------------------------------------------------------


def q60_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    per_prio = orders.groupBy("o_orderpriority").agg(
        F.sum("cents").alias("prio_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    total = per_prio.agg(F.sum("prio_cents").alias("total_cents"))
    return per_prio.crossJoin(F.broadcast(total)).select(
        "o_orderpriority",
        (F.col("prio_cents") / 100.0).alias("revenue"),
        "n_orders",
        F.round(F.col("prio_cents") / F.col("total_cents"), 6).alias(
            "revenue_share"
        ),
    )


_register(
    "q60_revenue_share",
    q60_revenue_share,
    """
    WITH o AS (
      SELECT o_orderpriority,
             round(o_totalprice * 100, 0)::BIGINT AS cents
      FROM orders
    ),
    per_prio AS (
      SELECT o_orderpriority,
             sum(cents) AS prio_cents,
             count(*) AS n_orders
      FROM o GROUP BY 1
    )
    SELECT o_orderpriority,
           prio_cents / 100.0 AS revenue,
           n_orders,
           round(prio_cents / (SELECT sum(prio_cents) FROM per_prio)::DOUBLE,
                 6) AS revenue_share
    FROM per_prio
    """,
)


# ---------------------------------------------------------------------------
# q61 — rolling 7-day distinct actives (DAU→WAU). COUNT(DISTINCT) over
# a sliding window has no streaming-mergeable form, so the exact plan
# joins the fact against a day spine with a range predicate (each
# event lands in ≤7 day-buckets) and distinct-counts per bucket. The
# spine is generated from the data's own bounds (hundreds of rows —
# broadcast), so the join is a narrow ×7 row expansion of the fact,
# not a fact-fact shuffle. At 100 TB the same query would move to an
# HLL sketch per day + 7-day sketch merge (see q29's approx path).
# ---------------------------------------------------------------------------


def q61_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    bounds = ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    landed = ev.join(
        F.broadcast(spine),
        (F.col("d") <= F.col("day"))
        & (F.col("d") >= F.date_sub(F.col("day"), 6)),
    )
    return landed.groupBy("day").agg(
        F.count_distinct("user_id").alias("wau")
    ).select(F.col("day").cast("timestamp").alias("day"), "wau")


_register(
    "q61_rolling_wau",
    q61_rolling_wau,
    """
    WITH ev AS (SELECT user_id, ts::DATE AS d FROM events),
    spine AS (
      SELECT unnest(generate_series((SELECT min(d) FROM ev),
                                    (SELECT max(d) FROM ev),
                                    INTERVAL 1 DAY))::DATE AS day
    )
    SELECT s.day::TIMESTAMP AS day,
           count(DISTINCT e.user_id) AS wau
    FROM spine s JOIN ev e
      ON e.d <= s.day AND e.d >= s.day - INTERVAL 6 DAY
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# q72_zorder_layout — Z-order (Morton) interleaved sort keys, the
# space-filling-curve layout behind multi-dimensional data skipping
# (Delta OPTIMIZE ZORDER / Iceberg sort orders). Interleaving the bits
# of two scan dimensions makes a single range-partitioned sort cluster
# BOTH columns, so per-file min/max stats prune on either predicate.
# The z-value is pure integer bit arithmetic (shift/and/or), identical
# on any engine; the query emits per-z-range file-stat summaries —
# exactly the min/max skipping metadata a writer would persist.
# At 100 TB: repartitionByRange(z) + sortWithinPartitions(z) before
# the write; here the range bucket is made explicit (z div 64) so the
# result is deterministic and engine-checkable.
# ---------------------------------------------------------------------------

_Z_BITS = 5


def _morton(x, y, n_bits: int):
    """Interleave the low n_bits of x (even positions) and y (odd)."""
    z = F.lit(0)
    for i in range(n_bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def q72_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    x = F.col("c_nationkey").cast("int")
    # acctbal in [-1000, 10000) → 32 buckets of 344 (5 bits)
    y = F.floor((F.col("c_acctbal") + 1000.0) / 344.0).cast("int")
    z = _morton(x, y, _Z_BITS)
    return (
        cust.select(x.alias("x"), y.alias("y"), z.alias("z"))
        .groupBy((F.col("z") / 64).cast("int").alias("z_range"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


_Z_SQL = " + ".join(
    f"((( x >> {i}) & 1) << {2 * i}) + ((( y >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)

_register(
    "q72_zorder_layout",
    q72_zorder_layout,
    f"""
    WITH pts AS (
      SELECT c_nationkey::INT AS x,
             floor((c_acctbal + 1000.0) / 344.0)::INT AS y
      FROM customer
    ),
    zed AS (SELECT x, y, ({_Z_SQL})::INT AS z FROM pts)
    SELECT (z // 64)::INT AS z_range,
           count(*) AS n_rows,
           min(z)::INT AS z_min, max(z)::INT AS z_max,
           min(x)::INT AS x_min, max(x)::INT AS x_max,
           min(y)::INT AS y_min, max(y)::INT AS y_max
    FROM zed
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# q73_lateral_topk — SQL LATERAL correlated subquery (top-2 customers
# per nation by balance). The lateral form is how analysts write
# per-row parameterized subplans; Catalyst decorrelates it into the
# same broadcast/window plan a hand-written row_number would give, so
# the surface costs nothing at scale. Deterministic tie-break on
# c_custkey.
# ---------------------------------------------------------------------------


def q73_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("q73_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "q73_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.acctbal
        FROM q73_nation n,
        LATERAL (
          SELECT c_custkey, round(c_acctbal, 2) AS acctbal
          FROM q73_customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey ASC
          LIMIT 2
        ) c
        """
    )


_register(
    "q73_lateral_topk",
    q73_lateral_topk,
    """
    SELECT n.n_name, c.c_custkey, c.acctbal
    FROM nation n,
    LATERAL (
      SELECT c_custkey, round(c_acctbal, 2) AS acctbal
      FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey ASC
      LIMIT 2
    ) c
    """,
)


# ---------------------------------------------------------------------------
# q74_variant_props — semi-structured ingestion through the VARIANT
# type (Spark 4): events.props parses once into a binary-encoded
# variant, fields extract with variant_get at query time. VARIANT is
# the scale answer to schema-on-read JSON: parse cost is paid once per
# row (not per field), the encoding is columnar-shreddable, and typed
# extraction pushes into codegen. Oracle extracts the same field with
# DuckDB's JSON operators.
# ---------------------------------------------------------------------------


def q74_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count_if(F.col("k") % 7 == 0).alias("n_div7"),
        )
    )


_register(
    "q74_variant_props",
    q74_variant_props,
    """
    SELECT event_type,
           count(*) AS n,
           round(avg(json_extract(props, '$.k')::INT), 6) AS avg_k,
           min(json_extract(props, '$.k')::INT) AS min_k,
           max(json_extract(props, '$.k')::INT) AS max_k,
           count(*) FILTER (WHERE json_extract(props, '$.k')::INT % 7 = 0)
             AS n_div7
    FROM events
    GROUP BY event_type
    """,
)


# ---------------------------------------------------------------------------
# q75_recursive_chains — WITH RECURSIVE (Spark 4) walking order
# fulfillment chains: per customer, an edge links an order to the next
# order within 30 days; chain heads (no incoming edge) recurse down
# their next-pointers accumulating depth. The edge relation is
# functional and strictly date-increasing, so UNION ALL recursion
# terminates without dedup (Spark does not yet support UNION-dedup
# recursion). Output = orders per chain depth. The SAME recursive SQL
# runs verbatim on both engines — iterative driver loops
# (dd_connected_components) and declarative recursion are now both
# covered.
# ---------------------------------------------------------------------------

_Q75_SQL = """
    WITH RECURSIVE nxt AS (
      SELECT o_orderkey AS cur,
             CASE WHEN lead(o_orderdate) OVER w <= o_orderdate + INTERVAL 30 DAY
                  THEN lead(o_orderkey) OVER w END AS nxt
      FROM {orders}
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    chains(cur, depth) AS (
      SELECT cur, 1 FROM nxt
      WHERE cur NOT IN (SELECT nxt FROM nxt WHERE nxt IS NOT NULL)
      UNION ALL
      SELECT n.nxt, c.depth + 1
      FROM chains c JOIN nxt n ON c.cur = n.cur
      WHERE n.nxt IS NOT NULL
    )
    SELECT depth, count(*) AS n_orders
    FROM chains
    GROUP BY depth
"""


def q75_recursive_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    ).createOrReplaceTempView("q75_orders")
    return spark.sql(_Q75_SQL.format(orders="q75_orders"))


_register(
    "q75_recursive_chains",
    q75_recursive_chains,
    _Q75_SQL.format(orders="orders"),
)


# ---------------------------------------------------------------------------
# q77_notin_null_semantics — NOT IN under three-valued logic, the
# classic SQL correctness trap: `x NOT IN (subquery)` is an anti-join
# ONLY while the subquery is null-free; one NULL in the list makes the
# predicate UNKNOWN for every non-member, so the result is EMPTY.
# Engines that compile NOT IN to a plain anti-join silently return
# wrong rows. Spark plans the nullable branch as a null-aware anti
# join (pinned in tests/test_plans.py); both branches are verified
# against DuckDB in one result: the clean branch excludes real rows,
# the null-poisoned branch excludes everything (count 0).
# ---------------------------------------------------------------------------

_Q77_SQL = """
    SELECT 'clean' AS branch, count(*) AS n_kept
    FROM {orders}
    WHERE o_custkey NOT IN (
      SELECT c_custkey FROM {customer} WHERE c_acctbal < 0
    )
    UNION ALL
    SELECT 'with_null' AS branch, count(*) AS n_kept
    FROM {orders}
    WHERE o_custkey NOT IN (
      SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_custkey END
      FROM {customer} WHERE c_acctbal < 0
    )
"""


def q77_notin_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).createOrReplaceTempView("q77_orders")
    load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    ).createOrReplaceTempView("q77_customer")
    return spark.sql(_Q77_SQL.format(orders="q77_orders", customer="q77_customer"))


_register(
    "q77_notin_null_semantics",
    q77_notin_null_semantics,
    _Q77_SQL.format(orders="orders", customer="customer"),
)


# ---------------------------------------------------------------------------
# q78_map_type_aggs — MapType surface: the one Spark type-lattice
# member no other entry exercises. Per language, the per-source doc
# counts are folded into a MAP column (map_from_entries over a sorted
# entry list — deterministic key order), totals come from aggregate()
# over map_values (JVM-side HOF fold), and the map explodes back to
# rows for the oracle-comparable result. The map is the engine-facing
# artifact (a per-group dictionary column, the shape feature stores
# and config tables use); the oracle checks the VALUES via the
# equivalent relational form, and the plan proves the map operators
# run (no extra shuffle: the fold and explode are narrow).
# ---------------------------------------------------------------------------


def q78_map_type_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    mapped = per_src.groupBy("lang").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("source", "n")))
        ).alias("m")
    )
    enriched = mapped.select(
        "lang",
        "m",
        F.aggregate(
            F.map_values(F.col("m")), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("lang_total"),
        F.size(F.map_keys(F.col("m"))).alias("n_sources"),
    )
    return enriched.select(
        "lang",
        F.explode(F.col("m")).alias("source", "n"),
        "lang_total",
        "n_sources",
    ).select(
        "lang",
        "source",
        "n",
        "lang_total",
        "n_sources",
        F.round(F.col("n") / F.col("lang_total"), 4).alias("share"),
    )


_register(
    "q78_map_type_aggs",
    q78_map_type_aggs,
    """
    WITH per_src AS (
      SELECT lang, source, count(*) AS n
      FROM documents GROUP BY 1, 2
    )
    SELECT lang, source, n,
           sum(n) OVER (PARTITION BY lang)::BIGINT AS lang_total,
           count(*) OVER (PARTITION BY lang)::INT AS n_sources,
           round(n * 1.0 / sum(n) OVER (PARTITION BY lang), 4) AS share
    FROM per_src
    """,
)


# ---------------------------------------------------------------------------
# q79_try_functions — ANSI-safe error-handling expression surface:
# `try_divide` (division by zero → NULL instead of a job-killing
# exception under ANSI mode) and `try_cast` (malformed input → NULL).
# At 100 TB this is the difference between a 10-hour job dying at hour
# nine on one dirty row and the row degrading to NULL and being
# counted — which is why every production pipeline uses the try_
# family in its projection layer. The oracle maps try_divide to
# DuckDB's NULL-on-zero float division and try_cast to TRY_CAST.
# ---------------------------------------------------------------------------


def q79_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ratio = F.try_divide(F.col("l_extendedprice"), F.col("l_discount"))
    mixed = F.when(
        F.col("l_linenumber") % 2 == 0,
        F.col("l_linenumber").cast("string"),
    ).otherwise(F.concat(F.col("l_returnflag"), F.col("l_linenumber")))
    cast_ok = mixed.try_cast("int")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(ratio.isNull()).alias("n_zero_disc"),
        F.round(F.avg(ratio), 2).alias("avg_ratio"),
        F.count_if(cast_ok.isNotNull()).alias("n_cast_ok"),
    )


_register(
    "q79_try_functions",
    q79_try_functions,
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           count(*) FILTER (WHERE l_extendedprice / l_discount IS NULL)
             AS n_zero_disc,
           round(avg(l_extendedprice / l_discount), 2) AS avg_ratio,
           count(*) FILTER (
             WHERE TRY_CAST(
               CASE WHEN l_linenumber % 2 = 0
                    THEN l_linenumber::VARCHAR
                    ELSE l_returnflag || l_linenumber::VARCHAR END
               AS INT) IS NOT NULL
           ) AS n_cast_ok
    FROM lineitem
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# q80_calendar_arith — calendar/date-function surface: quarter
# bucketing, month arithmetic (months_between over month-truncated
# dates — exact integers, no /31 fractional-day edge cases),
# end-of-month detection (last_day), and weekday classification
# (dayofweek; Spark counts Sun=1..Sat=7, DuckDB Sun=0..Sat=6 — the
# oracle translates). Calendar arithmetic is where engines silently
# disagree (leap years, month-end clamping, week conventions), so it
# gets its own oracle-checked row.
# ---------------------------------------------------------------------------

_CAL_ANCHOR = "1998-12-01"


def q80_calendar_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("d")
    )
    month_age = F.months_between(
        F.lit(_CAL_ANCHOR).cast("date"), F.trunc(F.col("d"), "month")
    )
    return orders.groupBy(
        F.year("d").alias("o_year"), F.quarter("d").alias("o_quarter")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg(month_age), 2).alias("avg_month_age"),
        F.count_if(F.col("d") == F.last_day(F.col("d"))).alias("n_month_end"),
        F.count_if(F.dayofweek("d").isin(1, 7)).alias("n_weekend"),
    )


_register(
    "q80_calendar_arith",
    q80_calendar_arith,
    f"""
    SELECT year(o_orderdate)::INT AS o_year,
           quarter(o_orderdate)::INT AS o_quarter,
           count(*) AS n_orders,
           round(avg(date_diff('month',
                               date_trunc('month', o_orderdate::DATE),
                               DATE '{_CAL_ANCHOR}')), 2) AS avg_month_age,
           count(*) FILTER (
             WHERE o_orderdate::DATE = last_day(o_orderdate::DATE)
           ) AS n_month_end,
           count(*) FILTER (
             WHERE dayofweek(o_orderdate::DATE) IN (0, 6)
           ) AS n_weekend
    FROM orders
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# q81_gap_fill_locf — last-observation-carried-forward, the canonical
# time-series gap fill (sensor dropouts, sparse metrics): null
# readings (here: 'error' events deterministically null their value)
# take the most recent non-null value in the same entity's timeline.
# This is the IGNORE NULLS window surface — `last(col, ignorenulls)`
# over a running frame — which no other entry exercises. One shuffle
# on the entity key; the window frame is running (no full-partition
# buffering).
# ---------------------------------------------------------------------------


def q81_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") != "error", F.col("value")).alias("raw"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.withColumn("filled", F.last("raw", ignorenulls=True).over(w))
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("raw").isNull()).alias("n_raw_nulls"),
        F.round(F.sum("filled"), 2).alias("filled_checksum"),
    )


_register(
    "q81_gap_fill_locf",
    q81_gap_fill_locf,
    """
    WITH base AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type != 'error' THEN value END AS raw
      FROM events
    ),
    filled AS (
      SELECT user_id, raw,
             last_value(raw IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      FROM base
    )
    SELECT user_id,
           count(*) AS n_events,
           count(*) FILTER (WHERE raw IS NULL) AS n_raw_nulls,
           round(sum(filled), 2) AS filled_checksum
    FROM filled
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# q82_three_step_funnel — the general k-step strict-order funnel
# (view → click → purchase), extending q53's two-step pattern: each
# stage's anchor is the user's first qualifying event AT OR AFTER the
# previous stage's anchor, so out-of-order events don't count. All
# three anchors are conditional window-mins over the SAME user
# partition (one window spec → ONE shuffle, no event self-joins —
# the only scalable shape for k-step funnels at 100 TB); the final
# one-row report aggregates stage survivors and conversion rates.
# ---------------------------------------------------------------------------


def q82_three_step_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    t_view = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    staged = ev.withColumn("t_view", t_view).withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") >= F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    staged = staged.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t_view").alias("v"),
        F.max("t_click").alias("c"),
        F.max("t_purchase").alias("p"),
    )
    return per_user.agg(
        F.count_if(F.col("v").isNotNull()).alias("n_view"),
        F.count_if(F.col("c").isNotNull()).alias("n_click"),
        F.count_if(F.col("p").isNotNull()).alias("n_purchase"),
        F.round(
            F.count_if(F.col("c").isNotNull())
            / F.count_if(F.col("v").isNotNull()),
            4,
        ).alias("rate_click"),
        F.round(
            F.count_if(F.col("p").isNotNull())
            / F.count_if(F.col("c").isNotNull()),
            4,
        ).alias("rate_purchase"),
    )


_register(
    "q82_three_step_funnel",
    q82_three_step_funnel,
    """
    WITH s1 AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view') AS v
      FROM events GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, s1.v,
             min(e.ts) FILTER (
               WHERE e.event_type = 'click' AND e.ts >= s1.v
             ) AS c
      FROM events e JOIN s1 USING (user_id)
      GROUP BY 1, 2
    ),
    s3 AS (
      SELECT e.user_id, s2.v, s2.c,
             min(e.ts) FILTER (
               WHERE e.event_type = 'purchase' AND e.ts >= s2.c
             ) AS p
      FROM events e JOIN s2 USING (user_id)
      GROUP BY 1, 2, 3
    )
    SELECT count(*) FILTER (WHERE v IS NOT NULL) AS n_view,
           count(*) FILTER (WHERE c IS NOT NULL) AS n_click,
           count(*) FILTER (WHERE p IS NOT NULL) AS n_purchase,
           round(count(*) FILTER (WHERE c IS NOT NULL) * 1.0
                 / count(*) FILTER (WHERE v IS NOT NULL), 4) AS rate_click,
           round(count(*) FILTER (WHERE p IS NOT NULL) * 1.0
                 / count(*) FILTER (WHERE c IS NOT NULL), 4)
             AS rate_purchase
    FROM s3
    """,
)


# ---------------------------------------------------------------------------
# q83_explode_outer_semantics — the explode / explode_outer semantics
# corner: plain explode DROPS rows whose array is empty (documents
# without the probe token silently vanish — the classic silent-data-
# loss bug in flattening pipelines); explode_outer preserves them
# with a NULL element. Both variants run over the same filtered-token
# array and report row/doc/null accounting side by side; the oracle
# pairs DuckDB's unnest (drop semantics) with a LEFT JOIN LATERAL
# unnest (preserve semantics).
# ---------------------------------------------------------------------------


def q83_explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(tokens(F.col("text")), lambda t: t == "spark").alias("hits"),
    )
    inner = docs.select("doc_id", F.explode("hits").alias("t")).agg(
        F.lit("explode").alias("variant"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("doc_id").alias("n_docs"),
        F.count_if(F.col("t").isNull()).alias("n_nulls"),
    )
    outer = docs.select("doc_id", F.explode_outer("hits").alias("t")).agg(
        F.lit("explode_outer").alias("variant"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("doc_id").alias("n_docs"),
        F.count_if(F.col("t").isNull()).alias("n_nulls"),
    )
    return inner.union(outer)


_register(
    "q83_explode_outer_semantics",
    q83_explode_outer_semantics,
    """
    WITH h AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t = 'spark') AS hits
      FROM documents
    ),
    inner_rows AS (
      SELECT doc_id, unnest(hits) AS t FROM h
    ),
    outer_rows AS (
      SELECT h.doc_id, u.t
      FROM h LEFT JOIN LATERAL (SELECT unnest(h.hits) AS t) u ON true
    )
    SELECT 'explode' AS variant,
           count(*) AS n_rows,
           count(DISTINCT doc_id) AS n_docs,
           count(*) FILTER (WHERE t IS NULL) AS n_nulls
    FROM inner_rows
    UNION ALL
    SELECT 'explode_outer',
           count(*),
           count(DISTINCT doc_id),
           count(*) FILTER (WHERE t IS NULL)
    FROM outer_rows
    """,
)


# ---------------------------------------------------------------------------
# q84_interval_overlap_join — interval×interval OVERLAP join (the
# general temporal join; q22/q23 cover as-of and point-in-range):
# per-user-per-day activity intervals [first_ts, last_ts] joined
# against a literal set of maintenance windows on the standard
# overlap predicate (a.start <= b.end AND a.end >= b.start). The
# window side is tiny → broadcast nested-loop is the correct plan;
# at scale, interval binning (bucketing both sides by coarse time
# buckets and joining on bucket) turns this into an equi-join — the
# same blocking idea the dedup family uses.
# ---------------------------------------------------------------------------

_MAINT_WINDOWS = [
    ("w1", "2024-01-05 00:00:00", "2024-01-05 12:00:00"),
    ("w2", "2024-01-10 06:00:00", "2024-01-11 06:00:00"),
    ("w3", "2024-01-20 00:00:00", "2024-01-22 00:00:00"),
    ("w4", "2024-02-01 00:00:00", "2024-02-03 00:00:00"),
]


def q84_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    intervals = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    wins = spark.createDataFrame(
        _MAINT_WINDOWS, "window_id string, ws string, we string"
    ).select(
        "window_id",
        F.col("ws").cast("timestamp").alias("ws"),
        F.col("we").cast("timestamp").alias("we"),
    )
    overlap = intervals.join(
        F.broadcast(wins),
        (F.col("s") <= F.col("we")) & (F.col("e") >= F.col("ws")),
    )
    return overlap.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_user_days"),
        F.count_distinct("user_id").alias("n_users"),
    )


def _overlap_sql() -> str:
    wins = " UNION ALL ".join(
        f"SELECT '{wid}' AS window_id, TIMESTAMP '{ws}' AS ws,"
        f" TIMESTAMP '{we}' AS we"
        for wid, ws, we in _MAINT_WINDOWS
    )
    return f"""
    WITH intervals AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             min(ts) AS s, max(ts) AS e
      FROM events GROUP BY 1, 2
    ),
    wins AS ({wins})
    SELECT window_id,
           count(*) AS n_user_days,
           count(DISTINCT user_id) AS n_users
    FROM intervals JOIN wins ON s <= we AND e >= ws
    GROUP BY window_id
    """


_register(
    "q84_interval_overlap_join", q84_interval_overlap_join, _overlap_sql()
)


# ---------------------------------------------------------------------------
# q85_chi2_independence — Pearson chi-squared test of independence
# between two categorical columns (lang × source), the categorical
# counterpart of q43's continuous correlation aggregates: expected
# cell counts come from the marginals, the statistic sums over the
# FULL category cross-product (zero-observed cells still contribute
# their expected mass — the classic implementation bug this entry
# pins). Marginals are dimension-sized broadcasts; the only
# corpus-sized work is the one contingency aggregate.
# ---------------------------------------------------------------------------


def q85_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Persisted so the docstring's claim is true in the PHYSICAL plan
    # too (r11 scan-count audit): obs feeds five consumers (marginals,
    # total, the domain left-join, dof counts), and without the cache
    # each consumer re-ran the corpus aggregate — 6 documents scans in
    # one plan. The cached relation is the contingency table itself,
    # |lang| x |source| cells — category-bounded by contract, tiny at
    # any SF.
    obs = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
        .persist()
    )
    row_tot = obs.groupBy("lang").agg(F.sum("o").alias("lt"))
    col_tot = obs.groupBy("source").agg(F.sum("o").alias("st"))
    n = obs.agg(F.sum("o").alias("n"))
    domain = row_tot.crossJoin(F.broadcast(col_tot)).crossJoin(
        F.broadcast(n)
    )
    cells = domain.join(obs, ["lang", "source"], "left").select(
        F.coalesce("o", F.lit(0)).alias("o"),
        (F.col("lt") * F.col("st") / F.col("n")).alias("e"),
    )
    return cells.agg(
        F.round(
            F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")), 4
        ).alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
    ).crossJoin(
        F.broadcast(
            row_tot.agg(F.count(F.lit(1)).alias("n_langs")).crossJoin(
                col_tot.agg(F.count(F.lit(1)).alias("n_sources"))
            )
        )
    ).select(
        "chi2",
        "n_cells",
        ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
    )


_register(
    "q85_chi2_independence",
    q85_chi2_independence,
    """
    WITH obs AS (
      SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
    ),
    row_tot AS (SELECT lang, sum(o) AS lt FROM obs GROUP BY 1),
    col_tot AS (SELECT source, sum(o) AS st FROM obs GROUP BY 1),
    tot AS (SELECT sum(o) AS n FROM obs),
    cells AS (
      SELECT coalesce(ob.o, 0) AS o, r.lt * c.st * 1.0 / t.n AS e
      FROM row_tot r CROSS JOIN col_tot c CROSS JOIN tot t
      LEFT JOIN obs ob ON ob.lang = r.lang AND ob.source = c.source
    )
    SELECT round(sum((o - e) * (o - e) / e), 4) AS chi2,
           count(*) AS n_cells,
           ((SELECT count(*) FROM row_tot) - 1)
             * ((SELECT count(*) FROM col_tot) - 1) AS dof
    FROM cells
    """,
)


# ---------------------------------------------------------------------------
# q86_skyline — 2-D skyline / Pareto front (maximize both p_size and
# p_retailprice): the multi-criteria "best tradeoffs" query that no
# single ORDER BY can answer. Scale shape: the skyline operator is
# MERGEABLE — skyline(S) = skyline(∪ skyline(partition_i)) — so a
# per-bucket window prune (sort by x desc, keep rows whose y exceeds
# the running prefix max: sound, removes only dominated points)
# shrinks the corpus to a small survivor set, and one exact
# dominance anti-join over the survivors resolves the final front.
# Points are deduped first so strict dominance (neither of two equal
# points dominates the other) is preserved exactly; the oracle is the
# naive NOT-EXISTS dominance definition.
# ---------------------------------------------------------------------------


def q86_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = (
        load_table(spark, sf_dir, "part")
        .select(
            F.col("p_size").alias("x"),
            F.round("p_retailprice", 2).alias("y"),
        )
        .distinct()
    )
    bucket = F.pmod(F.xxhash64("x", "y"), F.lit(16))
    w = (
        Window.partitionBy(bucket)
        .orderBy(F.desc("x"), F.desc("y"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    survivors = pts.withColumn("pm", F.max("y").over(w)).filter(
        F.col("pm").isNull() | (F.col("y") > F.col("pm"))
    ).select("x", "y")
    b = survivors.select(F.col("x").alias("bx"), F.col("y").alias("by"))
    dominated = (
        (F.col("bx") >= F.col("x"))
        & (F.col("by") >= F.col("y"))
        & ((F.col("bx") > F.col("x")) | (F.col("by") > F.col("y")))
    )
    return survivors.join(F.broadcast(b), dominated, "left_anti")


_register(
    "q86_skyline",
    q86_skyline,
    """
    WITH pts AS (
      SELECT DISTINCT p_size AS x, round(p_retailprice, 2) AS y FROM part
    )
    SELECT x, y FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y)
    )
    """,
)


# ---------------------------------------------------------------------------
# q87_mad_robust_stats — median absolute deviation, the robust
# dispersion measure (stddev is dominated by outliers; MAD is the
# robust-statistics standard for anomaly thresholds): per return
# flag, MAD(quantity) = median(|q − median(q)|). Two exact-median
# aggregates with the group median joined back between them —
# medians are per-GROUP (bounded groups), never a global sort.
# ---------------------------------------------------------------------------


def q87_mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    med = li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.first("med"), 2).alias("median_qty"),
            F.round(
                F.median(F.abs(F.col("l_quantity") - F.col("med"))), 2
            ).alias("mad_qty"),
            F.round(F.stddev_samp("l_quantity"), 2).alias("stddev_qty"),
        )
    )


_register(
    "q87_mad_robust_stats",
    q87_mad_robust_stats,
    """
    WITH med AS (
      SELECT l_returnflag, median(l_quantity) AS med
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           round(any_value(m.med), 2) AS median_qty,
           round(median(abs(l.l_quantity - m.med)), 2) AS mad_qty,
           round(stddev_samp(l.l_quantity), 2) AS stddev_qty
    FROM lineitem l JOIN med m USING (l_returnflag)
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# q88_argmax_aggregate — the min_by/max_by aggregate surface: per
# nation, the single highest-balance customer WITHOUT a window or
# self-join — one hash aggregate with an argmax accumulator (the
# shape that beats rank-and-filter when only the top-1 row matters:
# map-side combinable, no sort). Ties are made impossible by packing
# (cents, inverted custkey) into one bigint ordering key, so both
# engines pick the identical row.
# ---------------------------------------------------------------------------


def q88_argmax_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    key = F.col("cents") * 10_000_000 + (10_000_000 - F.col("c_custkey"))
    return cust.groupBy("c_nationkey").agg(
        F.max_by("c_custkey", key).alias("top_custkey"),
        (F.max("cents") / 100.0).alias("top_acctbal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


_register(
    "q88_argmax_aggregate",
    q88_argmax_aggregate,
    """
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             round(c_acctbal * 100, 0)::BIGINT AS cents
      FROM customer
    )
    SELECT c_nationkey,
           max_by(c_custkey,
                  cents * 10000000 + (10000000 - c_custkey)) AS top_custkey,
           max(cents) / 100.0 AS top_acctbal,
           count(*) AS n_customers
    FROM c
    GROUP BY c_nationkey
    """,
)


# ---------------------------------------------------------------------------
# q90_asof_forward — FORWARD as-of join (q22's mirror): for each order,
# the customer's first event at second-or-later granularity after the
# order date — the "next reading after the fact" direction used for
# treatment-effect and next-touch attribution. Same scale shape as
# q22: the argmin over candidates packs (seconds-since-order, event_id)
# into ONE bigint so the aggregate stays a primitive-buffer
# HashAggregate with map-side combine (min(struct) would fall back to
# SortAggregate). Packing contract: gaps < 2^30 seconds (~34 years),
# event_id < 2^33; ties within one second resolve to the smallest
# event_id in both engines.
# ---------------------------------------------------------------------------


def q90_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    j = orders.join(ev, orders.o_custkey == ev.user_id).filter(
        F.col("ts") >= F.col("o_orderdate")
    )
    delta_s = (
        F.expr("unix_seconds(ts)") - F.expr("unix_seconds(o_orderdate)")
    )
    # Same in-plan packing-contract guard as q93: raises on violation,
    # +0 otherwise (assert_true -> NULL -> coalesce 0).
    guard = F.assert_true(
        (delta_s < F.lit(1 << 30)) & (F.col("event_id") < F.lit(1 << 33)),
        F.lit(
            "q90_asof_forward packing contract violated: "
            "gap >= 2^30 s or event_id >= 2^33"
        ),
    )
    packed = (
        F.shiftleft(delta_s, 33)
        + F.col("event_id")
        + F.coalesce(guard.cast("long"), F.lit(0))
    )
    return (
        j.groupBy("o_orderkey", "o_custkey")
        .agg(F.min(packed).alias("p"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("p").bitwiseAND(F.lit((1 << 33) - 1)).alias("event_id"),
            F.shiftright(F.col("p"), 33).alias("gap_seconds"),
        )
    )


_register(
    "q90_asof_forward",
    q90_asof_forward,
    """
    SELECT o_orderkey, o_custkey, event_id, gap_seconds
    FROM (
      SELECT o.o_orderkey, o.o_custkey, e.event_id,
             date_diff('second', o.o_orderdate, e.ts) AS gap_seconds,
             row_number() OVER (
               PARTITION BY o.o_orderkey
               ORDER BY date_diff('second', o.o_orderdate, e.ts) ASC,
                        e.event_id ASC) AS rn
      FROM orders o JOIN events e ON o.o_custkey = e.user_id
      WHERE e.ts >= o.o_orderdate AND o.o_orderkey < 2000
    ) WHERE rn = 1
    """,
)


# ---------------------------------------------------------------------------
# q91_sql_interface — the engine's SQL TEXT surface: catalog tables
# registered as temp views and the whole query — CTE, windowed rank,
# date bucketing, HAVING — submitted as one ANSI SQL string through
# spark.sql(). Everything else in the registry exercises the
# DataFrame API; this entry proves a SQL-only user gets the same
# Catalyst planning (broadcastable dim, pushed filters) with zero
# Python-side plan construction. The view registration is idempotent
# per (session, sf_dir).
# ---------------------------------------------------------------------------


def q91_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        WITH spend AS (
          SELECT n.n_name AS nation,
                 year(o.o_orderdate) AS order_year,
                 sum(o.o_totalprice) AS total_spend,
                 count(*) AS n_orders
          FROM v_orders o
          JOIN v_customer c ON o.o_custkey = c.c_custkey
          JOIN v_nation n ON c.c_nationkey = n.n_nationkey
          GROUP BY n.n_name, year(o.o_orderdate)
          HAVING count(*) >= 5
        )
        SELECT nation, order_year,
               round(total_spend, 2) AS total_spend, n_orders,
               rank() OVER (PARTITION BY order_year
                            ORDER BY total_spend DESC, nation ASC) AS spend_rank
        FROM spend
        """
    )


_register(
    "q91_sql_interface",
    q91_sql_interface,
    """
    WITH spend AS (
      SELECT n.n_name AS nation,
             year(o.o_orderdate) AS order_year,
             sum(o.o_totalprice) AS total_spend,
             count(*) AS n_orders
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, year(o.o_orderdate)
      HAVING count(*) >= 5
    )
    SELECT nation, order_year,
           round(total_spend, 2) AS total_spend, n_orders,
           rank() OVER (PARTITION BY order_year
                        ORDER BY total_spend DESC, nation ASC) AS spend_rank
    FROM spend
    """,
)


# ---------------------------------------------------------------------------
# q92_modern_sql — the modern SQL ergonomics surface both engines
# share: GROUP BY ALL (group on every non-aggregate select item),
# ORDER BY ALL, and SELECT * EXCEPT projection. Submitted as SQL text
# like q91; semantics are pure sugar over the classic forms, so the
# oracle runs the IDENTICAL statement. (GROUPS window frames and
# QUALIFY are NOT in Spark 4.1's dialect — probed, not assumed —
# which is itself part of the surface map.)
# ---------------------------------------------------------------------------


def q92_modern_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        WITH base AS (
          SELECT * EXCEPT (o_custkey, o_orderdate, o_totalprice),
                 year(o_orderdate) AS order_year,
                 o_totalprice
          FROM v_orders
        )
        SELECT o_orderstatus, o_orderpriority, order_year,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM base
        WHERE order_year >= 1995
        GROUP BY ALL
        ORDER BY ALL
        """
    )


_register(
    "q92_modern_sql",
    q92_modern_sql,
    """
    WITH base AS (
      SELECT * EXCLUDE (o_custkey, o_orderdate, o_totalprice),
             year(o_orderdate) AS order_year,
             o_totalprice
      FROM orders
    )
    SELECT o_orderstatus, o_orderpriority, order_year,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM base
    WHERE order_year >= 1995
    GROUP BY ALL
    ORDER BY ALL
    """,
)


# ---------------------------------------------------------------------------
# q93_asof_nearest — NEAREST as-of join, completing the family (q22
# backward, q90 forward): for each order, the customer's event closest
# in time in EITHER direction — the sensor-alignment semantics ("the
# reading nearest the fact, before or after") that backward/forward
# as-ofs can't express. Same packed-argmin scale shape as q22/q90:
# (|gap seconds|, event_id) packs into one bigint so the aggregate is
# a primitive-buffer HashAggregate with map-side combine. Ties at the
# same absolute gap on both sides resolve to the smallest event_id in
# both engines. Packing contract: |gap| < 2^30 s, event_id < 2^33.
# ---------------------------------------------------------------------------


def q93_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    j = orders.join(ev, orders.o_custkey == ev.user_id)
    gap_s = F.abs(
        F.expr("unix_seconds(ts)") - F.expr("unix_seconds(o_orderdate)")
    )
    # In-plan packing-contract guard: |gap| < 2^30 s and event_id < 2^33,
    # else the packed argmin ordering silently corrupts. assert_true
    # raises at execution time on violation and evaluates to NULL (-> +0)
    # otherwise, so the guard rides the same scan with no extra pass.
    guard = F.assert_true(
        (gap_s < F.lit(1 << 30)) & (F.col("event_id") < F.lit(1 << 33)),
        F.lit(
            "q93_asof_nearest packing contract violated: "
            "|gap| >= 2^30 s or event_id >= 2^33"
        ),
    )
    packed = (
        F.shiftleft(gap_s, 33)
        + F.col("event_id")
        + F.coalesce(guard.cast("long"), F.lit(0))
    )
    return (
        j.groupBy("o_orderkey", "o_custkey")
        .agg(F.min(packed).alias("p"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("p").bitwiseAND(F.lit((1 << 33) - 1)).alias("event_id"),
            F.shiftright(F.col("p"), 33).alias("abs_gap_seconds"),
        )
    )


_register(
    "q93_asof_nearest",
    q93_asof_nearest,
    """
    SELECT o_orderkey, o_custkey, event_id, abs_gap_seconds
    FROM (
      SELECT o.o_orderkey, o.o_custkey, e.event_id,
             abs(date_diff('second', o.o_orderdate, e.ts))
               AS abs_gap_seconds,
             row_number() OVER (
               PARTITION BY o.o_orderkey
               ORDER BY abs(date_diff('second', o.o_orderdate, e.ts)) ASC,
                        e.event_id ASC) AS rn
      FROM orders o JOIN events e ON o.o_custkey = e.user_id
      WHERE o.o_orderkey < 2000
    ) WHERE rn = 1
    """,
)


# ---------------------------------------------------------------------------
# q89_approx_quantiles — single-pass mergeable quantile sketch with an
# in-query accuracy contract (the q29 pattern applied to quantiles).
# ``approx_percentile`` is Spark's KLL/GK-style sketch: one scan, map-side
# partial sketches merged at the reducer — the 100 TB path, where the
# exact ``percentile`` (which materializes per-group value lists) is the
# verification baseline only. The contract column proves the sketch's
# rank-error guarantee in-query: the approximate p-quantile must land
# between the exact (p±eps) quantiles. Since r5 the oracle computes
# the SAME contract for real with DuckDB's own mergeable sketch
# (approx_quantile — see the note above _register). accuracy=1000
# → rank error ≤ 1/1000; eps=0.005 leaves a 5× safety margin.
#
# Engine-portability: the exact columns are computed on INTEGER CENTS.
# For p ∈ {.25, .5, .75} the interpolation fraction p·(n−1) mod 1 is a
# multiple of 0.25, so every exact quantile is an exact multiple of
# 0.25 cents — representable without error in a double, hence
# bit-identical between Spark's ``percentile`` and DuckDB's
# ``quantile_cont`` with no rounding-boundary risk (the float-dollar
# form diverged one cent at sf0.001 from a last-ulp x.xx5 straddle).
# ---------------------------------------------------------------------------

_Q89_EPS = 0.005
_Q89_ACC = 1000


def q89_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    # ONE aggregate carries BOTH sides: the sketch under test
    # (``approx_percentile`` — mergeable single-pass summary, the
    # actual 100-TB path) and the exact grounding via
    # ``array_sort(collect_list)`` + element_at rank interpolation
    # (the q35 shape; r1-r4 used a row_number window whose WindowExec
    # overhead was ~0.2 s of the query at sf0.1, and a split
    # two-branch join was measured slower still — the broadcast build
    # serializes the branches). Exact values materialize per group as
    # ONE in-memory array on one reducer — faster than the windowed
    # sort but, unlike it, not spillable: valid only while each
    # group's values fit executor memory. The sketch alone is what
    # survives when groups outgrow an executor.
    g = li.groupBy("l_returnflag").agg(
        F.array_sort(F.collect_list("cents")).alias("_vals"),
        F.count(F.lit(1)).alias("_n"),
        F.expr(
            f"approx_percentile(cents, array(0.25, 0.5, 0.75), {_Q89_ACC})"
        ).alias("ap"),
    )

    from ..functions.scalar import sorted_array_quantile

    def interp(q):
        return sorted_array_quantile(F.col("_vals"), F.col("_n"), q)

    out_cols = [F.col("l_returnflag")]
    for i, (p, name) in enumerate(
        zip((0.25, 0.50, 0.75), ("p25", "p50", "p75"))
    ):
        out_cols.append(interp(p).alias(f"exact_{name}_cents"))
        out_cols.append(
            (
                (F.element_at("ap", i + 1) >= interp(max(p - _Q89_EPS, 0.0)))
                & (F.element_at("ap", i + 1) <= interp(min(p + _Q89_EPS, 1.0)))
            ).alias(f"ok_{name}")
        )
    return g.select(*out_cols)


# --- r7 t-digest A/B (verdict item 5): MEASURED AND REJECTED ---------------
# A mergeable t-digest twin (per-partition Arrow/numpy centroid
# compression via mapInPandas with the k1 scale function, bounded
# centroid merge per flag, midpoint interpolation — the honest
# partial-aggregation shape, value-exact vs the oracle at all 3 SFs;
# code at commit 8a137e3) was benched against this GK form at sf0.1,
# min-of-8, same session, back-to-back under identical host load:
# GK 0.80 s vs t-digest 1.26 s (1.55x). Structural reason: GK's
# sketch rides the ONE scan+aggregate the exact branch already pays
# (ObjectHashAggregate per-row update), while any separate sketch
# branch pays a second lineitem scan plus the Arrow batch transfer of
# the full cents column to Python workers — more than the entire GK
# constant. A whole-group pandas UDAF would dodge the second scan but
# abandons partial aggregation (the property the entry exists to
# demonstrate). Decision: approx_percentile's update cost IS the
# engine's sketch constant; A/B recorded in BASELINE.md round-7.

# Oracle: DuckDB verifies the SAME rank-error contract with ITS OWN
# mergeable sketch (approx_quantile, a t-digest) — the faithful
# translation of "sketch quantile must land inside the exact p±eps
# band". Each engine's ok_* concerns its own sketch (the sketches'
# raw values are engine-specific and never compared); both satisfy
# the 5×-margin band, so the booleans agree. (r1-r4 shortcut the
# oracle side to literal TRUE; computing the contract for real keeps
# the timed work comparable too.)
_register(
    "q89_approx_quantiles",
    q89_approx_quantiles,
    f"""
    WITH c AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    g AS (
      SELECT l_returnflag,
             quantile_cont(cents, 0.25) AS x25,
             quantile_cont(cents, 0.50) AS x50,
             quantile_cont(cents, 0.75) AS x75,
             quantile_cont(cents, {0.25 - _Q89_EPS}) AS lo25,
             quantile_cont(cents, {0.25 + _Q89_EPS}) AS hi25,
             quantile_cont(cents, {0.50 - _Q89_EPS}) AS lo50,
             quantile_cont(cents, {0.50 + _Q89_EPS}) AS hi50,
             quantile_cont(cents, {0.75 - _Q89_EPS}) AS lo75,
             quantile_cont(cents, {0.75 + _Q89_EPS}) AS hi75,
             approx_quantile(cents, 0.25) AS a25,
             approx_quantile(cents, 0.50) AS a50,
             approx_quantile(cents, 0.75) AS a75
      FROM c GROUP BY 1
    )
    SELECT l_returnflag,
           x25 AS exact_p25_cents, a25 BETWEEN lo25 AND hi25 AS ok_p25,
           x50 AS exact_p50_cents, a50 BETWEEN lo50 AND hi50 AS ok_p50,
           x75 AS exact_p75_cents, a75 BETWEEN lo75 AND hi75 AS ok_p75
    FROM g
    """,
)
