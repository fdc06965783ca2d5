"""Relational query surface (SURVEY.md §2.B).

The reference (mapwarper.js) has no joins/aggregations/windows; this
module supplies the general relational capability the engine needs,
expressed declaratively so Catalyst handles pushdown, pruning, join
selection, and AQE handles runtime skew/coalescing.

Scale notes (100 TB design point), applied throughout:
- Dimension tables (region/nation/supplier/part/customer) get explicit
  ``broadcast()`` hints — fact-side scans never shuffle for dim joins.
- Fact-fact joins (orders ⋈ lineitem) are shuffle joins on the join
  key; at scale both sides would be bucketed by orderkey so the
  shuffle disappears — the query shape here doesn't change.
- Aggregations are expressed as groupBy().agg() so Spark plans
  partial (map-side) aggregation automatically.
- Floating-point outputs are rounded in BOTH the Spark query and the
  oracle SQL: summation order differs across engines/partitionings, so
  unrounded doubles are not hash-comparable.

Every query aliases each output column identically to its oracle SQL
(the driver sorts columns by name and value-hashes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..sources.tables import dim_broadcast, load_table
from . import registry

QUERIES, ORACLE, _register = registry()


# ---------------------------------------------------------------------------
# q01 — TPC-H Q1 style pricing summary: scan + filter + hash aggregate.
# Partial aggregation happens map-side; the shuffle carries only
# 6 groups × 8 aggregates, so this is scan-bound at any scale.
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_register(
    "q01_pricing_summary",
    q01_pricing_summary,
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)


# ---------------------------------------------------------------------------
# q03 — shipping-priority style: selective dim filter, two joins, top-k.
# customer is broadcast (dim); orders⋈lineitem shuffles on orderkey.
# Top-k = order + limit with deterministic tiebreak (orderkey).
# ---------------------------------------------------------------------------


def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dim_broadcast(cust, sf_dir, "customer"), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_register(
    "q03_top_revenue_orders",
    q03_top_revenue_orders,
    """
    SELECT l_orderkey, o_orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)


# ---------------------------------------------------------------------------
# q05 — local-supplier style: 6-table join with region filter.
# region/nation/supplier/customer broadcast; only orders⋈lineitem is a
# shuffle join. Catalyst pushes r_name = 'ASIA' into the region scan
# and prunes nation via the broadcast chain.
# ---------------------------------------------------------------------------


def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dim_broadcast(cust, sf_dir, "customer"), orders.o_custkey == cust.c_custkey)
        .join(dim_broadcast(supp, sf_dir, "supplier"), li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(dim_broadcast(nation, sf_dir, "nation"), supp.s_nationkey == nation.n_nationkey)
        .join(dim_broadcast(region, sf_dir, "region"), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_register(
    "q05_region_revenue",
    q05_region_revenue,
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)


# ---------------------------------------------------------------------------
# q06 — outer join + null handling: every customer with order count and
# total (0 for customers with no orders).
# ---------------------------------------------------------------------------


def q06_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


_register(
    "q06_customer_order_stats",
    q06_customer_order_stats,
    """
    SELECT c_custkey, c_name,
           count(o_orderkey)                           AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2)  AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)


# ---------------------------------------------------------------------------
# q07 — anti join: customers with no orders at all.
# Spark plans a broadcast/shuffle anti join; no row explosion.
# ---------------------------------------------------------------------------


def q07_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


_register(
    "q07_customers_without_orders",
    q07_customers_without_orders,
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)


# ---------------------------------------------------------------------------
# q08 — semi join: customers having at least one urgent open order.
# ---------------------------------------------------------------------------


def q08_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "O")
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


_register(
    "q08_customers_with_urgent_orders",
    q08_customers_with_urgent_orders,
    """
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
    """,
)


# ---------------------------------------------------------------------------
# q09 — window top-k per group: 3 most expensive orders per customer.
# Deterministic tiebreak on orderkey. At scale: single shuffle on
# custkey; skew handled by AQE.
# ---------------------------------------------------------------------------


def q09_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_register(
    "q09_top3_orders_per_customer",
    q09_top3_orders_per_customer,
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
)


# ---------------------------------------------------------------------------
# q10 — running aggregate window: cumulative spend per customer over time.
# ---------------------------------------------------------------------------


def q10_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


_register(
    "q10_running_customer_spend",
    q10_running_customer_spend,
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    """,
)


# ---------------------------------------------------------------------------
# q11 — lag/lead: days between consecutive orders of a customer.
# ---------------------------------------------------------------------------


def q11_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).cast("int").alias("days_since_prev"),
    )


_register(
    "q11_order_gaps",
    q11_order_gaps,
    """
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                lag(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate ASC, o_orderkey ASC),
                o_orderdate) AS INT) AS days_since_prev
    FROM orders
    """,
)


# ---------------------------------------------------------------------------
# q12 — rollup: subtotals + grand total over returnflag/linestatus.
# ---------------------------------------------------------------------------


def q12_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_register(
    "q12_rollup_lineitem",
    q12_rollup_lineitem,
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*)                  AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)


# ---------------------------------------------------------------------------
# q13 — cube over order status/priority.
# ---------------------------------------------------------------------------


def q13_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_register(
    "q13_cube_orders",
    q13_cube_orders,
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)


# ---------------------------------------------------------------------------
# q14 — exact distinct aggregates (expand-based count distinct).
# ---------------------------------------------------------------------------


def q14_distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_register(
    "q14_distinct_parts_per_flag",
    q14_distinct_parts_per_flag,
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*)                  AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# q15/q16 — set operations.
# ---------------------------------------------------------------------------


def q15_nations_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    with_cust = nation.join(
        cust, nation.n_nationkey == cust.c_nationkey, "left_semi"
    ).select("n_name")
    with_supp = nation.join(
        supp, nation.n_nationkey == supp.s_nationkey, "left_semi"
    ).select("n_name")
    return with_cust.intersect(with_supp)


_register(
    "q15_nations_intersect",
    q15_nations_intersect,
    """
    SELECT n_name FROM nation SEMI JOIN customer ON n_nationkey = c_nationkey
    INTERSECT
    SELECT n_name FROM nation SEMI JOIN supplier ON n_nationkey = s_nationkey
    """,
)


def q16_nations_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    with_cust = nation.join(
        cust, nation.n_nationkey == cust.c_nationkey, "left_semi"
    ).select("n_name")
    with_supp = nation.join(
        supp, nation.n_nationkey == supp.s_nationkey, "left_semi"
    ).select("n_name")
    return with_cust.exceptAll(with_supp).distinct()


_register(
    "q16_nations_except",
    q16_nations_except,
    """
    SELECT DISTINCT n_name FROM (
      SELECT n_name FROM nation SEMI JOIN customer ON n_nationkey = c_nationkey
      EXCEPT ALL
      SELECT n_name FROM nation SEMI JOIN supplier ON n_nationkey = s_nationkey
    )
    """,
)


# ---------------------------------------------------------------------------
# q17 — scalar string functions on part.
# ---------------------------------------------------------------------------


def q17_part_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper(F.col("p_brand")).alias("brand_u"),
        F.substring(F.col("p_name"), 1, 8).alias("name_prefix"),
        F.length(F.col("p_name")).alias("name_len"),
        F.concat_ws("/", F.col("p_type"), F.col("p_brand")).alias("type_brand"),
        F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("B")).alias("brand_short"),
        F.when(F.col("p_size") >= 25, "large")
        .when(F.col("p_size") >= 10, "medium")
        .otherwise("small")
        .alias("size_band"),
    )


_register(
    "q17_part_strings",
    q17_part_strings,
    """
    SELECT p_partkey,
           upper(p_brand)                     AS brand_u,
           substring(p_name, 1, 8)            AS name_prefix,
           CAST(length(p_name) AS INT)        AS name_len,
           concat_ws('/', p_type, p_brand)    AS type_brand,
           replace(p_brand, 'Brand#', 'B')    AS brand_short,
           CASE WHEN p_size >= 25 THEN 'large'
                WHEN p_size >= 10 THEN 'medium'
                ELSE 'small' END              AS size_band
    FROM part
    """,
)


# ---------------------------------------------------------------------------
# q18 — date functions: monthly order volume.
# ---------------------------------------------------------------------------


def q18_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


_register(
    "q18_orders_by_month",
    q18_orders_by_month,
    """
    SELECT CAST(year(o_orderdate) AS INT)  AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           count(*)                        AS n_orders,
           round(sum(o_totalprice), 2)     AS total
    FROM orders
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# q19 — JSON extraction from events.props.
# ---------------------------------------------------------------------------


def q19_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.withColumn("k_bucket", (k % 10).cast("int"))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )


_register(
    "q19_events_json",
    q19_events_json,
    """
    SELECT event_type,
           CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT) AS k_bucket,
           count(*)             AS n,
           round(sum(value), 2) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# q20 — time-bucket aggregation (batch equivalent of a tumbling window).
# ---------------------------------------------------------------------------


def q20_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )


_register(
    "q20_hourly_events",
    q20_hourly_events,
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*)             AS n,
           round(sum(value), 2) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# q21 — sessionization via windows (gap > 30 min starts a new session).
# Batch twin of streaming session windows; single shuffle on user_id.
# ---------------------------------------------------------------------------


def q21_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev_ts = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    new_session = F.when(prev_ts.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    wrun = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("is_new", new_session)
        .withColumn("session_id", F.sum("is_new").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


_register(
    "q21_user_sessions",
    q21_user_sessions,
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), sessions AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts)  AS session_start,
           max(ts)  AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
)


# ---------------------------------------------------------------------------
# q22 — as-of join: for each event, the most recent order of that
# customer at or before the event time. Implemented as equi-join on the
# entity key + window reduce — at scale both sides shuffle once on the
# key and AQE handles per-key skew; a bucketed layout on
# (custkey) makes this shuffle-free.
# ---------------------------------------------------------------------------


def q22_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    j = ev.join(orders, ev.user_id == orders.o_custkey).filter(
        F.col("o_orderdate") <= F.col("ts")
    )
    # As-of = argmax over the joined candidates, packed into ONE bigint
    # (day number << 47 | orderkey) so the aggregate buffer is a
    # primitive long and Spark plans a HashAggregate with map-side
    # combine — max(struct(...)) would fall back to SortAggregate
    # (struct buffers aren't UnsafeRow-mutable), paying a per-partition
    # sort of the full event×order candidate set. The shuffle carries
    # one row per event either way; hash-agg also skips the sort.
    # Packing contract: order dates are midnight-aligned (true of order
    # data by definition) and < year 2149 (16 bits of days);
    # orderkey < 2^47.
    day_num = F.expr("unix_seconds(o_orderdate) div 86400")
    # In-plan contract guard (see q93_asof_nearest): raises loudly on a
    # date past the 16-bit day horizon or an oversized orderkey instead
    # of silently corrupting the argmax ordering.
    guard = F.assert_true(
        (day_num >= F.lit(0))
        & (day_num < F.lit(1 << 16))
        & (F.col("o_orderkey") < F.lit(1 << 47)),
        F.lit(
            "q22_asof_last_order packing contract violated: "
            "o_orderdate outside [1970, 2149) or o_orderkey >= 2^47"
        ),
    )
    packed = (
        F.shiftleft(day_num, 47)
        + F.col("o_orderkey")
        + F.coalesce(guard.cast("long"), F.lit(0))
    )
    return (
        j.groupBy("event_id", "user_id")
        .agg(F.max(packed).alias("p"))
        .select(
            "event_id",
            "user_id",
            F.col("p").bitwiseAND(F.lit((1 << 47) - 1)).alias("o_orderkey"),
            F.timestamp_seconds(F.shiftright(F.col("p"), 47) * 86400).alias(
                "o_orderdate"
            ),
        )
    )


_register(
    "q22_asof_last_order",
    q22_asof_last_order,
    """
    SELECT event_id, user_id, o_orderkey, o_orderdate
    FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    WHERE rn = 1
    """,
)


# ---------------------------------------------------------------------------
# q23 — band (range) self-join: pairs of same-type events with near-equal
# values. Spark side uses the scalable *banded equi-join*: quantize value
# into width-ε bands, probe band-1/band/band+1 via a 3-way explode, then
# apply the exact predicate. Turns an O(n²)-per-key quadratic filter-join
# into an equi-join whose candidate set is bounded by band occupancy —
# this is the shape that survives 100×. (|Δvalue| < ε implies the floor
# bands differ by at most 1, so probing 3 bands is exhaustive and each
# pair is found exactly once — b's band is fixed.)
# ---------------------------------------------------------------------------


def q23_value_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    eps = 0.001
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.floor(F.col("value") / eps).cast("long").alias("band"),
    )
    probe = ev.withColumn(
        "probe_band",
        F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)),
    ).select(
        F.col("event_id").alias("a_id"),
        F.col("event_type").alias("a_type"),
        F.col("value").alias("a_value"),
        "probe_band",
    )
    return (
        probe.join(
            ev,
            (F.col("a_type") == F.col("event_type"))
            & (F.col("probe_band") == F.col("band")),
        )
        .filter(
            (F.col("a_id") < F.col("event_id"))
            & (F.abs(F.col("a_value") - F.col("value")) < eps)
        )
        .groupBy(F.col("a_type").alias("event_type"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_register(
    "q23_value_band_pairs",
    q23_value_band_pairs,
    """
    SELECT a.event_type AS event_type, count(*) AS n_pairs
    FROM events a JOIN events b
      ON a.event_type = b.event_type
     AND a.event_id < b.event_id
     AND abs(a.value - b.value) < 0.001
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# q24 — global top-k with deterministic tiebreak.
# ---------------------------------------------------------------------------


def q24_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_register(
    "q24_top_orders",
    q24_top_orders,
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)


# ---------------------------------------------------------------------------
# q25 — CASE bucketing + multi-column grouping.
# ---------------------------------------------------------------------------


def q25_acctbal_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 1000, "low")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    return (
        cust.withColumn("bal_band", band)
        .groupBy("c_mktsegment", "bal_band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


_register(
    "q25_acctbal_bands",
    q25_acctbal_bands,
    """
    SELECT c_mktsegment,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 1000 THEN 'low'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bal_band,
           count(*)                 AS n,
           round(avg(c_acctbal), 4) AS avg_bal
    FROM customer
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# q26 — full outer join of two aggregated sides (completes the join
# family: inner q05, left q22, semi q08/q15, anti q07, full here).
# Both sides are nation-level aggregates (≤ |nations| rows), so AQE
# picks a broadcast join at any corpus scale.
# ---------------------------------------------------------------------------


def q26_nation_balance_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = (
        cust.filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.round(F.sum("c_acctbal"), 4).alias("cust_bal"))
    )
    s = (
        supp.filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.round(F.sum("s_acctbal"), 4).alias("supp_bal"))
    )
    return (
        c.join(s, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.col("cust_bal"),
            F.col("supp_bal"),
        )
    )


_register(
    "q26_nation_balance_full_outer",
    q26_nation_balance_full_outer,
    """
    WITH c AS (
      SELECT c_nationkey AS nk, round(sum(c_acctbal), 4) AS cust_bal
      FROM customer WHERE c_acctbal > 9000 GROUP BY 1
    ), s AS (
      SELECT s_nationkey AS nk, round(sum(s_acctbal), 4) AS supp_bal
      FROM supplier WHERE s_acctbal > 9000 GROUP BY 1
    )
    SELECT coalesce(c.nk, s.nk) AS nationkey, cust_bal, supp_bal
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)


# ---------------------------------------------------------------------------
# q27 — GROUPING SETS (completes the multi-dim agg family: rollup q12,
# cube q13). Uses the native DataFrame.groupingSets API (Spark 4);
# grouping_id() disambiguates the (NULL-able) grouping columns.
# ---------------------------------------------------------------------------


def q27_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [[F.col("o_orderstatus")], [F.col("o_orderpriority")], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.grouping_id().alias("gid"),
        )
        .select("o_orderstatus", "o_orderpriority", "n", "total", "gid")
    )


_register(
    "q27_grouping_sets",
    q27_grouping_sets,
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total,
           grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)


# ---------------------------------------------------------------------------
# q28 — ranking-window family: rank, dense_rank, percent_rank, ntile,
# lead (completes windows: row_number q09, running sum q10, lag q11).
# One window spec → one shuffle + one sort for all five functions.
# ---------------------------------------------------------------------------


def q28_price_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("prnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.lead("p_partkey", 1).over(w).alias("next_key"),
        )
        .filter(F.col("rnk") <= 5)
    )


_register(
    "q28_price_ranks",
    q28_price_ranks,
    """
    SELECT * FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             rank()       OVER w AS rnk,
             dense_rank() OVER w AS drnk,
             round(percent_rank() OVER w, 6) AS prnk,
             ntile(4)     OVER w AS quartile,
             lead(p_partkey, 1) OVER w AS next_key
      FROM part
      WINDOW w AS (PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey ASC)
    ) WHERE rnk <= 5
    """,
)


# ---------------------------------------------------------------------------
# q29 — approximate distinct counting (HyperLogLog++). The raw sketch
# estimate is engine-specific, so the CONTRACT is what gets verified:
# the query emits the exact count(DISTINCT) per group together with a
# `within_bound` flag asserting the HLL estimate (rsd=0.02) landed
# within a 10% relative band (5 sigma — deterministic-in-practice on
# any corpus). The oracle recomputes the exact counts and asserts the
# flag is true, giving this entry hash-grade verification while the
# production path at 100 TB remains the constant-memory sketch (the
# exact column here is the verification harness, not the scale path —
# q14 is the exact-distinct shape).
# ---------------------------------------------------------------------------


def q29_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
            F.count_distinct("l_partkey").alias("exact_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            "n_rows",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 0.10 * F.col("exact_parts")
            ).alias("within_bound"),
        )
    )


_register(
    "q29_approx_distinct",
    q29_approx_distinct,
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           count(*) AS n_rows,
           true AS within_bound
    FROM lineitem GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# q30 — pivot (rows → columns). Fixed pivot-value list, so Catalyst
# plans ONE aggregation pass (no extra distinct-values job) and the
# schema is stable at any corpus size; a pivot without explicit values
# needs a whole extra scan just to learn the columns.
# ---------------------------------------------------------------------------


def q30_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    p = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


_register(
    "q30_pivot_status",
    q30_pivot_status,
    """
    SELECT o_orderpriority,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
           count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# q31 — unpivot / melt (columns → rows). DataFrame.unpivot is a narrow
# 1→k row expansion (no shuffle); the aggregation after it is the only
# exchange.
# ---------------------------------------------------------------------------


def q31_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    melted = part.select(
        "p_brand",
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot("p_brand", ["retailprice", "size"], "metric", "val")
    return melted.groupBy("p_brand", "metric").agg(
        F.round(F.avg("val"), 4).alias("avg_val"),
        F.round(F.max("val"), 4).alias("max_val"),
    )


_register(
    "q31_unpivot_part_metrics",
    q31_unpivot_part_metrics,
    """
    WITH melted AS (
      SELECT p_brand, 'retailprice' AS metric, p_retailprice::DOUBLE AS val
      FROM part
      UNION ALL
      SELECT p_brand, 'size' AS metric, p_size::DOUBLE AS val FROM part
    )
    SELECT p_brand, metric,
           round(avg(val), 4) AS avg_val,
           round(max(val), 4) AS max_val
    FROM melted
    GROUP BY p_brand, metric
    """,
)


# ---------------------------------------------------------------------------
# q32 — salted skew join. The big side gets a deterministic salt
# (event_id % 8); the dimension side is exploded across all 8 salt
# values; the equi-join runs on (key, salt), splitting any hot key's
# rows across 8 reducers instead of one. The join is FORCED to a
# shuffle-hash join — salting only means anything when the fact side
# actually exchanges on (key, salt); a broadcast join has no shuffle
# to de-skew (and at true dimension sizes you'd simply broadcast and
# skip salting altogether). Results are identical to the unsalted
# join (the oracle IS the unsalted join). At 100 TB the salt fan-out
# applies only to keys flagged hot by stats; AQE's skew-join handles
# moderate skew, explicit salting handles the pathological single-key
# case AQE can't split (one key > one task's memory).
# ---------------------------------------------------------------------------

N_SALT = 8


def q32_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    salted_ev = ev.withColumn("salt", (F.col("event_id") % N_SALT).cast("int"))
    salted_cust = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))).alias("salt"),
    )
    j = salted_ev.join(
        salted_cust.hint("shuffle_hash"),
        (salted_ev.user_id == salted_cust.c_custkey)
        & (salted_ev.salt == salted_cust.salt),
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


_register(
    "q32_salted_skew_join",
    q32_salted_skew_join,
    """
    SELECT c_mktsegment,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
