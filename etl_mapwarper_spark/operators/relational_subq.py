"""Decorrelated-subquery query family (TPC-H Q21/Q2/Q17/Q18/Q15 shapes).

The reference has no subqueries (SURVEY.md §2.A: no joins beyond the
N+1 lookup, mapwarper.js:57-77), but the engine's relational surface
must cover the classic correlated patterns because they are the
queries whose NAIVE translation (re-evaluate the subquery per row, or
self-join the fact against itself) collapses at 100 TB. Every query
here is written in its decorrelated single-shuffle form:

- the correlated aggregate becomes ONE groupBy on the correlation key
  (per-order, per-part, per-supplier), and
- the correlation back to the fact is either a window over the same
  partition key (no second shuffle — Spark reuses the hash partition)
  or a join against the now-tiny aggregate (broadcast).

The DuckDB oracles are deliberately written in the textbook
EXISTS / correlated-subquery form, so the parity check proves the
decorrelated plan is SEMANTICALLY equivalent to the correlated one —
not just that two identical formulations agree.

Monetary aggregates follow the repo convention (see q60): per-row
round to integer cents BEFORE summing, so sums are order-independent
bigint arithmetic and hash-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import dim_broadcast, load_table
from . import registry

QUERIES, ORACLE, _register = registry()


# ---------------------------------------------------------------------------
# q62 — waiting suppliers (TPC-H Q21 shape: EXISTS + NOT EXISTS on the
# same fact). A lineitem is "late" when it shipped >90 days after the
# order date. Find suppliers that were the ONLY late supplier in a
# multi-supplier order, counting their late lineitems. The textbook
# form needs two lineitem self-joins (EXISTS other-supplier, NOT
# EXISTS other-late-supplier); at 100 TB that is three shuffles of the
# biggest table plus two fact-fact joins. The decorrelated form is ONE
# aggregation by l_orderkey computing (distinct suppliers, distinct
# late suppliers, late-item count, the single late supplier), then a
# 100-row groupBy — the fact is shuffled exactly once and never joined
# to itself.
# ---------------------------------------------------------------------------


def q62_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    # orders is fact-sized too, but the join is on the same key as the
    # aggregation that follows, so Catalyst plans one exchange per side
    # and the agg reuses the join's partitioning (no extra shuffle).
    flagged = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
        ).alias("is_late"),
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
        F.sum(F.col("is_late").cast("long")).alias("n_late_items"),
        F.max(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "late_suppkey"
        ),
    )
    waiting = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    )
    return (
        waiting.groupBy("late_suppkey")
        .agg(F.sum("n_late_items").alias("numwait"))
        .join(
            dim_broadcast(supplier, sf_dir, "supplier"),
            F.col("late_suppkey") == F.col("s_suppkey"),
        )
        .select("s_name", "numwait")
    )


_register(
    "q62_waiting_suppliers",
    q62_waiting_suppliers,
    """
    SELECT s_name, count(*)::BIGINT AS numwait
    FROM supplier, lineitem l1, orders o1
    WHERE s_suppkey = l1.l_suppkey
      AND o1.o_orderkey = l1.l_orderkey
      AND l1.l_shipdate > o1.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3, orders o3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND o3.o_orderkey = l3.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s_name
    """,
)


# ---------------------------------------------------------------------------
# q63 — min-cost supplier per part (TPC-H Q2 shape: correlated scalar
# MIN on the join key). For each small part (p_size <= 5), the
# supplier(s) whose lineitem unit price equals the part's minimum unit
# price. The correlated `= (SELECT min(..) WHERE same part)` becomes a
# window-MIN over the l_partkey partition: one shuffle of the fact,
# and the window's partitioning is produced by that same exchange. The
# part and supplier dimensions broadcast. DISTINCT collapses repeat
# (part, supplier) offers at the same price — both formulations keep
# set semantics.
# ---------------------------------------------------------------------------


def q63_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unit cost in EXACT milli-cents: prices are 2-decimal and
    # quantities whole, so round(price*100) is an exact int64 and the
    # integer division is bit-identical on every engine — float
    # division rounded to 4 decimals hits x.xxxx5 ties constantly
    # here (2-dp price / small int), where Spark's HALF_UP BigDecimal
    # and DuckDB's double-multiply round() disagree by one ulp
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            "(CAST(round(l_extendedprice * 100) AS BIGINT) * 100) DIV "
            "CAST(l_quantity AS BIGINT)"
        ).alias("unit_cost"),
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") <= 5
    ).select("p_partkey", "p_name")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    w = Window.partitionBy("l_partkey")
    cheapest = (
        li.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(dim_broadcast(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .join(dim_broadcast(supplier, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("min_cost").alias("min_unit_cost_mc"),
        )
        .distinct()
    )
    return cheapest


_register(
    "q63_min_cost_supplier",
    q63_min_cost_supplier,
    """
    SELECT DISTINCT p_partkey, p_name, s_name,
           (round(l_extendedprice * 100)::BIGINT * 100)
             // l_quantity::BIGINT AS min_unit_cost_mc
    FROM lineitem l, part p, supplier s
    WHERE p.p_partkey = l.l_partkey
      AND s.s_suppkey = l.l_suppkey
      AND p.p_size <= 5
      AND (round(l_extendedprice * 100)::BIGINT * 100)
             // l_quantity::BIGINT = (
        SELECT min((round(l2.l_extendedprice * 100)::BIGINT * 100)
                   // l2.l_quantity::BIGINT)
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)


# ---------------------------------------------------------------------------
# q64 — small-quantity revenue (TPC-H Q17 shape: correlated AVG
# threshold against the same fact). Revenue from lineitems whose
# quantity is below 20% of their part's average quantity, for one
# brand, expressed as a yearly average. The per-part AVG is a
# fact-sized groupBy collapsing to |part| rows, which then BROADCASTS
# back onto the fact — the correlated subquery costs one shuffle and
# one broadcast, never a fact-fact join. Cents convention keeps the
# one-row sum exact.
# ---------------------------------------------------------------------------


def q64_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("cents"),
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    ).select("p_partkey")
    per_part = li.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    # per_part is a PART-CARDINALITY aggregate (avg qty per partkey
    # over all of lineitem) — force-broadcasting it is an executor OOM
    # at a TPC-H scale factor where part has billions of rows (r9
    # broadcast audit). Unhinted, AQE broadcasts it at small SFs and
    # shuffles on l_partkey at scale — the canonical decorrelated-Q17
    # join shape.
    small = (
        li.join(dim_broadcast(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return small.agg(
        F.round(F.sum("cents") / 100.0 / 7.0, 2).alias("avg_yearly")
    )


_register(
    "q64_small_qty_revenue",
    q64_small_qty_revenue,
    """
    SELECT round(sum(round(l_extendedprice * 100, 0)::BIGINT) / 100.0 / 7.0,
                 2) AS avg_yearly
    FROM lineitem l, part p
    WHERE p.p_partkey = l.l_partkey
      AND p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)


# ---------------------------------------------------------------------------
# q65 — large-volume orders (TPC-H Q18 shape: IN over a HAVING
# aggregate of the same fact). Orders whose total quantity exceeds
# 250, with customer attribution. The IN-subquery is the per-order
# quantity aggregate itself, so the plan aggregates lineitem once on
# l_orderkey, filters (HAVING), and joins the survivors (tiny) to
# orders on the same key; customer broadcasts. No semi-join of
# lineitem against a second lineitem scan.
# ---------------------------------------------------------------------------


def q65_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    big = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("sum_qty")
    ).filter(F.col("sum_qty") > 250)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(dim_broadcast(customer, sf_dir, "customer"), orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


_register(
    "q65_big_orders",
    q65_big_orders,
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer c, orders o, lineitem l
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 250
      )
      AND c.c_custkey = o.o_custkey
      AND l.l_orderkey = o.o_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)


# ---------------------------------------------------------------------------
# q66 — top supplier(s) by quarterly revenue (TPC-H Q15 shape: scalar
# MAX over a grouped view of the fact). Revenue per supplier for
# 1996-Q1 shipments, keeping the supplier(s) equal to the global max.
# The view aggregates the fact once (|supplier| rows); the scalar max
# is a one-row aggregate of THAT, broadcast back — the q60
# share-of-total pattern. Ties are kept by both engines; the equality
# compares exact bigint cents, not floats.
# ---------------------------------------------------------------------------


def q66_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    ).select(
        "l_suppkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
        )
        .cast("long")
        .alias("cents"),
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.sum("cents").alias("rev_cents")
    )
    top = revenue.agg(F.max("rev_cents").alias("max_cents"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("rev_cents") == F.col("max_cents"))
        .join(dim_broadcast(supplier, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_cents") / 100.0).alias("total_revenue"),
        )
    )


_register(
    "q66_top_supplier",
    q66_top_supplier,
    """
    WITH revenue AS (
      SELECT l_suppkey,
             sum(round(l_extendedprice * (1 - l_discount) * 100, 0)::BIGINT)
               AS rev_cents
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, rev_cents / 100.0 AS total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = l_suppkey
      AND rev_cents = (SELECT max(rev_cents) FROM revenue)
    """,
)
