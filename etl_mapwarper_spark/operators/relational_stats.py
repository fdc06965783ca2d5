"""Relational surface, statistics batch (SURVEY.md §2.B).

Third batch of oracle-checked relational operators: statistical
moment aggregates (corr / covariance / stddev / linear-regression
fit), ordered string aggregation, fixed-width histogramming via
arithmetic bucketing (portable where width_bucket is not), a cross
join dimension matrix, and the percent_rank/cume_dist window family.

The reference has no aggregation at all (SURVEY.md §2.A note,
mapwarper.js has no group-by of any kind); these exist for the
engine's general relational surface. Conventions as in
``relational.py``: dimension sides broadcast, floats rounded
identically in Spark and oracle SQL, every column aliased the same
in both.
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
# q43 — statistical moment aggregates: correlation, sample covariance,
# stddev, and an OLS fit (slope/intercept) of extendedprice on
# quantity, per return flag. All of these are single-pass mergeable
# aggregates (sum, sum of squares, sum of products) — map-side partial
# aggregation applies exactly as for sum/count, so one shuffle of
# 3 groups × 6 moments regardless of fact cardinality. Rounded to 4
# decimals: the moment sums are order-dependent in the last ~10 ulps
# and both engines agree far beyond 4 places.
# ---------------------------------------------------------------------------


def q43_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("stddev_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
            "slope_price_per_qty"
        ),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept_price"
        ),
    )


_register(
    "q43_stats_moments",
    q43_stats_moments,
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           round(stddev_samp(l_extendedprice), 4) AS stddev_price,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_price_per_qty,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# q44 — ordered string aggregation (LISTAGG / string_agg). collect_list
# order is nondeterministic under parallel merge, so the canonical form
# is sort-then-join: array_sort fixes the order before concatenation,
# matching the oracle's ORDER BY inside string_agg. The group count is
# bounded by the dimension (5 regions), so the aggregate state is tiny.
# ---------------------------------------------------------------------------


def q44_nation_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(dim_broadcast(region, sf_dir, "region"), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations_csv"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


_register(
    "q44_nation_listagg",
    q44_nation_listagg,
    """
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)


# ---------------------------------------------------------------------------
# q45 — fixed-width histogram by arithmetic bucketing. width_bucket
# exists in Spark but not DuckDB, so both sides use the portable
# floor((x - lo) / w) form with edge clamping — which is also the
# scale-correct plan: bucket assignment is a narrow per-row expression
# (no sort, no window), and the shuffle carries one row per non-empty
# bucket. Bounds are literals: a data-derived min/max would need a
# separate pass and make buckets SF-dependent.
# ---------------------------------------------------------------------------

_HIST_LO = 0.0
_HIST_W = 5000.0
_HIST_NB = 24


def q45_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    bucket = F.least(
        F.greatest(
            F.floor((F.col("l_extendedprice") - F.lit(_HIST_LO)) / F.lit(_HIST_W)),
            F.lit(0),
        ),
        F.lit(_HIST_NB - 1),
    ).cast("long")
    return (
        li.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo_price"),
            F.round(F.max("l_extendedprice"), 2).alias("hi_price"),
        )
        .withColumn("bucket_lo", F.col("bucket") * _HIST_W + _HIST_LO)
    )


_register(
    "q45_price_histogram",
    q45_price_histogram,
    f"""
    SELECT bucket,
           count(*) AS n,
           round(min(l_extendedprice), 2) AS lo_price,
           round(max(l_extendedprice), 2) AS hi_price,
           bucket * {_HIST_W} + {_HIST_LO} AS bucket_lo
    FROM (
      SELECT l_extendedprice,
             least(greatest(floor((l_extendedprice - {_HIST_LO}) / {_HIST_W}),
                            0), {_HIST_NB - 1})::BIGINT AS bucket
      FROM lineitem
    )
    GROUP BY bucket
    """,
)


# ---------------------------------------------------------------------------
# q46 — cross join dimension matrix + left join of facts. The dense
# (region × priority) grid comes from a cartesian product of two tiny
# distinct sets (5 × 5 rows — broadcast nested loop, no shuffle), then
# the aggregated fact side left-joins on so empty cells survive with
# zero counts. The fact-proportional work is one groupBy; the grid work
# is constant at any SF. Same dense-axis motivation as q40's date
# spine, on a categorical product instead of time.
# ---------------------------------------------------------------------------


def q46_region_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    prios = orders.select("o_orderpriority").distinct()
    grid = region.select("r_regionkey", "r_name").crossJoin(broadcast(prios))
    per_cell = (
        orders.join(dim_broadcast(customer, sf_dir, "customer"), orders.o_custkey == customer.c_custkey)
        .join(dim_broadcast(nation, sf_dir, "nation"), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    joined = grid.join(
        broadcast(per_cell),
        (grid.r_regionkey == per_cell.n_regionkey)
        & (grid.o_orderpriority == per_cell.o_orderpriority),
        "left",
    )
    return joined.select(
        "r_name",
        grid.o_orderpriority.alias("o_orderpriority"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )


_register(
    "q46_region_priority_matrix",
    q46_region_priority_matrix,
    """
    WITH grid AS (
      SELECT r_regionkey, r_name, o_orderpriority
      FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
    ),
    per_cell AS (
      SELECT n_regionkey, o_orderpriority,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    )
    SELECT g.r_name,
           g.o_orderpriority,
           coalesce(p.n_orders, 0) AS n_orders,
           coalesce(p.revenue, 0.0) AS revenue
    FROM grid g
    LEFT JOIN per_cell p
      ON g.r_regionkey = p.n_regionkey
     AND g.o_orderpriority = p.o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# q47 — percent_rank / cume_dist window family (completes the ranking
# surface beyond q28's rank/dense_rank and q39's ntile). Deterministic
# only under a total order, so the sort key carries the unique
# s_suppkey tiebreak in both engines — and BECAUSE the order is total
# (no ties), percent_rank = rn0/(n-1) and cume_dist = (rn0+1)/n are
# pure arithmetic on the exact global row number, computed distributed
# via the range-bucket + prefix-offset primitive (exact_global_row_
# number) — no single-reducer window even as the table scales 100x.
# ---------------------------------------------------------------------------


def q47_supplier_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational_ext import exact_global_row_number

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    ranked = exact_global_row_number(sup, "s_acctbal", "s_suppkey")
    rn0 = F.col("_rn0")
    n = F.col("_n")
    return ranked.select(
        "s_suppkey",
        "s_nationkey",
        F.round("s_acctbal", 2).alias("s_acctbal"),
        F.round(rn0 / F.greatest(n - 1, F.lit(1)), 6).alias("pct_rank"),
        F.round((rn0 + 1) / n, 6).alias("cume"),
    )


_register(
    "q47_supplier_rank_dist",
    q47_supplier_rank_dist,
    """
    SELECT s_suppkey,
           s_nationkey,
           round(s_acctbal, 2) AS s_acctbal,
           round(percent_rank() OVER (ORDER BY s_acctbal, s_suppkey), 6)
             AS pct_rank,
           round(cume_dist() OVER (ORDER BY s_acctbal, s_suppkey), 6) AS cume
    FROM supplier
    """,
)


# ---------------------------------------------------------------------------
# q48 — snapshot merge (SCD-style upsert): the incremental-refresh
# pattern a training-data pipeline uses to fold a new crawl snapshot
# into an existing corpus. Expressed as a FULL OUTER join on the
# stable key + coalesce(update, base) per column, classifying each row
# as kept / updated / inserted. At 100 TB both sides are bucketed on
# the key so the merge is a zero-shuffle sort-merge join; the pattern
# is the engine-level equivalent of MERGE INTO. Money is aggregated as
# exact integer cents (order-independent; see q38).
# ---------------------------------------------------------------------------


def q48_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    upd = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("u_orderkey"),
        F.lit("U").alias("u_orderstatus"),
        F.col("cents").alias("u_cents"),
    )
    merged = base.join(
        upd, base.o_orderkey == upd.u_orderkey, "full_outer"
    ).select(
        F.coalesce("o_orderkey", "u_orderkey").alias("k"),
        F.coalesce("u_orderstatus", "o_orderstatus").alias("status"),
        F.coalesce("u_cents", "cents").alias("m_cents"),
        F.when(
            F.col("o_orderkey").isNotNull() & F.col("u_orderkey").isNotNull(),
            F.lit("updated"),
        )
        .when(F.col("u_orderkey").isNotNull(), F.lit("inserted"))
        .otherwise(F.lit("kept"))
        .alias("merge_action"),
    )
    return merged.groupBy("merge_action", "status").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("m_cents") / 100.0).alias("total_price"),
    )


_register(
    "q48_snapshot_merge",
    q48_snapshot_merge,
    """
    WITH o AS (
      SELECT o_orderkey, o_orderstatus,
             round(o_totalprice * 100, 0)::BIGINT AS cents
      FROM orders
    ),
    base AS (SELECT * FROM o WHERE o_orderkey % 3 != 0),
    upd AS (
      SELECT o_orderkey AS u_orderkey, 'U' AS u_orderstatus,
             cents AS u_cents
      FROM o WHERE o_orderkey % 2 = 0
    ),
    merged AS (
      SELECT coalesce(b.o_orderkey, u.u_orderkey) AS k,
             coalesce(u.u_orderstatus, b.o_orderstatus) AS status,
             coalesce(u.u_cents, b.cents) AS m_cents,
             CASE WHEN b.o_orderkey IS NOT NULL AND u.u_orderkey IS NOT NULL
                    THEN 'updated'
                  WHEN u.u_orderkey IS NOT NULL THEN 'inserted'
                  ELSE 'kept' END AS merge_action
      FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.u_orderkey
    )
    SELECT merge_action, status, count(*) AS n,
           sum(m_cents) / 100.0 AS total_price
    FROM merged
    GROUP BY merge_action, status
    """,
)


# ---------------------------------------------------------------------------
# q49 — first_value / last_value / nth_value with an explicit
# unbounded frame (completes the value-window family beyond q11's
# lag/lead). last_value over the DEFAULT frame is a classic bug (frame
# ends at CURRENT ROW); both engines get the explicit full frame. The
# order key carries the unique o_orderkey tiebreak, and one row per
# customer survives via distinct — the standard "per-entity first/last
# attribute" extraction, one shuffle on the partition key.
# ---------------------------------------------------------------------------


def q49_first_last_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        orders.select(
            "o_custkey",
            F.first_value("o_totalprice").over(w).alias("first_price"),
            F.last_value("o_totalprice").over(w).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        )
        .distinct()
        .select(
            "o_custkey",
            F.round("first_price", 2).alias("first_price"),
            F.round("last_price", 2).alias("last_price"),
            F.round("second_price", 2).alias("second_price"),
        )
    )


_register(
    "q49_first_last_orders",
    q49_first_last_orders,
    """
    SELECT DISTINCT o_custkey,
           round(first_value(o_totalprice) OVER w, 2) AS first_price,
           round(last_value(o_totalprice) OVER w, 2) AS last_price,
           round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)


# ---------------------------------------------------------------------------
# q50 — RIGHT OUTER join (completes the join family: inner q05, left
# q40, semi q08, anti q07, full q26/q48). The preserved side is the
# broadcast-able dimension; the filtered supplier side loses whole
# nations, which must survive as zero-count rows. Spark canonicalizes
# right joins to left joins with sides swapped — same plan, declared
# semantics.
# ---------------------------------------------------------------------------


def q50_right_join_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") > 5000
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        sup.join(
            dim_broadcast(nation, sf_dir, "nation"), sup.s_nationkey == nation.n_nationkey, "right"
        )
        .groupBy("n_name")
        .agg(
            F.count("s_suppkey").alias("n_rich_suppliers"),
            F.round(F.coalesce(F.sum("s_acctbal"), F.lit(0.0)), 2).alias(
                "sum_acctbal"
            ),
        )
    )


_register(
    "q50_right_join_suppliers",
    q50_right_join_suppliers,
    """
    SELECT n_name,
           count(s_suppkey) AS n_rich_suppliers,
           round(coalesce(sum(s_acctbal), 0.0), 2) AS sum_acctbal
    FROM (SELECT * FROM supplier WHERE s_acctbal > 5000) s
    RIGHT JOIN nation ON s.s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)


# ---------------------------------------------------------------------------
# q51 — multiple COUNT(DISTINCT) over different columns in one
# aggregate. Spark plans this with the Expand operator (one input row
# replicated per distinct-aggregate group, null-padded), then a single
# two-level aggregation — one shuffle, no self-joins. The naive
# alternative (N separate distinct queries + join) scans the fact N
# times; Expand trades a constant row-multiplication factor for
# single-scan execution, the right trade at 100 TB.
# ---------------------------------------------------------------------------


def q51_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count_distinct("o_orderpriority").alias("n_priorities"),
        F.count_distinct(F.year("o_orderdate")).alias("n_years"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_register(
    "q51_multi_distinct",
    q51_multi_distinct,
    """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT o_orderpriority) AS n_priorities,
           count(DISTINCT year(o_orderdate)) AS n_years,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# q52 — exact decimal arithmetic. Doubles make money sums
# order-dependent (the cents trick in q38/q48 is one workaround); the
# type-system answer is DECIMAL: sums are exact and order-independent,
# so no rounding discipline is needed until the final cast. Spark
# widens sum(DECIMAL(18,2)) to DECIMAL(28,2) to absorb 10^10 addends
# without overflow — the cast to DOUBLE at the end is presentation
# only, of an exactly-agreed value.
# ---------------------------------------------------------------------------


def q52_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec"),
    )
    agg = orders.groupBy("o_orderstatus").agg(
        F.sum("price_dec").alias("sum_dec"),
        F.count(F.lit(1)).alias("n"),
        F.max("price_dec").alias("max_dec"),
    )
    return agg.select(
        "o_orderstatus",
        F.col("sum_dec").cast("double").alias("sum_price"),
        (F.col("sum_dec").cast("double") / F.col("n")).alias("avg_price"),
        F.col("max_dec").cast("double").alias("max_price"),
        "n",
    )


_register(
    "q52_decimal_exact",
    q52_decimal_exact,
    """
    WITH agg AS (
      SELECT o_orderstatus,
             sum(o_totalprice::DECIMAL(18,2)) AS sum_dec,
             count(*) AS n,
             max(o_totalprice::DECIMAL(18,2)) AS max_dec
      FROM orders
      GROUP BY o_orderstatus
    )
    SELECT o_orderstatus,
           sum_dec::DOUBLE AS sum_price,
           sum_dec::DOUBLE / n AS avg_price,
           max_dec::DOUBLE AS max_price,
           n
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# q55 — null-safe equality join (<=> / IS NOT DISTINCT FROM). Standard
# equi-joins silently drop null keys (null = null is null, not true);
# pipelines joining on nullable business keys need the null-safe form,
# which matches null to null exactly once. Spark still plans <=> as a
# hash join (the null bucket hashes like any value), so the broadcast
# shape is unchanged — this pins the semantics, not a new plan.
# ---------------------------------------------------------------------------


def q55_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.nullif("o_orderpriority", F.lit("3-MEDIUM")).alias("k"),
        "o_totalprice",
    )
    dim = (
        orders.select("k")
        .distinct()
        .select(
            F.col("k").alias("dim_k"),
            F.coalesce("k", F.lit("(none)")).alias("label"),
        )
    )
    joined = orders.join(
        broadcast(dim), F.col("k").eqNullSafe(F.col("dim_k"))
    )
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_register(
    "q55_nullsafe_join",
    q55_nullsafe_join,
    """
    WITH o AS (
      SELECT nullif(o_orderpriority, '3-MEDIUM') AS k, o_totalprice
      FROM orders
    ),
    dim AS (
      SELECT k, coalesce(k, '(none)') AS label FROM (SELECT DISTINCT k FROM o)
    )
    SELECT d.label,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM o JOIN dim d ON o.k IS NOT DISTINCT FROM d.k
    GROUP BY d.label
    """,
)


# ---------------------------------------------------------------------------
# q56 — UNION with distinct semantics (completes set ops: q15/q16
# distinct intersect/except, q41/q42 multiset ALL forms). Spark plans
# union+distinct as a single hash aggregate over the concatenated
# inputs — one shuffle on the row value, no join.
# ---------------------------------------------------------------------------


def q56_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    present = cust.union(sup).distinct()
    return (
        present.join(
            dim_broadcast(nation, sf_dir, "nation"), present.nationkey == nation.n_nationkey
        )
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations_present"))
    )


_register(
    "q56_union_distinct",
    q56_union_distinct,
    """
    SELECT n_regionkey, count(*) AS n_nations_present
    FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey FROM supplier
    ) p JOIN nation ON p.nationkey = n_nationkey
    GROUP BY n_regionkey
    """,
)


# ---------------------------------------------------------------------------
# q57 — rollup with GROUPING() disambiguation. A rollup's subtotal
# rows carry nulls in the rolled-up columns, indistinguishable from
# genuine null data values; GROUPING() is the standard marker. The
# level id is built from per-column grouping() bits (portable — both
# engines agree on grouping(); grouping_id()'s bit order is
# engine-defined). Plan-wise rollup is a single Expand + hash
# aggregate — one shuffle regardless of level count.
# ---------------------------------------------------------------------------


def q57_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            (
                F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
            ).alias("level_id"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "n",
            "revenue",
            "level_id",
        )
    )


_register(
    "q57_rollup_grouping_id",
    q57_rollup_grouping_id,
    """
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue,
           (grouping(l_returnflag) * 2 + grouping(l_linestatus))::INT
             AS level_id
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)


# ---------------------------------------------------------------------------
# q58 — regexp_extract_all + explode: pull every word out of a string
# column and aggregate match frequencies. The per-row extract is a
# narrow JVM regex (RE2-compatible pattern — no lookaround, so DuckDB
# matches semantics exactly); the only shuffle is the final count.
# ---------------------------------------------------------------------------


def q58_regexp_extract_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    words = part.select(
        F.explode(
            F.regexp_extract_all(F.col("p_name"), F.lit("([a-z]+)"), 1)
        ).alias("word")
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))


_register(
    "q58_regexp_extract_words",
    q58_regexp_extract_words,
    """
    SELECT word, count(*) AS n
    FROM (
      SELECT unnest(regexp_extract_all(p_name, '([a-z]+)', 1)) AS word
      FROM part
    )
    GROUP BY word
    """,
)


# ---------------------------------------------------------------------------
# q59 — sub-hour time bucketing by epoch arithmetic (15-minute
# tumbling windows). date_trunc only reaches hour granularity;
# arbitrary widths come from floor(epoch / width) * width — a narrow
# expression identical in both engines, and the same formula the
# streaming window() operator uses internally. UTC session timezone
# makes the epoch conversions exact.
# ---------------------------------------------------------------------------


def q59_quarter_hour_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 900).cast("long") * 900
    )
    return (
        ev.withColumn("bucket_start", bucket)
        .groupBy("bucket_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


_register(
    "q59_quarter_hour_buckets",
    q59_quarter_hour_buckets,
    """
    SELECT epoch_ms((floor(epoch(ts) / 900)::BIGINT * 900) * 1000)
             AS bucket_start,
           event_type,
           count(*) AS n,
           round(sum(value), 6) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# q69 — deterministic mode + median per group. mode() is
# tie-nondeterministic in BOTH engines, so the mode is computed
# explicitly: count per (group, value), rank by (count DESC, value ASC),
# keep rank 1 — identical semantics everywhere, with the ranking done
# over the tiny |groups × distinct values| aggregate, not the fact.
# The median is a separate per-group aggregate over the raw rows;
# Spark's median() and DuckDB's median() both interpolate the midpoint
# for even counts, so the rounded values agree.
# ---------------------------------------------------------------------------


def q69_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    modes = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_n"),
        )
    )
    medians = orders.groupBy("o_orderstatus").agg(
        F.round(F.median("o_totalprice"), 2).alias("median_price")
    )
    return modes.join(medians, "o_orderstatus")


_register(
    "q69_mode_median",
    q69_mode_median,
    """
    WITH counts AS (
      SELECT o_orderstatus, o_orderpriority, count(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    modes AS (
      SELECT o_orderstatus, o_orderpriority AS mode_priority,
             n AS mode_n,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, o_orderpriority ASC) AS rk
      FROM counts
    ),
    medians AS (
      SELECT o_orderstatus, round(median(o_totalprice), 2) AS median_price
      FROM orders GROUP BY 1
    )
    SELECT m.o_orderstatus, m.mode_priority, m.mode_n, d.median_price
    FROM modes m JOIN medians d USING (o_orderstatus)
    WHERE m.rk = 1
    """,
)


# ---------------------------------------------------------------------------
# q70 — boolean / bitwise aggregate family: bool_and, bool_or, and
# bit_or-of-flags per nation over customers. Bitwise OR of per-row
# flag masks is the cheap "which conditions occur in this group"
# summary — associative, partial-aggregable, and exactly matched
# across engines on bigint.
# ---------------------------------------------------------------------------


def q70_bool_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        (F.col("c_acctbal") > 0).alias("positive"),
        (F.col("c_acctbal") > 9000).alias("rich"),
        (
            F.when(F.col("c_acctbal") < 0, 1)
            .otherwise(0)
            .cast("long")
            + F.when(F.col("c_acctbal") > 9000, 2).otherwise(0)
            + F.when(F.col("c_mktsegment") == "BUILDING", 4).otherwise(0)
        ).alias("flags"),
    )
    return cust.groupBy("c_nationkey").agg(
        F.bool_and("positive").alias("all_positive"),
        F.bool_or("rich").alias("any_rich"),
        F.bit_or("flags").alias("flag_mask"),
        F.count(F.lit(1)).alias("n_cust"),
    )


_register(
    "q70_bool_bit_aggs",
    q70_bool_bit_aggs,
    """
    SELECT c_nationkey,
           bool_and(c_acctbal > 0) AS all_positive,
           bool_or(c_acctbal > 9000) AS any_rich,
           bit_or((CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END
                   + CASE WHEN c_acctbal > 9000 THEN 2 ELSE 0 END
                   + CASE WHEN c_mktsegment = 'BUILDING' THEN 4 ELSE 0 END
                  )::BIGINT) AS flag_mask,
           count(*) AS n_cust
    FROM customer
    GROUP BY c_nationkey
    """,
)
