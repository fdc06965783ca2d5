"""Relational surface, extension set (SURVEY.md §2.B).

Second batch of oracle-checked relational operators: correlated
scalar subqueries (expressed decorrelated, the way they must run at
scale), fact-to-fact EXISTS semi joins, exact percentiles, array
aggregation, FILTER-clause conditional aggregation, RANGE-frame
windows over a date axis, and ntile bucketing.

Same conventions as ``relational.py``: dimension sides broadcast,
floats rounded identically in Spark and oracle SQL, every output
column aliased the same in both.
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
# q33 — correlated scalar subquery, decorrelated. "Parts priced above
# their brand's average" is a correlated subquery in SQL; the scalable
# plan is aggregate-then-join: one pass computes per-brand averages
# (tiny — one row per brand), broadcast back onto the scan. The
# correlated form would re-aggregate per outer row; the decorrelated
# form is two scans and zero fact-side shuffles.
# ---------------------------------------------------------------------------


def q33_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    brand_avg = part.groupBy("p_brand").agg(
        F.avg("p_retailprice").alias("brand_avg")
    )
    return (
        part.join(broadcast(brand_avg), "p_brand")
        .filter(F.col("p_retailprice") > F.col("brand_avg"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.round(F.avg(F.col("p_retailprice") - F.col("brand_avg")), 4).alias(
                "avg_premium"
            ),
        )
    )


_register(
    "q33_above_brand_avg",
    q33_above_brand_avg,
    """
    SELECT p_brand,
           count(*) AS n_above,
           round(avg(premium), 4) AS avg_premium
    FROM (
      SELECT p.p_brand,
             p.p_retailprice
               - (SELECT avg(p2.p_retailprice) FROM part p2
                  WHERE p2.p_brand = p.p_brand) AS premium
      FROM part p
    )
    WHERE premium > 0
    GROUP BY p_brand
    """,
)


# ---------------------------------------------------------------------------
# q34 — EXISTS as a fact-to-fact LEFT SEMI join. Orders that have at
# least one deeply-discounted bulk lineitem. The semi join shuffles
# both facts on orderkey but carries only the join key plus the
# grouping columns (semi join output = left columns only, and the
# lineitem side is pre-filtered before the exchange). At 100 TB both
# facts would be bucketed on orderkey and the exchange vanishes.
# ---------------------------------------------------------------------------


def q34_exists_discounted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_discount") > 0.05) & (F.col("l_quantity") > 30)
    )
    hit = orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_semi"
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
    )


_register(
    "q34_exists_discounted",
    q34_exists_discounted,
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_totalprice
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_discount > 0.05 AND l.l_quantity > 30
    )
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# q35 — exact percentiles (median / p90), computed as ONE hash
# aggregate: per-group ``array_sort(collect_list(price))`` + rank
# interpolation by ``element_at``. Why this beats the alternatives:
# Spark's ``percentile`` built-in buffers a value→count map per group
# with a heavy merge (measured 2-3 s at sf0.1); the r1-r4 window form
# (row_number + conditional aggs) paid an exchange, a per-group sort,
# AND WindowExec's row-at-a-time frame machinery (~0.2 s of pure
# window overhead at sf0.1 — profiled r5). The array form is scan →
# partial collect → one tiny exchange → JVM-intrinsic array_sort +
# element_at: 0.48 s → 0.32 s at sf0.1.
#
# Scale: each group's values materialize on ONE reducer, and —
# unlike the window-sort form, which spills its sort runs to disk —
# collect_list buffers the group as a single in-memory array, so the
# array form TRADES spillability for speed: it is only valid while
# every group's values fit executor memory (few bounded groups here).
# A group that outgrows memory OOMs rather than degrading. For huge
# groups the two-phase bucketed q76 is the 100-TB path, unchanged.
# Interpolation uses DuckDB quantile_cont's exact formula
# (lo + (hi−lo)·frac) so doubles match bit-for-bit before rounding.
# ---------------------------------------------------------------------------


def q35_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    from ..functions.scalar import sorted_array_quantile

    g = li.groupBy("l_returnflag").agg(
        F.array_sort(F.collect_list("l_extendedprice")).alias("_vals"),
        F.count(F.lit(1)).alias("_n"),
    )

    def interp(q):
        return sorted_array_quantile(F.col("_vals"), F.col("_n"), q)

    return g.select(
        "l_returnflag",
        F.round(interp(0.5), 4).alias("median_price"),
        F.round(interp(0.9), 4).alias("p90_price"),
        F.round(F.element_at("_vals", 1), 4).alias("min_price"),
        F.round(
            F.element_at("_vals", F.col("_n").cast("int")), 4
        ).alias("max_price"),
    )


_register(
    "q35_price_percentiles",
    q35_price_percentiles,
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           round(min(l_extendedprice), 4) AS min_price,
           round(max(l_extendedprice), 4) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# q36 — array aggregation. collect_set is order-nondeterministic under
# parallel merge, so the set is sorted and joined into one scalar string
# (the harness canonicalizer hashes scalar cells; an ARRAY column is not
# hashable there). The aggregate is mergeable map-side like any hash agg.
# ---------------------------------------------------------------------------


def q36_status_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    statuses = F.sort_array(F.collect_set("o_orderstatus"))
    return orders.groupBy("o_orderpriority").agg(
        F.array_join(statuses, ",").alias("statuses"),
        F.size(F.collect_set("o_orderstatus")).alias("n_statuses"),
        F.array_contains(statuses, "P").alias("has_pending"),
    )


_register(
    "q36_status_sets",
    q36_status_sets,
    """
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           count(DISTINCT o_orderstatus)::INT AS n_statuses,
           list_contains(list(DISTINCT o_orderstatus), 'P') AS has_pending
    FROM orders
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# q37 — conditional aggregation (SQL FILTER clause). One scan computes
# every conditional aggregate simultaneously — the declarative
# replacement for N filtered scans. All map-side combinable.
# ---------------------------------------------------------------------------


def q37_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(dim_broadcast(nation, sf_dir, "nation"), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count_if(F.col("c_acctbal") < 0).alias("n_negative"),
            F.round(
                F.sum(F.when(F.col("c_acctbal") > 0, F.col("c_acctbal"))), 2
            ).alias("sum_positive"),
            F.count_if(F.col("c_mktsegment") == "BUILDING").alias("n_building"),
        )
    )


_register(
    "q37_conditional_agg",
    q37_conditional_agg,
    """
    SELECT n_name,
           count(*) AS n_customers,
           count(*) FILTER (WHERE c_acctbal < 0) AS n_negative,
           round(sum(c_acctbal) FILTER (WHERE c_acctbal > 0), 2) AS sum_positive,
           count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS n_building
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)


# ---------------------------------------------------------------------------
# q38 — RANGE-frame window over a date axis: 7-day trailing average of
# daily revenue. The frame is a true range frame on an integer day
# ordinal (not ROWS — days can be missing, and a row frame would
# silently widen the window across gaps). Daily rollup first, so the
# window input is one row per day regardless of fact cardinality.
# Money is summed as exact integer cents: double summation order
# differs between engines and flips round(x, 2) at the half-cent
# boundary; integer sums are order-independent, and the final
# cents→dollars division of identical integers is bit-identical.
# ---------------------------------------------------------------------------


def q38_moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.withColumn("d", F.to_date("o_orderdate"))
        .withColumn(
            "cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("rev_cents"))
        .withColumn(
            "day_ord", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        )
    )
    w = Window.orderBy("day_ord").rangeBetween(-6, 0)
    return daily.select(
        F.col("d").cast("timestamp").alias("d"),
        (F.col("rev_cents") / 100.0).alias("revenue"),
        F.round(
            F.sum("rev_cents").over(w)
            / (F.count("rev_cents").over(w) * 100.0),
            4,
        ).alias("mavg_7d"),
    )


_register(
    "q38_moving_avg_7d",
    q38_moving_avg_7d,
    """
    WITH daily AS (
      SELECT o_orderdate::DATE AS d,
             sum(round(o_totalprice * 100, 0)::BIGINT) AS rev_cents,
             datediff('day', DATE '1970-01-01', o_orderdate::DATE) AS day_ord
      FROM orders
      GROUP BY 1, 3
    )
    SELECT d::TIMESTAMP AS d,
           rev_cents / 100.0 AS revenue,
           round(sum(rev_cents) OVER w / (count(rev_cents) OVER w * 100.0),
                 4) AS mavg_7d
    FROM daily
    WINDOW w AS (ORDER BY day_ord RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)


# ---------------------------------------------------------------------------
# q39 — ntile bucketing. Deterministic only under a total order, so the
# sort key includes the unique c_custkey tiebreak in both engines.
# A naive global ntile is a single-partition window sort; here the
# EXACT same assignment is computed distributed, in two narrow passes:
#   1. approx-quantile cut-points range-bucket the rows (ties on a cut
#      value all land in one bucket, so bucket order == sort order);
#   2. per-bucket counts (O(B) rows to the driver) give exact prefix
#      offsets, so row_number within each bucket + offset is the exact
#      global row_number — the window partitions by bucket, never one
#      reducer; ntile's ceil/floor split is then pure arithmetic.
# Same pattern as q25_acctbal_bands / q76_percentiles_twophase.
# ---------------------------------------------------------------------------


def exact_global_row_number(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    out_col: str = "_rn0",
    n_buckets: int | None = None,
) -> DataFrame:
    """EXACT 0-based ``row_number() OVER (ORDER BY value, tiebreak)``,
    distributed and FULLY in-plan (zero driver jobs at construction —
    the r4-verdict rule the old approxQuantile + collect form broke).

    Range-buckets rows by fixed-width cuts over the in-plan min/max
    (the q76 pattern: a broadcast 1-row stats aggregate; the bucket
    map ``floor((v − mn)/width)`` is monotone in ``v`` and ties share
    a bucket, so bucket order == sort order exactly). Per-bucket
    counts turn into exact prefix offsets via a cumulative window over
    the O(n_buckets)-row count frame (bounded, never data-sized), and
    the global rank is bucket-local ``row_number`` + offset — the big
    window partitions by bucket, never a single reducer. The primitive
    under exact ntile, percent_rank, and cume_dist over a total order
    (``value_col`` must be non-null and ``tiebreak_col`` must make the
    order total).

    Returns the ranked frame with ``out_col`` (0-based rank) and
    ``_n`` (total row count) columns. Skew caveat vs the old
    quantile-sampled cuts: fixed-width buckets can imbalance under
    heavily clustered values (one bucket sorts more rows locally);
    rank EXACTNESS is unaffected.
    """
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = max(spark.sparkContext.defaultParallelism, 8)
    v = F.col(value_col)
    stats = df.agg(
        F.min(v).alias("_egr_mn"),
        F.max(v).alias("_egr_mx"),
        F.count(F.lit(1)).alias("_n"),
    )
    width = F.when(
        F.col("_egr_mx") > F.col("_egr_mn"),
        (F.col("_egr_mx") - F.col("_egr_mn")) / F.lit(n_buckets),
    ).otherwise(F.lit(1.0))
    bucket = F.coalesce(
        F.least(
            F.greatest(
                F.floor((v - F.col("_egr_mn")) / width), F.lit(0)
            ),
            F.lit(n_buckets - 1),
        ),
        F.lit(0),
    ).cast("int")
    bucketed = (
        df.crossJoin(F.broadcast(stats))
        .withColumn("_nt_bucket", bucket)
        .drop("_egr_mn", "_egr_mx")
    )
    counts = bucketed.groupBy("_nt_bucket").agg(
        F.count(F.lit(1)).alias("_egr_c")
    )
    wcum = Window.orderBy("_nt_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.withColumn(
        "_egr_off", F.sum("_egr_c").over(wcum) - F.col("_egr_c")
    ).drop("_egr_c")
    w = Window.partitionBy("_nt_bucket").orderBy(value_col, tiebreak_col)
    rn0 = F.row_number().over(w) + F.col("_egr_off") - F.lit(1)
    return (
        bucketed.join(F.broadcast(offsets), "_nt_bucket")
        .withColumn(out_col, rn0)
        .drop("_nt_bucket", "_egr_off")
    )


def exact_ntile(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    k: int,
    out_col: str = "tile",
    n_buckets: int | None = None,
) -> DataFrame:
    """EXACT ``ntile(k) OVER (ORDER BY value, tiebreak)``, distributed.

    The ntile ceil/floor split is pure arithmetic on the exact global
    rank (see exact_global_row_number): first ``n % k`` tiles get
    ``n // k + 1`` rows, the rest ``n // k`` — bit-identical to the
    single-reducer ``F.ntile``. The total count ``n`` is the in-plan
    ``_n`` column, so the arithmetic is columnar and construction
    stays job-free.
    """
    ranked = exact_global_row_number(
        df, value_col, tiebreak_col, n_buckets=n_buckets
    )
    rn0 = F.col("_rn0")
    n = F.col("_n")
    base = F.floor(n / F.lit(k))
    rem = n % F.lit(k)
    head = rem * (base + 1)
    tile = (
        F.when(base == F.lit(0), rn0 + F.lit(1))
        .when(rn0 < head, F.floor(rn0 / (base + 1)) + 1)
        .otherwise(
            F.floor((rn0 - head) / F.greatest(base, F.lit(1))) + rem + 1
        )
    )
    return (
        ranked.withColumn(out_col, tile.cast("int")).drop("_rn0", "_n")
    )


def q39_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_acctbal", "c_custkey"
    )
    return (
        exact_ntile(cust, "c_acctbal", "c_custkey", 10, out_col="decile")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


_register(
    "q39_ntile_deciles",
    q39_ntile_deciles,
    """
    SELECT decile,
           count(*) AS n,
           round(avg(c_acctbal), 4) AS avg_bal,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM (
      SELECT c_acctbal,
             ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer
    )
    GROUP BY decile
    """,
)


# ---------------------------------------------------------------------------
# q40 — date-spine gap fill. Time series from fact data have holes
# (days with no orders); downstream window math (q38) needs a dense
# axis. The spine is generated from the data's own min/max bounds via
# sequence() — one row per day, thousands of rows at any corpus size —
# and LEFT-joined back to the daily rollup. The daily rollup (bounded
# by distinct days, not fact rows) is broadcast; the fact-proportional
# work is only the first groupBy. Money in integer cents, as in q38.
# ---------------------------------------------------------------------------


def q40_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.withColumn("d", F.to_date("o_orderdate"))
        .withColumn(
            "cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
        )
        .groupBy("d")
        .agg(
            F.sum("cents").alias("rev_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    return spine.join(broadcast(daily), "d", "left").select(
        F.col("d").cast("timestamp").alias("d"),
        (F.coalesce(F.col("rev_cents"), F.lit(0)) / 100.0).alias("revenue"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.col("rev_cents").isNull().alias("was_gap"),
    )


_register(
    "q40_date_spine_gapfill",
    q40_date_spine_gapfill,
    """
    WITH daily AS (
      SELECT o_orderdate::DATE AS d,
             sum(round(o_totalprice * 100, 0)::BIGINT) AS rev_cents,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    spine AS (
      SELECT unnest(generate_series(
               (SELECT min(d) FROM daily),
               (SELECT max(d) FROM daily),
               INTERVAL 1 DAY))::DATE AS d
    )
    SELECT s.d::TIMESTAMP AS d,
           coalesce(dl.rev_cents, 0) / 100.0 AS revenue,
           coalesce(dl.n_orders, 0) AS n_orders,
           dl.rev_cents IS NULL AS was_gap
    FROM spine s LEFT JOIN daily dl ON s.d = dl.d
    """,
)


# ---------------------------------------------------------------------------
# q41/q42 — multiset set ops (ALL variants). intersectAll/exceptAll
# keep duplicate multiplicity (min/difference of per-row counts),
# unlike the distinct-semantics q15/q16. Spark plans both as a single
# aggregate-style exchange on the full row — no join explosion. The
# projected column (order priority) is low-cardinality, so duplicate
# multiplicity is the whole point of the test.
# ---------------------------------------------------------------------------


def q41_priority_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderpriority"
    )
    open_ = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderpriority"
    )
    return (
        urgent.intersectAll(open_)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_register(
    "q41_priority_intersect_all",
    q41_priority_intersect_all,
    """
    SELECT o_orderpriority, count(*) AS n FROM (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      INTERSECT ALL
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    )
    GROUP BY o_orderpriority
    """,
)


def q42_priority_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    fin = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderpriority"
    )
    pend = orders.filter(F.col("o_orderstatus") == "P").select(
        "o_orderpriority"
    )
    return (
        fin.exceptAll(pend)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_register(
    "q42_priority_except_all",
    q42_priority_except_all,
    """
    SELECT o_orderpriority, count(*) AS n FROM (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      EXCEPT ALL
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P'
    )
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# q71 — lateral explode WITH ORDINALITY (posexplode). The generator
# runs inline in the projection (Spark `Generate` node — a narrow op,
# no shuffle), emitting (position, token) pairs; downstream aggregates
# see the ordinal as a normal column. Spark's posexplode is 0-based,
# the SQL convention is 1-based, so the ordinal is shifted to match.
# Bounded to the first 3 tokens per document so the aggregate is a
# leading-token frequency table, not a full term explosion.
# ---------------------------------------------------------------------------


def q71_posexplode_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    return (
        docs.select(
            "doc_id", F.posexplode("toks").alias("pos0", "tok")
        )
        .filter(F.col("pos0") < 3)
        .groupBy((F.col("pos0") + 1).alias("pos"), "tok")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_register(
    "q71_posexplode_ordinality",
    q71_posexplode_ordinality,
    """
    WITH exploded AS (
      SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
                                   (x, i) -> {'tok': x, 'pos': i}),
                    recursive := true)
      FROM documents
    )
    SELECT pos, tok, count(*) AS n_docs
    FROM exploded
    WHERE pos <= 3
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# q76 — exact percentiles, two-phase bucketed (the scale path). q35's
# sort-window form is exact and codegen'd but parallelizes only over
# the GROUPS (3 return flags → 3 sort tasks); at 100 TB a few huge
# groups make that a straggler. The classic fix computes the same
# exact answer with full parallelism and NO big sort:
#   A. per-group count/min/max (one hash agg);
#   B. histogram over NB value buckets (one hash agg, map-side
#      combinable);
#   C. cumulative counts over the tiny (group × NB) histogram locate
#      the bucket holding each target rank;
#   D. only the rows of those buckets (≈ n/NB rows each) are
#      collected and order-statistics picked exactly.
# Heavily duplicated values can still concentrate one bucket (phase D
# then recurses in production); prices here are near-unique. Same
# interpolation arithmetic as q35 — the oracle SQL is shared verbatim.
# ---------------------------------------------------------------------------

_NB = 4096


def q76_percentiles_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("p")
    )
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("p").alias("mn"),
        F.max("p").alias("mx"),
    )

    def rank_pair(q, tag_lo, tag_hi):
        pos = F.lit(q) * (F.col("n") - 1)
        return [
            F.struct(
                F.lit(tag_lo).alias("tag"),
                F.floor(pos).cast("long").alias("r"),
            ),
            F.struct(
                F.lit(tag_hi).alias("tag"),
                F.ceil(pos).cast("long").alias("r"),
            ),
        ]

    targets = stats.select(
        "l_returnflag",
        F.explode(
            F.array(
                *rank_pair(0.5, "m_lo", "m_hi"),
                *rank_pair(0.9, "p_lo", "p_hi"),
            )
        ).alias("t"),
    ).select("l_returnflag", F.col("t.tag").alias("tag"), F.col("t.r").alias("r"))

    width = F.when(
        F.col("mx") > F.col("mn"), (F.col("mx") - F.col("mn")) / _NB
    ).otherwise(F.lit(1.0))
    rows = li.join(broadcast(stats), "l_returnflag").withColumn(
        "b",
        F.least(
            F.floor((F.col("p") - F.col("mn")) / width).cast("int"),
            F.lit(_NB - 1),
        ),
    )
    hist = rows.groupBy("l_returnflag", "b").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.partitionBy("l_returnflag").orderBy("b")
    cum = hist.withColumn(
        "cum_before",
        F.sum("c").over(
            wcum.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - F.col("c"),
    )
    tb = (
        targets.join(cum, "l_returnflag")
        .filter(
            (F.col("cum_before") <= F.col("r"))
            & (F.col("r") < F.col("cum_before") + F.col("c"))
        )
        .select(
            "l_returnflag",
            "tag",
            F.col("b").alias("bt"),
            (F.col("r") - F.col("cum_before")).alias("k"),
        )
    )
    vals = (
        rows.join(
            broadcast(tb),
            (rows["l_returnflag"] == tb["l_returnflag"])
            & (rows["b"] == tb["bt"]),
        )
        .drop(tb["l_returnflag"])
        .groupBy("l_returnflag", "tag")
        .agg(
            F.element_at(
                F.array_sort(F.collect_list("p")), (F.max("k") + 1).cast("int")
            ).alias("v")
        )
    )
    piv = (
        vals.groupBy("l_returnflag")
        .pivot("tag", ["m_lo", "m_hi", "p_lo", "p_hi"])
        .agg(F.first("v"))
    )

    def interp(q, lo, hi):
        pos = F.lit(q) * (F.col("n") - 1)
        frac = pos - F.floor(pos)
        return F.col(lo) + (F.col(hi) - F.col(lo)) * frac

    return piv.join(broadcast(stats), "l_returnflag").select(
        "l_returnflag",
        F.round(interp(0.5, "m_lo", "m_hi"), 4).alias("median_price"),
        F.round(interp(0.9, "p_lo", "p_hi"), 4).alias("p90_price"),
        F.round(F.col("mn"), 4).alias("min_price"),
        F.round(F.col("mx"), 4).alias("max_price"),
    )


_register(
    "q76_percentiles_twophase",
    q76_percentiles_twophase,
    ORACLE["q35_price_percentiles"],
)
