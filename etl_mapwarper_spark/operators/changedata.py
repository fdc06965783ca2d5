"""Change-data patterns: SCD2 history build and CDC snapshot diff.

The reference's pipeline re-downloads the full Map Warper catalog every
run and hands the framework a fresh snapshot (mapwarper.js:151-219);
it has no notion of history or incremental change. A 100 TB engine
cannot re-materialize the world per run, so the two standard
change-data primitives are first-class here:

- SCD2 (slowly-changing-dimension type 2): collapse an ordered change
  log into validity intervals [valid_from, valid_to). One shuffle on
  the entity key; the change-flag window, the running version-number
  window, the per-version aggregate, and the valid_to lead window all
  reuse that same hash partitioning (Catalyst satisfies
  ClusteredDistribution(cust, ver) from HashPartitioning(cust)), so
  the whole history build is a single exchange regardless of scale.

- CDC diff: full-outer join of two snapshots on the key, classifying
  insert / delete / update. At 100 TB both snapshots should be
  written bucketed on the key (sources/bucketing.py) so the diff is
  shuffle-free; on unbucketed snapshots it is one hash join with AQE
  handling skew.

Complements q48_snapshot_merge (applies a change set) — these derive
the change set / the history, the other direction of the same
round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from . import registry

QUERIES, ORACLE, _register = registry()


# ---------------------------------------------------------------------------
# q67 — SCD2 validity intervals from an ordered change log. Treat each
# customer's orders as a priority-change log: consecutive orders with
# the same o_orderpriority collapse into one version; each version gets
# [valid_from, valid_to) with the 2200-01-01 high date (ns-timestamp-safe) closing the
# current version. Deterministic ordering tie-break on o_orderkey.
# ---------------------------------------------------------------------------


def q67_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    w_ord = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    flagged = orders.withColumn(
        "chg",
        (
            ~F.lag("o_orderpriority")
            .over(w_ord)
            .eqNullSafe(F.col("o_orderpriority"))
        ).cast("int"),
    )
    versioned = flagged.withColumn(
        "version_no",
        F.sum("chg").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    versions = versioned.groupBy("o_custkey", "version_no").agg(
        F.min("o_orderdate").alias("valid_from"),
        F.min("o_orderpriority").alias("priority"),
    )
    w_ver = Window.partitionBy("o_custkey").orderBy("version_no")
    return versions.select(
        "o_custkey",
        "priority",
        "version_no",
        "valid_from",
        F.coalesce(
            F.lead("valid_from").over(w_ver),
            F.lit("2200-01-01").cast("timestamp"),
        ).alias("valid_to"),
    )


_register(
    "q67_scd2_intervals",
    q67_scd2_intervals,
    """
    WITH ord AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderpriority) OVER w
                       IS DISTINCT FROM o_orderpriority
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    ),
    ver AS (
      SELECT *,
             sum(chg) OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS UNBOUNDED PRECEDING) AS version_no
      FROM ord
    ),
    v AS (
      SELECT o_custkey, version_no,
             min(o_orderdate) AS valid_from,
             min(o_orderpriority) AS priority
      FROM ver GROUP BY 1, 2
    )
    SELECT o_custkey, priority, version_no::BIGINT AS version_no, valid_from,
           coalesce(lead(valid_from) OVER (PARTITION BY o_custkey
                                           ORDER BY version_no),
                    TIMESTAMP '2200-01-01') AS valid_to
    FROM v
    """,
)


# ---------------------------------------------------------------------------
# q68 — CDC snapshot diff. Two deterministic snapshots derived from
# orders (A drops keys divisible by 97; B drops keys divisible by 89
# and reprices keys divisible by 7), full-outer joined on the key and
# classified. Unchanged rows are filtered out, so the result is the
# minimal change set that q48_snapshot_merge would apply.
# ---------------------------------------------------------------------------


def q68_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    snap_a = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("a_key"),
        (cents / 100.0).alias("old_price"),
    )
    # the 10% reprice is exact integer-cents arithmetic (cents*11 div
    # 10) — a float round(x*1.1, 2) lands on half-cent boundaries
    # where the engines' rounding modes disagree
    snap_b = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("b_key"),
        (
            F.when(
                F.col("o_orderkey") % 7 == 0,
                F.expr(
                    "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
                    " * 11 div 10"
                ),
            ).otherwise(cents)
            / 100.0
        ).alias("new_price"),
    )
    diff = snap_a.join(
        snap_b, snap_a.a_key == snap_b.b_key, "full_outer"
    ).select(
        F.coalesce("a_key", "b_key").alias("o_orderkey"),
        F.when(F.col("a_key").isNull(), "insert")
        .when(F.col("b_key").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        "old_price",
        "new_price",
    )
    return diff.filter(
        F.col("old_price").isNull()
        | F.col("new_price").isNull()
        | (F.col("old_price") != F.col("new_price"))
    )


_register(
    "q68_cdc_diff",
    q68_cdc_diff,
    """
    WITH a AS (
      SELECT o_orderkey AS a_key,
             round(o_totalprice * 100, 0)::BIGINT / 100.0 AS old_price
      FROM orders WHERE o_orderkey % 97 <> 0
    ),
    b AS (
      SELECT o_orderkey AS b_key,
             CASE WHEN o_orderkey % 7 = 0
                  THEN (round(o_totalprice * 100, 0)::BIGINT * 11) // 10
                  ELSE round(o_totalprice * 100, 0)::BIGINT
             END / 100.0 AS new_price
      FROM orders WHERE o_orderkey % 89 <> 0
    )
    SELECT coalesce(a_key, b_key) AS o_orderkey,
           CASE WHEN a_key IS NULL THEN 'insert'
                WHEN b_key IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           old_price, new_price
    FROM a FULL OUTER JOIN b ON a_key = b_key
    WHERE old_price IS NULL OR new_price IS NULL
       OR old_price <> new_price
    """,
)
