"""Declarative data-quality expectations (Deequ / Great-Expectations
shape, engine-native): a rule set is declared as data, compiled into
ONE conditional-aggregation pass per table (plus key-level aggregates
for uniqueness and an anti-join for referential integrity), and the
result is a per-rule violations table a pipeline gates on before
promoting a landing.

Scale shape: row-level rules are count_if expressions folded into a
single scan — adding a rule adds a column, not a pass. Uniqueness is
a group-by on the key (map-side combinable); referential integrity is
a LEFT ANTI join against the dimension's key projection (broadcast
when the dim is small, AQE otherwise). Nothing here is quadratic and
no rule forces its own scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import dim_broadcast, load_table
from . import registry

QUERIES, ORACLE, _register = registry()


# ---------------------------------------------------------------------------
# dq_expectations — row-level rule set over orders, one scan.
# Each rule is (name, violation predicate); the whole set compiles to
# count_if columns in a single aggregate.
# ---------------------------------------------------------------------------

_ORDER_RULES = [
    ("totalprice_positive", "o_totalprice <= 0"),
    ("orderdate_not_null", "o_orderdate IS NULL"),
    ("status_in_domain", "o_orderstatus NOT IN ('O', 'F', 'P')"),
    ("priority_not_blank", "o_orderpriority IS NULL OR o_orderpriority = ''"),
    ("custkey_positive", "o_custkey IS NULL OR o_custkey <= 0"),
]


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_checked"),
        *[
            F.count_if(F.expr(pred)).alias(name)
            for name, pred in _ORDER_RULES
        ],
    )
    rules = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col(name).alias("n_violations"),
            )
            for name, _ in _ORDER_RULES
        ]
    )
    return agg.select(
        F.explode(rules).alias("r"), F.col("n_checked")
    ).select(
        F.col("r.rule").alias("rule"),
        F.col("r.n_violations").alias("n_violations"),
        "n_checked",
        (F.col("r.n_violations") == 0).alias("passed"),
    )


_register(
    "dq_expectations",
    dq_expectations,
    """
    WITH agg AS (
      SELECT count(*) AS n_checked,
             count(*) FILTER (WHERE o_totalprice <= 0)
               AS totalprice_positive,
             count(*) FILTER (WHERE o_orderdate IS NULL)
               AS orderdate_not_null,
             count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
               AS status_in_domain,
             count(*) FILTER (WHERE o_orderpriority IS NULL
                              OR o_orderpriority = '')
               AS priority_not_blank,
             count(*) FILTER (WHERE o_custkey IS NULL OR o_custkey <= 0)
               AS custkey_positive
      FROM orders
    )
    SELECT r.rule, r.n AS n_violations, n_checked, r.n = 0 AS passed
    FROM agg, LATERAL (VALUES
      ('totalprice_positive', totalprice_positive),
      ('orderdate_not_null', orderdate_not_null),
      ('status_in_domain', status_in_domain),
      ('priority_not_blank', priority_not_blank),
      ('custkey_positive', custkey_positive)
    ) r(rule, n)
    """,
)


# ---------------------------------------------------------------------------
# dq_key_integrity — key-level expectations: primary-key uniqueness on
# orders (group-by the key, count key values seen more than once) and
# referential integrity lineitem.l_orderkey → orders.o_orderkey
# (LEFT ANTI join counts orphans). One row per check.
# ---------------------------------------------------------------------------


def dq_key_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dup_keys = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.lit("orderkey_unique").alias("rule"),
            F.count(F.lit(1)).cast("long").alias("n_violations"),
        )
    )
    orphans = (
        li.join(
            dim_broadcast(
                orders.select("o_orderkey"), sf_dir, "orders"
            ),
            li.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(
            F.lit("lineitem_orderkey_ref").alias("rule"),
            F.count(F.lit(1)).cast("long").alias("n_violations"),
        )
    )
    return (
        dup_keys.unionByName(orphans)
        .withColumn("passed", F.col("n_violations") == 0)
    )


_register(
    "dq_key_integrity",
    dq_key_integrity,
    """
    SELECT 'orderkey_unique' AS rule,
           count(*) AS n_violations,
           count(*) = 0 AS passed
    FROM (SELECT o_orderkey FROM orders
          GROUP BY 1 HAVING count(*) > 1)
    UNION ALL
    SELECT 'lineitem_orderkey_ref',
           count(*),
           count(*) = 0
    FROM lineitem l WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
)


# ---------------------------------------------------------------------------
# dq_column_profile — single-scan column profiler (the Deequ/Glue
# "profile this table" primitive that precedes writing expectations):
# per column of orders — row count, null count, exact distinct count,
# numeric min/max (numeric and temporal columns; temporal as epoch
# seconds) and lexicographic min/max (string columns). ONE
# conditional-aggregate pass computes every metric (no per-column
# scans); the wide 1-row aggregate is then unpivoted to one row per
# column with stack(). Exact distincts keep the oracle hash-grade —
# the at-scale variant swaps in approx_count_distinct per the q29
# contract. Numeric extremes stay DOUBLE (never stringified: engines
# format floats differently, values compare exactly).
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
    ("o_orderstatus", "str"),
]


def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        aggs.append(
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls")
        )
        aggs.append(F.count_distinct(c).alias(f"{c}__distinct"))
        if kind == "num":
            aggs.append(F.round(F.min(c).cast("double"), 4).alias(f"{c}__min"))
            aggs.append(F.round(F.max(c).cast("double"), 4).alias(f"{c}__max"))
        elif kind == "ts":
            aggs.append(
                F.min(F.expr(f"unix_seconds({c})"))
                .cast("double")
                .alias(f"{c}__min")
            )
            aggs.append(
                F.max(F.expr(f"unix_seconds({c})"))
                .cast("double")
                .alias(f"{c}__max")
            )
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__min"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__max"))
        if kind == "str":
            aggs.append(F.min(c).alias(f"{c}__smin"))
            aggs.append(F.max(c).alias(f"{c}__smax"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"{c}__smin"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__smax"))
    wide = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max, "
        f"{c}__smin, {c}__smax"
        for c, _ in _PROFILE_COLS
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column, n_nulls, n_distinct, min_num, max_num, min_str, max_str)",
    ).select(
        "column",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_num",
        "max_num",
        "min_str",
        "max_str",
    )


def _profile_sql() -> str:
    branches = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"round(min({c})::DOUBLE, 4)", f"round(max({c})::DOUBLE, 4)"
        elif kind == "ts":
            mn, mx = f"epoch(min({c}))::DOUBLE", f"epoch(max({c}))::DOUBLE"
        else:
            mn, mx = "NULL::DOUBLE", "NULL::DOUBLE"
        smn = f"min({c})" if kind == "str" else "NULL::VARCHAR"
        smx = f"max({c})" if kind == "str" else "NULL::VARCHAR"
        branches.append(
            f"SELECT '{c}' AS column, count(*) AS n_rows, "
            f"count(*) - count({c}) AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num, "
            f"{smn} AS min_str, {smx} AS max_str FROM orders"
        )
    return "\nUNION ALL\n".join(branches)


_register("dq_column_profile", dq_column_profile, _profile_sql())


# ---------------------------------------------------------------------------
# dq_skew_report — join-key skew diagnostics for the fact table's
# candidate join keys. At 100 TB a skewed shuffle key is the
# difference between a join finishing and one straggler task holding
# a 1000-executor stage hostage; this report is the measurement that
# decides between a plain shuffle join, salting (q32's pattern), and
# AQE skew-split. ONE scan for all keys: each row explodes into
# (key_col, key_val) pairs, per-key counts aggregate with map-side
# combine (the only corpus-sized shuffle), then a tiny rollup emits
# exact, deterministic skew statistics — max frequency, distinct
# count, and skew factor = max_freq / mean_freq. Only decomposable
# aggregates on purpose: quantiles-of-frequencies would either be
# approximate (engine-specific) or force a second sort.
# ---------------------------------------------------------------------------

_SKEW_KEYS = ["l_orderkey", "l_partkey", "l_suppkey"]


def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(*_SKEW_KEYS)
    pairs = li.select(
        F.explode(
            F.create_map(
                *[
                    c
                    for key in _SKEW_KEYS
                    for c in (F.lit(key), F.col(key))
                ]
            )
        ).alias("key_col", "key_val")
    )
    per_key = pairs.groupBy("key_col", "key_val").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_key.groupBy("key_col").agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("max_freq"),
        F.round(
            F.max("c") * F.count(F.lit(1)) / F.sum("c"), 2
        ).alias("skew_factor"),
    )


_register(
    "dq_skew_report",
    dq_skew_report,
    """
    WITH pairs AS (
      SELECT 'l_orderkey' AS key_col, l_orderkey AS key_val FROM lineitem
      UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
      UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
    ),
    pk AS (
      SELECT key_col, key_val, count(*) AS c FROM pairs GROUP BY 1, 2
    )
    SELECT key_col,
           sum(c)::BIGINT AS n_rows,
           count(*) AS n_distinct,
           max(c)::BIGINT AS max_freq,
           round(max(c) * count(*) * 1.0 / sum(c), 2) AS skew_factor
    FROM pk GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# dq_observed_metrics — pipeline metrics via the Observation API: the
# gate statistics a write pipeline needs (rows scanned, rows passed,
# value totals of what passed) collected AS the data flows, with zero
# extra passes. At 100 TB the alternative — re-aggregating the
# filtered stream — is a second full scan; .observe() piggybacks the
# accumulators on the tasks that already ran. The observed pipeline
# here is the dq_expectations-style admission filter over orders; the
# entry materializes the stream once to the noop sink and returns the
# observed metrics as a one-row frame (a bounded driver artifact, same
# class as collected centroids/filter words).
# ---------------------------------------------------------------------------

_ADMIT = (
    "o_totalprice > 0 AND o_orderdate IS NOT NULL "
    "AND o_orderstatus IN ('O', 'F', 'P')"
)


def dq_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    scan_obs = Observation("scan")
    pass_obs = Observation("passed")
    admitted = (
        orders.observe(scan_obs, F.count(F.lit(1)).alias("n_scanned"))
        .filter(F.expr(_ADMIT))
        .observe(
            pass_obs,
            F.count(F.lit(1)).alias("n_passed"),
            F.round(F.sum("o_totalprice"), 2).alias("passed_totalprice"),
            F.max("o_custkey").alias("max_passed_custkey"),
        )
    )
    admitted.write.mode("overwrite").format("noop").save()
    row = {**scan_obs.get, **pass_obs.get}

    def _opt(v, cast):  # empty corpus: sum/max observe as NULL
        return None if v is None else cast(v)

    return spark.createDataFrame(
        [
            (
                int(row["n_scanned"]),
                int(row["n_passed"]),
                _opt(row["passed_totalprice"], float),
                _opt(row["max_passed_custkey"], int),
            )
        ],
        "n_scanned long, n_passed long, passed_totalprice double, "
        "max_passed_custkey long",
    )


_register(
    "dq_observed_metrics",
    dq_observed_metrics,
    f"""
    SELECT count(*) AS n_scanned,
           count(*) FILTER (WHERE {_ADMIT}) AS n_passed,
           round(sum(o_totalprice) FILTER (WHERE {_ADMIT}), 2)
             AS passed_totalprice,
           max(o_custkey) FILTER (WHERE {_ADMIT})
             AS max_passed_custkey
    FROM orders
    """,
)


# ---------------------------------------------------------------------------
# dq_freshness_report — event-time freshness per stream partition key
# (event_type): the data-quality dimension the rule sets above don't
# cover — "is every stream still ARRIVING?". A partition whose max
# event time trails the corpus high-water mark has stalled upstream
# even if every row it ever landed is valid. Lag is anchored to the
# corpus-wide max (a deterministic 1-row aggregate, crossJoin-
# broadcast) rather than wall-clock, so the report is reproducible on
# any engine at any time. One scan + a per-key aggregate; the anchor
# is the repo's bounded 1-row-aggregate pattern.
# ---------------------------------------------------------------------------


def dq_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hwm = ev.agg(F.max("ts").alias("corpus_max_ts"))
    per_key = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("max_ts"),
        F.min("ts").alias("min_ts"),
    )
    return per_key.crossJoin(F.broadcast(hwm)).select(
        "event_type",
        "n_events",
        F.col("max_ts"),
        F.expr(
            "CAST(unix_seconds(corpus_max_ts) - unix_seconds(max_ts) AS BIGINT)"
        ).alias("lag_seconds"),
        F.expr(
            "CAST(unix_seconds(max_ts) - unix_seconds(min_ts) AS BIGINT)"
        ).alias("span_seconds"),
    )


_register(
    "dq_freshness_report",
    dq_freshness_report,
    """
    WITH hwm AS (SELECT max(ts) AS corpus_max_ts FROM events)
    SELECT event_type,
           count(*) AS n_events,
           max(ts) AS max_ts,
           CAST(date_diff('second', max(ts), corpus_max_ts) AS BIGINT)
             AS lag_seconds,
           CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
             AS span_seconds
    FROM events CROSS JOIN hwm
    GROUP BY event_type, corpus_max_ts
    """,
)
