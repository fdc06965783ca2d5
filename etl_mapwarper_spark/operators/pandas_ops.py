"""Pandas-UDF grouped surfaces (SURVEY.md §2.B UDF/UDAF/UDTF row).

Two deliberately distinct shapes:

- ``pd_weighted_avg`` — a GROUPED-AGG pandas UDF (user-defined
  aggregate): Arrow ships each group's columns to Python once, the
  UDF returns one scalar per group. This is the UDAF escape hatch for
  aggregates Spark lacks; per-group state never exceeds the group's
  Arrow batch.
- ``pd_zscore`` — ``applyInPandas`` (grouped map): whole group in,
  whole frame out (1→N), for per-group normalization/model scoring
  that genuinely needs a dataframe view of the group.

Both compute in integer cents inside Python (account balances and
prices are 2-decimal fixed-point), so group sums are exact and the
result is bit-identical to the DuckDB oracle regardless of row order
— float summation order would otherwise differ across engines and
shuffles.

Scale note: grouped ops shuffle on the group key; a single giant group
is the hazard (its whole Arrow batch must fit one Python worker). Keys
here (l_returnflag / c_mktsegment) are low-cardinality but bounded-size
per group at test SF; at 100 TB, pre-aggregate inside Spark (as the
cheaper queries q01/q06 do) or salt the group key.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..sources.tables import load_table
from . import registry

QUERIES, ORACLE, _register = registry()


# ---------------------------------------------------------------------------
# pd_weighted_avg — quantity-weighted mean extended price per return
# flag, as a grouped-agg pandas UDF.
# ---------------------------------------------------------------------------


def pd_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    @pandas_udf("double")
    def wavg_cents(price: pd.Series, qty: pd.Series) -> float:
        cents = (price * 100).round().astype("int64")
        q = qty.astype("int64")
        return float((cents * q).sum()) / (100.0 * float(q.sum()))

    # NOTE: a grouped-agg pandas UDF cannot be mixed with built-in
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT).
    return li.groupBy("l_returnflag").agg(
        F.round(wavg_cents("l_extendedprice", "l_quantity"), 4).alias(
            "wavg_price"
        ),
    )


_register(
    "pd_weighted_avg",
    pd_weighted_avg,
    """
    SELECT l_returnflag,
           round(sum(round(l_extendedprice * 100)::BIGINT * l_quantity::BIGINT)
                 / (100.0 * sum(l_quantity::BIGINT)), 4) AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# pd_zscore — per-market-segment z-score of customer account balance
# via applyInPandas. Mean and variance are computed from exact integer
# cent sums (n·x − Σx keeps everything integral until one final
# division), so the output is order-independent.
# ---------------------------------------------------------------------------

_Z_SCHEMA = (
    "c_custkey bigint, c_mktsegment string, c_acctbal double, zscore double"
)


def pd_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = (pdf["c_acctbal"] * 100).round().astype("int64")
        n = len(cents)
        s = int(cents.sum())
        ss = int((cents * cents).sum())
        # sample variance in cents²: (n·Σx² − (Σx)²) / (n·(n−1))
        var = (n * ss - s * s) / (n * (n - 1)) if n > 1 else 0.0
        std = var**0.5
        z = ((n * cents - s) / (n * std)) if std > 0 else cents * 0.0
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_mktsegment": pdf["c_mktsegment"],
                "c_acctbal": pdf["c_acctbal"],
                "zscore": z.round(4),
            }
        )

    return cust.select("c_custkey", "c_mktsegment", "c_acctbal").groupBy(
        "c_mktsegment"
    ).applyInPandas(zscore, _Z_SCHEMA)


_register(
    "pd_zscore",
    pd_zscore,
    """
    WITH stats AS (
      SELECT c_mktsegment,
             count(*) AS n,
             sum(round(c_acctbal * 100)::BIGINT) AS s,
             sum(round(c_acctbal * 100)::BIGINT
                 * round(c_acctbal * 100)::BIGINT) AS ss
      FROM customer
      GROUP BY c_mktsegment
    )
    SELECT c_custkey, c.c_mktsegment, c_acctbal,
           round((n * round(c_acctbal * 100)::BIGINT - s)
                 / (n * sqrt((n * ss - s * s) * 1.0 / (n * (n - 1)))),
                 4) AS zscore
    FROM customer c JOIN stats st ON c.c_mktsegment = st.c_mktsegment
    """,
)
