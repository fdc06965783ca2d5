"""Ingestion queries — the paginated-REST scan machinery exercised
end-to-end under the correctness gate.

The HTTP layer is injected (``RestSourceConfig.fetcher``), so these
queries run the REAL scan path — page planning, token bucket, retry
wrapper, result records, JVM-side ``from_json`` item explode — against
a deterministic in-process API whose contents DuckDB can reproduce
with ``range()``. The reference's two scan modes are both covered:

- ``src_rest_scan``       count-first fan-out   (mapwarper.js:183-199)
- ``src_rest_short_page`` short-page loop       (mapwarper.js:112-149)
- ``src_rest_errors``     error-as-record       (mapwarper.js:122-129)
- ``src_ndjson_roundtrip`` NDJSON sink→source   (mapwarper.js:152-166, :423-428)
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.ndjson import read_ndjson, write_ndjson
from ..sources.paginated_rest import (
    FetchResult,
    RestSourceConfig,
    fetch_count,
    page_errors,
    page_items,
    scan_pages,
    scan_until_short_page,
)
from ..sources.tables import SCHEMAS, load_table
from . import registry

QUERIES, ORACLE, _register = registry()


# ---------------------------------------------------------------------------
# Deterministic fake API (module-level → picklable for executors).
# ---------------------------------------------------------------------------

ITEM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def fake_api_fetch(url: str, timeout_s: float) -> FetchResult:
    """Pure function of the URL: ``total`` items, ``per_page`` per page.

    item i = (i, 'item-<i>', i*0.25); pages past the end are empty —
    exactly the shape the short-page loop terminates on. ``?fail=<p>``
    makes page p return an HTTP 500 result record.
    """
    q = parse_qs(urlparse(url).query)
    total = int(q.get("total", ["1234"])[0])
    per_page = int(q.get("per_page", ["250"])[0])
    page = int(q.get("page", ["1"])[0])
    if "fail" in q and int(q["fail"][0]) == page:
        return FetchResult(500, None, "HTTP 500: injected failure")
    lo = (page - 1) * per_page
    hi = min(lo + per_page, total)
    items = [
        {"id": i, "name": f"item-{i}", "value": i * 0.25}
        for i in range(lo, hi)
    ]
    return FetchResult(
        200, json.dumps({"total_entries": total, "items": items})
    )


def _config(total: int, per_page: int, fail: int | None = None) -> RestSourceConfig:
    fail_q = f"&fail={fail}" if fail is not None else ""
    return RestSourceConfig(
        url_template=(
            "fake://api/items.json?total=%d&per_page={per_page}&page={page}%s"
            % (total, fail_q)
        ),
        per_page=per_page,
        requests_per_second=1e9,  # no politeness delay against a fake
        max_concurrency=8,
        retries=0,
        fetcher=fake_api_fetch,
    )


# --- count-first fan-out (1234 items, 100/page → 13 pages) -----------------


def src_rest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = _config(total=1234, per_page=100)
    total = fetch_count(cfg)
    num_pages = -(-total // cfg.per_page)
    pages = scan_pages(spark, cfg, num_pages)
    return page_items(pages, ITEM_SCHEMA).select("id", "name", "value")


_register(
    "src_rest_scan",
    src_rest_scan,
    """
    SELECT i AS id, 'item-' || i AS name, i * 0.25 AS value
    FROM range(0, 1234) t(i)
    """,
)


# --- same scan through the registered Spark 4 Python DataSource ------------


def src_rest_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-first fan-out via ``spark.read.format("paginated_rest")``.

    Identical crawl and identical oracle to src_rest_scan, but the
    scan enters the plan as a registered DataSource V2 relation
    (sources/rest_datasource.py) — partition planning in
    ``partitions()``, page fetches in ``read()``, item explosion
    still JVM-side via page_items.
    """
    from ..sources.rest_datasource import register

    register(spark)
    total, per_page = 1234, 100
    pages = (
        spark.read.format("paginated_rest")
        .option(
            "url_template",
            "fake://api/items.json?total=1234&per_page={per_page}&page={page}",
        )
        .option("per_page", per_page)
        .option("total_pages", -(-total // per_page))
        .option("max_concurrency", 8)
        .option("requests_per_second", 1e9)
        .option("retries", 0)
        .option(
            "fetcher", "etl_mapwarper_spark.operators.ingestion:fake_api_fetch"
        )
        .load()
    )
    return page_items(pages, ITEM_SCHEMA).select("id", "name", "value")


_register(
    "src_rest_datasource",
    src_rest_datasource,
    """
    SELECT i AS id, 'item-' || i AS name, i * 0.25 AS value
    FROM range(0, 1234) t(i)
    """,
)


# --- short-page termination (971 items → 10 pages, last short) -------------


def src_rest_short_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = _config(total=971, per_page=100)
    pages = scan_until_short_page(spark, cfg, wave_size=4)
    return page_items(pages, ITEM_SCHEMA).select("id", "name", "value")


_register(
    "src_rest_short_page",
    src_rest_short_page,
    """
    SELECT i AS id, 'item-' || i AS name, i * 0.25 AS value
    FROM range(0, 971) t(i)
    """,
)


# --- error-as-record quarantine (page 3 of 5 injected to fail) -------------


def src_rest_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = _config(total=500, per_page=100, fail=3)
    pages = scan_pages(spark, cfg, 5)
    good = page_items(pages, ITEM_SCHEMA).groupBy().agg(
        F.count(F.lit(1)).alias("ok_items")
    )
    bad = page_errors(pages).groupBy().agg(
        F.count(F.lit(1)).alias("failed_pages"),
        F.min("status").alias("min_status"),
    )
    return good.crossJoin(bad)


_register(
    "src_rest_errors",
    src_rest_errors,
    # 5 planned pages of 100; page 3 quarantined → 400 ok items.
    "SELECT 400::BIGINT AS ok_items, 1::BIGINT AS failed_pages, 500 AS min_status",
)


# --- NDJSON sink → source round-trip ----------------------------------------


def src_ndjson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="ndjson_rt_") + "/documents"
    write_ndjson(docs, path)
    back = read_ndjson(
        spark,
        path,
        T.StructType([f for f in SCHEMAS["documents"].fields if f.name != "text"]),
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("source").alias("n_sources"),
    )


_register(
    "src_ndjson_roundtrip",
    src_ndjson_roundtrip,
    """
    SELECT lang,
           count(*) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           count(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)


# ---------------------------------------------------------------------------
# CSV source/sink roundtrip (SURVEY.md §2.B scans row): write documents
# to CSV (quoted — text contains commas), read back schema-first, and
# aggregate. The oracle aggregates the original table, so the check
# proves the roundtrip is lossless including quoting/escaping.
# ---------------------------------------------------------------------------


def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="csv_rt_") + "/documents"
    docs.write.mode("overwrite").option("header", "false").csv(path)
    back = (
        spark.read.schema(
            T.StructType(
                [f for f in SCHEMAS["documents"].fields if f.name != "source"]
            )
        )
        .option("header", "false")
        .csv(path)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_text_chars"),
        F.sum("n_chars").alias("total_n_chars"),
    )


_register(
    "src_csv_roundtrip",
    src_csv_roundtrip,
    """
    SELECT lang,
           count(*) AS n_docs,
           sum(length(text))::BIGINT AS total_text_chars,
           sum(n_chars)::BIGINT AS total_n_chars
    FROM documents
    GROUP BY lang
    """,
)


# ---------------------------------------------------------------------------
# ORC roundtrip — third file format after parquet (canonical) and CSV
# (text boundary). ORC is the other columnar container Spark ships a
# native vectorized reader for; the roundtrip proves schema + values
# survive, including the nested-free full documents schema. Same
# oracle as the CSV roundtrip: aggregate the original table, so any
# loss in the write/read cycle breaks the match.
# ---------------------------------------------------------------------------


def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="orc_rt_") + "/documents"
    docs.write.mode("overwrite").orc(path)
    back = spark.read.schema(SCHEMAS["documents"]).orc(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(F.length("text")).alias("total_text_chars"),
        F.sum("n_chars").alias("total_n_chars"),
    )


_register(
    "src_orc_roundtrip",
    src_orc_roundtrip,
    """
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           sum(length(text))::BIGINT AS total_text_chars,
           sum(n_chars)::BIGINT AS total_n_chars
    FROM documents
    GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# src_xml_roundtrip — Spark 4's built-in XML source completes the
# format matrix (parquet/csv/json/orc/xml): write the documents table
# as row-tagged XML, read it back with the declared schema, and prove
# value preservation with the same per-source aggregate the other
# roundtrips use. XML matters for ingest parity because it is the one
# text format where field ORDER and escaping differ structurally from
# the delimited family — a schema-first read is the only reliable
# contract.
# ---------------------------------------------------------------------------


def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="xml_rt_") + "/documents"
    docs.write.mode("overwrite").format("xml").option(
        "rootTag", "documents"
    ).option("rowTag", "doc").save(path)
    back = (
        spark.read.schema(SCHEMAS["documents"])
        .format("xml")
        .option("rowTag", "doc")
        .load(path)
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(F.length("text")).alias("total_text_chars"),
        F.sum("n_chars").alias("total_n_chars"),
    )


_register(
    "src_xml_roundtrip",
    src_xml_roundtrip,
    """
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           sum(length(text))::BIGINT AS total_text_chars,
           sum(n_chars)::BIGINT AS total_n_chars
    FROM documents
    GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# Malformed-record quarantine (error-as-data #23 at the parse layer,
# mapwarper.js:122-129 applied to file ingestion). A deterministic CSV
# fixture where every 7th row has an unparseable numeric field is read
# PERMISSIVE with columnNameOfCorruptRecord; corrupt rows become DATA
# (the raw line lands in the quarantine column) instead of failing the
# job — the file-source analogue of the REST scan's error records. The
# single-pass aggregate references data AND corrupt columns together,
# which keeps the plan legal (Spark forbids scans projecting ONLY the
# internal corrupt column) and means one scan serves both the good
# path and the quarantine count. Values are summed as exact tenths
# (bigint) so the check is order-independent.
# ---------------------------------------------------------------------------

N_CSV_ROWS = 1000


def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    path = tempfile.mkdtemp(prefix="csv_bad_")
    with open(os.path.join(path, "part-0.csv"), "w") as f:
        for i in range(N_CSV_ROWS):
            value = "not_a_number" if i % 7 == 0 else f"{i / 10.0:.1f}"
            f.write(f"{i},name_{i},{value}\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return df.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias(
            "n_quarantined"
        ),
        F.sum(
            F.when(
                F.col("_corrupt").isNull(),
                F.round(F.col("value") * 10, 0).cast("long"),
            )
        ).alias("sum_tenths"),
    )


_register(
    "src_csv_malformed",
    src_csv_malformed,
    f"""
    WITH r AS (SELECT range AS id FROM range(0, {N_CSV_ROWS}))
    SELECT count(*) FILTER (WHERE id % 7 <> 0) AS n_good,
           count(*) FILTER (WHERE id % 7 = 0) AS n_quarantined,
           sum(id) FILTER (WHERE id % 7 <> 0)::BIGINT AS sum_tenths
    FROM r
    """,
)


# ---------------------------------------------------------------------------
# src_parquet_evolution — schema evolution across landed batches. At
# 100 TB a landing zone ALWAYS contains files written under different
# schema versions (columns added/dropped over time);
# ``mergeSchema=true`` unions the footers so old files surface new
# columns as nulls and vice versa. The query lands two batches with
# different projections of `part`, reads the merged dataset, and
# aggregates per-column presence — the drift report a pipeline runs
# before promoting a new schema version. Oracle: the same two
# projections unioned with explicit NULL padding.
# ---------------------------------------------------------------------------


def src_parquet_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    land = tempfile.mkdtemp(prefix="schema_evo_") + "/part_landing"
    # batch 1: v1 schema (key, name)
    part.filter(F.col("p_partkey") % 2 == 0).select(
        "p_partkey", "p_name"
    ).write.mode("overwrite").parquet(land + "/batch=1")
    # batch 2: v2 schema (key, brand, retailprice) — name dropped,
    # two columns added
    part.filter(F.col("p_partkey") % 2 == 1).select(
        "p_partkey", "p_brand", "p_retailprice"
    ).write.mode("overwrite").parquet(land + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        land + "/batch=1", land + "/batch=2"
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("p_name").alias("n_name"),
        F.count("p_brand").alias("n_brand"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_price_v2"),
        F.count_distinct("p_partkey").alias("n_keys"),
    )


_register(
    "src_parquet_evolution",
    src_parquet_evolution,
    """
    WITH merged AS (
      SELECT p_partkey, p_name,
             NULL::VARCHAR AS p_brand, NULL::DOUBLE AS p_retailprice
      FROM part WHERE p_partkey % 2 = 0
      UNION ALL
      SELECT p_partkey, NULL, p_brand, p_retailprice
      FROM part WHERE p_partkey % 2 = 1
    )
    SELECT count(*) AS n_rows,
           count(p_name) AS n_name,
           count(p_brand) AS n_brand,
           round(sum(p_retailprice), 2) AS sum_price_v2,
           count(DISTINCT p_partkey) AS n_keys
    FROM merged
    """,
)


# ---------------------------------------------------------------------------
# Python DataSource V2 WRITE path (SURVEY.md §2.B sinks row): the
# registered custom sink with the real two-phase task-commit protocol
# (staging files + driver-side rename + _SUCCESS; see
# sources/ndjson_datasource.py). The roundtrip writes documents
# through df.write.format("ndjson_sink"), reads the committed files
# back schema-first, and aggregates — the oracle aggregates the
# original table, so the check proves the custom writer published
# exactly the input rows (no dupes from staging, no partial files).
# ---------------------------------------------------------------------------


def src_pyds_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ndjson_datasource import register_ndjson_sink

    register_ndjson_sink(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="pyds_sink_") + "/documents"
    docs.write.format("ndjson_sink").mode("append").save(path)
    back = spark.read.schema(
        T.StructType(
            [f for f in SCHEMAS["documents"].fields if f.name != "text"]
        )
    ).json(path + "/part-*.ndjson")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


_register(
    "src_pyds_write_roundtrip",
    src_pyds_write_roundtrip,
    """
    SELECT source,
           count(*) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           min(doc_id) AS min_doc_id
    FROM documents
    GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# Malformed-NDJSON quarantine (the JSON twin of src_csv_malformed and
# the failure mode the reference's NDJSON handoff would hit on a
# truncated write): PERMISSIVE JSON parsing with a corrupt-record
# column turns broken lines into quarantine DATA. The fixture is the
# documents projection exported as NDJSON with deterministic garbage
# lines interleaved; one scan serves the good aggregate and the
# quarantine count.
# ---------------------------------------------------------------------------

_NDJSON_BAD_EVERY = 20  # one garbage line per 20 good lines


def src_ndjson_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    # Fixture written BY Spark, not by a driver-side loop: the good
    # lines stream through write.text() (distributed, any corpus size);
    # the garbage lines are a second, appended job sized ceil(n/20) —
    # the only driver-side value is the scalar row count (r3 ADVICE:
    # the old generator collect()ed the whole table).
    path = tempfile.mkdtemp(prefix="ndjson_bad_")
    docs.select(
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("value")
    ).write.mode("overwrite").text(path)
    n_good = docs.count()
    n_bad = (n_good + _NDJSON_BAD_EVERY - 1) // _NDJSON_BAD_EVERY
    spark.range(n_bad).select(
        F.concat(
            F.lit('{"doc_id": '), F.col("id"), F.lit(", TRUNCATED")
        ).alias("value")
    ).write.mode("append").text(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    return df.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias(
            "n_quarantined"
        ),
        F.sum(
            F.when(F.col("_corrupt").isNull(), F.col("n_chars"))
        ).alias("sum_chars"),
        F.count_distinct(
            F.when(F.col("_corrupt").isNull(), F.col("lang"))
        ).alias("n_langs"),
    )


_register(
    "src_ndjson_malformed",
    src_ndjson_malformed,
    f"""
    SELECT count(*) AS n_good,
           (count(*) + {_NDJSON_BAD_EVERY - 1}) // {_NDJSON_BAD_EVERY}
             AS n_quarantined,
           sum(n_chars)::BIGINT AS sum_chars,
           count(DISTINCT lang) AS n_langs
    FROM documents
    """,
)


# ---------------------------------------------------------------------------
# Schema-evolution UNION (the API complement of src_parquet_evolution's
# mergeSchema scan): two snapshot generations with different columns
# combine via unionByName(allowMissingColumns=True) — missing columns
# null-fill BY NAME, not by position, which is what makes appending a
# new column to a landed dataset a non-event for downstream unions.
# v1 rows (no n_chars) are identifiable downstream as the null rows.
# ---------------------------------------------------------------------------


def src_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    # v2 adds a column AND reorders — by-name matching must not care
    v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "n_chars", "lang", "doc_id"
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("n_chars").isNull()).alias("n_v1"),
        F.sum("n_chars").alias("sum_chars_v2"),
    )


_register(
    "src_union_by_name",
    src_union_by_name,
    """
    SELECT lang,
           count(*) AS n_rows,
           count(*) FILTER (WHERE doc_id % 2 = 0) AS n_v1,
           sum(n_chars) FILTER (WHERE doc_id % 2 = 1)::BIGINT
             AS sum_chars_v2
    FROM documents
    GROUP BY lang
    """,
)


# ---------------------------------------------------------------------------
# src_bucketed_join — bucketed-table co-located join (SURVEY §2.B
# joins/scans; the "repartition/bucketing for co-located joins" scale
# technique). Both fact tables are written bucketed by the join key
# (one file per bucket, write tasks aligned to buckets), so the
# sort-merge join needs NO Exchange: the shuffle was paid once at
# write time. At 100 TB this is how repeated fact-fact joins
# (orders ⋈ lineitem on every query) amortize their dominant cost;
# the plan audit pins `Bucketed: true` scans and zero exchanges below
# the final aggregation. (The SMJ's per-bucket Sorts remain: since
# SPARK-28632 the scan does not advertise sortBy order — they are
# cheap local sorts of single-bucket runs, not shuffles.)
# External-table paths keep all bytes in scratch dirs (no
# managed-warehouse writes in the driver session).
# ---------------------------------------------------------------------------

_N_BUCKETS = 8


def src_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    from ..sources.bucketing import read_bucketed, write_bucketed

    tag = _re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_").lower()
    scratch = tempfile.mkdtemp(prefix="bucketed_")
    names = {}
    for tbl, key, cols in (
        ("orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]),
        (
            "lineitem",
            "l_orderkey",
            ["l_orderkey", "l_extendedprice", "l_discount"],
        ),
    ):
        name = f"b_{tbl}_{tag}"
        write_bucketed(
            load_table(spark, sf_dir, tbl).select(*cols),
            name,
            key,
            _N_BUCKETS,
            path=f"{scratch}/{name}",
        )
        names[tbl] = name
    orders = read_bucketed(spark, names["orders"])
    li = read_bucketed(spark, names["lineitem"])
    # merge hint: the demonstration is the co-located SMJ — a broadcast
    # would hide the bucketing (and is impossible for two fact tables
    # at scale anyway).
    joined = orders.hint("merge").join(
        li, orders.o_orderkey == li.l_orderkey
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


_register(
    "src_bucketed_join",
    src_bucketed_join,
    """
    SELECT o_orderpriority,
           count(*) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# src_partitioned_pruning — Hive-style partitioned layout + partition
# pruning (SURVEY §2.B scans; the data-skipping half of "push down and
# prune"). Events are written partitionBy(event_type); the read
# filters to one type, which must resolve as a PartitionFilter — the
# scan lists ONE directory and never opens the others' files. At
# 100 TB the partition column is the difference between scanning a
# single partition and the whole lake; the plan audit pins the filter
# on the partition column, not the data.
# ---------------------------------------------------------------------------


def src_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.partitioned import read_partitioned, write_partitioned

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="events_part_") + "/events_by_type"
    write_partitioned(ev, path, ["event_type"])
    back = read_partitioned(spark, path, schema=ev.schema).filter(
        F.col("event_type") == "purchase"
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


_register(
    "src_partitioned_pruning",
    src_partitioned_pruning,
    """
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY event_type
    """,
)


# ---------------------------------------------------------------------------
# src_dpp_join — DYNAMIC partition pruning (the runtime half of the
# data-skipping story src_partitioned_pruning tells statically): the
# fact table is laid out partitionBy(event_type), and the dim side's
# qualifying partitions are only known at RUNTIME (an aggregate-count
# threshold, deliberately not a literal list Catalyst could push
# statically). The broadcast of the dim seeds a DynamicPruning
# subquery on the fact scan, so only the qualifying directories are
# read — at 100 TB this is how a selective dim join avoids scanning
# the whole partitioned lake. The plan audit pins the
# dynamicpruningexpression in the fact scan's PartitionFilters.
# ---------------------------------------------------------------------------


def src_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.partitioned import read_partitioned, write_partitioned

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="dpp_") + "/events_by_type"
    write_partitioned(ev, path, ["event_type"])
    fact = read_partitioned(spark, path, schema=ev.schema)
    # qualifying types = those that ever recorded a high-value event —
    # knowable only by scanning the dim side at runtime (a literal
    # type list would be pushed statically and prove nothing)
    dim = (
        ev.filter(F.col("value") > 250.0)
        .select("event_type")
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


_register(
    "src_dpp_join",
    src_dpp_join,
    """
    WITH dim AS (
      SELECT DISTINCT event_type FROM events WHERE value > 250.0
    )
    SELECT e.event_type,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN dim USING (event_type)
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# src_binaryfile_media — Spark's `binaryFile` format, THE ingestion
# path for a media corpus at scale: each file becomes one row (path,
# modificationTime, length, content) with parallelism by file and
# `pathGlobFilter`/partition-dir pruning at the scan. At 100 TB the
# scan distributes over millions of objects with no driver listing
# bottleneck beyond the file index, and payloads stay opaque bytes on
# the JVM side until an Arrow-batched decode stage needs them — the
# same discipline as operators/multimodal.py.
#
# Fixture: a bounded (5·_BINMEDIA_N = 100-file) directory of REAL
# encoded media written driver-side once per machine — per index m:
# a PNG carrying the (m+i)%256 arithmetic pattern, a quality-100
# block-flat 4:4:4 baseline JPEG, a quality-100 MCU-flat grey-RGB
# 4:2:0 JPEG (both image classes the integer JPEG pipeline preserves
# exactly, see functions/media_codec.py — grey RGB maps to Cb=Cr=128
# exactly so 2×2 chroma averaging is lossless), a progressive (SOF2)
# JPEG, and a restart-interval (DRI/RSTn) JPEG
# — deterministic content at a fixed path so the
# statically-registered oracle SQL can read the SAME files with
# DuckDB's read_blob. The oracle cross-checks the scan itself
# (octet_length(content) vs the scan's `length` column — real
# compressed byte sizes, not synthetic) and the decoded stats against
# the closed-form pixel arithmetic.
#
# SHARED-FS NOTE: the fixture lives in the driver's local temp dir and
# is read back with binaryFile — correct on local[k] (driver and
# executors share the filesystem). On a real cluster the fixture dir
# would have to live on shared storage (s3/hdfs/nfs); the directory
# constant is the single knob.
# ---------------------------------------------------------------------------

_BINMEDIA_N = 20  # files per format
# The dir name embeds a hash of the generation parameters: changing
# the count or pixel patterns lands in a FRESH directory instead of
# silently reusing stale files (r5 ADVICE).
_BINMEDIA_PARAMS = (
    f"v3:n={_BINMEDIA_N}"
    ":png=8x8 (m+i)%256"
    ":jpeg=q100 16x16 4-flat-blocks (m+37b)%256"
    ":jpeg420=q100 32x32x3 grey 4-flat-MCUs (m+61b)%256"
    ":jpegprog=SOF2 q100 16x16 4-flat-blocks (m+53b)%256"
    ":jpegrst=q100 ri=1 16x16 4-flat-blocks (m+29b)%256"
)
# Path + key discipline shared with the landed-fp and ivfpq-index
# fixtures (functions/fixture_cache.py, r8): /tmp/spark_graft_
# binmedia/<content_key(params)>.
from ..functions.fixture_cache import content_key as _fx_key
from ..functions.fixture_cache import fixture_dir as _fx_dir

_BINMEDIA_KEY = _fx_key(_BINMEDIA_PARAMS)


def _binmedia_files(m: int) -> dict[str, bytes]:
    """The five deterministic encoded files for index ``m``."""
    import numpy as np

    from ..functions.media_codec import (
        encode_jpeg,
        encode_jpeg_progressive,
        encode_png,
    )

    png = (
        (m + np.arange(64, dtype=np.int64)) % 256
    ).astype(np.uint8).reshape(8, 8)
    jpg = np.zeros((16, 16), dtype=np.uint8)
    j420 = np.zeros((32, 32, 3), dtype=np.uint8)
    prog = np.zeros((16, 16), dtype=np.uint8)
    rst = np.zeros((16, 16), dtype=np.uint8)
    for b, (by, bx) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)]):
        jpg[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (m + 37 * b) % 256
        prog[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (m + 53 * b) % 256
        rst[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (m + 29 * b) % 256
        j420[by * 16 : by * 16 + 16, bx * 16 : bx * 16 + 16, :] = (
            m + 61 * b
        ) % 256
    return {
        f"img_{m:03d}.png": encode_png(png),
        f"img_{m:03d}.jpg": encode_jpeg(jpg, quality=100),
        f"img_{m:03d}_420.jpg": encode_jpeg(
            j420, quality=100, subsampling="420"
        ),
        # flat blocks stay exact through the progressive (SOF2) and
        # restart-interval scan paths too — same closed-form oracle
        f"img_{m:03d}_prog.jpg": encode_jpeg_progressive(prog, quality=100),
        f"img_{m:03d}_rst.jpg": encode_jpeg(
            rst, quality=100, restart_interval=1
        ),
    }


def _binmedia_fixture_dir() -> str:
    """Write the deterministic media files once per machine (content is
    a pure function of the file index, so concurrent writers race
    benignly via write-to-temp + atomic rename). The m==0 files are
    verified byte-for-byte as sentinels: a foreign or corrupt
    pre-created directory is regenerated rather than trusted. Pure
    Python file I/O — no Spark jobs at construction."""
    from ..functions.fixture_cache import atomic_write_bytes

    d = _fx_dir("binmedia", _BINMEDIA_KEY)

    sentinel_ok = True
    for name, payload in _binmedia_files(0).items():
        try:
            with open(os.path.join(d, name), "rb") as f:
                sentinel_ok = sentinel_ok and f.read() == payload
        except OSError:
            sentinel_ok = False
    for m in range(_BINMEDIA_N):
        for name, payload in _binmedia_files(m).items():
            path = os.path.join(d, name)
            if not sentinel_ok or not os.path.exists(path):
                atomic_write_bytes(path, payload)
    return d


def src_binaryfile_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from typing import Iterator

    import pandas as pd

    path = _binmedia_fixture_dir()
    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "img_*")
        .load(path)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            F.col("length").alias("n_bytes"),
            "content",
        )
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.media_codec import (
            decode_jpeg,
            decode_png,
            sniff_kind,
        )

        for pdf in batches:
            kinds, means, mins, maxs = [], [], [], []
            for payload in pdf["content"]:
                raw = bytes(payload)
                kind = sniff_kind(raw)
                px = (
                    decode_png(raw) if kind == "png" else decode_jpeg(raw)
                ).ravel()
                kinds.append(kind)
                means.append(round(float(px.mean()), 6))
                mins.append(int(px.min()))
                maxs.append(int(px.max()))
            yield pd.DataFrame(
                {
                    "fname": pdf["fname"].values,
                    "n_bytes": pdf["n_bytes"].values,
                    "kind": kinds,
                    "mean_px": means,
                    "min_px": mins,
                    "max_px": maxs,
                }
            )

    return scan.mapInPandas(
        stats,
        schema=(
            "fname string, n_bytes bigint, kind string, "
            "mean_px double, min_px int, max_px int"
        ),
    )


_binmedia_glob = (
    _fx_dir("binmedia", _BINMEDIA_KEY).replace("'", "''") + "/img_*"
)
_register(
    "src_binaryfile_media",
    src_binaryfile_media,
    # read_blob sees the same files: the byte length is a REAL
    # cross-check of the binary scan; the decoded stats are closed-form
    # from the filename index (PNG is lossless; the 4:4:4 JPEGs —
    # sequential, progressive SOF2, and restart-interval variants —
    # are q=100 block-flat and the 4:2:0 JPEGs q=100 MCU-flat
    # grey-RGB, all preserved exactly by construction — equal-size
    # flat regions, so block-level averages equal pixel-level
    # averages).
    f"""
    WITH b AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
             octet_length(content) AS n_bytes,
             CASE WHEN filename LIKE '%.png' THEN 'png' ELSE 'jpeg' END
               AS kind,
             regexp_extract(filename, 'img_(\\d+)', 1)::INT AS m
      FROM read_blob('{_binmedia_glob}')
    ),
    px AS (
      SELECT fname, (m + i.i) % 256 AS v
      FROM b CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
      WHERE kind = 'png'
      UNION ALL
      SELECT fname,
             (m + (CASE WHEN fname LIKE '%prog.jpg' THEN 53
                        WHEN fname LIKE '%rst.jpg' THEN 29
                        ELSE 37 END) * blk.b) % 256 AS v
      FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS b) blk
      WHERE kind = 'jpeg' AND fname NOT LIKE '%420.jpg'
      UNION ALL
      SELECT fname, (m + 61 * blk.b) % 256 AS v
      FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS b) blk
      WHERE fname LIKE '%420.jpg'
    )
    SELECT b.fname, b.n_bytes, b.kind,
           round(avg(v), 6) AS mean_px,
           min(v)::INT AS min_px,
           max(v)::INT AS max_px
    FROM b JOIN px USING (fname)
    GROUP BY 1, 2, 3
    """,
)


# ---------------------------------------------------------------------------
# src_webdataset_roundtrip — WebDataset-style tar shards, the de-facto
# packaging for multimodal training corpora (one tar per shard, one
# member per sample, samples read sequentially at train time). Sink
# half: shard assignment is a pure hash of the key (doc_id % N — the
# ds_shard_manifest planning discipline), each shard's tar is written
# by the executor holding that group via applyInPandas, with
# DETERMINISTIC bytes (members in doc_id order, zeroed mtime/uid/gid)
# so task retries are idempotent overwrites of identical content.
# Source half: the shard directory is scanned back with binaryFile and
# each tar is parsed member-by-member in an Arrow-batched stage.
# The oracle computes the expected per-shard member stats straight
# from the documents table (utf-8 member payloads ↔ octet_length), so
# any loss or duplication anywhere in sink → bytes → scan → parse
# fails value parity. At 100 TB: shards are written by whichever
# executor owns the group (no driver fan-in), shard count scales with
# the corpus, and the read side distributes per tar file.
#
# SHARED-FS NOTE: this fixture lands shards in a driver-created LOCAL
# temp dir that executor tasks write into and binaryFile re-reads —
# valid only because driver and executors share a filesystem on
# local[k]. On a real cluster the landing path must be shared storage
# (s3a://.../shards, hdfs, nfs); swap `out_dir` for a scratch URI and
# the plan is unchanged.
# ---------------------------------------------------------------------------

_WDS_SHARDS = 4
_WDS_LIMIT = 100


def src_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from typing import Iterator

    import pandas as pd

    out_dir = tempfile.mkdtemp(prefix="wds_rt_")
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _WDS_LIMIT)
        .select(
            "doc_id",
            "text",
            (F.col("doc_id") % _WDS_SHARDS).cast("int").alias("shard"),
        )
    )

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import io
        import tarfile

        shard = int(pdf["shard"].iloc[0])
        pdf = pdf.sort_values("doc_id")
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tar:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = str(text).encode("utf-8")
                info = tarfile.TarInfo(name=f"{int(doc_id):06d}.txt")
                info.size = len(payload)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tar.addfile(info, io.BytesIO(payload))
        tmp = os.path.join(out_dir, f".shard_{shard:04d}.tar.tmp{os.getpid()}")
        with open(tmp, "wb") as f:
            f.write(buf.getvalue())
        os.replace(tmp, os.path.join(out_dir, f"shard_{shard:04d}.tar"))
        return pd.DataFrame({"shard": [shard], "n": [len(pdf)]})

    # sink action: one task per shard group writes its tar (bounded
    # fixture; a real pipeline keys groups so each tar is ~target MB)
    docs.groupBy("shard").applyInPandas(
        write_shard, schema="shard int, n long"
    ).write.mode("overwrite").format("noop").save()

    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard_*.tar")
        .load(out_dir)
        .select("path", "content")
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import re
        import tarfile

        for pdf in batches:
            out = {"shard": [], "doc_id": [], "member_bytes": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                shard = int(re.search(r"shard_(\d+)\.tar", path).group(1))
                with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tar:
                    for m in tar.getmembers():
                        out["shard"].append(shard)
                        out["doc_id"].append(int(m.name.split(".")[0]))
                        out["member_bytes"].append(int(m.size))
            yield pd.DataFrame(out)

    members = scan.mapInPandas(
        parse, schema="shard int, doc_id bigint, member_bytes bigint"
    )
    return members.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("member_bytes").alias("payload_bytes"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


_register(
    "src_webdataset_roundtrip",
    src_webdataset_roundtrip,
    # expected stats straight from the source table: member payloads
    # are the utf-8 text bytes, so octet_length is the member size.
    f"""
    SELECT (doc_id % {_WDS_SHARDS})::INT AS shard,
           count(*) AS n_docs,
           sum(octet_length(encode(text)))::BIGINT AS payload_bytes,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM documents
    WHERE doc_id < {_WDS_LIMIT}
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# src_compact_roundtrip — small-file compaction (sources/compaction.py),
# the maintenance operation behind Delta OPTIMIZE / Iceberg
# rewrite_data_files, exercised end-to-end under the oracle gate. An
# incremental pipeline (streaming micro-batches, per-page REST landing)
# accretes files far below the parquet row-group sweet spot; at 100 TB
# a million 1 MB files means a million scan tasks and footer-read-
# dominated I/O. The entry fragments a bounded document slice into 16
# deliberately-tiny files, runs the measured-bytes compaction plan
# (ceil(bytes / target) with a 128 MB target → exactly one output
# file for a KB-scale fixture), and re-reads the compacted layout.
# Parity is the whole contract: file counts are MEASURED from
# input_file_name() on both layouts (16 → 1 is a literal oracle
# expectation, honest because repartition(16) round-robins 400 rows
# into 16 non-empty partitions and the fixture is orders of magnitude
# under the target size), and the content checksums (rows, distinct
# sources, doc_id sum, utf-8 text bytes) prove the rewrite lost and
# duplicated nothing.
#
# SHARED-FS NOTE: the fragmented/compacted layouts live under a
# driver-created local temp dir — fine on local[k] where driver and
# executors share the filesystem; on a real cluster both paths would
# be shared storage (which is also where small-file accretion actually
# happens).
# ---------------------------------------------------------------------------

_COMPACT_LIMIT = 400
_COMPACT_FRAGMENTS = 16


def src_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.compaction import compact

    base = tempfile.mkdtemp(prefix="compact_rt_")
    frag_dir = os.path.join(base, "fragmented")
    out_dir = os.path.join(base, "compacted")

    # sink action: fragment the slice into 16 tiny files (the layout a
    # micro-batch landing zone produces)
    (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _COMPACT_LIMIT)
        .select("doc_id", "source", "text")
        .repartition(_COMPACT_FRAGMENTS)
        .write.mode("overwrite")
        .parquet(frag_dir)
    )
    # measured-bytes plan + narrow coalesce rewrite (no shuffle)
    compact(spark, frag_dir, out_dir)

    def layout_stats(path: str, label: str) -> DataFrame:
        return (
            spark.read.parquet(path)
            .select(
                F.lit(label).alias("layout"),
                F.input_file_name().alias("fname"),
                "doc_id",
                "source",
                "text",
            )
            .groupBy("layout")
            .agg(
                F.countDistinct("fname").alias("n_files"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("source").alias("n_sources"),
                F.sum("doc_id").alias("sum_doc_id"),
                F.sum(F.octet_length("text")).alias("text_bytes"),
            )
        )

    return layout_stats(frag_dir, "fragmented").unionByName(
        layout_stats(out_dir, "compacted")
    )


_register(
    "src_compact_roundtrip",
    src_compact_roundtrip,
    # Content checksums straight from the source table — identical for
    # both layouts because compaction must preserve contents exactly.
    # File counts are the layout contract: 16 fragments in (round-robin
    # repartition of 400 rows leaves no empty partition), 1 file out
    # (KB-scale corpus, 128 MB target → plan_file_count == 1).
    f"""
    WITH slice AS (
      SELECT doc_id, source, text FROM documents
      WHERE doc_id < {_COMPACT_LIMIT}
    ),
    sums AS (
      SELECT count(*) AS n_rows,
             count(DISTINCT source) AS n_sources,
             sum(doc_id)::BIGINT AS sum_doc_id,
             sum(octet_length(encode(text)))::BIGINT AS text_bytes
      FROM slice
    )
    SELECT l.layout, l.n_files, s.n_rows, s.n_sources,
           s.sum_doc_id, s.text_bytes
    FROM (VALUES ('fragmented', {_COMPACT_FRAGMENTS}::BIGINT),
                 ('compacted', 1::BIGINT)) AS l(layout, n_files)
    CROSS JOIN sums s
    """,
)
