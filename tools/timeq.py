"""Targeted query timing: engine vs DuckDB oracle, min-of-N, one session.

Usage: python tools/timeq.py q03_top_revenue_orders dd_ngram_jaccard ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), TIMEQ_RUNS (default 5).
"""

import json
import os
import sys
import time


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs_n = int(os.environ.get("TIMEQ_RUNS", "5"))
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from etl_mapwarper_spark.session import get_spark

    spark = get_spark(sf_dir=sf_dir)
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format(
        "noop"
    ).save()

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    osql = entrymod.oracle_sql()

    import duckdb

    from etl_mapwarper_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    n_threads = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    con.execute(f"SET threads TO {n_threads}")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    out = {}
    for name in names:
        fn = queries[name]
        eng = []
        for _ in range(runs_n):
            df = fn(spark, sf_dir)
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            eng.append(time.perf_counter() - t0)
        ora = []
        if name in osql:
            for _ in range(runs_n):
                t0 = time.perf_counter()
                con.execute(osql[name]).fetchall()
                ora.append(time.perf_counter() - t0)
        out[name] = {
            "eng_min": round(min(eng), 3),
            "eng_all": [round(x, 3) for x in eng],
            "ora_min": round(min(ora), 3) if ora else None,
        }
        print(json.dumps({name: out[name]}), flush=True)


if __name__ == "__main__":
    main()
