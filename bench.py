"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Methodology (documented in BASELINE.md §bench):
- Queries are executed with the noop sink so every output column is
  fully evaluated (a bare .count() would let Catalyst prune the
  projections being measured).
- The session is warmed first (one trivial job + one trivial
  pandas_udf job, plus the r12 extended JIT warmup over SYNTHETIC
  generated data — see _warm_session_jit; the benched tables are
  never touched before timing) so no query pays SparkSession/
  Python-worker bring-up and early-position queries stop paying the
  JVM's JIT ramp (a per-position artifact, not a plan property).
- Each query runs five times on BOTH sides (engine and oracle — same
  treatment, override with $SPARK_GRAFT_BENCH_RUNS); the headline
  per-query number is the MIN (steady-state). The first-run (cold)
  times are reported alongside under "queries_cold". Rationale: cold
  times are dominated by one-time janino codegen compilation (~1-8 s
  per distinct plan shape), a fixed cost independent of data volume —
  steady-state is the number that scales with SF and is comparable to
  the in-process DuckDB oracle baseline. The min-of-N also bounds the
  host's transient CPU-steal episodes (observed inflating identical
  runs 2-5×; r4 measured the same pinned plans at 0.23 s and 1.45 s
  minutes apart) — with N=3 a steal window spanning all three runs
  still poisons the min, which is how r03 recorded a 9× phantom
  regression on dd_levenshtein_blocked; N=5 makes that window ~2×
  less likely per query at ~30 s extra wall-clock for the suite.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_mapwarper_spark.functions.dist_rank import (  # noqa: E402
    release_ranked_cache,
)
from etl_mapwarper_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402
from etl_mapwarper_spark.sources.tables import TABLE_NAMES  # noqa: E402

# Headline set: relational core (scan-agg, multi-join, window, as-of),
# dedup (exact, minhash-LSH, inverted-index jaccard, simhash),
# similarity (brute-force + LSH), text analysis, mapwarper transform.
BENCH_QUERIES = [
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q05_region_revenue",
    "q06_customer_order_stats",
    "q09_top3_orders_per_customer",
    "q14_distinct_parts_per_flag",
    "q19_events_json",
    "q21_user_sessions",
    "q22_asof_last_order",
    "dd_exact_hash",
    "dd_ngram_jaccard",
    "dd_minhash_lsh",
    "dd_simhash",
    "sim_bruteforce_topk",
    "sim_srp_lsh_topk",
    "tx_quality_scores",
    "mw_map_objects",
    "mw_map_logs",
    # extension set (round 1, second batch)
    "q33_above_brand_avg",
    "q35_price_percentiles",
    "q38_moving_avg_7d",
    "tx_tfidf_top_terms",
    "tx_c4_filter",
    # extension set (round 1, third batch)
    "q48_snapshot_merge",
    "q51_multi_distinct",
    "q53_click_purchase_funnel",
    "tx_chunk_windows",
    "dd_levenshtein_blocked",
    "ds_train_test_split",
    # extension set (round 2): composed curation + repetition rules
    "ds_corpus_curation",
    "tx_repetition_filter",
    # extension set (round 3): new north-star families — packing,
    # chunk/CDC dedup, sketch heavy hitters, epoch shuffle
    "ds_pack_sequences",
    "ds_epoch_shuffle",
    "dd_chunk_dedup",
    "dd_cdc_chunks",
    "tx_heavy_hitters_cms",
    "tx_bigram_logprob",
    "ds_rag_index_stats",
    # extension set (round 3, late): classifier inference, PII scrub,
    # BPE training, fixed-point covariance
    "tx_hashed_linear_score",
    "tx_pii_redact",
    "tx_bpe_train_merges",
    "sim_embedding_covariance",
    "ds_llm_pipeline",
]

# Round-4 additions, tracked separately so the frozen 43-query core
# ratio stays comparable round-over-round (see core_vs_oracle below).
_ROUND4_ADDITIONS = [
    "dd_bloom_incremental",
    "q89_approx_quantiles",
    "ds_global_row_ids",
    "ds_shard_manifest",
]
BENCH_QUERIES += _ROUND4_ADDITIONS

# Tier 2 (r6 verdict item 6): the heavy NON-headline entries, timed
# once per round so a regression in the other ~210 registry entries is
# visible before a driver correctness window trips over it. Separate
# list on purpose: several are iterative (CC fixpoints, index builds)
# and legitimately run bounded jobs at construction, so (a) they are
# exempt from the construct-without-jobs bench rule and (b) tier2
# times CONSTRUCTION+ACTION together (the rehearsal's clock — an
# action-only clock would miss the iterative work). Their numbers are
# reported under "tier2" and never enter the headline ratios.
TIER2_QUERIES = [
    "tx_kneser_ney_logprob",  # 10 bounded exchanges (LM backoff chain)
    "dd_lsh_tuning_report",  # multi-band recall sweep
    "dd_incremental_dedup",  # 6 exchanges, anti+semi admission
    "ds_decontaminate",  # n-gram overlap vs eval set
    "sim_ivfpq_topk",  # ADC search (index build untimed at construction)
    "dd_containment",  # asymmetric overlap join
    "dd_embedding_neardup",  # cosine near-dup over SRP buckets
    "ds_dsir_importance",  # hashed-ngram importance weights
    "dd_bloom_incremental_fp",  # production Bloom route (r7)
    "sim_ivfpq_search_fp",  # search-only IVF-PQ vs trained fixture (r8)
    "dd_incremental_dedup_fp",  # landed side reads materialized fps (r8)
    "dd_containment_capped",  # df-capped containment vs exact twin (r8)
    "tx_kneser_ney_fp",  # KN scoring vs materialized model table (r9)
]
# Labeled exact/training TWINS inside tier2 (r10 verdict item: the
# aggregate tier2 ratio swung 2.2→2.8 on twin variance + an oracle-
# denominator artifact while every production-path member improved —
# so the summary reports production-path and twin ratios separately).
# Membership = docstring-labeled ground-truth/from-raw-training
# entries whose run-to-run wander is documented at ±0.5 s.
TIER2_TWINS = {
    "dd_containment",  # exact twin of dd_containment_capped
    "dd_embedding_neardup",  # exact-verify twin (SRP bucket family)
    "sim_ivfpq_topk",  # trains the IVF-PQ index IN the bench run
    "tx_kneser_ney_logprob",  # from-raw KN chain; _fp twin is prod
}
# dd_connected_components was measured for tier2 and EXCLUDED: the
# entry itself is fine (Spark's iterative min-label, 44.7 s at sf0.1)
# but its DuckDB recursive-CTE oracle takes 175 s — one entry would
# triple the whole bench's wall-clock (engine BEATS the oracle 3.9x
# there; recorded in BASELINE.md round-7). Scaling coverage for the
# CC family lives in the skew rehearsal (dd_cc_banded, 3-point).


# Idle reference for the CPU probe below: the fixed 2M-iteration spin
# reads ~0.1 s on this host with nothing else running (measured r5,
# re-confirmed each round's solo benches at 0.10-0.17).
_PROBE_IDLE_SEC = 0.1


def _load_state() -> dict:
    """Host-load snapshot recorded alongside the numbers (r5 verdict
    item 7): the r4→r5 history showed 0.2-0.4 of the vs_oracle ratio
    is host noise, so every BENCH entry carries the 1-minute load
    average at start and a single-thread CPU probe (a fixed pure-
    Python spin whose wall-time scales with steal/contention —
    ~0.1 s on an idle host here; 2× that means the host was busy)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    probe = round(time.perf_counter() - t0, 3)
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    return {
        "loadavg_1m": load1,
        "cpu_probe_sec": probe,
        "ncpus": os.cpu_count(),
    }


def _warm_session_jit(spark) -> None:
    """Extended JIT warmup on SYNTHETIC generated data — never the
    benched tables, so nothing here can precompute or cache any
    benched result (r12, guide §1). Rationale: the first ~10 jobs of
    a fresh JVM run with Catalyst, janino, the parquet reader and the
    shuffle machinery still interpreting (HotSpot tiers them up only
    after thousands of calls), so whichever queries happen to sit
    early in BENCH_QUERIES pay a position penalty that has nothing to
    do with their plans: measured r12, q01 reads 0.80 s steady as
    bench-entry #1 but 0.15-0.37 s later in the same session, and an
    interleaved A/B of this warmup pulled q01 to 0.19-0.20 s while
    queries late in the list were unchanged. The mix below exercises
    the hot code paths shared by the headline set: parquet scan →
    filter → hash aggregate, broadcast join → window → sort, and
    explode → shuffle aggregate → join."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    tmp = tempfile.mkdtemp(prefix="bench_warm_")
    spark.sparkContext.setJobDescription("bench warmup: synthetic JIT mix")
    try:
        base = spark.range(0, 200_000).select(
            F.col("id"),
            (F.col("id") % 997).alias("k"),
            (F.col("id") % 31).alias("g"),
            F.concat_ws(
                " ",
                F.lit("a"),
                (F.col("id") % 100).cast("string"),
                F.lit("c"),
            ).alias("txt"),
            (F.rand(7) * 100).alias("x"),
        )
        base.write.mode("overwrite").parquet(tmp + "/t.parquet")
        pq = spark.read.parquet(tmp + "/t.parquet")
        dim = spark.range(0, 997).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("kv")
        )
        w = Window.partitionBy("g").orderBy("x")
        for _ in range(12):
            pq.filter(F.col("x") > 1.0).groupBy("g").agg(
                F.sum("x"), F.count(F.lit(1)), F.min("k"), F.max("id")
            ).write.mode("overwrite").format("noop").save()
            pq.join(F.broadcast(dim), "k").withColumn(
                "r", F.row_number().over(w)
            ).filter(F.col("r") <= 3).orderBy("g", "r").write.mode(
                "overwrite"
            ).format("noop").save()
            e = pq.select(
                "g", F.explode(F.split("txt", " ")).alias("term")
            )
            ag = e.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
            ag.join(ag.selectExpr("term", "n AS n2"), "term").groupBy().agg(
                F.sum("n")
            ).write.mode("overwrite").format("noop").save()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _oracle_min(con, sql: str, n_runs: int) -> tuple[float | None, str | None]:
    """Min-of-``n_runs`` DuckDB wall-clock of ``sql`` as ``(min_s, None)``,
    or ``(None, "ExcType: first line")`` when a run raises."""
    try:
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            runs.append(time.perf_counter() - t0)
    except Exception as e:
        first = str(e).strip().splitlines()
        return None, f"{type(e).__name__}: {first[0] if first else ''}"
    return round(min(runs), 3), None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_state_start = _load_state()
    spark = get_spark("bench", sf_dir=sf_dir)

    # Warm the session: first job pays scheduler/codegen bring-up, the
    # pandas_udf job forks the Python worker daemon. Neither touches
    # the benched queries.
    spark.sparkContext.setJobDescription("bench warmup: session bring-up")
    spark.range(1000).selectExpr("sum(id) AS s").write.mode(
        "overwrite"
    ).format("noop").save()
    from pyspark.sql.functions import pandas_udf

    ident = pandas_udf(lambda s: s, "long")
    spark.range(100).select(ident("id").alias("x")).write.mode(
        "overwrite"
    ).format("noop").save()
    # Extended JIT warmup (synthetic data only; see docstring). Opt
    # out with SPARK_GRAFT_BENCH_WARM=min to reproduce pre-r12
    # methodology.
    if os.environ.get("SPARK_GRAFT_BENCH_WARM", "") != "min":
        _warm_session_jit(spark)

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    # DuckDB oracle timed INTERLEAVED with the engine, per query, in
    # the SAME process: host noise (CPU-steal episodes lasting
    # minutes) then hits both sides of each query's measurement alike,
    # so per-query and total ratios stay fair — two sequential phases
    # would let an episode skew one side only.
    con = None
    osql = {}
    try:
        import duckdb

        con = duckdb.connect()
        n_threads = (
            int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
            or os.cpu_count()
            or 4
        )
        con.execute(f"SET threads TO {n_threads}")
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        osql = entrymod.oracle_sql()
    except Exception:
        con = None  # oracle timing is advisory; engine numbers still print

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    cold: dict[str, float] = {}
    steady: dict[str, float] = {}
    oracle: dict[str, float] = {}
    oracle_errors: dict[str, str] = {}

    def oracle_time(name: str, runs: int, out: dict[str, float]) -> None:
        t, err = _oracle_min(con, osql[name], runs)
        if err is None:
            out[name] = t
        else:
            oracle_errors[name] = err

    for name in BENCH_QUERIES:
        fn = queries[name]
        runs = []
        # Label the jobs (guide §1.5) so the UI / event log attributes
        # every stage to its query. setJobDescription is a driver-side
        # local-property write, called BEFORE the timer starts.
        spark.sparkContext.setJobDescription(f"bench: {name}")
        for _ in range(n_runs):
            # Timed from the noop write: plan construction (py4j
            # expression building, ~0.1 s/query) is excluded so the
            # number measures execution, comparable across rounds.
            # This is only honest because benched operators run NO
            # Spark jobs during construction — pinned by
            # tests/test_plans.py::test_bench_queries_construct_without_jobs
            # (ds_global_row_ids was rebuilt on repartitionByRange for
            # exactly this reason: its approxQuantile cut scan was an
            # untimed corpus job).
            df = fn(spark, sf_dir)
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        cold[name] = round(runs[0], 3)
        steady[name] = round(min(runs), 3)
        # Drop the ranged relations ranked_in_groups persisted for
        # this entry's runs — without this the bench session
        # accumulates one persisted relation per banded entry and
        # leans on LRU eviction (r9 advice item). Released BETWEEN
        # entries, not between runs, so steady-state timing semantics
        # are unchanged.
        release_ranked_cache()
        if con is not None and name in osql:
            oracle_time(name, n_runs, oracle)
    # Same denominator discipline as core43 below: a query whose
    # oracle run failed is dropped from BOTH sides of the headline
    # ratio and reported, never left inflating the numerator.
    ok_queries = [q for q in BENCH_QUERIES if q in oracle]
    missing_oracles = [q for q in BENCH_QUERIES if q not in oracle]
    total = round(sum(steady.values()), 3)
    total_ok = round(sum(steady[q] for q in ok_queries), 3)
    oracle_total = round(sum(oracle.values()), 3)
    # Continuity ratio over the frozen round-3 43-query core: every
    # query added later has a near-zero DuckDB time but a fixed
    # ~0.1-0.3 s Spark scheduling floor, so the all-queries ratio
    # drifts UP as the set grows even when no plan regressed. The
    # core ratio is the round-over-round comparable number.
    # Only queries whose oracle run succeeded enter EITHER side of the
    # core ratio — a transient DuckDB failure must drop the query from
    # numerator and denominator together, not silently inflate the
    # ratio; any such drop is reported.
    core = [q for q in BENCH_QUERIES if q not in _ROUND4_ADDITIONS]
    core_ok = [q for q in core if q in oracle]
    core_total = round(sum(steady[q] for q in core_ok), 3)
    core_oracle = round(sum(oracle[q] for q in core_ok), 3)
    core_missing = [q for q in core if q not in oracle]

    # Tier 2: min-of-3, construction+action timed together (see the
    # TIER2_QUERIES note), oracle interleaved per query as above.
    t2_runs = min(3, n_runs)
    t2_steady: dict[str, float] = {}
    t2_oracle: dict[str, float] = {}
    for name in TIER2_QUERIES:
        fn = queries[name]
        runs = []
        spark.sparkContext.setJobDescription(f"tier2: {name}")
        for _ in range(t2_runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        t2_steady[name] = round(min(runs), 3)
        release_ranked_cache()
        if con is not None and name in osql:
            oracle_time(name, t2_runs, t2_oracle)
    spark.sparkContext.setJobDescription(None)
    t2_ok = [q for q in TIER2_QUERIES if q in t2_oracle]
    t2_total_ok = round(sum(t2_steady[q] for q in t2_ok), 3)
    t2_oracle_total = round(sum(t2_oracle.values()), 3)
    t2_prod = [q for q in t2_ok if q not in TIER2_TWINS]
    t2_twin = [q for q in t2_ok if q in TIER2_TWINS]

    def _ratio(names):
        eng = sum(t2_steady[q] for q in names)
        orc = sum(t2_oracle[q] for q in names)
        return round(eng / orc, 3) if orc else None
    load_state_end = _load_state()
    line = json.dumps(
            {
                "metric": "headline_queries_wallclock",
                "value": total,
                "unit": "sec",
                "queries": steady,
                "queries_cold": cold,
                "total_cold": round(sum(cold.values()), 3),
                "oracle_queries": oracle,
                # Why each missing oracle time is missing; before the
                # ratios, which must stay in the stdout tail.
                "oracle_errors": oracle_errors,
                "oracle_total": oracle_total,
                "vs_oracle": round(total_ok / oracle_total, 3)
                if oracle_total
                else None,
                "missing_oracles": missing_oracles,
                "core43_value": core_total,
                "core43_oracle": core_oracle,
                "core43_vs_oracle": round(core_total / core_oracle, 3)
                if core_oracle
                else None,
                "core43_missing_oracles": core_missing,
                "tier2": {
                    "queries": t2_steady,
                    "oracle_queries": t2_oracle,
                    "vs_oracle": round(t2_total_ok / t2_oracle_total, 3)
                    if t2_oracle_total
                    else None,
                    # split ratios (r10 verdict): production-path is
                    # the round-over-round comparison signal; the twin
                    # ratio carries the documented ±0.5 s wander of
                    # the labeled exact/training twins.
                    "vs_oracle_production": _ratio(t2_prod),
                    "vs_oracle_twins": _ratio(t2_twin),
                    "twin_members": sorted(TIER2_TWINS),
                    "missing_oracles": [
                        q for q in TIER2_QUERIES if q not in t2_oracle
                    ],
                    "note": "construction+action timed together, min of "
                    f"{t2_runs}; iterative entries run bounded jobs at "
                    "construction by design",
                },
                "methodology": f"noop sink; warmed session (incl. r12 extended JIT warmup on synthetic data, never the benched tables); construction-action-free queries (pinned by test) timed over execution only; min of {n_runs} runs both sides (cold run reported separately); DuckDB oracle timed back-to-back same process",
                "load_state": {
                    "start": load_state_start,
                    "end": load_state_end,
                    "note": "cpu_probe_sec ~0.1 idle; inflation means concurrent load was present during this bench",
                },
                # Machine-readable upper-bound marker (r8 verdict item
                # 7; thresholds revised r10): true when either CPU
                # probe exceeded 2x the 0.1s idle reference (the 1.5x
                # threshold sat INSIDE the observed idle band of
                # 0.10-0.17 s, so a genuinely idle host could flag) OR
                # the 1-minute load average at start exceeded 2 (the
                # r9 driver bench ran at loadavg 8.67 yet reported
                # degraded=false because only the probe was checked).
                # Numbers from a degraded run are an UPPER BOUND on
                # the engine's solo time, not a regression signal.
                "degraded": bool(
                    max(
                        load_state_start["cpu_probe_sec"],
                        load_state_end["cpu_probe_sec"],
                    )
                    > 2.0 * _PROBE_IDLE_SEC
                    # loadavg is a START-side signal only. The r10
                    # advice suggested checking it at both ends for
                    # symmetry with the probe; measured r11: the bench
                    # itself saturates all cores for minutes, so
                    # loadavg_1m at the END reads the bench's own
                    # self-load (10.7 on a host whose end probe was an
                    # idle 0.146 s) — every honest solo run would
                    # flag. Mid-bench contention onset is covered by
                    # the END probe (single-thread slowdown), which
                    # self-load no longer inflates by probe time.
                    or (load_state_start["loadavg_1m"] or 0) > 2.0
                ),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    print(line)
    # r12 verdict item 2 (harness contract hardening, guide §1): the
    # one-line stdout JSON is the driver contract, but a truncated
    # stdout tail nulled the r12 round-over-round comparison, so the
    # SAME line is also atomic-written (temp + rename) next to this
    # file as BENCH_LAST.json — byte-identical to the printed line.
    try:
        dest = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"
        )
        tmp = f"{dest}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(line + "\n")
        os.replace(tmp, dest)
    except OSError:
        pass  # a read-only checkout must not fail the bench


if __name__ == "__main__":
    main()
