"""Physical-plan audits: the properties that matter at 100 TB.

These tests pin the *plan shape*, not the results (oracle parity covers
those): filters must reach the parquet scan, scans must prune columns,
dimension joins must broadcast, the dedup pipeline must stay join-free,
and no operator may fall back to row-at-a-time Python
(``BatchEvalPython``) — Python is allowed only in Arrow-batched form
(``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas`` /
``AggregateInPandas``) and for the UDTF surface.
"""

from __future__ import annotations

import functools
import json
import os
import re
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
import plan_audit  # noqa: E402
from etl_mapwarper_spark.plans.audit import (  # noqa: E402
    auditable,
    formatted_plan,
)
from tests.conftest import SF_DIR  # noqa: E402

ALL_QUERIES = entrymod.queries()
AUDITED = auditable(ALL_QUERIES)
CONTRACT = plan_audit.load_contract()


@functools.cache
def _contract_build() -> subprocess.CompletedProcess:
    """plans/contract.json rebuilt by ``plan_audit.build_contract`` in a
    new process, once per test session: this session has already run
    other entries, and their persisted frames can show up in a later
    entry's plan."""
    return subprocess.run(
        [
            sys.executable,
            "-c",
            "import json, plan_audit; "
            "print(json.dumps(plan_audit.build_contract()))",
        ],
        cwd=plan_audit.ROOT,
        capture_output=True,
        text=True,
    )


def _rebuilt_row(name: str) -> dict:
    proc = _contract_build()
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.splitlines()[-1])[name]


@pytest.mark.parametrize("name", AUDITED)
def test_no_row_at_a_time_python(name):
    assert not _rebuilt_row(name)["has_row_python"], (
        f"{name}: row-at-a-time Python UDF in plan — use a pandas_udf"
    )


@pytest.mark.parametrize("name", AUDITED)
def test_plan_contract(name):
    """The rebuilt plan must match ``name``'s row in plans/contract.json:
    the audit facts and the digest of the plan tree. A change that
    moves a row reruns ``python plan_audit.py`` and says in CHANGES.md
    which entries moved and why."""
    assert _rebuilt_row(name) == CONTRACT.get(name), (
        f"{name}: plan differs from plans/contract.json"
    )


def test_contract_covers_auditable_entries_and_renders_doc():
    """Every auditable entry has a contract row, and PLAN_AUDIT.md is
    the rendering of plans/contract.json — no Spark session needed."""
    assert sorted(CONTRACT) == AUDITED
    with open(plan_audit.DOC_PATH) as f:
        assert f.read() == plan_audit.render(CONTRACT)


def test_q01_filter_pushdown_and_column_pruning(spark):
    plan = formatted_plan(ALL_QUERIES["q01_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or re.search(
        r"PushedFilters: \[.*l_shipdate", plan
    ), "shipdate filter must reach the parquet scan"
    # q01 needs 7 of lineitem's 11 columns; the scan must not read keys.
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "l_orderkey" not in read_schema, "column pruning failed"
    assert "l_partkey" not in read_schema, "column pruning failed"


def test_q03_dim_filter_pushdown(spark):
    plan = formatted_plan(ALL_QUERIES["q03_top_revenue_orders"](spark, SF_DIR))
    assert re.search(r"EqualTo\(c_mktsegment,BUILDING\)", plan), (
        "dimension filter must be pushed into the customer scan"
    )


def test_q05_broadcasts_all_dims(spark):
    plan = formatted_plan(ALL_QUERIES["q05_region_revenue"](spark, SF_DIR))
    n_broadcast = len(re.findall(r"BroadcastHashJoin", plan))
    assert n_broadcast >= 4, (
        f"q05 must broadcast customer/supplier/nation/region, saw "
        f"{n_broadcast} broadcast joins"
    )
    # the single fact-fact join (lineitem ⋈ orders) is the only
    # shuffle join in the plan
    n_shuffle_join = len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan))
    assert n_shuffle_join <= 1


def test_dd_ngram_jaccard_prefix_filtered_join(spark):
    plan = formatted_plan(ALL_QUERIES["dd_ngram_jaccard"](spark, SF_DIR))
    # shuffle keys must be 8-byte xxhash64 values, never raw shingles
    assert "xxhash64" in plan.lower(), "shingles must be hashed pre-shuffle"
    # PPJoin shape: the candidate self-join runs over SLICED prefixes
    # (n − ⌈t·n⌉ + 1 hashes per doc, not the full shingle set) and the
    # verify step intersects the full sorted arrays JVM-side — exactly
    # three joins: prefix×prefix, then two doc_id-keyed array lookups.
    assert "slice(" in plan.lower(), "candidate join must explode prefixes only"
    assert "array_intersect" in plan.lower(), "verify must be JVM array_intersect"
    n_join = len(
        re.findall(
            r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            plan,
        )
    )
    assert n_join == 3, f"prefix join + 2 verify joins expected, saw {n_join}"
    assert not re.search(r"\bBatchEvalPython\b", plan)


def test_dd_simhash_single_shuffle(spark):
    plan = formatted_plan(ALL_QUERIES["dd_simhash"](spark, SF_DIR))
    # one Exchange for the small-input repartition + one for the groupBy
    # (formatted explain repeats node names in the detail section, so
    # count the numbered detail entries, each unique per node)
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange <= 2, f"simhash grew extra shuffles: {n_exchange}"
    assert "join" not in plan.lower()


def test_tx_bigram_logprob_single_corpus_shuffle(spark):
    """r4 pin: under the size gate the resolved (bh, lp) table is
    broadcast, so the only corpus-sized exchange left is the per-doc
    aggregate — the score join must NOT shuffle the instance stream.
    (Past the gate the hint drops and AQE owns the join — 100 TB
    shape; this pin runs at gated SF.)"""
    plan = formatted_plan(ALL_QUERIES["tx_bigram_logprob"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", body), (
        "score join must broadcast the vocab²-bounded side at gated SF"
    )
    assert "BatchEvalPython" not in plan
    # r5 pin: exactly TWO corpus passes — the tagged model explode
    # (whose type exchange is physically reused by the c1 and c12
    # slices, kind being an aggregate so the slice filters cannot push
    # below it and re-specialize the subtree) and the score explode.
    # Exchange reuse is an AQE RUNTIME decision, so pin the EXECUTED
    # plan — the static explain still shows one subtree per consumer.
    df = ALL_QUERIES["tx_bigram_logprob"](spark, SF_DIR)
    df.write.mode("overwrite").format("noop").save()
    executed = df._jdf.queryExecution().executedPlan().toString()
    n_gen = executed.count("Generate ")
    assert n_gen <= 2, f"bigram stream grew extra explodes: {n_gen}"
    assert "ReusedExchange" in executed, (
        "c1/c12 slices must physically share the type aggregate"
    )


def test_dd_levenshtein_blocked_plan_shape(spark):
    """Pin the r04-audited winning plan: the block join stays a single
    equi-join (broadcast at small SF from real stats — no forced hint,
    so at 100 TB AQE is free to pick a shuffle join on `blk`), the
    levenshtein comparator runs inside the join/filter (no extra
    stage), and the only hash-exchange is the small-input round-robin
    repartition from load_table(parallelize=True)."""
    plan = formatted_plan(ALL_QUERIES["dd_levenshtein_blocked"](spark, SF_DIR))
    n_joins = len(
        re.findall(r"\(\d+\) (?:BroadcastHash|ShuffledHash|SortMerge)Join", plan)
    )
    assert n_joins == 1, f"block join must be one equi-join: {n_joins}"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange <= 2, f"levenshtein grew extra shuffles: {n_exchange}"
    assert "levenshtein" in plan, "comparator must stay JVM-side in the plan"


def test_q22_asof_uses_partial_agg_not_window(spark):
    plan = formatted_plan(ALL_QUERIES["q22_asof_last_order"](spark, SF_DIR))
    assert "Window" not in plan, "as-of should aggregate, not sort a window"
    # bigint-packed argmax keeps the buffer primitive → HashAggregate
    # partial+final (max(struct) would fall back to SortAggregate)
    assert len(re.findall(r"HashAggregate", plan)) >= 2
    assert "SortAggregate" not in plan


def test_pandas_ops_are_arrow_batched(spark):
    plan = formatted_plan(ALL_QUERIES["pd_zscore"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan
    plan = formatted_plan(ALL_QUERIES["pd_weighted_avg"](spark, SF_DIR))
    # node name is ArrowAggregatePython on Spark 4.1+, AggregateInPandas
    # on earlier releases
    assert "AggregateInPandas" in plan or "ArrowAggregatePython" in plan


def test_bucketed_join_has_no_exchange(spark):
    """Bucketing both facts by orderkey makes the join shuffle-free:
    the per-query Exchange of both tables is traded for a one-time
    bucketed write (the 100 TB co-location strategy)."""
    from pyspark.sql import functions as F

    from etl_mapwarper_spark.sources.bucketing import (
        read_bucketed,
        write_bucketed,
    )
    from etl_mapwarper_spark.sources.tables import load_table

    write_bucketed(
        load_table(spark, SF_DIR, "orders"), "b_orders", "o_orderkey", 8
    )
    write_bucketed(
        load_table(spark, SF_DIR, "lineitem"), "b_lineitem", "l_orderkey", 8
    )
    # merge hint: at test SF the tables are broadcast-small, but the
    # property under test is the bucketed SortMergeJoin path (what a
    # fact⋈fact join planning would pick at real scale).
    j = read_bucketed(spark, "b_orders").hint("merge").join(
        read_bucketed(spark, "b_lineitem"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    plan = formatted_plan(j)
    assert re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange == 0, f"bucketed join must not shuffle: {plan}"


def test_partitioned_sink_prunes_partitions(spark):
    """A filter on the partition column must become a PartitionFilter
    (directory pruning), not a data filter — scan cost then scales
    with data selected, not data stored."""
    from pyspark.sql import functions as F

    from etl_mapwarper_spark.sources.partitioned import (
        read_partitioned,
        write_partitioned,
    )
    from etl_mapwarper_spark.sources.tables import load_table

    path = "/tmp/spark_graft_part_events"
    write_partitioned(
        load_table(spark, SF_DIR, "events"), path, ["event_type"]
    )
    df = read_partitioned(spark, path).filter(
        F.col("event_type") == "click"
    )
    plan = formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan
    # the predicate must NOT remain as a post-scan data filter
    assert not re.search(r"\(\d+\) Filter\b", plan), plan
    n_click = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "click")
        .count()
    )
    assert df.count() == n_click


def test_plan_audit_utility(spark):
    """plans.audit extracts the structured facts the other tests grep
    for — spot-check it against known plan shapes."""
    from etl_mapwarper_spark.plans import audit

    a5 = audit(ALL_QUERIES["q05_region_revenue"](spark, SF_DIR))
    assert a5.n_broadcast_joins >= 4
    assert a5.n_shuffle_joins <= 1
    assert not a5.has_row_python

    aj = audit(ALL_QUERIES["dd_ngram_jaccard"](spark, SF_DIR))
    # PPJoin shape: prefix candidate self-join + 2 doc_id verify joins
    assert aj.n_shuffle_joins + aj.n_broadcast_joins == 3
    assert aj.n_exchanges <= 8

    az = audit(ALL_QUERIES["pd_zscore"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in az.arrow_python_nodes

    a1 = audit(ALL_QUERIES["q01_pricing_summary"](spark, SF_DIR))
    assert any("l_shipdate" in f for f in a1.pushed_filters)
    assert all("l_orderkey" not in s for s in a1.read_schemas)


def test_q45_histogram_single_shuffle_and_pruned_scan(spark):
    plan = formatted_plan(ALL_QUERIES["q45_price_histogram"](spark, SF_DIR))
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert read_schema == "l_extendedprice:double", (
        f"histogram must scan only the bucketed column, read {read_schema}"
    )
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange <= 1, (
        f"bucket-assign must be narrow; one agg shuffle only, saw {n_exchange}"
    )


def test_q46_grid_join_never_shuffles(spark):
    plan = formatted_plan(
        ALL_QUERIES["q46_region_priority_matrix"](spark, SF_DIR)
    )
    assert "BroadcastNestedLoopJoin" in plan, (
        "dimension cross product must be a broadcast nested loop"
    )
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan), (
        "all q46 joins are dimension-sized and must broadcast"
    )


def test_q51_multi_distinct_uses_expand(spark):
    plan = formatted_plan(ALL_QUERIES["q51_multi_distinct"](spark, SF_DIR))
    assert "Expand" in plan, (
        "multiple count(distinct) must plan via Expand (single scan), "
        "not separate scans"
    )


def test_ds_hash_sample_is_single_shuffle(spark):
    plan = formatted_plan(ALL_QUERIES["ds_hash_sample"](spark, SF_DIR))
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange <= 1, (
        "hash-bucket sampling is a narrow predicate + one agg shuffle, "
        f"saw {n_exchange} exchanges"
    )
    assert "join" not in plan.lower()


def test_q48_merge_is_one_join_pass(spark):
    plan = formatted_plan(ALL_QUERIES["q48_snapshot_merge"](spark, SF_DIR))
    assert re.search(r"SortMergeJoin.*FullOuter|FullOuter.*SortMergeJoin",
                     plan, re.S), "snapshot merge must be a full-outer join"
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange <= 3, (
        f"merge needs at most 2 join exchanges + 1 agg exchange, saw {n_exchange}"
    )


def test_q62_never_self_joins_lineitem(spark):
    # Q21's textbook form needs two lineitem self-joins; the
    # decorrelated plan must scan lineitem exactly once (orders once,
    # supplier once) and express both EXISTS conditions as one
    # per-order aggregate.
    plan = formatted_plan(ALL_QUERIES["q62_waiting_suppliers"](spark, SF_DIR))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet\b", plan))
    assert n_scans == 3, (
        f"q62 must scan lineitem/orders/supplier once each, saw {n_scans}"
    )


def test_q63_correlated_min_is_one_exchange(spark):
    # the correlated min becomes a window over l_partkey: one exchange
    # for the fact; part and supplier broadcast.
    plan = formatted_plan(ALL_QUERIES["q63_min_cost_supplier"](spark, SF_DIR))
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange <= 2, (
        f"q63 is one fact exchange (+ distinct reuse), saw {n_exchange}"
    )
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan), (
        "q63 dimension joins must broadcast"
    )


def test_q65_having_in_aggregates_once(spark):
    # the IN-subquery is the per-order aggregate itself — lineitem
    # scanned once, no lineitem-vs-lineitem semi join.
    plan = formatted_plan(ALL_QUERIES["q65_big_orders"](spark, SF_DIR))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet\b", plan))
    assert n_scans == 3, (
        f"q65 must scan lineitem/orders/customer once each, saw {n_scans}"
    )


def test_q67_scd2_single_exchange(spark):
    # change-flag window, running version window, per-version agg and
    # valid_to lead all reuse the o_custkey hash partitioning.
    plan = formatted_plan(ALL_QUERIES["q67_scd2_intervals"](spark, SF_DIR))
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange == 1, (
        f"SCD2 build is a single shuffle on the entity key, saw {n_exchange}"
    )
    assert "join" not in plan.lower()


def test_q68_cdc_diff_is_one_full_outer_join(spark):
    plan = formatted_plan(ALL_QUERIES["q68_cdc_diff"](spark, SF_DIR))
    assert re.search(r"FullOuter", plan), "CDC diff must be full-outer"
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange <= 2, (
        f"diff needs one exchange per snapshot side, saw {n_exchange}"
    )


def test_sim_ivf_trained_index_plan(spark):
    """IVF search plan must stay lean: the centroid training runs as a
    separate job at build time, so the search plan itself carries at
    most 4 shuffles and no shuffle joins (probe side broadcasts)."""
    from etl_mapwarper_spark.plans import audit

    a = audit(ALL_QUERIES["sim_ivf_topk"](spark, SF_DIR))
    assert a.n_exchanges <= 4, f"IVF search plan grew: {a.n_exchanges}"
    assert a.n_shuffle_joins == 0


def test_corpus_curation_exchange_budget(spark):
    """Quality→dedup→split→mixture as one plan: the only shuffles are
    the small-input repartition, the fingerprint window, and the final
    accounting aggregate."""
    from etl_mapwarper_spark.plans import audit

    a = audit(ALL_QUERIES["ds_corpus_curation"](spark, SF_DIR))
    assert a.n_exchanges <= 4, f"curation plan grew: {a.n_exchanges}"
    assert not a.has_row_python


def test_repetition_filter_is_shuffle_free(spark):
    """Gopher repetition metrics are narrow per-row expressions — the
    RLE-over-sorted-ngrams trick must keep the plan free of shuffles
    beyond the small-input repartition, with zero joins."""
    from etl_mapwarper_spark.plans import audit

    a = audit(ALL_QUERIES["tx_repetition_filter"](spark, SF_DIR))
    assert a.n_exchanges <= 1
    assert a.is_join_free


def test_bm25_no_corpus_broadcast_and_takeordered_topk(spark):
    """tx_bm25_topk's 100 TB shape: dl rides through the tf aggregate
    (never an O(corpus) lens broadcast — only df_ with |query| rows and
    the 1-row consts may broadcast), and the top-k is TakeOrdered, not
    a global single-reducer sort window over all scored docs."""
    from etl_mapwarper_spark.plans import audit

    df = ALL_QUERIES["tx_bm25_topk"](spark, SF_DIR)
    a = audit(df)
    assert a.n_broadcast_joins <= 2, "only df_ and consts may broadcast"
    assert a.n_shuffle_joins == 0
    plan = formatted_plan(ALL_QUERIES["tx_bm25_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, "top-k must be TakeOrdered"
    # the only Sort allowed is inside the k-row rank window, and the
    # global-sort count must be zero (TakeOrdered replaces it)
    assert a.n_sorts <= 1


def test_q39_ntile_has_no_global_window(spark):
    """Exact ntile must come from range-bucketed row_number + offsets —
    never an unpartitioned window funneling the table to one reducer."""
    plan = formatted_plan(ALL_QUERIES["q39_ntile_deciles"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan, (
        "q39 fell back to a single-reducer global window"
    )
    assert re.search(r"Window", plan), "bucketed row_number window missing"


def test_q32_salt_reaches_a_real_shuffle(spark):
    """The salting demo must exchange the fact side on (key, salt) via
    a shuffle join — a broadcast join has no shuffle to de-skew."""
    plan = formatted_plan(ALL_QUERIES["q32_salted_skew_join"](spark, SF_DIR))
    assert re.search(r"ShuffledHashJoin|SortMergeJoin", plan), (
        "q32 must be a shuffle join for the salt to matter"
    )
    m = re.search(r"hashpartitioning\(([^)]*salt[^)]*)\)", plan)
    assert m, f"join exchange must partition by the salt column: {plan[:800]}"


def test_dim_broadcast_demotes_oversized_side(spark, monkeypatch):
    """dim_broadcast must hint only while the backing table is under
    the broadcast budget; past it, the join strategy is AQE's call."""
    from etl_mapwarper_spark.sources import tables as tbl

    cust = tbl.load_table(spark, SF_DIR, "customer")
    hinted = tbl.dim_broadcast(cust, SF_DIR, "customer")
    assert hinted is not cust, "small dim must get the broadcast hint"

    monkeypatch.setattr(tbl, "_BROADCAST_MAX_BYTES", 0)
    demoted = tbl.dim_broadcast(cust, SF_DIR, "customer")
    assert demoted is cust, "oversized dim must fall back to AQE (no hint)"
    # non-catalog names never hint regardless of size
    assert tbl.dim_broadcast(cust, SF_DIR, "lineitem") is cust


def test_unigram_logprob_no_vocab_broadcast_hint(spark):
    """The (term -> tf) side is vocabulary-sized; it must NOT carry a
    forced broadcast hint (AQE/Catalyst may still choose broadcast at
    small SF from real stats). Only the 1-row total is hint-broadcast."""
    from etl_mapwarper_spark.plans import audit

    df = ALL_QUERIES["tx_unigram_logprob"](spark, SF_DIR)
    lp = df._jdf.queryExecution().logical().toString()
    # exactly one ResolvedHint (the corpus-total crossJoin side)
    assert lp.count("ResolvedHint") <= 1, lp
    a = audit(df)
    assert not a.has_row_python


def test_decontaminate_broadcasts_bench_not_corpus(spark):
    """Contamination check: the benchmark side broadcasts (eval-suite
    sized), the training corpus never self-joins and shuffles only
    8-byte hash keys."""
    from etl_mapwarper_spark.plans import audit

    a = audit(ALL_QUERIES["ds_decontaminate"](spark, SF_DIR))
    assert a.n_broadcast_joins >= 2, "bench shingles + hits must broadcast"
    assert a.n_shuffle_joins == 0, "corpus side must never shuffle-join"
    assert not a.has_row_python


def test_dedup_apply_single_shuffle_no_join(spark):
    """Survivor selection is one shuffle on the group key with a
    key-partitioned window — no joins, no global sort."""
    from etl_mapwarper_spark.plans import audit

    a = audit(ALL_QUERIES["dd_dedup_apply"](spark, SF_DIR))
    assert a.is_join_free
    assert a.n_exchanges <= 2  # parallelize repartition + group-key shuffle
    plan = formatted_plan(ALL_QUERIES["dd_dedup_apply"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan


def test_lsh_recall_joins_only_topk_outputs(spark):
    """The recall report compares two O(probes x k) top-k sets — every
    join must be a broadcast; the corpus never re-shuffles for it."""
    from etl_mapwarper_spark.plans import audit

    a = audit(ALL_QUERIES["sim_lsh_recall"](spark, SF_DIR))
    assert a.n_shuffle_joins == 0


def test_containment_uses_hashed_index_join(spark):
    """Containment rides the same 8-byte hashed-shingle index join as
    Jaccard — shuffle keys are xxhash64 longs, never raw shingles."""
    plan = formatted_plan(ALL_QUERIES["dd_containment"](spark, SF_DIR))
    assert "xxhash64" in plan
    from etl_mapwarper_spark.plans import audit

    a = audit(ALL_QUERIES["dd_containment"](spark, SF_DIR))
    assert a.n_shuffle_joins + a.n_broadcast_joins == 1
    assert not a.has_row_python


def test_q47_rank_dist_has_no_global_window(spark):
    """percent_rank/cume_dist over a total order are arithmetic on the
    exact distributed row number — never a single-reducer window."""
    plan = formatted_plan(ALL_QUERIES["q47_supplier_rank_dist"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan


def _with_confs(spark, confs):
    """Set session confs, returning a restore callable."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)

    def restore():
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    return restore


def test_aqe_splits_skewed_join_partition(spark):
    """The engine's skew story is two-layer: explicit salting (q32)
    for known-hot keys, and AQE skew-join for runtime-detected skew.
    This pins the AQE layer: a join whose shuffle has one dominant
    key partition must come out of AQE with the hot partition SPLIT
    (SortMergeJoin(skew=true) + AQEShuffleRead skewed) — the 100 TB
    behavior where a straggler reducer becomes N parallel tasks.
    Thresholds are scaled down to the test's data size; at the real
    scale the defaults (256 MB / factor 5) fire the same rule."""
    import re as _re

    restore = _with_confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.shuffle.partitions": "8",
        },
    )
    try:
        from pyspark.sql import functions as F

        skewed = spark.range(0, 300000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pay"),
        )
        dim = spark.range(0, 50000).select(
            F.col("id").alias("k"), F.lit("d").alias("dv")
        )
        j = skewed.join(dim, "k").select(F.length("pay").alias("lp"))
        j.collect()  # AQE decisions exist only on the executed plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert _re.search(r"SortMergeJoin\(skew=true\)|ShuffledHashJoin\(skew=true\)", plan), (
            "hot-key join must be re-planned as a skew join"
        )
        assert "AQEShuffleRead skewed" in plan, (
            "the skewed shuffle partition must be split for parallel reads"
        )
    finally:
        restore()


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime row-level filtering: a selective dim-side predicate
    must inject a bloom filter (bloom_filter_agg on the creation side,
    might_contain ahead of the fact join) so at 100 TB the fact rows
    that cannot join die at the scan, not in the shuffle. The
    application-side size threshold is lowered to the test SF; the
    default (10 GB) fires the same rule at the real scale."""
    restore = _with_confs(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "1KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        from pyspark.sql import functions as F

        from etl_mapwarper_spark.sources.tables import load_table

        li = load_table(spark, SF_DIR, "lineitem")
        od = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(od, li.l_orderkey == od.o_orderkey).select(
            F.sum("l_quantity").alias("s")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, (
            "creation side must aggregate a bloom filter"
        )
        assert "might_contain" in plan, (
            "fact side must pre-filter with might_contain"
        )
    finally:
        restore()


def test_q77_notin_compiles_to_null_aware_anti_joins(spark):
    """NOT IN must become anti joins that honor three-valued logic —
    the null-poisoned list key (CASE ... NULL) must appear as a join
    key, not be filtered away into a plain anti join."""
    plan = formatted_plan(
        ALL_QUERIES["q77_notin_null_semantics"](spark, SF_DIR)
    )
    assert plan.count("LeftAnti") >= 2, "both NOT IN branches anti-join"
    assert re.search(r"CASE WHEN.*THEN null.*END", plan, re.IGNORECASE), (
        "null-producing list expression must survive into the join key"
    )


def test_pq_search_plan_is_join_free(spark):
    """PQ online search must stay a narrow encode + literal probe
    explode + one top-k window: no joins, nothing corpus-sized
    broadcast, no Python. (The training jobs run eagerly inside the
    operator; this pins the SEARCH plan the index serves.)"""
    plan = formatted_plan(ALL_QUERIES["sim_pq_topk"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    assert "Join" not in body, "PQ search must not join"
    assert not re.search(r"\bBatchEvalPython\b", plan)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", body))
    assert n_exchanges <= 2, f"PQ search exchange budget: {n_exchanges}"


def test_pack_sequences_single_window_shuffle(spark):
    """Packing = one per-shard window; the downstream aggregate must
    reuse the window's hash partitioning (same shard key)."""
    plan = formatted_plan(ALL_QUERIES["ds_pack_sequences"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", body))
    assert n_exchanges <= 2, f"pack_sequences exchanges: {n_exchanges}"
    assert "Join" not in body


def test_epoch_shuffle_is_single_aggregate(spark):
    """Epoch placement is a narrow expression; the accounting report
    is one hash aggregate — no sort, no join, no extra shuffle."""
    plan = formatted_plan(ALL_QUERIES["ds_epoch_shuffle"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    assert len(re.findall(r"\(\d+\) Exchange\b", body)) <= 1
    assert "Join" not in body


def test_cdc_chunks_is_shuffle_free_scan(spark):
    """CDC boundary counting is a pure per-row expression — the only
    exchange allowed is the opt-in small-input repartition."""
    plan = formatted_plan(ALL_QUERIES["dd_cdc_chunks"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    assert len(re.findall(r"\(\d+\) Exchange\b", body)) <= 1
    assert "Join" not in body
    assert "Sort" not in body


def test_pagerank_salted_join(spark):
    """Each PageRank round's rank join must be salted: edge rows carry
    a deterministic 8-way salt (so a template-hub src's edges spread
    over 8 reducers instead of one), the node-sized ranks side is
    replicated via a broadcast cross join of the 8-row salt range, and
    the per-round equi-join keys on (src, _salt). At 100 TB a single
    boilerplate dup-cluster otherwise lands deg(hub) rows on ONE task
    in EVERY round."""
    plan = formatted_plan(ALL_QUERIES["dd_pagerank_centrality"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    assert "_salt" in body, "edge join must key on (src, _salt)"
    # the replication side: 8-row salt range, broadcast cross join —
    # one per round, never a shuffle
    assert "BroadcastNestedLoopJoin Cross BuildRight" in body
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", body))
    assert n_bnlj == 3, f"expected one salt replication per round, saw {n_bnlj}"


def test_triangle_count_degree_oriented(spark):
    """Triangle wedges must be generated under degree orientation
    (node-iterator++): every edge oriented low-(deg,id) → high, so
    per-key wedge fan-out is bounded by arboricity (O(√m)) instead of
    hub degree. The orientation subtree is checkpointed out of the
    final query's static plan, so (a) pin the orientation semantics on
    the helper itself — both on its plan and on a hub fixture — and
    (b) pin the final plan's budget (5 exchanges / 2 joins; the
    pre-checkpoint union form re-derived the join subtree 3× for 13
    exchanges / 6 joins)."""
    from pyspark.sql import functions as F

    from etl_mapwarper_spark.operators.dedup import oriented_edges

    und_rows = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    und_rows += [(1, 2), (2, 1)]
    und = spark.createDataFrame(und_rows, "u long, v long")
    helper_plan = formatted_plan(oriented_edges(und))
    assert re.search(r"\bdu\b", helper_plan) and re.search(
        r"\bdv\b", helper_plan
    ), "orientation must compare endpoint degrees (du/dv)"
    # hub 0 has degree 5; every leaf degree 1-2 → all hub edges must
    # point INTO the hub, and exactly one direction per edge survives
    got = {(r.u, r.v) for r in oriented_edges(und).collect()}
    assert got == {(i, 0) for i in range(1, 6)} | {(1, 2)}

    plan = formatted_plan(ALL_QUERIES["dd_triangle_count"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    n_join = len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", body))
    assert n_join <= 2, f"wedge + closure joins only, saw {n_join}"
    assert not re.search(r"\bBatchEvalPython\b", plan)


def test_pagerank_never_broadcasts_corpus(spark):
    """PageRank rounds are edge-proportional shuffle joins — at 100 TB
    neither ranks nor edges may be hint-broadcast (both scale with the
    graph)."""
    plan = formatted_plan(ALL_QUERIES["dd_pagerank_centrality"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    assert "BroadcastHashJoin" not in body or "SortMergeJoin" in body or (
        # at sf0.001 Catalyst may legitimately pick broadcast from real
        # stats; what must NOT appear is a forced ResolvedHint
        "ResolvedHint" not in body
    )
    assert not re.search(r"\bBatchEvalPython\b", plan)


def test_observe_collects_metrics_without_extra_pass(spark):
    """df.observe attaches accumulator-style metrics to a query — the
    operational surface for row-count/quality gauges at 100 TB, where
    a second counting pass over the input is unaffordable. The metrics
    must match an independent aggregation exactly."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_mapwarper_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    obs = Observation("corpus_gauges")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
        F.count_if(F.col("lang") == "en").alias("n_en"),
    )
    kept = observed.filter(F.col("n_chars") > 0).count()
    expected = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
        F.count_if(F.col("lang") == "en").alias("n_en"),
    ).collect()[0]
    got = obs.get
    assert got["n_rows"] == expected["n_rows"]
    assert got["total_chars"] == expected["total_chars"]
    assert got["n_en"] == expected["n_en"]
    assert kept <= got["n_rows"]


def test_hll_sketches_merge_across_subcorpora(spark):
    """The DataSketches HLL surface: per-shard sketches built
    independently must UNION into one whose estimate matches the
    whole-corpus sketch — the mergeability that lets 1000 executors
    count distincts with bounded memory and a tiny shuffle."""
    from pyspark.sql import functions as F

    from etl_mapwarper_spark.sources.tables import load_table

    orders = load_table(spark, SF_DIR, "orders")
    exact = orders.select("o_custkey").distinct().count()
    halves = orders.withColumn("half", F.col("o_orderkey") % 2)
    sketches = halves.groupBy("half").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    merged = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]
    whole = orders.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est")
    ).collect()[0]["est"]
    assert merged == whole, "sketch union must equal the one-pass sketch"
    assert abs(merged - exact) / exact < 0.05, (merged, exact)


def test_llm_pipeline_exchange_budget_and_no_row_python(spark):
    """The six-stage flagship must stay inside its audited plan
    budget: bounded exchanges (7 at audit time — fp argmin aggregate,
    shingle distinct, pack window, accounting aggregates, broadcasts
    and the opt-in repartition), no shuffle joins at this SF (the
    bench-hash side is hint-broadcast; the contaminated-id anti-join
    carries NO hint since r4 — at small SF stats still broadcast it,
    at adversarial overlap AQE may legitimately shuffle it), and no
    Python anywhere."""
    plan = formatted_plan(ALL_QUERIES["ds_llm_pipeline"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", body))
    assert n_exchanges <= 8, f"flagship exchange budget blown: {n_exchanges}"
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", body), (
        "flagship joins must broadcast their bounded sides"
    )
    assert not re.search(r"\bBatchEvalPython\b", plan)


def test_src_bucketed_join_no_shuffle(spark):
    """Bucketed co-located join: both scans read bucketed tables and
    the SMJ runs with no Exchange anywhere below the final aggregation
    — the join's shuffle was paid once at table-write time."""
    plan = formatted_plan(ALL_QUERIES["src_bucketed_join"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    assert "SortMergeJoin" in body
    assert len(re.findall(r"Bucketed: true", body)) == 2, (
        "both sides must scan bucketed tables"
    )
    # the only exchange is the final groupBy's
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", body))
    assert n_exchanges == 1, f"bucketed join must not shuffle: {n_exchanges}"


def test_src_partitioned_pruning_partition_filter(spark):
    """Partition-layout pruning: the event_type predicate must resolve
    as a PartitionFilter (directory pruning), never a data filter, and
    the partition column must not appear in the read schema."""
    plan = formatted_plan(
        ALL_QUERIES["src_partitioned_pruning"](spark, SF_DIR)
    )
    m = re.search(r"PartitionFilters: \[[^\]]*event_type[^\]]*\]", plan)
    assert m, "event_type must prune partitions at the scan"
    assert not re.search(r"DataFilters: \[[^\]]*event_type", plan), (
        "event_type must not be evaluated as a data filter"
    )


def test_tx_hashed_linear_score_zero_shuffle_inference(spark):
    """Model inference as column math: the hashed-linear scoring pass
    must be a narrow scan — no joins, no aggregation exchange beyond
    the small-input repartition, and no Python."""
    plan = formatted_plan(ALL_QUERIES["tx_hashed_linear_score"](spark, SF_DIR))
    assert "join" not in plan.lower()
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchanges <= 1, f"scoring must not shuffle: {n_exchanges}"
    assert not re.search(r"\bBatchEvalPython\b|ArrowEvalPython", plan)


def test_src_dpp_join_dynamic_pruning(spark):
    """The partitioned-fact ⋈ runtime-dim join must seed a
    DynamicPruning subquery on the fact scan's partition filters —
    directory pruning decided at runtime from the broadcast dim."""
    plan = formatted_plan(ALL_QUERIES["src_dpp_join"](spark, SF_DIR))
    assert "dynamicpruning" in plan.lower(), (
        "fact scan must carry a dynamic partition pruning filter"
    )


def test_dq_expectations_single_scan(spark):
    """The whole row-level rule set must compile into ONE
    conditional-aggregation pass — adding a rule adds a column, never
    a second scan or a join."""
    plan = formatted_plan(ALL_QUERIES["dq_expectations"](spark, SF_DIR))
    assert "join" not in plan.lower()
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans == 1, f"rule set must fold into one scan: {n_scans}"


def test_sim_radius_search_windowless(spark):
    """Radius search must stay a broadcast-probe scan + one aggregate:
    no window, no sort, no corpus-sized shuffle join."""
    plan = formatted_plan(ALL_QUERIES["sim_radius_search"](spark, SF_DIR))
    assert "Window" not in plan
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ds_token_budget_planner_two_aggregates(spark):
    """The planner is arithmetic over source-bounded aggregates — the
    only corpus-sized work is the per-source groupBy."""
    plan = formatted_plan(
        ALL_QUERIES["ds_token_budget_planner"](spark, SF_DIR)
    )
    body = plan.split("===== Subqueries =====")[0]
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", body))
    assert n_exchanges <= 4, f"planner grew extra shuffles: {n_exchanges}"
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", body)


def test_dd_bloom_incremental_probe_shape(spark):
    """The Bloom route's value is WHERE the work lands: the filter is
    a one-row map broadcast (never a corpus shuffle), the probe is a
    projection, and the confirm join's probe side is pre-filtered to
    the maybe set. Exchange budget pins the single-consumer DAG —
    the three-way-split formulation re-evaluated the probe chain per
    branch and tripled this count."""
    plan = formatted_plan(ALL_QUERIES["dd_bloom_incremental"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", body))
    assert n_exchanges <= 5, f"bloom DAG grew shuffles: {n_exchanges}"
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", body)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ds_global_row_ids_no_global_window(spark):
    """Contiguous IDs must come from the bucket/offset decomposition:
    a window WITHOUT partitioning (the single-reducer global sort)
    must never appear; the offsets side is the only single-partition
    exchange and it carries ≤ bucket-count rows. Since the r6
    rewrite the MAIN path must stay window-free (local ranks come
    from sortWithinPartitions + monotonically_increasing_id — the
    row_number window form paid a second corpus-sized
    hashpartitioning(bkt) shuffle on data the range exchange had
    already co-located), so the only Window left is the offsets
    prefix sum over the ≤ bucket-count counts table."""
    plan = formatted_plan(ALL_QUERIES["ds_global_row_ids"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    assert "Window" in plan
    n_windows = len(re.findall(r"\(\d+\) Window\b", body))
    assert n_windows == 1, f"corpus-side window crept back: {n_windows}"
    # ONE shared range exchange behind an InMemoryRelation (both the
    # counts branch and the rank branch must read the SAME physical
    # instance — RangePartitioner seeds its reservoir sample with the
    # exchange's rdd.id, so two independent instantiations may derive
    # DIFFERENT bucket boundaries at reservoir-exceeding scale, and
    # offsets from one bucketing + ranks from another break the
    # permutation) plus the two counts-side exchanges over
    # ≤ bucket-count rows. The r5 form's corpus-sized
    # hashpartitioning(bkt) window shuffle must not reappear.
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", body))
    assert n_exchanges <= 3, f"corpus re-shuffle crept back: {n_exchanges}"
    assert "InMemoryRelation" in body, "shared cached range exchange gone"
    n_range_nodes = len(
        {m for m in re.findall(r"rangepartitioning\(doc_id[^\n]*plan_id=(\d+)", body)}
    )
    assert n_range_nodes <= 1, (
        f"counts and ranks see different range exchanges: {n_range_nodes}"
    )
    n_single = len(re.findall(r"SinglePartition", plan))
    assert n_single <= 1, f"corpus must not hit a single partition: {n_single}"
    assert "monotonically_increasing_id" in body


def test_dq_skew_report_two_exchanges(spark):
    """One corpus-sized shuffle (per-key counts) + one tiny rollup —
    the multi-key report must not scan or shuffle once per key."""
    plan = formatted_plan(ALL_QUERIES["dq_skew_report"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", body))
    assert n_scans == 1, f"multi-key report must be one scan: {n_scans}"
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", body))
    assert n_exchanges <= 2, f"skew report grew shuffles: {n_exchanges}"


def test_ds_shard_manifest_bounded_windows(spark):
    """late-r8 shape: the per-source byte prefix is two-phase (cells),
    so NO window partitions by bare source over corpus rows — the only
    corpus-row window keys on (source, cell), whose partitions hold
    <= _MANIFEST_CELL_DOCS rows; the per-source window runs over the
    cell TABLE (n/W rows). Exchange budget: 4 — the corpus rows move
    ONCE (the (source, cell) window exchange); the cell-totals branch
    is map-side combined before its (source, cell) exchange, the cell
    prefix re-keys the cell table by source, and the final manifest
    aggregate is partial-combined before (source, shard_idx)."""
    plan = formatted_plan(ALL_QUERIES["ds_shard_manifest"](spark, SF_DIR))
    body = plan.split("===== Subqueries =====")[0]
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", body))
    assert n_exchanges == 4, f"exchange budget drifted: {n_exchanges}"
    # every Window node must key on (source, cell) — a bare-source
    # window over doc rows would reintroduce the n/sources straggler
    for spec in re.findall(r"windowspecdefinition\([^)]*\)", body):
        assert "cell" in spec or "source" not in spec, spec
    assert re.search(
        r"hashpartitioning\(source#\d+, cell#\d+L", body
    ), "corpus window must be keyed (source, cell)"


def test_ds_source_cap_windowgrouplimit(spark):
    """late-r8 shape: the kept branch's rank<=cap filter must plan as
    Partial+Final WindowGroupLimit (map partitions truncated to cap
    rows BEFORE the shuffle) — the property that bounds the per-source
    task. A refactor that consumes over-cap ranks again (the old
    one-branch form) silently loses the pruning; this pins it."""
    plan = formatted_plan(ALL_QUERIES["ds_source_cap"](spark, SF_DIR))
    assert len(re.findall(r"\bWindowGroupLimit\b", plan)) >= 2, plan[:2000]
    # and the totals branch must NOT rank at all — exactly one Window
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def test_bench_queries_construct_without_jobs(spark):
    """bench.py times execution only (the noop write), which is only
    honest if CONSTRUCTING a benched frame runs zero Spark jobs — a
    driver action during construction (an approxQuantile scan, a
    training collect) would be a whole untimed job the DuckDB side
    pays for. Constructing every benched query must leave the job
    count unchanged."""
    import bench as benchmod

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    queries = entrymod.queries()
    offenders = []
    for name in benchmod.BENCH_QUERIES:
        # First construction may build cached fixtures (mw_* collect a
        # bounded key list once per session — affects only the cold
        # run, which bench reports separately). STEADY-STATE
        # construction, like bench's min-of-N, must be job-free.
        queries[name](spark, SF_DIR)
        before = set(tracker.getJobIdsForGroup(None) or [])
        queries[name](spark, SF_DIR)
        after = set(tracker.getJobIdsForGroup(None) or [])
        if after - before:
            offenders.append(name)
    assert not offenders, f"driver actions during construction: {offenders}"


def test_registry_queries_construct_without_jobs(spark):
    """Registry-wide extension of the bench rule (r4 verdict item 5:
    tx_pmi_collocations ran two corpus-pass scalar actions during
    construction and nothing flagged it because only BENCH_QUERIES
    were sampled): EVERY registered batch query must construct its
    frame without running a Spark job at steady state. Iterative
    trainers (Lloyd/GD loops) and streaming entries legitimately run
    bounded jobs while building artifacts or draining a stream —
    those are listed with the reason, everything else is held to
    zero."""
    import bench as benchmod

    # Bounded, documented construction work:
    #   st_*            — foreachBatch/trigger-once streams execute on
    #                     construction by design
    #   src_*           — write-then-read roundtrips materialize files
    #   *_train/_ivf*/_pq*/kmeans-backed sim_* — iterative training
    #                     collects bounded K×dim artifacts per round
    #                     (PLAN_AUDIT.md 'iterative ops' section)
    #   tx_logreg_* — same, fused training jobs (tx_bpe_* came OFF
    #                     this list in r5: the applyInPandas trainer
    #                     constructs job-free, so the rule covers it)
    #   dd_pagerank/dd_triangle/dd_cc — fixed-round graph iteration
    #   mw_*/pipe_*     — bounded fixture parquet cache (cold only,
    #                     warmed below before measuring)
    exempt_prefixes = (
        "st_",
        "src_",
        "sim_ivf",
        "sim_pq",
        "sim_ivfpq",
        "sim_kmeans",
        "tx_bpe_fertility",  # per-round broadcast-winner folds, cached vocab
        "tx_logreg",
        "dd_pagerank",
        "dd_triangle",
        "dd_cc_",
        "dd_connected",  # large-star/small-star rounds, scalar per round
        "dd_semantic_clusters",  # kmeans training collects (bounded K×dim)
        "ds_dedup_aware_split",  # connected-components rounds inside
        "dq_observed_metrics",  # observe() metrics REQUIRE running the pass
    )
    queries = entrymod.queries()
    benched = set(benchmod.BENCH_QUERIES)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    offenders = []
    for name, fn in queries.items():
        if name in benched or name.startswith(exempt_prefixes):
            continue
        fn(spark, SF_DIR)  # warm fixture caches (cold-only work)
        before = set(tracker.getJobIdsForGroup(None) or [])
        fn(spark, SF_DIR)
        after = set(tracker.getJobIdsForGroup(None) or [])
        if after - before:
            offenders.append((name, len(after - before)))
    assert not offenders, (
        f"driver actions during steady-state construction: {offenders}"
    )


def test_no_unconditional_catalog_broadcast_in_source():
    """Source lint for the r9 broadcast audit's standing rule: catalog
    tables must reach joins through the size-gated ``dim_broadcast``,
    never a raw ``broadcast(load_table(...))`` — a forced hint
    overrides every size check Spark has and is an executor OOM at a
    scale factor where the table no longer fits. (Corpus-DERIVED
    relations are reviewed per site — BASELINE.md carries the
    classification — but the catalog-table form is mechanically
    checkable, so it is pinned here.)"""
    import os
    import re

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "etl_mapwarper_spark",
    )
    offenders = []
    # ALIAS-AWARE (r9 advice item): the codebase's common import is
    # `from pyspark.sql.functions import broadcast as _bc`, so the
    # lint resolves every alias the file binds to the broadcast hint
    # (plus the bare name and the F.-qualified form) instead of only
    # matching the literal `broadcast(`.
    import_pat = re.compile(
        r"from\s+pyspark\.sql\.functions\s+import\s+([^\n(]+|\([^)]*\))"
    )
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                src = f.read()
            aliases = {"broadcast", r"F\.broadcast"}
            for im in import_pat.finditer(src):
                for item in im.group(1).strip("()").split(","):
                    parts = item.strip().split()
                    if parts and parts[0] == "broadcast":
                        aliases.add(re.escape(parts[-1]))
            pat = re.compile(
                r"(?<![\w.])(?:" + "|".join(sorted(aliases))
                + r")\(\s*load_table\("
            )
            for m in pat.finditer(src):
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{path}:{line}")
    assert not offenders, (
        "raw broadcast(load_table(...)) found — route catalog tables "
        f"through dim_broadcast: {offenders}"
    )


def test_retry_determinism_unique_order_lint():
    """Source lint for the r9 verdict's retry-determinism item: the
    engine's two nondeterministic-primitive idioms are correct ONLY
    under a caller contract that previously lived in docstrings —

    - ``ranked_in_groups(df, group_cols, order_cols)`` assigns ranks
      from in-partition physical order after a sort by group+order
      cols; if the ordering has ties within a group, a task RETRY can
      replay rows in a different order and silently permute ranks.
      Every call site must therefore end ``order_cols`` with a key
      that is unique by data contract (doc_id / vec_id — the engine's
      entity keys), making the total order tie-free.
    - raw ``monotonically_increasing_id`` local-rank sites must sit in
      a function that (a) sorts by a unique contract key via
      ``sortWithinPartitions`` and (b) persists the ranged relation so
      the counts and rank branches share ONE physical bucketing
      (the late-r6 reservoir-seed consistency fix).

    A new call site that can't satisfy the mechanical check fails here
    and forces the author to prove uniqueness (extend UNIQUE_KEYS only
    with a column unique by catalog/data contract)."""
    import ast
    import os

    UNIQUE_KEYS = {"doc_id", "vec_id"}
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "etl_mapwarper_spark",
    )
    problems = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                src = f.read()
            tree = ast.parse(src, filename=path)
            # helper module: the idiom lives INSIDE ranked_in_groups,
            # whose tie-free contract is enforced at its call sites
            is_helper = fn == "dist_rank.py"
            # map: every node -> enclosing function source segment
            for func in [
                n for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]:
                fsrc = ast.get_source_segment(src, func) or ""
                for node in ast.walk(func):
                    if not isinstance(node, ast.Call):
                        continue
                    name = (
                        node.func.id
                        if isinstance(node.func, ast.Name)
                        else node.func.attr
                        if isinstance(node.func, ast.Attribute)
                        else None
                    )
                    if name == "ranked_in_groups":
                        order = None
                        if len(node.args) >= 3:
                            order = node.args[2]
                        for kw in node.keywords:
                            if kw.arg == "order_cols":
                                order = kw.value
                        ok = (
                            isinstance(order, (ast.List, ast.Tuple))
                            and order.elts
                            and isinstance(order.elts[-1], ast.Constant)
                            and order.elts[-1].value in UNIQUE_KEYS
                        )
                        if not ok:
                            problems.append(
                                f"{path}:{node.lineno} ranked_in_groups "
                                "order_cols must END with a unique "
                                f"contract key {sorted(UNIQUE_KEYS)} "
                                "(literal list) so the total order is "
                                "tie-free under task retry"
                            )
                    elif (
                        name == "monotonically_increasing_id"
                        and not is_helper
                        and func.name != "release_ranked_cache"
                    ):
                        sorts_unique = any(
                            f'sortWithinPartitions("{k}"' in fsrc
                            for k in UNIQUE_KEYS
                        )
                        persisted = ".persist()" in fsrc
                        if not (sorts_unique and persisted):
                            problems.append(
                                f"{path}:{node.lineno} raw "
                                "monotonically_increasing_id outside "
                                "dist_rank must follow "
                                "sortWithinPartitions(<unique key>) on "
                                "a .persist()ed ranged relation"
                            )
    assert not problems, "\n".join(problems)


def test_first_agg_sites_are_reviewed_deterministic():
    """Retry-determinism audit, part 2 (r10): ``F.first`` /
    ``F.any_value`` in an aggregation returns whichever row a task
    happens to see first — under task retry or AQE re-planning the
    winning row can change, silently changing results, UNLESS the
    aggregated value is functionally dependent on the group key.
    Every current site was reviewed and is deterministic:

    - q76_percentiles_twophase: pivot over (l_returnflag, tag) groups
      ALREADY reduced to one row each by the upstream groupBy —
      first() over a singleton group.
    - tx_bm25_topk: first("dl") grouped by (doc_id, term); dl is a
      per-doc constant → FD on doc_id.
    - dd_shingle_df_profile: first("df") grouped BY df — the key
      itself.
    - mm_phash_cluster_profile: first("cluster_size") grouped BY
      cluster_size — the key itself.
    - q87_mad_robust_stats: first("med") grouped by l_returnflag; med
      was join-attached ON l_returnflag → FD on the key.

    (Oracle-side ``any_value(w1)`` sites group by b = the hash OF
    (w1, w2) — FD modulo the same 2⁻⁶⁴ collision caveat the hash join
    keys already carry.) A NEW site fails this lint until it is
    reviewed and added to the allowlist with its FD argument above."""
    import ast
    import os

    # (file, function) -> EXPECTED number of first/any_value call
    # sites (r10 advice: a count pin means a SECOND, unreviewed
    # F.first added to an already-allowlisted function fails the lint
    # instead of riding the existing entry).
    ALLOWED = {
        ("relational_ext.py", "q76_percentiles_twophase"): 1,
        ("textops.py", "tx_bm25_topk"): 1,
        # two first("df") reads of the SAME group key (pair_volume
        # formula) — both trivially FD
        ("dedup.py", "dd_shingle_df_profile"): 2,
        # same shape: two first("cluster_size") reads of the group key
        ("multimodal.py", "mm_phash_cluster_profile"): 2,
        ("analytics.py", "q87_mad_robust_stats"): 1,
    }
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "etl_mapwarper_spark",
    )
    unreviewed = []
    counts: dict = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            # alias-aware like the broadcast lint (r10 advice): a
            # `from pyspark.sql.functions import first [as x]` call
            # site must not slip past the F.-qualified match.
            bare_names = set()
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.ImportFrom)
                    and node.module == "pyspark.sql.functions"
                ):
                    for alias in node.names:
                        if alias.name in ("first", "any_value"):
                            bare_names.add(alias.asname or alias.name)
            for func in [
                n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
            ]:
                for node in ast.walk(func):
                    if not isinstance(node, ast.Call):
                        continue
                    is_site = (
                        isinstance(node.func, ast.Attribute)
                        and node.func.attr in ("first", "any_value")
                        and isinstance(node.func.value, ast.Name)
                        and node.func.value.id == "F"
                    ) or (
                        isinstance(node.func, ast.Name)
                        and node.func.id in bare_names
                    )
                    if not is_site:
                        continue
                    key = (fn, func.name)
                    counts[key] = counts.get(key, 0) + 1
                    if counts[key] > ALLOWED.get(key, 0):
                        unreviewed.append(
                            f"{path}:{node.lineno} in {func.name}"
                        )
    assert not unreviewed, (
        "unreviewed F.first/F.any_value aggregation site(s) — verify "
        "the value is functionally dependent on the group key, then "
        "add to / bump the allowlist count with the argument: "
        f"{unreviewed}"
    )


def test_persist_sites_are_classified():
    """Executor-storage audit (r10, the window/broadcast-audit lens
    applied to the third global resource): every .persist()/.cache()/
    .localCheckpoint() site in the engine must be classified in
    BASELINE.md's r10 persist table — size class (corpus-sized
    spill-safe / type-bounded / config-bounded / fixture-sized) and
    why removing it breaks correctness or re-runs a corpus pass. A new
    site fails here until it is reviewed and added to BOTH the
    BASELINE.md table and this allowlist."""
    import ast
    import os

    ALLOWED = {
        ("dist_rank.py", "ranked_in_groups"),
        ("sampling.py", "ds_global_row_ids"),
        ("dedup.py", "dd_ngram_jaccard"),
        ("dedup.py", "dd_minhash_lsh"),
        ("dedup.py", "dd_bbit_minhash_lsh"),
        ("dedup.py", "_cc_checkpoint"),
        ("dedup.py", "dd_pagerank_centrality"),
        ("dedup.py", "dd_triangle_count"),
        ("analytics.py", "q85_chi2_independence"),
        ("similarity.py", "sim_ivfpq_topk"),
        ("textops.py", "tx_bpe_fertility"),
        ("textops.py", "tx_logreg_train_steps"),
        ("mapwarper.py", "_fixture_df"),
        ("paginated_rest.py", "_scan_waves"),
        ("pipeline.py", "download"),
        ("pipeline.py", "maps_branch"),
        ("pipeline.py", "transform"),
    }
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "etl_mapwarper_spark",
    )
    unclassified = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            for func in [
                n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
            ]:
                for node in ast.walk(func):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr
                        in ("persist", "cache", "localCheckpoint")
                        and (fn, func.name) not in ALLOWED
                    ):
                        unclassified.append(
                            f"{path}:{node.lineno} in {func.name}"
                        )
    assert not unclassified, (
        "unclassified persist/cache/localCheckpoint site(s) — classify "
        "in BASELINE.md's r10 persist table, then allowlist: "
        f"{unclassified}"
    )


def test_scan_count_audit_and_fixed_entries_stay_fixed(spark):
    """Scan-count audit (r11 lens): ``PlanAudit.table_scans`` counts
    FileScan nodes per source table — each repeat of a corpus-scale
    table is one extra full corpus pass at 100 TB. The two entries
    the r11 audit FIXED must not regress:

    - ds_quality_ablation: the per-ablation-row agg + union re-derived
      the whole annotated pipeline per branch (14 documents scans in
      ONE plan); the single conditional aggregate + struct unpivot
      pays the annotation once. The remaining scans are the flagged/
      fp_min self-join pair and the two contamination branches.
    - q85_chi2_independence: the contingency aggregate ran once per
      marginal/total/domain consumer (6 scans); the persisted
      cells-bounded obs relation collapses every consumer onto ONE
      corpus pass.

    Bounds are <= because AQE/session settings can merge scans, never
    add them. The full-registry snapshot lives in PLAN_AUDIT.md's
    'table rescans' column; the >=3 plans are classified in
    BASELINE.md (r11 scan-count audit table)."""
    from etl_mapwarper_spark.operators.analytics import (
        q85_chi2_independence,
    )
    from etl_mapwarper_spark.operators.sampling import ds_quality_ablation
    from etl_mapwarper_spark.plans.audit import audit

    a = audit(ds_quality_ablation(spark, SF_DIR))
    assert a.table_scans.get("documents", 0) <= 4, a.table_scans
    b = audit(q85_chi2_independence(spark, SF_DIR))
    assert b.table_scans.get("documents", 0) == 1, b.table_scans

    # the lens must not be vacuous (r11 advice item): the Location
    # regex is rendering-dependent, so audit() cross-checks it against
    # the scan-NODE count and buckets any shortfall under '<unparsed>'.
    # In THIS environment the parse must be complete — a shortfall
    # here means the Location rendering changed and the regex needs
    # updating, not that the plans got cheaper.
    for t, aud in (("ds_quality_ablation", a), ("q85", b)):
        assert aud.n_scan_nodes > 0, t
        assert "<unparsed>" not in aud.table_scans, (t, aud.table_scans)
        assert sum(aud.table_scans.values()) == aud.n_scan_nodes, (
            t,
            aud.table_scans,
            aud.n_scan_nodes,
        )


def test_bench_tier2_split_membership():
    """The r11 tier2 split (production-path vs labeled-twin ratios)
    is only meaningful if the membership sets stay coherent: every
    twin must be a tier2 member, every tier2/headline name must be a
    registered query, and the twin set must stay exactly the
    docstring-labeled ground-truth entries (a production entry
    drifting into the twin set would hide its regressions from the
    round-over-round production ratio)."""
    import bench as benchmod

    queries = entrymod.queries()
    assert benchmod.TIER2_TWINS <= set(benchmod.TIER2_QUERIES)
    for name in benchmod.BENCH_QUERIES + benchmod.TIER2_QUERIES:
        assert name in queries, name
    assert benchmod.TIER2_TWINS == {
        "dd_containment",
        "dd_embedding_neardup",
        "sim_ivfpq_topk",
        "tx_kneser_ney_logprob",
    }


def test_bench_oracle_min_records_failures():
    """bench.py records why an oracle time is missing instead of
    dropping it: a failing SQL string gives ``(None, "ExcType: first
    line")``, a working one ``(min_s, None)``."""
    import duckdb

    import bench as benchmod

    con = duckdb.connect()
    t, err = benchmod._oracle_min(con, "SELECT 42", 2)
    assert err is None and t >= 0
    t, err = benchmod._oracle_min(con, "SELECT * FROM no_such_table", 2)
    assert t is None
    assert err.startswith("CatalogException: ") and "\n" not in err


# Ratchet on copy-paste: lines of ``etl_mapwarper_spark/`` that sit in
# an 8-line window occurring at least twice, with whitespace collapsed
# and blank and comment lines dropped. Lower it when duplication goes;
# never raise it.
_DUP_WINDOW_LINES_MAX = 439


def _duplicated_window_lines(root: str, width: int = 8) -> int:
    import collections
    import pathlib

    seen = collections.defaultdict(list)
    for path in sorted(pathlib.Path(root).rglob("*.py")):
        lines = [" ".join(line.split()) for line in path.read_text().splitlines()]
        lines = [line for line in lines if line and not line.startswith("#")]
        for i in range(len(lines) - width + 1):
            seen[tuple(lines[i : i + width])].append((path, i))
    dup = set()
    for where in seen.values():
        if len(where) > 1:
            for path, i in where:
                dup.update((path, j) for j in range(i, i + width))
    return len(dup)


def test_duplicated_code_does_not_grow():
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "etl_mapwarper_spark",
    )
    assert _duplicated_window_lines(root) <= _DUP_WINDOW_LINES_MAX
