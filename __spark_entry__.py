"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator (SURVEY.md §2), merged from
the per-module registries in ``etl_mapwarper_spark.operators``.
``oracle_sql()`` — DuckDB-equivalent SQL for each query where the
semantics are SQL-expressible; ops without an entry get the driver's
rows-only check (custom stateful streaming, fixture-backed mapwarper
transforms).

The external driver checks the FIRST 50 merged entries against their
oracles, so ``_WINDOW`` pulls 50 entries to the front. The standing
window rule: entries whose code changed first (a code change voids
prior evidence), then the entries last checked longest ago, and at
least 2 rows for every family (q/mw/dd/sim/tx/ds/mm/st/src/dq/pipe/pd).
A module that fails to import raises out of ``queries()`` and
``oracle_sql()`` rather than silently dropping its entries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _registries():
    # Imported, and merged, in this order: it fixes the order of the
    # entries after the window.
    from etl_mapwarper_spark.operators import (
        mapwarper_queries,
        enrichment,
        dedup,
        similarity,
        textops,
        sampling,
        ingestion,
        pipeline_queries,
        pandas_ops,
        multimodal,
        changedata,
        analytics,
        quality,
        relational_subq,
        relational,
        relational_ext,
        relational_stats,
    )
    from etl_mapwarper_spark.streaming import queries as streaming_queries

    return (
        mapwarper_queries, enrichment, dedup, similarity, textops, sampling,
        ingestion, pipeline_queries, pandas_ops, multimodal, changedata,
        analytics, quality, relational_subq, relational, relational_ext,
        relational_stats, streaming_queries,
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on /root/testdata/sf0.001: the end-to-end LLM
    preprocessing pipeline (quality → dedup → decontaminate → split →
    pack → account) as one declarative plan."""
    from etl_mapwarper_spark.operators.sampling import ds_llm_pipeline

    return ds_llm_pipeline(spark, "/root/testdata/sf0.001")


# The 50-entry driver window, in order. Rule: changed entries first,
# then stalest, >=2 rows per family. Current seating: (a) 22 entries
# whose code changed last (incremental/Bloom admission, the LSH family,
# synthetic_media's consumers), (b) the 16 stalest rows, (c) the
# stalest two rows of each family still short of its minimum.
_WINDOW = [
    # (a)
    "dd_incremental_dedup", "dd_incremental_dedup_fp", "dd_bloom_incremental",
    "dd_bloom_incremental_fp", "dd_ngram_jaccard", "dd_minhash_lsh",
    "dd_lsh_tuning_report", "dd_bbit_minhash_lsh", "mm_image_stats",
    "mm_image_entropy", "mm_shot_detect", "mm_resize_avgpool", "mm_frame_sample",
    "mm_arrow_hist", "mm_audio_rms", "mm_audio_zcr", "mm_audio_vad",
    "mm_audio_autocorr", "mm_av_sync_check", "mm_png_roundtrip",
    "mm_phash_neardups", "mm_phash_cluster_profile",
    # (b)
    "q77_notin_null_semantics", "q78_map_type_aggs", "q79_try_functions",
    "q89_approx_quantiles", "q92_modern_sql", "sim_bruteforce_topk",
    "sim_embedding_covariance", "sim_lsh_recall", "sim_norm_report",
    "sim_pq_recall", "sim_radius_search", "src_compact_roundtrip",
    "src_dpp_join", "src_webdataset_roundtrip", "tx_ndcg_eval",
    "tx_tfidf_top_terms",
    # (c)
    "ds_hash_sample", "ds_stratified_sample", "mw_geodesic_area",
    "mw_layer_objects", "st_foreach_batch_merge", "st_session_windows",
    "dq_skew_report", "dq_expectations", "pipe_rest_end_to_end", "pipe_logs",
    "pd_weighted_avg", "pd_zscore",
]


def _merge(attr: str) -> dict:
    merged: dict = {}
    for mod in _registries():
        merged.update(getattr(mod, attr))
    head = {k: merged[k] for k in _WINDOW if k in merged}
    head.update(merged)
    return head


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _merge("QUERIES")


def oracle_sql() -> dict[str, str]:
    return _merge("ORACLE")
