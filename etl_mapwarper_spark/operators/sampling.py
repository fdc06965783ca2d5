"""Deterministic sampling / split operators for training-data pipelines.

North-star additions (BASELINE.json: "operations a large-scale
training-data pipeline would need"); the reference has no sampling of
any kind. At 100 TB, `df.sample()` is the wrong tool for corpus
curation: it is seed-dependent per partitioning, not reproducible
across runs/engines, and cannot express "the SAME documents are in
the train split forever". The standard fix is content-keyed hashing —
bucket = h(stable_id) mod 100 — which is a narrow per-row expression
(no shuffle, no state), reproducible on any engine, and stable under
repartitioning, appends, and backfills.

The hash here is the Knuth multiplicative hash (golden-ratio constant
2654435761 = floor(2^32/phi)) over the stable doc_id, reduced mod
2^32. Both Spark and DuckDB evaluate it with exact BIGINT arithmetic,
so the oracle reproduces the bucket assignment bit-for-bit — which is
exactly the reproducibility property the operator exists to provide.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint, token_count
from ..sources.tables import load_table
from . import registry
from .dedup import ORACLE as _DEDUP_ORACLE

QUERIES, ORACLE, _register = registry()


_KNUTH = 2654435761  # floor(2^32 / golden ratio); odd, full-period mod 2^32
_M32 = 4294967296


def hash_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from a stable integer key.

    Multiplicative hashing: low-order key bits diffuse through the
    product's low 32 bits. Pure integer arithmetic — identical on any
    engine, any partitioning, any run.
    """
    return F.pmod(key * F.lit(_KNUTH), F.lit(_M32)) % F.lit(n_buckets)


_BUCKET_SQL = f"((doc_id * {_KNUTH}) % {_M32}) % 100"


def knuth_priority(key: Column) -> Column:
    """Full-resolution deterministic priority in [0, 2^32) — the
    un-bucketed form of hash_bucket, used wherever a total order
    (top-k, per-group rank) is needed rather than a percentage."""
    return F.pmod(key * F.lit(_KNUTH), F.lit(_M32))


def split_label(key: Column) -> Column:
    """THE canonical 80/10/10 train/valid/test assignment. Single
    definition on purpose: ds_train_test_split, ds_corpus_curation,
    ds_llm_pipeline, and ds_split_manifest must agree forever — the
    manifest's checksum exists to catch exactly the drift a diverging
    copy of this rule would cause. (ds_dedup_aware_split is NOT a
    consumer: it intentionally uses its own 90/10 two-way rule keyed
    on the duplicate-cluster id, not the doc id.)"""
    b = hash_bucket(key)
    return (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
    )


# ---------------------------------------------------------------------------
# ds_hash_sample — reproducible 10% corpus sample. The WHERE is a
# narrow per-row predicate evaluated inside the scan stage; at 100 TB
# the sample never materializes the rejected 90% past the filter, and
# re-running on appended data keeps every previously-sampled doc.
# ---------------------------------------------------------------------------


def ds_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(hash_bucket(F.col("doc_id")) < 10)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


_register(
    "ds_hash_sample",
    ds_hash_sample,
    f"""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           min(doc_id) AS min_doc_id
    FROM documents
    WHERE {_BUCKET_SQL} < 10
    GROUP BY lang
    """,
)


# ---------------------------------------------------------------------------
# ds_train_test_split — reproducible 80/10/10 split. The split label is
# a function of doc_id alone, so a document's split NEVER changes as
# the corpus grows — the property that prevents train/test leakage
# across dataset versions. One scan, one narrow expression, one
# 3-group aggregate.
# ---------------------------------------------------------------------------


def ds_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = split_label(F.col("doc_id"))
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_register(
    "ds_train_test_split",
    ds_train_test_split,
    f"""
    SELECT CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                WHEN {_BUCKET_SQL} < 90 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           sum(n_chars)::BIGINT AS total_chars
    FROM documents
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# ds_stratified_sample — per-stratum rates (downsample the dominant
# language, keep the tail), the standard rebalancing step for training
# corpora. Expressed as conditional aggregation over one full scan —
# no per-stratum scans, no join; the per-lang rate table is a CASE
# expression (in production, a broadcast map literal).
# ---------------------------------------------------------------------------


def ds_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(60))
    sampled = hash_bucket(F.col("doc_id")) < rate
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(sampled).alias("n_sampled"),
        F.round(F.count_if(sampled) / F.count(F.lit(1)), 4).alias("rate_actual"),
    )


_register(
    "ds_stratified_sample",
    ds_stratified_sample,
    f"""
    SELECT lang,
           count(*) AS n_total,
           count(*) FILTER (
             WHERE {_BUCKET_SQL} < CASE WHEN lang = 'en' THEN 10 ELSE 60 END
           ) AS n_sampled,
           round(count(*) FILTER (
             WHERE {_BUCKET_SQL} < CASE WHEN lang = 'en' THEN 10 ELSE 60 END
           ) / count(*)::DOUBLE, 4) AS rate_actual
    FROM documents
    GROUP BY lang
    """,
)


# ---------------------------------------------------------------------------
# ds_mixture_weights — training-mix construction with fractional
# epochs (the LLaMA/Pile-style source-weighting step): each source
# gets a weight w; every document is emitted floor(w) times and one
# extra time with probability frac(w), decided by the SAME
# deterministic content hash as the other samplers — so the mixture
# is reproducible and append-stable. Up-sampling is an
# explode(sequence(...)) — rows multiply inside the scan stage, no
# shuffle; the per-source accounting aggregate is the only exchange.
# Weights here: source number % 3 → 2.0 / 1.0 / 0.25.
# ---------------------------------------------------------------------------


def ds_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # try_cast, not cast: on a digit-less source name regexp_extract
    # yields '' and the ANSI cast would abort the whole job (the r11
    # adversarial sweep's only engine-killing input). NULL falls
    # through every when() to weight 0, so the malformed source is
    # dropped from the mixture instead of killing a 100 TB run.
    src_num = F.regexp_extract("source", "(\\d+)", 1).try_cast("int")
    w_whole = F.when(src_num % 3 == 0, F.lit(2)).when(
        src_num % 3 == 1, F.lit(1)
    ).otherwise(F.lit(0))
    w_frac_pct = F.when(src_num % 3 == 2, F.lit(25)).otherwise(F.lit(0))
    n_copies = w_whole + (
        hash_bucket(F.col("doc_id")) < w_frac_pct
    ).cast("int")
    emitted = docs.withColumn("n_copies", n_copies).filter(
        F.col("n_copies") > 0
    ).select(
        "source",
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("epoch"),
    )
    return emitted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_emitted"),
        F.count_distinct("doc_id").alias("n_docs_used"),
        F.max("epoch").alias("max_epoch"),
    )


_register(
    "ds_mixture_weights",
    ds_mixture_weights,
    f"""
    WITH w AS (
      SELECT source, doc_id,
             (CASE TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 3
                WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END)
             + (CASE WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INT)
                          % 3 = 2
                      AND {_BUCKET_SQL} < 25 THEN 1 ELSE 0 END) AS n_copies
      FROM documents
    ),
    emitted AS (
      SELECT source, doc_id, unnest(range(1, n_copies + 1)) AS epoch
      FROM w WHERE n_copies > 0
    )
    SELECT source,
           count(*) AS n_emitted,
           count(DISTINCT doc_id) AS n_docs_used,
           max(epoch)::INT AS max_epoch
    FROM emitted
    GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# ds_corpus_curation — the composed training-corpus curation pipeline,
# each stage one of the engine's north-star operators chained as a
# single declarative plan (what an LLM data job actually runs):
#   1. QUALITY  — C4-style predicate (textops.c4_kept_expr), a narrow
#                 scan-stage filter;
#   2. DEDUP    — normalization-fingerprint exact dedup keeping the
#                 smallest doc_id (one window over the fp key);
#   3. SPLIT    — deterministic content-hash train/valid/test;
#   4. MIXTURE  — source-weighted fractional epochs (explode-based
#                 up-sampling inside the scan stage);
#   5. ACCOUNT  — per (split, source): docs used, rows emitted, total
#                 chars (the "token budget" the mix delivers).
# One corpus scan, one fp shuffle, one final aggregate — the whole
# curation is 3 exchanges regardless of corpus size. Oracle = the
# identical CTE chain in DuckDB.
# ---------------------------------------------------------------------------


def ds_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.text import doc_fingerprint
    from .textops import c4_kept_expr

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    kept = docs.filter(c4_kept_expr(F.col("text"))).select(
        "doc_id", "source", "n_chars", doc_fingerprint(F.col("text")).alias("f")
    )
    # packed-argmin aggregate, not a window: duplicates combine
    # map-side and the exchange never sorts (same shape as
    # ds_llm_pipeline's dedup stage)
    deduped = (
        kept.groupBy("f")
        .agg(F.min(F.struct("doc_id", "source", "n_chars")).alias("s"))
        .select("s.doc_id", "s.source", "s.n_chars")
    )
    split = split_label(F.col("doc_id"))
    # try_cast: digit-less source NULLs the weight (row dropped), the
    # same robustness contract as ds_mixture_weights above.
    src_num = F.regexp_extract("source", "(\\d+)", 1).try_cast("int")
    n_copies = (
        F.when(src_num % 3 == 0, F.lit(2))
        .when(src_num % 3 == 1, F.lit(1))
        .otherwise(F.lit(0))
        + (
            (hash_bucket(F.col("doc_id")) < F.when(
                src_num % 3 == 2, F.lit(25)
            ).otherwise(F.lit(0))).cast("int")
        )
    )
    emitted = (
        deduped.withColumn("split", split)
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .select(
            "split",
            "source",
            "doc_id",
            "n_chars",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("epoch"),
        )
    )
    return emitted.groupBy("split", "source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_emitted"),
        F.sum("n_chars").alias("total_chars"),
    )


def _curation_sql() -> str:
    from .textops import C4_KEPT_COND_SQL, C4_SCORED_COLS_SQL

    return f"""
    WITH scored AS (
      SELECT doc_id, source, n_chars, text,
{C4_SCORED_COLS_SQL}
      FROM documents
    ),
    kept AS (
      SELECT doc_id, source, n_chars,
             md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS f
      FROM scored WHERE {C4_KEPT_COND_SQL}
    ),
    deduped AS (
      SELECT * FROM kept
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)
    ),
    w AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                  WHEN {_BUCKET_SQL} < 90 THEN 'valid'
                  ELSE 'test' END AS split,
             (CASE TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 3
                WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END)
             + (CASE WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INT)
                          % 3 = 2
                      AND {_BUCKET_SQL} < 25 THEN 1 ELSE 0 END) AS n_copies
      FROM deduped
    ),
    emitted AS (
      SELECT split, source, doc_id, n_chars,
             unnest(range(1, n_copies + 1)) AS epoch
      FROM w WHERE n_copies > 0
    )
    SELECT split, source,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_emitted,
           sum(n_chars)::BIGINT AS total_chars
    FROM emitted
    GROUP BY 1, 2
    """


_register("ds_corpus_curation", ds_corpus_curation, _curation_sql())


# ---------------------------------------------------------------------------
# ds_decontaminate — benchmark-contamination check, the decontamination
# stage every serious LLM training pipeline runs before training:
# which training documents share long n-grams with the held-out
# benchmark/eval set? (The GPT-3/PaLM papers' "13-gram overlap"
# procedure, here with 5-grams sized to the synthetic docs.)
#
# The "benchmark" is a deterministic slice (doc_id % 50 == 0 — in a
# real deployment this side is the actual eval-suite text); everything
# else is the training corpus. Scale shape: both sides shingle to
# 8-byte xxhash64 keys (same trick as dd_ngram_jaccard), the join is
# an equi-join on the hash — the benchmark side is eval-suite-sized
# (tiny next to the corpus) so it broadcasts; the corpus side never
# self-joins and never shuffles on anything wider than 8 bytes.
# Output: per benchmark doc, how many of its shingles occur in the
# training corpus, in how many distinct training docs, and the
# contamination fraction used for filter/report decisions.
# ---------------------------------------------------------------------------

_DECON_N = 5  # shingle width (words)
_DECON_MOD = 50  # doc_id % MOD == 0 -> benchmark side


def ds_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from ..functions.text import hashed_word_shingles, tokens

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    # r11: hash-direct shingles — the hash is this entry's only join/
    # count key, so the string shingle array is never materialized
    # (r10 dd_containment_capped measurement: the string detour
    # doubles the corpus scan). Same bijectivity/collision contract
    # as xxhash64-of-string, pinned for n=5 in
    # tests/test_text_properties.py.
    sh = docs.select(
        "doc_id",
        F.explode(
            hashed_word_shingles(tokens(F.col("text")), _DECON_N)
        ).alias("h"),
    )
    is_bench = F.col("doc_id") % _DECON_MOD == 0
    bench = sh.filter(is_bench)
    corpus = sh.filter(~is_bench)
    bench_sizes = (
        docs.filter(is_bench)
        .select(
            "doc_id",
            F.size(
                hashed_word_shingles(tokens(F.col("text")), _DECON_N)
            ).alias("n_shingles"),
        )
        # docs shorter than the shingle width have nothing to check —
        # excluded on both sides (the oracle's sh CTE drops them too)
        .filter(F.col("n_shingles") > 0)
    )
    hits = (
        corpus.join(
            broadcast(bench.select(F.col("doc_id").alias("bench_id"), "h")),
            "h",
        )
        .groupBy("bench_id")
        .agg(
            F.count_distinct("h").alias("n_contaminated"),
            F.count_distinct("doc_id").alias("n_contaminating_docs"),
        )
    )
    return (
        bench_sizes.join(
            broadcast(hits), bench_sizes.doc_id == hits.bench_id, "left"
        )
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.coalesce("n_contaminating_docs", F.lit(0)).alias(
                "n_contaminating_docs"
            ),
            F.round(
                F.coalesce("n_contaminated", F.lit(0))
                / F.col("n_shingles"),
                4,
            ).alias("contam_frac"),
        )
    )


# ---------------------------------------------------------------------------
# ds_epoch_shuffle — deterministic per-epoch global shuffle order, the
# data-ordering stage of every LLM training run: each epoch must visit
# the corpus in a different pseudo-random order, the order must be
# REPRODUCIBLE (resume-from-step, loss-spike forensics), and it must be
# computable without a global sort. Position is a pure per-row hash of
# (doc_id, epoch) — Knuth multiplicative mixing with a distinct odd
# additive constant per epoch — so "shuffling" is just: assign pos,
# range-partition on pos, sort within partitions. No single-reducer
# orderBy anywhere; at 100 TB the writer shards are
# repartitionByRange(pos) outputs and the within-shard sort is local
# (tests/test_sampling_ext.py proves partition-local sorts reproduce
# the exact global order). The oracle-checked result is the full
# accounting of the assignment: per (epoch, writer shard) doc count,
# a doc_id checksum (every doc's placement feeds it), and the pos
# range — bit-identical in DuckDB because the hash is exact BIGINT
# arithmetic.
# ---------------------------------------------------------------------------

_EPOCHS = 2
_EPOCH_SALT = 2246822519  # xxHash PRIME32_2; any odd constant works
# 31-bit odd multiplier (T. Mueller's lowbias32 round constant): the
# mixed key is first reduced mod 2^32, so the product stays under
# 2^63 — exact in both engines' INT64 arithmetic, no overflow. (The
# 33-bit Knuth constant would overflow INT64 against a 32-bit key.)
_MIX31 = 0x45D9F3B
_SHUFFLE_SHARDS = 32
_SHARD_DIV = _M32 // _SHUFFLE_SHARDS  # high bits pick the shard


def shuffle_pos(key: Column, epoch: Column) -> Column:
    """Deterministic shuffle position in [0, 2^32) for (key, epoch).

    Multiplicative mixing randomizes the HIGH bits of the product, so
    shard assignment divides (takes high bits) rather than mods.
    """
    return F.pmod(
        F.pmod(key + (epoch + 1) * F.lit(_EPOCH_SALT), F.lit(_M32))
        * F.lit(_MIX31),
        F.lit(_M32),
    )


_POS_SQL = (
    f"(((doc_id + (epoch + 1) * {_EPOCH_SALT}) % {_M32}) * {_MIX31})"
    f" % {_M32}"
)


def ds_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    placed = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_EPOCHS - 1))).alias("epoch"),
    ).select(
        "doc_id",
        "epoch",
        shuffle_pos(F.col("doc_id"), F.col("epoch")).alias("pos"),
    )
    return (
        placed.withColumn("shard", F.floor(F.col("pos") / _SHARD_DIV))
        .groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("docs_checksum"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
        )
    )


_register(
    "ds_epoch_shuffle",
    ds_epoch_shuffle,
    f"""
    WITH placed AS (
      SELECT doc_id, epoch, {_POS_SQL} AS pos
      FROM documents, unnest(range(0, {_EPOCHS})) AS e(epoch)
    )
    SELECT epoch::INT AS epoch,
           (pos // {_SHARD_DIV})::BIGINT AS shard,
           count(*) AS n_docs,
           sum(doc_id)::BIGINT AS docs_checksum,
           min(pos)::BIGINT AS min_pos,
           max(pos)::BIGINT AS max_pos
    FROM placed
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# ds_pack_sequences — fixed-budget sequence packing, the step that
# turns a curated document stream into the fixed-length training
# sequences an LLM actually consumes: concatenate documents in a
# deterministic order and cut every BUDGET tokens (the GPT-style
# "document-boundary-agnostic" packing). Layout here:
#   shard  = content-hash bucket of doc_id (the packing worker);
#   order  = doc_id within shard (deterministic, append-stable);
#   start  = running token offset within the shard (window cumsum);
#   seq    = start / BUDGET — the training sequence the doc STARTS in;
#   spans_boundary — doc crosses a cut point (its tail continues into
#   the next sequence), the attention-masking bookkeeping packers emit.
# Scale shape: ONE shuffle (the per-shard window); per-shard state is
# bounded because shard count scales with corpus size (tokens /
# target-shard-tokens), so each window partition stays
# executor-sized — never a global sort, never driver state. The
# aggregate reuses the window's partitioning (same shard key), so AQE
# plans it shuffle-free on top.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256  # tokens per training sequence
_PACK_SHARDS = 8


def _shard_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-empty docs ``(doc_id, shard, dl)`` with ``cum``, the running
    token total of their shard in doc_id order."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        hash_bucket(F.col("doc_id"), _PACK_SHARDS).alias("shard"),
        token_count(F.col("text")).alias("dl"),
    ).filter(F.col("dl") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return docs.withColumn("cum", F.sum("dl").over(w))


def ds_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    placed = _shard_cumsum(spark, sf_dir).select(
        "shard",
        "doc_id",
        "dl",
        F.floor((F.col("cum") - F.col("dl")) / _PACK_BUDGET).alias("seq"),
        (
            F.floor((F.col("cum") - 1) / _PACK_BUDGET)
            > F.floor((F.col("cum") - F.col("dl")) / _PACK_BUDGET)
        ).alias("spans_boundary"),
    )
    return placed.groupBy("shard", "seq").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("n_tokens_started"),
        F.count_if(F.col("spans_boundary")).alias("n_spanning"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_PACK_BUCKET_SQL = f"((doc_id * {_KNUTH}) % {_M32}) % {_PACK_SHARDS}"

_register(
    "ds_pack_sequences",
    ds_pack_sequences,
    f"""
    WITH docs AS (
      SELECT doc_id,
             {_PACK_BUCKET_SQL} AS shard,
             len(string_split(text, ' ')) AS dl
      FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ),
    placed AS (
      SELECT shard, doc_id, dl,
             sum(dl) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
      FROM docs
    )
    SELECT shard::BIGINT AS shard,
           ((cum - dl) // {_PACK_BUDGET})::BIGINT AS seq,
           count(*) AS n_docs,
           sum(dl)::BIGINT AS n_tokens_started,
           count(*) FILTER (
             WHERE (cum - 1) // {_PACK_BUDGET}
                   > (cum - dl) // {_PACK_BUDGET}
           ) AS n_spanning,
           min(doc_id)::BIGINT AS first_doc,
           max(doc_id)::BIGINT AS last_doc
    FROM placed
    GROUP BY 1, 2
    """,
)


_register(
    "ds_decontaminate",
    ds_decontaminate,
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - {_DECON_N - 2}, 1)),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                         || t[i+3] || ' ' || t[i+4])) AS shingle
      FROM toks WHERE len(t) >= {_DECON_N}
    ),
    bench AS (SELECT * FROM sh WHERE doc_id % {_DECON_MOD} = 0),
    corpus AS (SELECT * FROM sh WHERE doc_id % {_DECON_MOD} != 0),
    sizes AS (
      SELECT doc_id, count(*) AS n_shingles FROM bench GROUP BY 1
    ),
    hits AS (
      SELECT b.doc_id AS bench_id,
             count(DISTINCT b.shingle) AS n_contaminated,
             count(DISTINCT c.doc_id) AS n_contaminating_docs
      FROM bench b JOIN corpus c ON b.shingle = c.shingle
      GROUP BY 1
    )
    SELECT s.doc_id,
           s.n_shingles::INT AS n_shingles,
           coalesce(h.n_contaminated, 0) AS n_contaminated,
           coalesce(h.n_contaminating_docs, 0) AS n_contaminating_docs,
           round(coalesce(h.n_contaminated, 0) * 1.0 / s.n_shingles, 4)
             AS contam_frac
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.bench_id
    """,
)


# ---------------------------------------------------------------------------
# ds_priority_sample — fixed-SIZE uniform sample (vs ds_hash_sample's
# fixed-RATE): every row gets a deterministic pseudo-random priority
# (the same multiplicative hash family as the other samplers) and the
# sample is the k smallest priorities. This is the distributed,
# deterministic equivalent of reservoir sampling: TakeOrdered keeps a
# k-heap per partition and merges k×partitions rows on the driver —
# no global sort, no second pass, mergeable across any partitioning —
# and re-running on the same corpus reproduces the same sample
# exactly. The final rank is a window over k rows only.
# ---------------------------------------------------------------------------

_PRIORITY_K = 25


def ds_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pri = knuth_priority(F.col("doc_id"))
    topk = (
        docs.select("doc_id", "lang", "n_chars", pri.alias("priority"))
        .orderBy(F.asc("priority"), F.asc("doc_id"))
        .limit(_PRIORITY_K)
    )
    w = Window.orderBy(F.asc("priority"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w))


_register(
    "ds_priority_sample",
    ds_priority_sample,
    f"""
    SELECT doc_id, lang, n_chars, priority, rank FROM (
      SELECT doc_id, lang, n_chars,
             (doc_id * {_KNUTH}) % {_M32} AS priority,
             row_number() OVER (ORDER BY (doc_id * {_KNUTH}) % {_M32} ASC,
                                doc_id ASC) AS rank
      FROM documents
    ) WHERE rank <= {_PRIORITY_K}
    """,
)


# ---------------------------------------------------------------------------
# ds_rag_index_stats — composed retrieval-index build (the RAG-side
# counterpart of ds_corpus_curation's training-side composition):
#   1. CHUNK   — non-overlapping fixed-width token chunks (the unit a
#                retrieval index stores), a narrow 1→n/C explode;
#   2. DEDUP   — drop exact-duplicate chunk text corpus-wide
#                (first-occurrence wins; boilerplate chunks would
#                otherwise dominate every posting list);
#   3. INDEX   — explode surviving chunks to terms, count each term's
#                posting-list length (distinct chunks containing it);
#   4. REPORT  — the posting-length distribution (how many terms have
#                how long a posting list), the number an index
#                deployment sizes its storage and stop-lists from.
# Scale shape: one window shuffle on the chunk hash, one term-keyed
# aggregate, one tiny distribution aggregate — candidate volume never
# quadratic, term keys are the only wide shuffle, and the final
# report is vocabulary-sized.
# ---------------------------------------------------------------------------

_RAG_CHUNK_W = 32


def ds_rag_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    chunks = (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size("toks") - 1, F.lit(0)),
                    F.lit(_RAG_CHUNK_W),
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            "s",
            F.slice(F.col("toks"), F.col("s") + 1, _RAG_CHUNK_W).alias("c"),
        )
    )
    # first occurrence per chunk hash via packed-argmin aggregate
    # ((doc_id, s) is unique): map-side combine, no sort — vs the
    # row_number-window form that shuffled and sorted every chunk
    kept = (
        chunks.groupBy(
            F.xxhash64(F.array_join(F.col("c"), " ")).alias("h")
        )
        .agg(F.min(F.struct("doc_id", "s", "c")).alias("k"))
        .select("k.doc_id", "k.s", "k.c")
    )
    postings = (
        kept.select(
            F.concat_ws("#", F.col("doc_id"), F.col("s")).alias("chunk_id"),
            F.explode(F.array_distinct(F.col("c"))).alias("term"),
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("posting_len"))
    )
    return (
        postings.groupBy("posting_len")
        .agg(F.count(F.lit(1)).alias("n_terms"))
    )


_register(
    "ds_rag_index_stats",
    ds_rag_index_stats,
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    chunks AS (
      SELECT doc_id, s,
             list_slice(toks, s + 1, least(s + {_RAG_CHUNK_W}, len(toks)))
               AS c
      FROM (
        SELECT doc_id, toks,
               unnest(range(0, greatest(len(toks), 1), {_RAG_CHUNK_W})) AS s
        FROM t
      )
    ),
    kept AS (
      SELECT doc_id, s, c FROM (
        SELECT doc_id, s, c,
               row_number() OVER (
                 PARTITION BY array_to_string(c, ' ')
                 ORDER BY doc_id, s) AS rn
        FROM chunks
      ) WHERE rn = 1
    ),
    postings AS (
      SELECT term, count(*) AS posting_len
      FROM (
        SELECT doc_id || '#' || s AS chunk_id, unnest(list_distinct(c)) AS term
        FROM kept
      )
      GROUP BY term
    )
    SELECT posting_len, count(*) AS n_terms
    FROM postings
    GROUP BY posting_len
    """,
)


# ---------------------------------------------------------------------------
# ds_dedup_aware_split — leakage-safe train/test splitting: hashing
# DOCUMENTS into splits lets two copies of the same content land in
# train AND test (the eval-contamination bug); hashing the duplicate
# GROUP (its keeper id) sends whole groups to one side. This operator
# is the audit that quantifies the difference: for both strategies,
# how many duplicate groups straddle the train/test boundary. The
# group-keyed strategy is zero by construction — the report proves it
# on real data rather than asserting it.
# Scale shape: one fingerprint window to attach the group keeper, two
# conditional aggregates over the same pass — no joins, 2 exchanges.
# ---------------------------------------------------------------------------


def ds_dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dd_connected_components

    # group key = near-dup cluster label (connected component of the
    # simhash pair graph) — the grouping under which leakage actually
    # happens; exact-fingerprint groups are singletons on this corpus
    grouped = dd_connected_components(spark, sf_dir)
    by_doc = F.when(hash_bucket(F.col("doc_id")) < 90, "train").otherwise(
        "test"
    )
    by_group = F.when(
        hash_bucket(F.col("component")) < 90, "train"
    ).otherwise("test")
    per_group = grouped.select(
        "component", by_doc.alias("s_doc"), by_group.alias("s_grp")
    ).groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("s_doc").alias("k_doc"),
        F.count_distinct("s_grp").alias("k_grp"),
    )
    return per_group.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count_if(F.col("n_docs") > 1).alias("n_dup_groups"),
        F.count_if(F.col("k_doc") > 1).alias("straddle_doc_keyed"),
        F.count_if(F.col("k_grp") > 1).alias("straddle_group_keyed"),
    )


_register(
    "ds_dedup_aware_split",
    ds_dedup_aware_split,
    f"""
    WITH comp AS (
      {{cc_sql}}
    ),
    labeled AS (
      SELECT component,
             CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90
                  THEN 'train' ELSE 'test' END AS s_doc,
             CASE WHEN ((component * 2654435761) % 4294967296) % 100 < 90
                  THEN 'train' ELSE 'test' END AS s_grp
      FROM comp
    ),
    per_group AS (
      SELECT component, count(*) AS n_docs,
             count(DISTINCT s_doc) AS k_doc,
             count(DISTINCT s_grp) AS k_grp
      FROM labeled GROUP BY 1
    )
    SELECT count(*) AS n_groups,
           count(*) FILTER (WHERE n_docs > 1) AS n_dup_groups,
           count(*) FILTER (WHERE k_doc > 1) AS straddle_doc_keyed,
           count(*) FILTER (WHERE k_grp > 1) AS straddle_group_keyed
    FROM per_group
    """.format(cc_sql=_DEDUP_ORACLE["dd_connected_components"]),
)


# ---------------------------------------------------------------------------
# ds_llm_pipeline — the COMPLETE LLM preprocessing pipeline as one
# declarative plan, chaining six north-star stages end-to-end (the
# superset of ds_corpus_curation, adding decontamination and packing):
#   1. QUALITY       — C4-style predicate (narrow scan filter);
#   2. DEDUP         — normalization-fingerprint, keep smallest doc_id
#                      (one fp-keyed window);
#   3. DECONTAMINATE — drop training docs sharing any 5-gram with the
#                      held-out bench slice (hashed shingles, bench
#                      side broadcast, LEFT ANTI join);
#   4. SPLIT         — deterministic content-hash train/valid/test;
#   5. PACK          — token-budget sequence assignment per hash shard
#                      (one bounded window, the ds_pack_sequences
#                      shape);
#   6. ACCOUNT       — per split: docs, tokens, training sequences,
#                      distinct sources — the numbers a training run
#                      is provisioned from.
# Corpus-sized shuffles: fp argmin aggregate, shingle distinct, pack
# window, and the accounting aggregates — bounded per stage regardless
# of corpus size (PLAN_AUDIT: 7 exchanges incl. broadcasts/
# repartition; the bench-hash join broadcasts its eval-suite-sized
# side, the contaminated-id anti-join is left to AQE) — the whole
# preprocessing chain ships as a single job.
# ---------------------------------------------------------------------------


def ds_llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast as _bc
    from pyspark.sql.window import Window

    from ..functions.text import (
        doc_fingerprint,
        hashed_word_shingles,
        tokens,
    )
    from .textops import c4_kept_expr

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    is_bench = F.col("doc_id") % 50 == 0
    # 1-2. quality filter, fingerprint dedup (training side only)
    kept = docs.filter(c4_kept_expr(F.col("text")) & ~is_bench).select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("dl"),
        doc_fingerprint(F.col("text")).alias("fp"),
        tokens(F.col("text")).alias("toks"),
    )
    # survivor per fingerprint via packed argmin AGGREGATE (struct
    # compares doc_id first; unique ids make it total) — vs the window
    # form this combines duplicates map-side and never sorts
    deduped = (
        kept.groupBy("fp")
        .agg(
            F.min(
                F.struct("doc_id", "source", "dl", "toks")
            ).alias("s")
        )
        .select("fp", "s.doc_id", "s.source", "s.dl", "s.toks")
    )
    # 3. decontamination: bench 5-gram hashes (eval-suite-sized →
    # broadcast), LEFT ANTI on any shared shingle hash
    # r11: hash-direct shingles on BOTH join sides — the 5-gram hash
    # is only an anti-join key here, so no string shingle is ever
    # built (r10 measurement: the string detour doubles the scan).
    bench_h = (
        docs.filter(is_bench)
        .select(
            F.explode(
                hashed_word_shingles(tokens(F.col("text")), 5)
            ).alias("h")
        )
        .distinct()
    )
    doc_h = deduped.select(
        "doc_id",
        F.explode(hashed_word_shingles(F.col("toks"), 5)).alias("h"),
    )
    contaminated = doc_h.join(_bc(bench_h), "h").select("doc_id").distinct()
    # The contaminated-id side is bench-overlap-sized in practice but
    # CORPUS-sized under adversarial bench/corpus overlap, so it gets
    # NO forced broadcast hint: AQE broadcasts it when its runtime
    # stats are small and falls back to a shuffle anti-join when not
    # (r3 judge note — a forced hint here is an executor OOM at 100 TB).
    clean = deduped.drop("toks").join(contaminated, "doc_id", "left_anti")
    # 4-5. split + shard + sequence packing
    split = split_label(F.col("doc_id"))
    placed = clean.select(
        "doc_id",
        "source",
        "dl",
        split.alias("split"),
        hash_bucket(F.col("doc_id"), _PACK_SHARDS).alias("shard"),
    ).filter(F.col("dl") > 0)
    wp = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seqd = placed.withColumn(
        "seq", F.floor((F.sum("dl").over(wp) - F.col("dl")) / _PACK_BUDGET)
    )
    # 6. accounting: sequence counts fold per (split, shard) first
    # (reuses the window's partitioning — no extra exchange), then per
    # split. Distinct sources ride the same two-level fold as a
    # collect_set per shard (the source domain is a bounded catalog of
    # corpus names, not corpus-sized) flattened per split — no second
    # corpus aggregation branch and no join.
    per_shard = seqd.groupBy("split", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("n_tokens"),
        (F.max("seq") + 1).alias("n_seqs"),
        F.collect_set("source").alias("shard_sources"),
    )
    return per_shard.groupBy("split").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_seqs").alias("n_sequences"),
        F.size(
            F.array_distinct(F.flatten(F.collect_list("shard_sources")))
        )
        .cast("long")
        .alias("n_sources"),
    )


def _contaminated_ctes(src: str) -> str:
    """DuckDB: the benchmark docs' 5-gram set ``bench_sh`` and the ids
    of ``src(doc_id, toks)`` rows sharing one, ``contaminated``."""
    return f"""bench_sh AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                         || t[i+3] || ' ' || t[i+4])) AS s
      FROM (SELECT string_split(text, ' ') AS t FROM documents
            WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 5)
    ),
    contaminated AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
        FROM {src} WHERE len(toks) >= 5
      ) JOIN bench_sh USING (s)
    ),"""


def _llm_pipeline_sql() -> str:
    from .textops import C4_KEPT_COND_SQL, C4_SCORED_COLS_SQL

    return f"""
    WITH scored AS (
      SELECT doc_id, source, n_chars, text,
{C4_SCORED_COLS_SQL}
      FROM documents
    ),
    kept AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS dl,
             md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
             string_split(text, ' ') AS toks
      FROM scored WHERE ({C4_KEPT_COND_SQL}) AND doc_id % 50 != 0
    ),
    deduped AS (
      SELECT * FROM kept
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
    ),
    {_contaminated_ctes("deduped")}
    clean AS (
      SELECT d.doc_id, d.source, d.dl FROM deduped d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated) AND d.dl > 0
    ),
    placed AS (
      SELECT doc_id, source, dl,
             CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                  WHEN {_BUCKET_SQL} < 90 THEN 'valid'
                  ELSE 'test' END AS split,
             {_PACK_BUCKET_SQL} AS shard
      FROM clean
    ),
    seqd AS (
      SELECT split, shard, doc_id, source, dl,
             ((sum(dl) OVER (PARTITION BY split, shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - dl)
              // {_PACK_BUDGET}) AS seq
      FROM placed
    ),
    per_shard AS (
      SELECT split, shard, count(*) AS n_docs, sum(dl) AS n_tokens,
             max(seq) + 1 AS n_seqs
      FROM seqd GROUP BY 1, 2
    )
    SELECT split,
           sum(n_docs)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS n_tokens,
           sum(n_seqs)::BIGINT AS n_sequences,
           (SELECT count(DISTINCT source) FROM seqd s
            WHERE s.split = per_shard.split) AS n_sources
    FROM per_shard
    GROUP BY split
    """


_register("ds_llm_pipeline", ds_llm_pipeline, _llm_pipeline_sql())


# ---------------------------------------------------------------------------
# ds_dataset_card — the per-source "dataset card" statistics table
# (what a data team publishes alongside a corpus release): volume,
# token count, quality pass-rate, exact-duplicate rate, and dominant
# language per source. One corpus scan; the duplicate flag is a
# fingerprint window, everything else is conditional aggregation —
# two exchanges total. The dominant language is a deterministic
# padded-string argmax — max(lpad(count) || lang) — so count ties
# break toward the lexicographically larger code in both engines.
# ---------------------------------------------------------------------------


def ds_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.text import doc_fingerprint
    from .textops import c4_kept_expr

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    wfp = Window.partitionBy(doc_fingerprint(F.col("text")))
    flagged = docs.withColumn(
        "is_dup", F.min("doc_id").over(wfp) != F.col("doc_id")
    ).withColumn("kept", c4_kept_expr(F.col("text")))
    per_lang = flagged.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(token_count(F.col("text"))).alias("toks"),
        F.count_if(F.col("kept")).alias("n_kept"),
        F.count_if(F.col("is_dup")).alias("n_dup"),
    )
    return per_lang.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.round(F.sum("n_kept") / F.sum("n"), 4).alias("quality_rate"),
        F.round(F.sum("n_dup") / F.sum("n"), 4).alias("dup_rate"),
        F.substring(
            F.max(
                F.concat(
                    F.lpad(F.col("n").cast("string"), 12, "0"),
                    F.col("lang"),
                )
            ),
            13,
            64,
        ).alias("top_lang"),
    )


def _dataset_card_sql() -> str:
    from .textops import C4_KEPT_COND_SQL, C4_SCORED_COLS_SQL

    return f"""
    WITH scored AS (
      SELECT doc_id, source, lang, text,
{C4_SCORED_COLS_SQL}
      FROM documents
    ),
    flagged AS (
      SELECT source, lang,
             len(string_split(text, ' ')) AS toks,
             ({C4_KEPT_COND_SQL}) AS kept,
             min(doc_id) OVER (
               PARTITION BY md5(regexp_replace(lower(text),
                                               '[^a-z0-9]', '', 'g'))
             ) != doc_id AS is_dup
      FROM scored
    ),
    per_lang AS (
      SELECT source, lang, count(*) AS n, sum(toks) AS toks,
             count(*) FILTER (WHERE kept) AS n_kept,
             count(*) FILTER (WHERE is_dup) AS n_dup
      FROM flagged GROUP BY 1, 2
    )
    SELECT source,
           sum(n)::BIGINT AS n_docs,
           sum(toks)::BIGINT AS n_tokens,
           round(sum(n_kept) * 1.0 / sum(n), 4) AS quality_rate,
           round(sum(n_dup) * 1.0 / sum(n), 4) AS dup_rate,
           substr(max(concat(lpad(n::VARCHAR, 12, '0'), lang)), 13, 64)
             AS top_lang
    FROM per_lang
    GROUP BY source
    """


_register("ds_dataset_card", ds_dataset_card, _dataset_card_sql())


# ---------------------------------------------------------------------------
# ds_quality_ablation — stage-attribution ablation for the curation
# pipeline: how many documents/tokens does EACH filter remove on its
# own, and how many survive all of them together? This is the table a
# data team reads before shipping a filter change (a stage that
# removes 40% alone but 1% marginally is redundant; one that removes
# little alone but much jointly is interacting). One annotated corpus
# pass (quality flag, duplicate flag via fingerprint window,
# contamination flag via the bench-shingle broadcast join), then one
# conditional aggregate per ablation row over the SAME frame.
# ---------------------------------------------------------------------------


def ds_quality_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast as _bc

    from ..functions.text import (
        doc_fingerprint,
        hashed_word_shingles,
        tokens,
    )
    from .textops import c4_kept_expr

    docs = load_table(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id",
        # NULL-guarded: size(split(NULL)) is -1 under this build's
        # legacy sizeOfNull, which would SUBTRACT from the token sums;
        # the oracle's len(string_split(NULL)) is NULL (sum skips it).
        F.when(
            F.col("text").isNotNull(), token_count(F.col("text"))
        ).alias("dl"),
        c4_kept_expr(F.col("text")).alias("q_ok"),
        # Sentinel-coalesced fp: the duplicate flag rides an inner fp
        # join (below), and an equi-join on a NULL fp would silently
        # drop NULL-text rows that the oracle's min() OVER
        # (PARTITION BY fp) keeps as one group. No md5 digest is
        # "<null>", so the sentinel cannot collide (r9 advice item).
        F.coalesce(
            doc_fingerprint(F.col("text")), F.lit("<null>")
        ).alias("fp"),
        tokens(F.col("text")).alias("toks"),
    )
    # Duplicate flag via groupBy + fp-keyed join, NOT min() OVER
    # (PARTITION BY fp) (r9 rehearsal fallout): the window funnels
    # each fingerprint group through ONE WindowExec task — a
    # byte-identical hub at 100 TB is one task sorting the whole
    # group, and no config fixes window skew. The aggregate gets
    # map-side combine and the fp join is AQE-skew-splittable; the
    # shingle explode for the contamination branch runs NARROW off
    # the scan so the token arrays never ride the fp exchange.
    slim = docs.drop("toks")
    fp_min = slim.groupBy("fp").agg(F.min("doc_id").alias("_fp_min"))
    flagged = slim.join(fp_min, "fp").withColumn(
        "d_ok", F.col("_fp_min") == F.col("doc_id")
    )
    # r11: hash-direct shingles on both contamination-join sides (the
    # hash is only an equi-join key; see ds_decontaminate).
    bench_h = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select(
            F.explode(
                hashed_word_shingles(tokens(F.col("text")), 5)
            ).alias("h")
        )
        .distinct()
    )
    # bench_h broadcasts by CONTRACT (a benchmark suite is a fixed
    # small artifact; the %50 slice only stands in for it in test
    # data). `contaminated` is CORPUS-derived — contaminated training
    # doc_ids — so it must NOT be hint-broadcast (the r9 fix: the old
    # plan forced a broadcast that grows with the corpus and OOMs the
    # driver at scale; ds_contamination_report always had it right).
    # AQE still broadcasts it at runtime while it fits.
    contaminated = (
        docs.select(
            "doc_id",
            F.explode(hashed_word_shingles(F.col("toks"), 5)).alias("h"),
        )
        .join(_bc(bench_h), "h")
        .select("doc_id")
        .distinct()
        .withColumn("contam", F.lit(True))
    )
    ann = (
        flagged.drop("_fp_min")
        .join(contaminated, "doc_id", "left")
        .withColumn("c_ok", F.col("contam").isNull())
    )

    # ONE conditional aggregate for ALL ablation rows, then a struct
    # unpivot (r11 scan-count audit): the old per-row agg + union
    # re-derived the entire annotated pipeline per branch — 14 scans
    # of `documents` in one plan, i.e. 14 full corpus passes at
    # 100 TB. This form pays the annotation exactly once; the unpivot
    # explodes a 1-row aggregate, which is free.
    ablations = [
        ("raw", F.lit(True)),
        ("quality_only", F.col("q_ok")),
        ("dedup_only", F.col("d_ok")),
        ("decontam_only", F.col("c_ok")),
        (
            "all_filters",
            F.col("q_ok") & F.col("d_ok") & F.col("c_ok"),
        ),
    ]
    measures = [F.sum("dl").alias("_nt_all")]
    for name, cond in ablations:
        measures.append(F.count_if(cond).alias(f"_nd_{name}"))
        measures.append(
            F.sum(F.when(cond, F.col("dl")).otherwise(0)).alias(
                f"_nt_{name}"
            )
        )
    wide = ann.agg(*measures)
    return wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("ablation"),
                        F.col(f"_nd_{name}").alias("n_docs"),
                        F.col(f"_nt_{name}").alias("n_tokens"),
                        F.round(
                            F.col(f"_nt_{name}") / F.col("_nt_all"), 4
                        ).alias("token_frac"),
                    )
                    for name, _ in ablations
                ]
            )
        ).alias("r")
    ).select("r.*")


def _ablation_sql() -> str:
    from .textops import C4_KEPT_COND_SQL, C4_SCORED_COLS_SQL

    return f"""
    WITH scored AS (
      SELECT doc_id, text,
{C4_SCORED_COLS_SQL}
      FROM documents
    ),
    base AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS dl,
             ({C4_KEPT_COND_SQL}) AS q_ok,
             md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
             string_split(text, ' ') AS toks
      FROM scored
    ),
    flagged AS (
      SELECT doc_id, dl, q_ok, toks,
             min(doc_id) OVER (PARTITION BY fp) = doc_id AS d_ok
      FROM base
    ),
    {_contaminated_ctes("flagged")}
    ann AS (
      SELECT f.doc_id, f.dl, f.q_ok, f.d_ok,
             f.doc_id NOT IN (SELECT doc_id FROM contaminated) AS c_ok
      FROM flagged f
    )
    SELECT 'raw' AS ablation, count(*) AS n_docs,
           sum(dl)::BIGINT AS n_tokens,
           round(sum(dl) * 1.0 / sum(dl), 4) AS token_frac
    FROM ann
    UNION ALL
    SELECT 'quality_only', count(*) FILTER (WHERE q_ok),
           coalesce(sum(dl) FILTER (WHERE q_ok), 0)::BIGINT,
           round(coalesce(sum(dl) FILTER (WHERE q_ok), 0) * 1.0
                 / sum(dl), 4)
    FROM ann
    UNION ALL
    SELECT 'dedup_only', count(*) FILTER (WHERE d_ok),
           coalesce(sum(dl) FILTER (WHERE d_ok), 0)::BIGINT,
           round(coalesce(sum(dl) FILTER (WHERE d_ok), 0) * 1.0
                 / sum(dl), 4)
    FROM ann
    UNION ALL
    SELECT 'decontam_only', count(*) FILTER (WHERE c_ok),
           coalesce(sum(dl) FILTER (WHERE c_ok), 0)::BIGINT,
           round(coalesce(sum(dl) FILTER (WHERE c_ok), 0) * 1.0
                 / sum(dl), 4)
    FROM ann
    UNION ALL
    SELECT 'all_filters', count(*) FILTER (WHERE q_ok AND d_ok AND c_ok),
           coalesce(sum(dl) FILTER (WHERE q_ok AND d_ok AND c_ok),
                    0)::BIGINT,
           round(coalesce(sum(dl) FILTER (WHERE q_ok AND d_ok AND c_ok), 0)
                 * 1.0 / sum(dl), 4)
    FROM ann
    """


_register("ds_quality_ablation", ds_quality_ablation, _ablation_sql())


# ---------------------------------------------------------------------------
# ds_length_histogram — token-length distribution in log2 buckets per
# source (the standard dataset-release histogram: truncation-rate
# planning for a given context window reads straight off it). Bucket
# = ⌊log2(dl)⌋ as exact integer bit-length arithmetic (no float log —
# engine-portable), one conditional aggregate per scan.
# ---------------------------------------------------------------------------


def ds_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).alias("dl")
    ).filter(F.col("dl") > 0)
    # floor(log2(dl)) via bit length: exact for integers on any engine
    bucket = (F.length(F.conv(F.col("dl").cast("string"), 10, 2)) - 1).cast(
        "int"
    )
    return docs.groupBy("source", bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("dl").alias("min_len"),
        F.max("dl").alias("max_len"),
    )


_register(
    "ds_length_histogram",
    ds_length_histogram,
    """
    WITH d AS (
      SELECT source, len(string_split(text, ' ')) AS dl FROM documents
      WHERE len(string_split(text, ' ')) > 0
    )
    SELECT source,
           (length(ltrim(bin(dl), '0')) - 1)::INT AS log2_bucket,
           count(*) AS n_docs,
           min(dl)::INT AS min_len,
           max(dl)::INT AS max_len
    FROM d
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# ds_pack_efficiency — packing-waste report for ds_pack_sequences'
# layout: per shard, how full the budget-sized training sequences
# actually are (fill = tokens / (sequences × budget)). The unfilled
# tail of each shard's last sequence is padding a trainer pays for —
# this report is how a packing config (budget, shard count) gets
# tuned before a run. Same single bounded window as the packer, one
# per-shard aggregate on its partitioning.
# ---------------------------------------------------------------------------


def ds_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqd = _shard_cumsum(spark, sf_dir)
    per_shard = seqd.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("cum").alias("n_tokens"),
        (F.ceil(F.max("cum") / _PACK_BUDGET)).alias("n_seqs"),
    )
    return per_shard.select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_seqs",
        F.round(
            F.col("n_tokens") / (F.col("n_seqs") * _PACK_BUDGET), 4
        ).alias("fill_frac"),
    )


_register(
    "ds_pack_efficiency",
    ds_pack_efficiency,
    f"""
    WITH d AS (
      SELECT doc_id,
             {_PACK_BUCKET_SQL} AS shard,
             len(string_split(text, ' ')) AS dl
      FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ),
    per_shard AS (
      SELECT shard, count(*) AS n_docs, sum(dl) AS n_tokens,
             ceil(sum(dl) * 1.0 / {_PACK_BUDGET})::BIGINT AS n_seqs
      FROM d GROUP BY 1
    )
    SELECT shard::BIGINT AS shard, n_docs, n_tokens::BIGINT AS n_tokens,
           n_seqs,
           round(n_tokens * 1.0 / (n_seqs * {_PACK_BUDGET}), 4) AS fill_frac
    FROM per_shard
    """,
)


# ---------------------------------------------------------------------------
# ds_anneal_schedule — quality-annealing training schedule: early
# epochs see the full corpus, the final epoch anneals to the
# high-quality subset (the curriculum used by recent model recipes:
# breadth first, quality last). Epoch membership is a pure predicate
# (epoch 0 = everything, epoch 1 = C4-kept only), so the schedule is
# one explode + conditional filter inside the scan stage; the
# accounting aggregate tells the trainer its per-epoch token budget
# per source.
# ---------------------------------------------------------------------------

_ANNEAL_EPOCHS = 2


def ds_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import c4_kept_expr

    docs = load_table(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("dl"),
        c4_kept_expr(F.col("text")).alias("q_ok"),
    )
    sched = docs.select(
        "source",
        "dl",
        "q_ok",
        F.explode(
            F.sequence(F.lit(0), F.lit(_ANNEAL_EPOCHS - 1))
        ).alias("epoch"),
    ).filter((F.col("epoch") == 0) | F.col("q_ok"))
    return sched.groupBy("epoch", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("n_tokens"),
    )


def _anneal_sql() -> str:
    from .textops import C4_KEPT_COND_SQL, C4_SCORED_COLS_SQL

    return f"""
    WITH scored AS (
      SELECT doc_id, source, text,
{C4_SCORED_COLS_SQL}
      FROM documents
    ),
    base AS (
      SELECT source,
             len(string_split(text, ' ')) AS dl,
             ({C4_KEPT_COND_SQL}) AS q_ok
      FROM scored
    ),
    sched AS (
      SELECT source, dl, q_ok, e.epoch
      FROM base CROSS JOIN (SELECT unnest(range({_ANNEAL_EPOCHS}))
                            AS epoch) e
      WHERE e.epoch = 0 OR q_ok
    )
    SELECT epoch::INT AS epoch, source,
           count(*) AS n_docs,
           sum(dl)::BIGINT AS n_tokens
    FROM sched
    GROUP BY 1, 2
    """


_register("ds_anneal_schedule", ds_anneal_schedule, _anneal_sql())


# ---------------------------------------------------------------------------
# ds_temperature_mixture — temperature-scaled source sampling weights
# (the multilingual/multi-source mixing rule: q_i ∝ p_i^α flattens the
# head so low-resource sources are not drowned; α=1 is natural
# proportion, α→0 uniform). Two tiny aggregates over one corpus scan:
# per-source doc/token counts, then the source-bounded weight table
# normalizes via a broadcast total — no corpus-sized shuffle beyond
# the per-source groupBy. α is 0.5 so the power is computed as sqrt(),
# which is correctly-rounded IEEE in every engine — the exponent
# choice keeps the oracle comparison exact instead of pow()-ulp-lucky.
# ---------------------------------------------------------------------------


def ds_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_docs").alias("total_docs"),
        F.sum(F.sqrt(F.col("n_docs"))).alias("z"),
    )
    from pyspark.sql.functions import broadcast as _bc

    p = F.col("n_docs") / F.col("total_docs")
    q = F.sqrt(F.col("n_docs")) / F.col("z")
    return (
        per_src.crossJoin(_bc(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(p, 6).alias("p_natural"),
            F.round(q, 6).alias("q_temp"),
            F.round(q / p, 4).alias("boost"),
        )
    )


_register(
    "ds_temperature_mixture",
    ds_temperature_mixture,
    """
    WITH per_src AS (
      SELECT source, count(*) AS n_docs,
             sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ),
    totals AS (
      SELECT sum(n_docs) AS total_docs, sum(sqrt(n_docs)) AS z
      FROM per_src
    )
    SELECT source, n_docs, n_tokens,
           round(n_docs / total_docs, 6) AS p_natural,
           round(sqrt(n_docs) / z, 6) AS q_temp,
           round((sqrt(n_docs) / z) / (n_docs / total_docs), 4) AS boost
    FROM per_src CROSS JOIN totals
    """,
)


# ---------------------------------------------------------------------------
# ds_token_budget_planner — provisioning arithmetic for a training
# run: given a per-epoch token budget and the temperature-scaled
# source weights (ds_temperature_mixture's q_i), how many tokens each
# source owes, how many documents that is at the source's average
# length, and how many passes over the source it implies (>1 ⇒
# upsampling). Same two tiny aggregates as the mixture — the planner
# is pure arithmetic on source-bounded rows; integer ceilings keep
# the engine/oracle comparison exact.
# ---------------------------------------------------------------------------

_PLAN_EPOCH_TOKENS = 100_000


def ds_token_budget_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast as _bc

    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    totals = per_src.agg(F.sum(F.sqrt(F.col("n_docs"))).alias("z"))
    q = F.sqrt(F.col("n_docs")) / F.col("z")
    budget = F.floor(q * _PLAN_EPOCH_TOKENS).cast("long")
    # ceil(a/b) as (a + b - 1) DIV b — exact integer math both engines
    docs_needed = F.expr(
        "CAST((budget_tokens + avg_doc_tokens - 1) DIV avg_doc_tokens "
        "AS BIGINT)"
    )
    return (
        per_src.crossJoin(_bc(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            budget.alias("budget_tokens"),
            (F.col("n_tokens") / F.col("n_docs"))
            .cast("long")
            .alias("avg_doc_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "budget_tokens",
            "avg_doc_tokens",
            docs_needed.alias("docs_needed"),
            F.round(F.col("budget_tokens") / F.col("n_tokens"), 4).alias(
                "epochs_over_source"
            ),
        )
    )


_register(
    "ds_token_budget_planner",
    ds_token_budget_planner,
    f"""
    WITH per_src AS (
      SELECT source, count(*) AS n_docs,
             sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ),
    totals AS (SELECT sum(sqrt(n_docs)) AS z FROM per_src),
    planned AS (
      SELECT source, n_docs, n_tokens,
             floor(sqrt(n_docs) / z * {_PLAN_EPOCH_TOKENS})::BIGINT
               AS budget_tokens,
             (n_tokens // n_docs)::BIGINT AS avg_doc_tokens
      FROM per_src CROSS JOIN totals
    )
    SELECT source, n_docs, n_tokens, budget_tokens, avg_doc_tokens,
           ((budget_tokens + avg_doc_tokens - 1) // avg_doc_tokens)::BIGINT
             AS docs_needed,
           round(budget_tokens * 1.0 / n_tokens, 4) AS epochs_over_source
    FROM planned
    """,
)


# ---------------------------------------------------------------------------
# ds_dsir_importance — Data Selection via Importance Resampling (DSIR,
# Xie et al. 2023, arXiv:2302.03169): pick raw-corpus documents whose
# token distribution looks most like a small high-quality TARGET
# domain. Each document is scored by the mean per-token importance
# log-ratio
#   score(x) = avg_{w in x} [ ln p_target(w) - ln p_raw(w) ]
# with add-k smoothing over the shared vocabulary (the paper hashes
# n-grams into buckets; raw unigrams are used here so the features —
# and therefore the scores — are bit-identical in the DuckDB oracle,
# which has no portable 64-bit hash). The target domain is the
# lexicographically first source (deterministic, domain-independent);
# the paper's Gumbel-noise resampling step is replaced by a
# deterministic top-K by (rounded score, doc_id) so the selection is
# oracle-checkable.
# Scale shape: one tokenize pass; both count tables are vocab-bounded
# with map-side combine; the per-token score join is on the term key
# and unhinted (AQE broadcasts the vocab side while it fits); the
# corpus stream shuffles once for the per-doc aggregate plus once for
# the score join when the vocab outgrows broadcast. Top-K is
# TakeOrdered, never a global sort.
# ---------------------------------------------------------------------------

_DSIR_K = 0.5  # add-k smoothing
_DSIR_TOPK = 100


def ds_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    target_src = docs.agg(F.min("source").alias("tsrc"))
    inst = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    inst = inst.crossJoin(broadcast(target_src)).withColumn(
        "is_target", F.col("source") == F.col("tsrc")
    )
    counts = inst.groupBy("term").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("is_target"), 1).otherwise(0)).alias("cr"),
    )
    totals = counts.agg(
        F.sum("ct").alias("nt"),
        F.sum("cr").alias("nr"),
        F.count(F.lit(1)).alias("v"),
    )
    ratios = counts.crossJoin(broadcast(totals)).select(
        "term",
        (
            F.log(
                (F.col("ct") + F.lit(_DSIR_K))
                / (F.col("nt") + F.lit(_DSIR_K) * F.col("v"))
            )
            - F.log(
                (F.col("cr") + F.lit(_DSIR_K))
                / (F.col("nr") + F.lit(_DSIR_K) * F.col("v"))
            )
        ).alias("lr"),
    )
    scored = (
        inst.filter(~F.col("is_target"))
        .join(ratios, "term")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lr"), 4).alias("dsir_score"),
        )
    )
    return scored.orderBy(
        F.desc("dsir_score"), F.asc("doc_id")
    ).limit(_DSIR_TOPK)


_register(
    "ds_dsir_importance",
    ds_dsir_importance,
    f"""
    WITH tgt AS (SELECT min(source) AS tsrc FROM documents),
    inst AS (
      SELECT doc_id, source, term,
             source = (SELECT tsrc FROM tgt) AS is_target
      FROM (SELECT doc_id, source,
                   unnest(string_split(text, ' ')) AS term
            FROM documents)
      WHERE term <> ''
    ),
    counts AS (
      SELECT term,
             sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS cr
      FROM inst GROUP BY 1
    ),
    totals AS (
      SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM counts
    ),
    ratios AS (
      SELECT term,
             ln((ct + {_DSIR_K}) / (nt + {_DSIR_K} * v))
           - ln((cr + {_DSIR_K}) / (nr + {_DSIR_K} * v)) AS lr
      FROM counts CROSS JOIN totals
    )
    SELECT doc_id, source,
           count(*) AS n_tokens,
           round(avg(lr), 4) AS dsir_score
    FROM inst JOIN ratios USING (term)
    WHERE NOT is_target
    GROUP BY doc_id, source
    ORDER BY dsir_score DESC, doc_id ASC
    LIMIT {_DSIR_TOPK}
    """,
)


# ---------------------------------------------------------------------------
# ds_contamination_report — the per-source CONTAMINATION AUDIT that
# pairs with ds_decontaminate: decontamination filters the corpus, this
# reports where the contamination lives. For each training source:
# documents total, documents sharing any benchmark 5-gram, the rate,
# and how many tokens filtering them would cost — the table a data
# lead reads before deciding whether a source's overlap is leakage or
# boilerplate (GPT-3 appendix-C style reporting, per-source instead of
# per-benchmark). Scale shape identical to ds_decontaminate: hashed
# 5-gram equi-join, benchmark side broadcast (eval-suite-sized),
# corpus never self-joins; the contaminated-id set is semi-joined
# back unhinted, then one groupBy(source) fold.
# ---------------------------------------------------------------------------


def ds_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from ..functions.text import hashed_word_shingles, token_count, tokens

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    is_bench = F.col("doc_id") % _DECON_MOD == 0
    # r11: hash-direct shingles (join key only; see ds_decontaminate).
    sh = docs.select(
        "doc_id",
        is_bench.alias("is_bench"),
        F.explode(
            hashed_word_shingles(tokens(F.col("text")), _DECON_N)
        ).alias("h"),
    )
    bench_h = sh.filter(F.col("is_bench")).select("h").distinct()
    contaminated = (
        sh.filter(~F.col("is_bench"))
        .join(broadcast(bench_h), "h")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = docs.filter(~is_bench).select(
        "doc_id", "source", token_count(F.col("text")).alias("dl")
    )
    return (
        train.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_contaminated"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1)), 4
            ).alias("contam_rate"),
            F.sum(
                F.when(F.col("hit").isNotNull(), F.col("dl")).otherwise(0)
            ).alias("tokens_at_risk"),
        )
    )


_register(
    "ds_contamination_report",
    ds_contamination_report,
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - {_DECON_N - 2}, 1)),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                         || t[i+3] || ' ' || t[i+4])) AS s
      FROM toks WHERE len(t) >= {_DECON_N}
    ),
    bench_h AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % {_DECON_MOD} = 0
    ),
    contaminated AS (
      SELECT DISTINCT doc_id FROM sh
      WHERE doc_id % {_DECON_MOD} <> 0 AND s IN (SELECT s FROM bench_h)
    )
    SELECT source,
           count(*) AS n_docs,
           sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_contaminated,
           round(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS contam_rate,
           sum(CASE WHEN c.doc_id IS NOT NULL
                    THEN len(string_split(text, ' ')) ELSE 0 END)::BIGINT
             AS tokens_at_risk
    FROM documents d LEFT JOIN contaminated c USING (doc_id)
    WHERE d.doc_id % {_DECON_MOD} <> 0
    GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# ds_global_row_ids — contiguous 0-based global row IDs ordered by a
# key, WITHOUT a single-partition global window (the thing that cannot
# exist at 100 TB: `row_number() OVER (ORDER BY k)` funnels the whole
# corpus through one reducer). The distributed idiom:
#
#   1. order-aligned range buckets from repartitionByRange — the
#      RangePartitioner's reservoir sampling runs INSIDE the job (no
#      driver-side action during plan construction), and the bucket id
#      is simply spark_partition_id();
#   2. per-bucket counts → EXCLUSIVE prefix offsets, a window over the
#      ≤ _ROWID_BUCKETS-row counts table (single-partition is fine —
#      it's bucket-count-sized, never corpus-sized);
#   3. per-bucket local rank + broadcast offset join:
#      global_id = offset + local_rank.
#
# r6: the local rank comes from sortWithinPartitions +
# monotonically_increasing_id instead of a row_number window. The
# window form paid a SECOND corpus-sized shuffle — Catalyst can't see
# that bkt ≡ the range exchange's partition id, so
# `Window.partitionBy(bkt)` inserted hashpartitioning(bkt) over data
# the range exchange had already co-located (two full shuffles of the
# corpus at 100 TB, confirmed in the r5 physical plan). After
# sortWithinPartitions(doc_id), monotonically_increasing_id() is
# pid·2³³ + row-index-in-partition (Spark's documented layout), so
# local_rank = id & (2³³−1) with zero extra exchanges; per-bucket
# rows past 2³³ would need wider buckets, and any layout change is
# caught loudly by the 0..n−1 permutation property test and the
# oracle gate.
#
# CONSISTENCY (late-r6 fix, found in review): the counts branch and
# the rank branch must see the SAME bucket boundaries, but
# RangePartitioner's reservoir sample is seeded with the rdd.id of
# each physical exchange — two independently-instantiated exchanges
# over the same data may sample DIFFERENT rows once partitions exceed
# the reservoir size, and offsets from one bucketing added to ranks
# from another silently break the 0..n−1 permutation (masked at test
# SFs where the reservoir holds every row). Exchange reuse does not
# unify the branches either — column pruning gives the counts side a
# narrower scan, so the subtrees never canonicalize equal. The fix is
# a lazy persist() on the ranged corpus: the CacheManager substitutes
# ONE shared InMemoryRelation into both consumers by canonical-plan
# match, so both read the same physical RDD — same rdd.id, same
# sampling seed, identical boundaries even if a racing consumer
# recomputes a partition from lineage instead of reading the cached
# block. This is the DataFrame-land analog of RDD zipWithIndex's
# materialization: disk-spillable (MEMORY_AND_DESERIALIZED default;
# the assigner's output is corpus-sized state a production run
# materializes anyway), and lazy — no construction job.
#
# Where the range boundaries fall affects only the parallelism
# boundary — the output (doc_id → id) is invariant to it because
# buckets are ranges of the order key and doc_id is unique, which is
# what makes the operator oracle-checkable against the single-window
# SQL definition (and lets the property test vary the bucket count).
# ---------------------------------------------------------------------------

_ROWID_BUCKETS = 32
_ROWID_LOCAL_BITS = 33  # monotonically_increasing_id: pid·2³³ + row idx


def ds_global_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ranged = docs.repartitionByRange(
        _ROWID_BUCKETS, F.asc("doc_id")
    ).persist()

    w_off = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        ranged.select(F.spark_partition_id().alias("bkt"))
        .groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bkt",
            F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset"),
        )
    )
    local = (
        ranged.sortWithinPartitions("doc_id")
        .select(
            "doc_id",
            "source",
            F.spark_partition_id().alias("bkt"),
            F.monotonically_increasing_id().alias("mid"),
        )
        .select(
            "doc_id",
            "source",
            "bkt",
            F.col("mid")
            .bitwiseAND(F.lit((1 << _ROWID_LOCAL_BITS) - 1))
            .alias("local_rank"),
        )
    )
    return local.join(F.broadcast(offsets), "bkt").select(
        "doc_id",
        "source",
        (F.col("offset") + F.col("local_rank")).alias("global_id"),
    )


_register(
    "ds_global_row_ids",
    ds_global_row_ids,
    """
    SELECT doc_id, source,
           row_number() OVER (ORDER BY doc_id) - 1 AS global_id
    FROM documents
    """,
)


# ---------------------------------------------------------------------------
# ds_shard_manifest — output-shard planning: greedy byte-budget
# packing of each source's documents (in doc_id order) into shards of
# ~_SHARD_TARGET_BYTES, reported as a write manifest (doc counts,
# bytes, id range per shard). This is the planning half of a 100 TB
# materialization: decide file boundaries BEFORE the write so shard
# sizes are uniform and deterministic, instead of inheriting whatever
# task boundaries the shuffle produced (the small-files problem).
#
# shard_idx = floor(exclusive_running_bytes / target). Unlike the
# pack family (whose shard count is a FREE parameter a production run
# scales with the corpus), `source` is a data attribute — a 20-source
# corpus has n/20 docs per source forever, so a per-source running-sum
# window is a structural straggler at 100 TB. late-r8: the
# decomposition the old note only described is now implemented — the
# two-phase prefix of ds_global_row_ids, summing bytes instead of
# counting rows, with deterministic ORDER-ALIGNED CELLS instead of a
# range exchange (doc_id is the order key, so floor(doc_id / W) is a
# coarse bucketing no sampling pass needs to discover):
#   1. ONE hash exchange on (source, cell); the within-cell exclusive
#      byte prefix is a window whose partition holds <= W docs;
#   2. per-(source, cell) byte totals ride the same clustering
#      (map-side-combinable aggregate, no new exchange), and the
#      exclusive prefix over a source's cells is a window over the
#      CELL TABLE — n/W-row inputs, the W-fold-reduced hierarchy
#      level, same size class as ds_global_row_ids' counts table;
#   3. join the cell prefix back on (source, cell) — co-partitioned
#      with step 1's exchange, so no corpus re-shuffle.
# Value-identical to the single-window form (the oracle SQL below IS
# that form, so the gate pins the identity at every scale).
# ---------------------------------------------------------------------------

_SHARD_TARGET_BYTES = 4096
_MANIFEST_CELL_DOCS = 1024  # W: max docs a within-cell window task sorts


def ds_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.floor(F.col("doc_id") / _MANIFEST_CELL_DOCS).alias("cell"),
    )
    w_cell = (
        Window.partitionBy("source", "cell")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = docs.withColumn(
        "cum_in_cell", F.coalesce(F.sum("n_chars").over(w_cell), F.lit(0))
    )
    cell_tot = docs.groupBy("source", "cell").agg(
        F.sum("n_chars").alias("cell_bytes")
    )
    w_src = (
        Window.partitionBy("source")
        .orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cell_off = cell_tot.select(
        "source",
        "cell",
        F.coalesce(F.sum("cell_bytes").over(w_src), F.lit(0)).alias(
            "cell_prefix"
        ),
    )
    sharded = local.join(cell_off, ["source", "cell"]).withColumn(
        "shard_idx",
        F.floor(
            (F.col("cell_prefix") + F.col("cum_in_cell"))
            / F.lit(_SHARD_TARGET_BYTES)
        ),
    )
    return (
        sharded.groupBy("source", "shard_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


_register(
    "ds_shard_manifest",
    ds_shard_manifest,
    f"""
    WITH cum AS (
      SELECT doc_id, source, n_chars,
             floor(coalesce(sum(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) / {_SHARD_TARGET_BYTES}) AS shard_idx
      FROM documents
    )
    SELECT source, shard_idx::BIGINT AS shard_idx,
           count(*) AS n_docs,
           sum(n_chars)::BIGINT AS shard_bytes,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM cum
    GROUP BY source, shard_idx
    """,
)


# ---------------------------------------------------------------------------
# ds_source_cap — per-source document cap (corpus balancing): keep at
# most _SOURCE_CAP docs per source, selected by the deterministic
# Knuth-hash priority (content-keyed, so the SAME documents survive
# on any engine, any partitioning, any rerun — the reproducibility
# contract hash_bucket exists for, applied per group). This is the
# anti-domination rule of web-corpus curation: no source may swamp
# the mixture regardless of its raw size.
#
# late-r8 plan shape: the old form ranked EVERY row per source and fed
# all ranks into one aggregate — `source` is a data attribute (a
# 20-source corpus puts n/20 rows in each rank-window task forever),
# and because over-cap rows were consumed too, Spark could not prune
# the sort (WindowGroupLimit only fires when a rank<=k filter
# IMMEDIATELY follows the window). Split into two branches instead:
# the kept side filters rank <= CAP right after the window, so the
# Partial WindowGroupLimit truncates every map partition to CAP rows
# BEFORE the shuffle (the per-source task then sorts <= CAP x maps
# rows, never the source); the totals side is a plain
# map-side-combinable aggregate with no window at all. Dropped counts
# are the complement (n_docs - n_kept). Both branches and the final
# join are hash-partitioned by source, so the join adds no exchange.
# Value-identical (same oracle SQL pins it at every scale).
# ---------------------------------------------------------------------------

_SOURCE_CAP = 15


def ds_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    pri = knuth_priority(F.col("doc_id"))
    w = Window.partitionBy("source").orderBy(pri.asc(), F.col("doc_id").asc())
    kept = (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SOURCE_CAP)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )
    return totals.join(kept, "source").select(
        "source",
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
        "kept_chars",
    )


_register(
    "ds_source_cap",
    ds_source_cap,
    f"""
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY (doc_id * {_KNUTH}) % {_M32} ASC, doc_id ASC
             ) AS rk
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           count(*) FILTER (WHERE rk <= {_SOURCE_CAP}) AS n_kept,
           count(*) FILTER (WHERE rk > {_SOURCE_CAP}) AS n_dropped,
           coalesce(sum(n_chars) FILTER (WHERE rk <= {_SOURCE_CAP}), 0)::BIGINT
             AS kept_chars
    FROM ranked
    GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# ds_split_manifest — dataset freeze manifest: for each deterministic
# split (the ds_train_test_split assignment), an ORDER-INDEPENDENT
# content checksum (bit_xor of 48-bit prefixes of the normalization
# fingerprint md5) plus exact counts/bytes. This is the
# reproducibility artifact a training run pins: any engine, any
# partitioning, any rerun that lands the same documents in the same
# splits produces byte-identical manifest rows, and any drift
# (a changed doc, a lost doc, a split-rule change) moves the checksum.
# The combiner is bit_xor: commutative/associative (map-side
# combinable, order-free) and overflow-free — a modular SUM of 48-bit
# prefixes silently wraps Spark's int64 around ~2^15 docs per split
# while DuckDB promotes to HUGEINT, an engine divergence waiting for
# a bigger corpus. xor's known blind spot (a vanished pair of
# identical fingerprints cancels) is covered by the exact n_docs
# column alongside.
# ---------------------------------------------------------------------------


def ds_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = split_label(F.col("doc_id"))
    fp48 = F.conv(
        F.substring(doc_fingerprint(F.col("text")), 1, 12), 16, 10
    ).cast("long")
    return (
        docs.select(split.alias("split"), F.col("n_chars"), fp48.alias("fp"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.expr("bit_xor(fp)").alias("content_checksum"),
        )
    )


_register(
    "ds_split_manifest",
    ds_split_manifest,
    f"""
    WITH tagged AS (
      SELECT CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                  WHEN {_BUCKET_SQL} < 90 THEN 'valid'
                  ELSE 'test' END AS split,
             n_chars,
             CAST(('0x' || substr(
               md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')),
               1, 12)) AS BIGINT) AS fp
      FROM documents
    )
    SELECT split,
           count(*) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           bit_xor(fp)::BIGINT AS content_checksum
    FROM tagged
    GROUP BY split
    """,
)
