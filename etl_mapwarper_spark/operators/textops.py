"""Text-analysis operators over ``documents`` (north-star).

- token statistics per language
- per-document quality scoring (length / punctuation / stopword mix)
- heuristic language ID (stopword-profile argmax) with accuracy vs the
  labeled ``lang`` column
- global n-gram (bigram) frequency profile

All pure column expressions — split / higher-order array functions /
regexp — fully JVM-side and codegen'd; the hot path has no UDFs. Each
formula is mirrored verbatim in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions.text import (
    STOPWORDS,
    punct_ratio,
    stopword_ratio,
    token_count,
    token_run_counts,
    tokens,
)
from ..sources.tables import load_table
from . import registry

QUERIES, ORACLE, _register = registry()

_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

# Tiny per-language marker-word profiles for the heuristic classifier.
# (On the synthetic corpus all languages share one vocabulary, so
# accuracy ≈ chance — the operator is the deliverable, measured
# honestly against the label column.)
LANG_MARKERS = {
    "en": ["the", "a", "fast", "big"],
    "de": ["der", "die", "und", "batch"],
    "fr": ["le", "la", "et", "scan"],
    "es": ["el", "la", "y", "slow"],
    "zh": ["de", "shi", "he", "join"],
}


# ---------------------------------------------------------------------------
# Token statistics per language.
# ---------------------------------------------------------------------------


def tx_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    n_tokens = token_count(F.col("text"))
    return (
        docs.withColumn("n_tokens", n_tokens)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.min("n_tokens").alias("min_tokens"),
        )
    )


_register(
    "tx_token_stats",
    tx_token_stats,
    """
    SELECT lang,
           count(*)                                    AS n_docs,
           sum(len(string_split(text, ' ')))::BIGINT   AS total_tokens,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
           max(len(string_split(text, ' ')))::INT      AS max_tokens,
           min(len(string_split(text, ' ')))::INT      AS min_tokens
    FROM documents
    GROUP BY lang
    """,
)


# ---------------------------------------------------------------------------
# Per-document quality score: blend of token count, mean word length,
# stopword ratio, and punctuation ratio — the standard cheap pre-filter
# for LLM training corpora. Narrow (no shuffle at all).
# ---------------------------------------------------------------------------


def tx_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    t = tokens(F.col("text"))
    n_tok = F.size(t)
    mean_wlen = (F.length(F.col("text")) - (n_tok - 1)).cast("double") / n_tok
    sw = stopword_ratio(t)
    pr = punct_ratio(F.col("text"))
    score = (
        F.least(n_tok.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + (1.0 - pr) * 0.3
        + F.least(sw * 5.0, F.lit(1.0)) * 0.2
        + F.when((mean_wlen >= 3.0) & (mean_wlen <= 8.0), 0.1).otherwise(0.0)
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(sw, 6).alias("stopword_ratio"),
        F.round(pr, 6).alias("punct_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


_register(
    "tx_quality_scores",
    tx_quality_scores,
    f"""
    WITH base AS (
      SELECT doc_id, text,
             string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), feats AS (
      SELECT doc_id, n_tok,
             (length(text) - (n_tok - 1)) * 1.0 / n_tok AS mean_wlen,
             len(list_filter(t, w -> w IN {_STOP_SQL})) * 1.0 / n_tok AS sw,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0
               / length(text) AS pr
      FROM base
    )
    SELECT doc_id,
           n_tok::INT                AS n_tokens,
           round(mean_wlen, 6)       AS mean_word_len,
           round(sw, 6)              AS stopword_ratio,
           round(pr, 6)              AS punct_ratio,
           round(least(n_tok / 100.0, 1.0) * 0.4
                 + (1.0 - pr) * 0.3
                 + least(sw * 5.0, 1.0) * 0.2
                 + CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 8.0
                        THEN 0.1 ELSE 0.0 END, 6) AS quality_score
    FROM feats
    """,
)


# ---------------------------------------------------------------------------
# Heuristic language ID: count marker-word hits per language, argmax
# with deterministic tiebreak (score desc, language code asc), then
# report confusion counts against the label.
# ---------------------------------------------------------------------------


def tx_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    t = tokens(F.col("text"))
    codes = sorted(LANG_MARKERS)
    scores = {
        code: F.size(F.filter(t, lambda w: w.isin(*LANG_MARKERS[code])))
        for code in codes
    }
    best = F.greatest(*scores.values())
    # argmax with deterministic tiebreak: codes checked in ascending
    # order, so ties go to the lexicographically smallest language.
    predicted = F.lit(None).cast("string")
    for code in reversed(codes):
        predicted = F.when(scores[code] == best, code).otherwise(predicted)
    return (
        docs.withColumn("predicted_lang", predicted)
        .groupBy(F.col("lang").alias("true_lang"), F.col("predicted_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _langid_oracle_sql() -> str:
    codes = sorted(LANG_MARKERS)
    score_cols = []
    for code in codes:
        in_list = "(" + ", ".join(f"'{m}'" for m in LANG_MARKERS[code]) + ")"
        score_cols.append(
            f"len(list_filter(t, w -> w IN {in_list})) AS s_{code}"
        )
    best = "greatest(" + ", ".join(f"s_{c}" for c in codes) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{c} = best THEN '{c}'" for c in codes
    ) + " END"
    return f"""
    WITH base AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ), scored AS (
      SELECT doc_id, lang, {", ".join(score_cols)} FROM base
    ), pick AS (
      SELECT doc_id, lang, {best} AS best,
             {case} AS predicted_lang
      FROM scored
    )
    SELECT lang AS true_lang, predicted_lang, count(*) AS n
    FROM pick
    GROUP BY 1, 2
    """


_register("tx_langid_confusion", tx_langid_confusion, _langid_oracle_sql())


# ---------------------------------------------------------------------------
# Global bigram profile: top 20 word bigrams with deterministic
# tiebreak. Shuffle carries (bigram, partial count) — map-side combine
# keeps it proportional to vocabulary², not corpus size.
# ---------------------------------------------------------------------------


def tx_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    # arrays_zip of shifted slices, NOT element_at(t, i) in the lambda —
    # the latter re-evaluates the split() per element (no CSE inside
    # interpreted HOF lambdas), turning tokenization O(tokens²)/doc.
    t = tokens(F.col("text"))
    length = F.greatest(F.size(t) - 1, F.lit(0))
    # r12: explode the zipped pair structs directly and concat in the
    # post-explode codegen projection — the interpreted HOF lambda
    # (one concat_ws string allocation per element, per instance)
    # disappears; the Generate emits the same number of rows.
    pairs = F.arrays_zip(F.slice(t, 1, length), F.slice(t, 2, length))
    return (
        docs.select(F.explode(pairs).alias("s"))
        .select(F.concat_ws(" ", F.col("s.0"), F.col("s.1")).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


_register(
    "tx_top_bigrams",
    tx_top_bigrams,
    """
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                                   i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM bg
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
)


# ---------------------------------------------------------------------------
# tx_tokens_udtf — Python UDTF surface (SURVEY.md §2.B, UDF/UDAF/UDTF
# row): a user-defined TABLE function emitting one row per distinct
# token with its in-document count, applied via LATERAL join. The
# UDTF path is for 1→N record expansion that genuinely needs Python
# (parsers, tokenizers); pure splits stay JVM-side (tx_token_stats).
# ---------------------------------------------------------------------------


def _token_counts_udtf_class():
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, tok string, n int")
    class TokenCounts:
        def eval(self, doc_id, text):
            from collections import Counter

            for tok, n in Counter((text or "").split(" ")).items():
                yield doc_id, tok, n

    return TokenCounts


def tx_tokens_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    docs.createOrReplaceTempView("_docs_for_udtf")
    spark.udtf.register("token_counts", _token_counts_udtf_class())
    return spark.sql(
        """
        SELECT t.doc_id, t.tok, t.n
        FROM _docs_for_udtf, LATERAL token_counts(doc_id, text) t
        WHERE t.n >= 3
        """
    )


_register(
    "tx_tokens_udtf",
    tx_tokens_udtf,
    """
    SELECT doc_id, tok, count(*)::INT AS n FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    GROUP BY doc_id, tok
    HAVING count(*) >= 3
    """,
)


# ---------------------------------------------------------------------------
# BPE-ish regex token counting (north star: "whitespace + a BPE-ish
# regex"): letter runs, digit runs, and single non-alphanumeric marks
# as separate tokens — the pre-tokenization split GPT-style BPE
# vocabularies assume. Pure regexp_extract_all, JVM-side; compared
# per-language against the whitespace count.
# ---------------------------------------------------------------------------

_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def tx_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0)))
    n_ws = token_count(F.col("text"))
    return (
        docs.select("lang", n_bpe.alias("n_bpe"), n_ws.alias("n_ws"))
        .groupBy("lang")
        .agg(
            F.sum("n_bpe").alias("total_bpe"),
            F.round(F.avg("n_bpe"), 4).alias("avg_bpe"),
            F.round(F.avg("n_ws"), 4).alias("avg_ws"),
        )
    )


_register(
    "tx_bpe_tokens",
    tx_bpe_tokens,
    f"""
    SELECT lang,
           sum(len(regexp_extract_all(text, '{_BPE_RE}')))::BIGINT AS total_bpe,
           round(avg(len(regexp_extract_all(text, '{_BPE_RE}'))), 4) AS avg_bpe,
           round(avg(len(string_split(text, ' '))), 4) AS avg_ws
    FROM documents
    GROUP BY lang
    """,
)


# ---------------------------------------------------------------------------
# tx_tfidf_top_terms — TF-IDF keyword extraction per language.
# tf(lang, term) = term occurrences across the language's docs;
# idf(term) = ln(n_docs / doc_freq). One explode feeds BOTH aggregates
# (per-(term,doc) counts roll up to doc-frequency AND language tf), so
# the corpus is tokenized exactly once. The idf side is
# vocabulary-sized (not corpus-sized) — broadcast onto the tf side,
# so the only data-proportional shuffle is the explode→count agg.
# Ranking uses the ROUNDED score with a term tiebreak so ordering is
# identical across engines despite ulp-level ln() differences.
# ---------------------------------------------------------------------------


def tx_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    # per-doc term counts computed JVM-side (run-length over the sorted
    # token array) — the explode emits one row per DISTINCT term per
    # doc, and the corpus-sized explode→groupBy(term,doc) shuffle the
    # naive plan needs disappears entirely.
    term_doc = (
        docs.select(
            "doc_id",
            "lang",
            # materialized in its own projection: token_run_counts'
            # lambdas need an attribute reference, not an inline
            # expression (see its contract docstring)
            F.array_sort(tokens(F.col("text"))).alias("s"),
        )
        .select(
            "doc_id", "lang", F.explode(token_run_counts(F.col("s"))).alias("tc")
        )
        .select("doc_id", "lang", F.col("tc.tok").alias("term"), "tc.n")
        .filter(F.col("term") != "")
    )
    # term_doc carries one row per (doc, term) by construction, so
    # document frequency is a plain count — no count_distinct expand.
    # One aggregation computes tf per (term, lang) and the per-cell
    # row count; a term-partition window then sums those counts into
    # the cross-language df. This keeps a SINGLE tokenization pass
    # (the old two-branch plan re-scanned and re-tokenized the corpus
    # for df) and drops the plan from 9 exchanges to 6 — measured
    # ~1.8× faster at sf0.1.
    term_lang = term_doc.groupBy("term", "lang").agg(
        F.sum("n").alias("tf"), F.count(F.lit(1)).alias("df_part")
    )
    wt = Window.partitionBy("term")
    # doc_id is the table's key, so corpus size is a plain count (a
    # count_distinct here would pay an extra shuffle for nothing).
    # Counted off a FRESH pristine scan, not the parallelized `docs`:
    # the tokenize branch wants the repartition, but the count branch
    # was paying that same 116k-row shuffle just to emit one number —
    # a zero-column parquet count needs no repartition (r5 bench item).
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        term_lang.withColumn("df", F.sum("df_part").over(wt))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "lang",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "term", "score", "rk")
    )


_register(
    "tx_tfidf_top_terms",
    tx_tfidf_top_terms,
    """
    WITH ex AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    td AS (
      SELECT term, doc_id, lang, count(*) AS n
      FROM ex WHERE term <> '' GROUP BY 1, 2, 3
    ),
    dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM td GROUP BY 1),
    tf AS (SELECT lang, term, sum(n) AS tf FROM td GROUP BY 1, 2),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT lang, t.term,
             round(tf * ln(n_docs::DOUBLE / df), 6) AS score
      FROM tf t JOIN dft USING (term) CROSS JOIN nd
    )
    SELECT lang, term, score, rk::INT AS rk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY score DESC, term ASC) AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
)


# ---------------------------------------------------------------------------
# tx_c4_filter — composite corpus-cleaning rule set (C4/Gopher-style):
# a document is kept only if it passes every structural rule. The
# output is the per-(lang, kept) partition profile — what a pipeline
# operator reports before the kept split is written onward. One scan,
# one tiny agg; the filter column itself is pure codegen'd expression
# (no UDFs), so at 100 TB this runs at parquet-scan speed.
# Rules (mirrored verbatim in the oracle):
#   R1 length:     20 ≤ tokens ≤ 100000
#   R2 word shape: 2.5 ≤ mean word length ≤ 10
#   R3 symbols:    punctuation ratio < 0.30
#   R4 stopwords:  ≥ 2 distinct stopword hits (language signal)
#   R5 dedup-y:    < 30% of tokens are the single most frequent token
# ---------------------------------------------------------------------------


def c4_kept_expr(text) -> F.Column:
    """The C4-style quality predicate as a reusable column expression
    (shared by tx_c4_filter and ds_corpus_curation; mirrored in
    C4_KEPT_COND_SQL for the oracles)."""
    t = tokens(text)
    n_tok = F.size(t)
    mean_wlen = (F.length(text) - (n_tok - 1)).cast("double") / n_tok
    pr = punct_ratio(text)
    n_stop_distinct = F.size(
        F.array_intersect(
            F.array_distinct(t), F.array([F.lit(w) for w in STOPWORDS])
        )
    )
    # mode-token frequency = longest run in the SORTED token array —
    # O(n log n) per doc (the naive per-distinct-token count is
    # O(distinct × tokens), quadratic on long documents). Single
    # aggregate pass carrying (prev, run, best) struct state; no
    # explode, no shuffle.
    max_tok_n = F.aggregate(
        F.array_sort(t),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return (
        (n_tok >= 20)
        & (n_tok <= 100000)
        & (mean_wlen >= 2.5)
        & (mean_wlen <= 10.0)
        & (pr < 0.30)
        & (n_stop_distinct >= 2)
        & (max_tok_n.cast("double") / n_tok.cast("double") < 0.30)
    )


# DuckDB twin of c4_kept_expr: metric expressions for a scored CTE and
# the boolean condition over them.
C4_SCORED_COLS_SQL = f"""
             len(string_split(text, ' ')) AS n_tok,
             (length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
               / len(string_split(text, ' ')) AS mean_wlen,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
               / length(text) AS pr,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                                {STOPWORDS!r})) AS n_stop_distinct,
             list_max(list_transform(list_distinct(string_split(text, ' ')),
                      w -> len(list_filter(string_split(text, ' '),
                               x -> x = w)))) AS max_tok_n
"""
C4_KEPT_COND_SQL = """(n_tok >= 20 AND n_tok <= 100000
            AND mean_wlen >= 2.5 AND mean_wlen <= 10.0
            AND pr < 0.30 AND n_stop_distinct >= 2
            AND max_tok_n::DOUBLE / n_tok < 0.30)"""


def tx_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    kept = c4_kept_expr(F.col("text"))
    n_tok = F.size(tokens(F.col("text")))
    return (
        docs.select("lang", kept.alias("kept"), n_tok.alias("n_tok"))
        .groupBy("lang", "kept")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        )
    )


_register(
    "tx_c4_filter",
    tx_c4_filter,
    f"""
    WITH scored AS (
      SELECT lang,
{C4_SCORED_COLS_SQL}
      FROM documents
    )
    SELECT lang,
           {C4_KEPT_COND_SQL} AS kept,
           count(*) AS n_docs,
           round(avg(n_tok), 4) AS avg_tokens
    FROM scored
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# tx_sentence_stats — sentence-level shape metrics per language:
# sentences per doc (terminator count) and words per sentence, the
# fluency signals C4/Gopher-style corpus filters threshold on. Both
# metrics are narrow per-row regex expressions (no lookbehind — DuckDB's
# RE2 has none, and at scale a character-class replace is cheaper than
# split-and-count anyway), then one tiny per-lang aggregate.
# ---------------------------------------------------------------------------


def tx_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = F.length(F.regexp_replace(F.col("text"), "[^.!?]", ""))
    words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    per_doc = docs.select(
        "lang",
        terms.alias("n_sents"),
        (words / F.greatest(terms, F.lit(1))).alias("words_per_sent"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_sents"), 4).alias("avg_sents_per_doc"),
        F.round(F.avg("words_per_sent"), 4).alias("avg_words_per_sent"),
        F.max("n_sents").alias("max_sents"),
    )


_register(
    "tx_sentence_stats",
    tx_sentence_stats,
    r"""
    WITH per_doc AS (
      SELECT lang,
             length(regexp_replace(text, '[^.!?]', '', 'g')) AS n_sents,
             length(regexp_split_to_array(trim(text), '\s+'))
               / greatest(length(regexp_replace(text, '[^.!?]', '', 'g')),
                          1)::DOUBLE AS words_per_sent
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           round(avg(n_sents), 4) AS avg_sents_per_doc,
           round(avg(words_per_sent), 4) AS avg_words_per_sent,
           max(n_sents) AS max_sents
    FROM per_doc
    GROUP BY lang
    """,
)


# ---------------------------------------------------------------------------
# tx_chunk_windows — context chunking: split each document into
# fixed-size token windows with stride overlap (the preprocessing step
# feeding embedding/RAG pipelines and fixed-context training). One
# tokenization per doc, chunk starts generated arithmetically with
# sequence() and exploded — a narrow 1→N row expansion with no shuffle
# until the (optional) downstream consumer; output size is
# tokens/stride, linear in corpus size. All array ops are JVM-side
# higher-order functions — no Python in the path.
# ---------------------------------------------------------------------------

_CHUNK = 100
_STRIDE = 80


def tx_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    ).select("doc_id", "toks", F.size("toks").alias("n_toks"))
    chunks = toked.select(
        "doc_id",
        "toks",
        "n_toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n_toks") - 1, F.lit(0)),
                F.lit(_STRIDE),
            )
        ).alias("chunk_start"),
    ).select(
        "doc_id",
        "chunk_start",
        F.slice(F.col("toks"), F.col("chunk_start") + 1, _CHUNK).alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_start",
        F.size("chunk").alias("chunk_len"),
        F.element_at("chunk", 1).alias("first_tok"),
        F.element_at("chunk", F.size("chunk")).alias("last_tok"),
    )


_register(
    "tx_chunk_windows",
    tx_chunk_windows,
    rf"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    starts AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks), 1), {_STRIDE})) AS chunk_start
      FROM t
    )
    SELECT doc_id,
           chunk_start,
           len(list_slice(toks, chunk_start + 1,
                          least(chunk_start + {_CHUNK}, len(toks))))
             AS chunk_len,
           toks[chunk_start + 1] AS first_tok,
           toks[least(chunk_start + {_CHUNK}, len(toks))] AS last_tok
    FROM starts
    """,
)


# ---------------------------------------------------------------------------
# tx_repetition_filter — Gopher-style repetition quality rules (Rae et
# al. 2021 §A1.1): documents dominated by a single repeated n-gram, or
# whose n-grams are mostly duplicates, are low-quality for training.
# Metrics per document:
#   top_bigram_frac  = occurrences of the most frequent bigram / total
#   dup_trigram_frac = 1 - distinct trigrams / total trigrams
# Scale shape: the ENTIRE computation is a narrow per-row expression —
# n-grams are built with the shifted-slice zip, the top-bigram count
# comes from run-length encoding the SORTED bigram array
# (token_run_counts), and distinct counts are array_distinct. Zero
# shuffles, zero joins, no per-ngram row explosion: at 100 TB this is
# one codegen'd scan stage, which is why the RLE trick matters.
# ---------------------------------------------------------------------------

REP_TOP_BIGRAM_MAX = 0.08
REP_DUP_TRIGRAM_MAX = 0.01


def _ngrams_all(toks, n: int):
    """Non-distinct word n-grams (repetition metrics need multiplicity)."""
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, length) for j in range(n)])
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )


# DuckDB: each doc's tokens ``toks(doc_id, t)`` and every bigram
# instance ``bg(doc_id, b)``, the opening CTEs of the bigram oracles.
_BIGRAM_CTES = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t), 1)),
                                   i -> t[i] || ' ' || t[i+1])) AS b
      FROM toks WHERE len(t) >= 2
    ),"""


def tx_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    staged = docs.select(
        "doc_id",
        F.array_sort(_ngrams_all(tokens(F.col("text")), 2)).alias("bg"),
        _ngrams_all(tokens(F.col("text")), 3).alias("tg"),
    )
    runs = token_run_counts(F.col("bg"))
    top_bg = F.array_max(F.transform(runs, lambda r: r["n"]))
    top_frac = F.when(
        F.size("bg") > 0, top_bg.cast("double") / F.size("bg")
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        F.size("tg") > 0,
        F.lit(1.0)
        - F.size(F.array_distinct("tg")).cast("double") / F.size("tg"),
    ).otherwise(F.lit(0.0))
    return staged.select(
        "doc_id",
        F.round(top_frac, 6).alias("top_bigram_frac"),
        F.round(dup_frac, 6).alias("dup_trigram_frac"),
        (
            (top_frac > REP_TOP_BIGRAM_MAX)
            | (dup_frac > REP_DUP_TRIGRAM_MAX)
        ).alias("repetitive"),
    )


_register(
    "tx_repetition_filter",
    tx_repetition_filter,
    _BIGRAM_CTES
    + f"""
    bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
    bga AS (
      SELECT doc_id, max(c) AS top_n, sum(c) AS total FROM bgc GROUP BY 1
    ),
    tg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
               AS g
      FROM toks WHERE len(t) >= 3
    ),
    tga AS (
      SELECT doc_id, count(*) AS n_t, count(DISTINCT g) AS n_td
      FROM tg GROUP BY 1
    )
    SELECT d.doc_id,
           round(coalesce(top_n * 1.0 / total, 0.0), 6) AS top_bigram_frac,
           round(coalesce(1.0 - n_td * 1.0 / n_t, 0.0), 6) AS dup_trigram_frac,
           (coalesce(top_n * 1.0 / total, 0.0) > {REP_TOP_BIGRAM_MAX}
            OR coalesce(1.0 - n_td * 1.0 / n_t, 0.0) > {REP_DUP_TRIGRAM_MAX})
             AS repetitive
    FROM documents d
    LEFT JOIN bga USING (doc_id)
    LEFT JOIN tga USING (doc_id)
    """,
)


# ---------------------------------------------------------------------------
# tx_bm25_topk — BM25 ranked retrieval over the corpus for a fixed
# query-term set (the lexical-retrieval half of every RAG / data-
# curation search stack). Standard Robertson/Sparck-Jones BM25:
#   idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)
#   score  = Σ idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
# Scale shape: one explode → (doc, term) tf aggregate restricted to
# the query terms (the filter prunes BEFORE the shuffle, so shuffle
# volume is O(docs × |query|), not O(tokens)); the per-doc length dl
# rides through that same aggregate as first(dl), so the only joined
# sides are df_ (|query| rows) and consts (1 row) — both genuinely
# tiny broadcasts, never an O(corpus) table; final top-k is
# orderBy().limit(k) (TakeOrdered — per-partition heaps + driver
# merge of k·partitions rows, no single-reducer global sort).
# ---------------------------------------------------------------------------

BM25_QUERY = ["spark", "join", "window"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10


def tx_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        token_count(F.col("text")).alias("dl"),
    )
    # corpus constants: a 1-row aggregate of a plain scan — no
    # repartition needed (that's for the CPU-heavy tf branch)
    consts = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(token_count(F.col("text"))).alias("avgdl"),
    )
    # dl rides through the tf aggregate (constant per doc_id group), so
    # no O(corpus) lens join is ever materialized.
    tf = (
        docs.select(
            "doc_id",
            "dl",
            F.explode(
                F.filter(F.col("toks"), lambda t: t.isin(*BM25_QUERY))
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    scored = (
        tf.join(broadcast(df_), "term")
        .crossJoin(broadcast(consts))
        .withColumn(
            "s",
            idf
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("bm25"))
    )
    # TakeOrdered top-k, then rank the k survivors (k rows — the
    # single-partition window is over BM25_TOPK rows, not the corpus).
    topk = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOPK)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "bm25", "rank"
    )


_BM25_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in BM25_QUERY) + ")"

_register(
    "tx_bm25_topk",
    tx_bm25_topk,
    f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    lens AS (SELECT doc_id, len(toks) AS dl FROM docs),
    consts AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
    tf AS (
      SELECT doc_id, t.t AS term, count(*) AS tf
      FROM docs, unnest(toks) t(t)
      WHERE t.t IN {_BM25_TERMS_SQL}
      GROUP BY 1, 2
    ),
    df_ AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({BM25_K1} + 1))
               / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
             ), 6) AS bm25
      FROM tf
      JOIN df_ USING (term)
      JOIN lens USING (doc_id)
      CROSS JOIN consts
      GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25, rank FROM (
      SELECT doc_id, bm25,
             row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {BM25_TOPK}
    """,
)


# ---------------------------------------------------------------------------
# tx_unigram_logprob — corpus-LM quality proxy (the CCNet/kenlm
# filtering idea with the corpus itself as the language model): score
# each document by the mean log-probability of its tokens under the
# corpus unigram distribution. Low scorers are gibberish/outlier docs;
# the score feeds quality-threshold filtering exactly like a kenlm
# perplexity bin.
# Scale shape: one tokenize pass feeds BOTH the frequency aggregate
# and the scoring join. The (term → logp) side is vocabulary-sized —
# NOT broadcastable at 100 TB — so the score join is a plain equi-join
# on term (AQE picks the strategy; at small SF it broadcasts itself).
# The corpus total is a 1-row aggregate broadcast via crossJoin.
# Everything is codegen'd JVM; no UDFs.
# ---------------------------------------------------------------------------


def tx_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        load_table(spark, sf_dir, "documents", parallelize=True)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    )
    freqs = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = freqs.agg(F.sum("tf").alias("n_total"))
    scored = (
        toks.join(freqs, "term")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("tf") / F.col("n_total"))), 4
            ).alias("avg_logprob"),
        )
    )
    return scored.withColumn(
        "ppl_proxy", F.round(F.exp(-F.col("avg_logprob")), 2)
    )


_register(
    "tx_unigram_logprob",
    tx_unigram_logprob,
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    freqs AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
    total AS (SELECT sum(tf) AS n_total FROM freqs)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(ln(tf * 1.0 / n_total)), 4) AS avg_logprob,
           round(exp(-round(avg(ln(tf * 1.0 / n_total)), 4)), 2) AS ppl_proxy
    FROM toks
    JOIN freqs USING (term)
    CROSS JOIN total
    GROUP BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# tx_heavy_hitters_cms — count-min-sketch heavy hitters (Cormode &
# Muthukrishnan 2005), the sketch-based frequency primitive for corpus
# vocabularies too large to count exactly: d independent hash rows of
# w counters; every term increments one counter per row; the estimate
# is the MIN across rows (always an overestimate, bounded by
# collisions). The sketch is MERGEABLE — counters add — so at 100 TB
# it builds with map-side partial aggregation into a fixed d×w ≈ 2K
# cells regardless of vocabulary size, and ships as a broadcastable
# artifact. This operator reports sketch accuracy against the exact
# top-20 (the sim_lsh_recall pattern: approximate operator + ground
# truth + quality metric in one query).
#
# Hashes are the engine-portable md5-hex-prefix trick
# (dd_rolling_hash): exact integer arithmetic both engines, so the
# sketch — and therefore every estimate — is bit-identical in DuckDB.
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 512  # counters per row
_CMS_TOP = 20


def _cms_bucket(term, i: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}|"), term)), 1, 8), 16, 10
        ).cast("long")
        % _CMS_W
    )


def _cms_cells() -> F.Column:
    """The ``_CMS_D`` sketch cells of ``term``, struct ``ib(i, b)``."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    _cms_bucket(F.col("term"), i).alias("b"),
                )
                for i in range(_CMS_D)
            ]
        )
    ).alias("ib")


def tx_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = exact.orderBy(F.desc("n"), F.asc("term")).limit(_CMS_TOP)
    # The sketch counts INSTANCES per (row, bucket) cell, but every
    # instance of a term lands in the same d cells — so the cell count
    # is exactly the sum of the exact per-TYPE counts hashing there.
    # Deriving the sketch from `exact` (r12, guide §2.3/§2.4) reuses
    # the type aggregate's exchange (one corpus tokenize+explode pass
    # instead of two) and pays the d md5 bucket hashes once per
    # vocabulary TYPE instead of once per corpus instance — at 100 TB
    # vocab ≪ instances, locally ~4 orders of magnitude less hashing.
    # Cell values are identical integers; the sketch stays mergeable
    # (sums of sums).
    sketch = (
        exact.select("n", _cms_cells())
        .groupBy(F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
        .agg(F.sum("n").alias("c"))
    )
    probes = top.select("term", "n", _cms_cells()).select(
        "term", "n", F.col("ib.i").alias("i"), F.col("ib.b").alias("b")
    )
    # the sketch is the bounded artifact (d×w cells) — broadcast side
    from pyspark.sql.functions import broadcast as _bc

    return (
        probes.join(_bc(sketch), ["i", "b"])
        .groupBy("term", "n")
        .agg(F.min("c").alias("n_est"))
        .select(
            "term",
            F.col("n").alias("n_exact"),
            "n_est",
            (F.col("n_est") - F.col("n")).alias("overcount"),
        )
    )


_register(
    "tx_heavy_hitters_cms",
    tx_heavy_hitters_cms,
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    exact AS (SELECT term, count(*) AS n FROM toks GROUP BY 1),
    top AS (
      SELECT term, n FROM exact ORDER BY n DESC, term ASC LIMIT {_CMS_TOP}
    ),
    hrows AS (SELECT unnest(range({_CMS_D})) AS i),
    sk AS (
      SELECT i,
             TRY_CAST('0x' || substr(md5(concat(i::VARCHAR, '|', term)), 1, 8)
                      AS BIGINT) % {_CMS_W} AS b,
             count(*) AS c
      FROM toks CROSS JOIN hrows
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT t.term, t.n, h.i,
             TRY_CAST('0x' || substr(md5(concat(h.i::VARCHAR, '|', t.term)),
                      1, 8) AS BIGINT) % {_CMS_W} AS b
      FROM top t CROSS JOIN hrows h
    )
    SELECT p.term,
           p.n AS n_exact,
           min(sk.c)::BIGINT AS n_est,
           (min(sk.c) - p.n)::BIGINT AS overcount
    FROM probes p JOIN sk ON p.i = sk.i AND p.b = sk.b
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# tx_udtf_analyze — POLYMORPHIC Python UDTF (Spark 4's analyze-time
# schema resolution): the output schema is computed by the static
# ``analyze()`` from the constant n argument — n-gram word parts come
# back as n separate columns (w0..w{n-1}), which no fixed returnType
# UDTF can express. This is the table-function surface parser/
# extractor libraries need when their output shape depends on
# configuration. Runs as the same Arrow-batched LATERAL join as
# tx_tokens_udtf.
# ---------------------------------------------------------------------------

_UDTF_N = 2
_UDTF_MIN = 3


def _ngram_split_udtf_class():
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeResult

    @udtf
    class NgramSplit:
        @staticmethod
        def analyze(n, doc_id, text):
            schema = StructType().add("doc_id", LongType())
            for i in range(n.value):
                schema = schema.add(f"w{i}", StringType())
            return AnalyzeResult(schema=schema.add("cnt", IntegerType()))

        def eval(self, n, doc_id, text):
            from collections import Counter

            toks = (text or "").split(" ")
            grams = Counter(
                tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            for g, c in grams.items():
                yield (doc_id, *g, c)

    return NgramSplit


def tx_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    docs.createOrReplaceTempView("_docs_for_udtf_ngrams")
    spark.udtf.register("ngram_split", _ngram_split_udtf_class())
    return spark.sql(
        f"""
        SELECT t.doc_id, t.w0, t.w1, t.cnt
        FROM _docs_for_udtf_ngrams,
             LATERAL ngram_split({_UDTF_N}, doc_id, text) t
        WHERE t.cnt >= {_UDTF_MIN}
        """
    )


_register(
    "tx_udtf_analyze",
    tx_udtf_analyze,
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t), 1)),
                                   i -> {{'w0': t[i], 'w1': t[i+1]}})) AS g
      FROM toks WHERE len(t) >= 2
    )
    SELECT doc_id, g.w0 AS w0, g.w1 AS w1, count(*)::INT AS cnt
    FROM bg
    GROUP BY 1, 2, 3
    HAVING count(*) >= {_UDTF_MIN}
    """,
)


# ---------------------------------------------------------------------------
# tx_bigram_logprob — bigram-LM quality proxy with add-k smoothing
# (the upgrade path from tx_unigram_logprob toward a kenlm-style
# n-gram scorer): score each document by the mean conditional
# log-probability of its bigrams,
#   log P(w2|w1) = ln( (c(w1,w2) + k) / (c(w1) + k·V) ),
# where V is the unigram vocabulary size. A repetitive or scrambled
# document scores very differently under conditional probabilities
# than under unigram frequencies — bigram scoring is what catches
# word-salad that unigram filtering passes.
# Scale shape: ONE tokenize+shingle pass feeds both count tables and
# the scoring join; the (bigram → count) side is vocab²-bounded and
# joins on an 8-byte xxhash64 key; V and the context counts ride the
# same join. No UDFs.
# Shuffle budget (r4): the resolved log-prob table is a size-gated
# broadcast — when the backing documents parquet is small enough that
# the bigram-type table provably fits an executor (types ≤ bigram
# instances ≤ corpus tokens, 16-byte rows), the score join broadcasts
# and the corpus stream shuffles ONCE (the per-doc aggregate). Past
# the gate the hint is dropped and AQE picks the join, the 100 TB
# shape (a forced broadcast of a vocab²-bounded table would OOM).
# ---------------------------------------------------------------------------

_BLM_K = 0.5  # add-k smoothing
# 64 MiB of text on disk is < ~10M corpus tokens, so the resolved
# (bh, lp) table is at most ~10M 16-byte rows ≈ 300 MB in memory —
# inside the same 0.5-1 GiB executor budget dim_broadcast uses.
_BLM_BCAST_MAX_INPUT = 64 << 20


def _bigram_instances(docs, with_w2: bool = False):
    """Shared bigram instance stream for the corpus LM scorers: one
    explode of adjacent-token pairs, keys reduced to 8-byte xxhash64
    immediately so no string ever shuffles. The arrays_zip/slice
    construction is deliberate — see functions/text.py on the
    interpreted-HOF O(tokens^2) indexing trap this shape avoids.

    r12: the zipped token-pair structs explode DIRECTLY (no transform
    lambda at all) and the keys hash the pair multi-column —
    ``xxhash64(w1, w2)`` — in the post-explode codegen projection.
    The previous shape concat_ws'd every pair into a bigram string
    inside an interpreted HOF lambda, then re-split that string per
    instance for w1/w2: one string allocation + one hash-of-longer-
    string + (for consumers of w1h/w2h) a split per corpus bigram
    instance, all gone. Pair identity is unchanged — tokens contain
    no spaces, so concat-with-space and the multi-column hash induce
    the same equivalence classes on pairs (modulo the registry-wide
    2^-64 hash-collision exposure). Consumers that join these keys
    against a MATERIALIZED bigram-string artifact must hash the
    artifact side pair-wise too (tx_kneser_ney_fp splits its
    vocab²-bounded lp table once)."""
    t = tokens(F.col("text"))
    length = F.greatest(F.size(t) - 1, F.lit(0))
    pairs = F.arrays_zip(F.slice(t, 1, length), F.slice(t, 2, length))
    cols = [
        F.xxhash64(F.col("s.0"), F.col("s.1")).alias("bh"),
        F.xxhash64(F.col("s.0")).alias("w1h"),
    ]
    if with_w2:
        cols.append(F.xxhash64(F.col("s.1")).alias("w2h"))
    return docs.select("doc_id", F.explode(pairs).alias("s")).select(
        "doc_id", *cols
    )


def tx_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two corpus passes, the minimum for train-then-score without
    # caching the corpus (r5 rewrite: the previous per-(doc, type)
    # formulation LOOKED like one shared explode, but divergent column
    # pruning broke exchange reuse between its dt/c12/c1/vocab branches
    # and the physical plan exploded the corpus FOUR times across 15
    # stages — .explain() is the ground truth, not the DataFrame DAG):
    #
    #   MODEL pass — ONE tagged explode emits unigram and bigram type
    #   rows together (kind, h, w1h); groupBy(kind, h) map-side
    #   combines straight to TYPE scale, so the only shuffle in the
    #   pass is vocab²-bounded. Both count tables filter the SAME
    #   aggregate and consume identical columns (c1 joins on w1h — for
    #   unigram rows w1h is the token's own hash), so the exchange is
    #   physically reused, not re-derived. V rides a single-partition
    #   window over the vocab-bounded c1 slice — never a corpus pass.
    #
    #   SCORE pass — bigram instances join the resolved (bh, lp) table
    #   (size-gated broadcast, see _BLM_BCAST_MAX_INPUT) and aggregate
    #   per doc directly: map-side partial aggs reduce to DOC scale, so
    #   the corpus never shuffles at instance or (doc, type) grain.
    #
    # All keys are 8-byte xxhash64 — no string ever shuffles. No UDFs.
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    t = tokens(F.col("text"))
    length = F.greatest(F.size(t) - 1, F.lit(0))
    # r12: the tagged structs carry the raw TOKEN references (w2 NULL
    # for unigram rows) and the interpreted HOF lambdas do no hashing
    # — both keys are computed AFTER the explode in one codegen
    # projection. xxhash64 skips NULL columns (the seed passes
    # through), so the single expression xxhash64(w1, w2) is the
    # unigram token hash when w2 IS NULL and the pair hash otherwise —
    # the exact keys _bigram_instances emits on the score side.
    uni_structs = F.transform(
        t,
        lambda w: F.struct(
            F.lit(1).alias("kind"),
            w.alias("w1"),
            F.lit(None).cast("string").alias("w2"),
        ),
    )
    # arrays_zip/slice, not element_at-in-transform — see
    # functions/text.py on the interpreted-HOF O(tokens^2) trap.
    bi_structs = F.transform(
        F.arrays_zip(F.slice(t, 1, length), F.slice(t, 2, length)),
        lambda s: F.struct(
            F.lit(2).alias("kind"),
            s["0"].alias("w1"),
            s["1"].alias("w2"),
        ),
    )
    # groupBy(h) ALONE: the unigram keys are one-column hashes and the
    # bigram keys two-column chained hashes, so the two key spaces
    # collide only with the same 2^-64 xxhash64 exposure every
    # hash-keyed join in this registry accepts, and one h-keyed
    # aggregate counts both populations. kind is recovered as an
    # AGGREGATE (min over the group) precisely so the kind filters
    # below CANNOT be pushed beneath the aggregate — a pushed
    # grouping-key filter would specialize each branch's subtree and
    # break exchange reuse, re-exploding the corpus per branch (the
    # failure mode this rewrite removes; .explain() shows one
    # ReusedExchange now).
    types = (
        docs.select(
            F.explode(F.concat(uni_structs, bi_structs)).alias("i")
        )
        .select(
            "i.kind",
            F.xxhash64(F.col("i.w1"), F.col("i.w2")).alias("h"),
            F.xxhash64(F.col("i.w1")).alias("w1h"),
        )
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("kind").alias("kind"),
            F.min("w1h").alias("w1h"),
        )
    )
    # Vocab-bounded frames; both consume every column of `types`, so
    # the type aggregate's exchange is physically reused verbatim.
    c1 = types.filter(F.col("kind") == 1).withColumn(
        "v", F.count(F.lit(1)).over(Window.partitionBy())
    )
    c12 = types.filter(F.col("kind") == 2)
    lptab = (
        c12.alias("b")
        .join(c1.alias("u"), F.col("b.w1h") == F.col("u.w1h"))
        .select(
            F.col("b.h").alias("bh"),
            F.log(
                (F.col("b.c") + F.lit(_BLM_K))
                / (F.col("u.c") + F.lit(_BLM_K) * F.col("v"))
            ).alias("lp"),
        )
    )
    from ..sources.tables import _input_bytes

    if _input_bytes(f"{sf_dir}/documents.parquet") <= _BLM_BCAST_MAX_INPUT:
        lptab = broadcast(lptab)
    # Per-INSTANCE mean: each bigram occurrence contributes its type's
    # lp once. The oracle aggregates the same per-instance stream, so
    # both engines sum the identical multiset of lp terms per doc and
    # only commutative-sum order differs under the 4-dp round — the
    # same exposure every float oracle in this registry carries.
    return (
        _bigram_instances(docs)
        .join(lptab, "bh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("lp") / F.count(F.lit(1)), 4).alias(
                "avg_logprob"
            ),
        )
    )


_register(
    "tx_bigram_logprob",
    tx_bigram_logprob,
    _BIGRAM_CTES
    + f"""
    bgk AS (
      SELECT doc_id, b, string_split(b, ' ')[1] AS w1 FROM bg
    ),
    -- per-INSTANCE scoring, mirroring the engine: every bigram
    -- occurrence contributes its type's ln(...) term once, so both
    -- engines sum the identical multiset of lp terms per doc and only
    -- commutative-sum order differs under the 4-dp round — the same
    -- exposure every float oracle in this registry carries.
    uni AS (
      SELECT unnest(t) AS term FROM toks
    ),
    c1 AS (SELECT term, count(*) AS c1 FROM uni GROUP BY 1),
    vocab AS (SELECT count(*) AS v FROM c1),
    c12 AS (SELECT b, count(*) AS c12 FROM bg GROUP BY 1)
    SELECT doc_id,
           count(*)::BIGINT AS n_bigrams,
           round(sum(ln((c12 + {_BLM_K})
                        / (c1.c1 + {_BLM_K} * v))) / count(*), 4)
             AS avg_logprob
    FROM bgk
    JOIN c12 USING (b)
    JOIN c1 ON bgk.w1 = c1.term
    CROSS JOIN vocab
    GROUP BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# tx_ndcg_eval — ranking-quality evaluation (NDCG@k) of the BM25
# retrieval against a deterministic graded-relevance label (rel(doc) =
# how many distinct query terms the doc contains, 0..3 — the label a
# term-coverage heuristic would assign). Every retrieval deployment
# closes the loop with exactly this metric; it composes the BM25
# top-k with a corpus-side label pass:
#   DCG@k  = Σ_i (2^rel_i − 1) / log2(i+1)   over the ranked list,
#   IDCG@k = the same over the k best labels corpus-wide,
#   NDCG   = DCG / IDCG.
# Scale shape: labels are a narrow per-row expression; the ideal-k
# side is TakeOrdered (orderBy().limit(k)); the ranked list is k rows
# — every join here is k-row-sized.
# ---------------------------------------------------------------------------


def tx_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = BM25_TOPK
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.array_distinct(tokens(F.col("text"))),
                F.array(*[F.lit(t) for t in BM25_QUERY]),
            )
        ).alias("rel"),
    )
    ranked = tx_bm25_topk(spark, sf_dir).join(docs, "doc_id")
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / (
        F.log(F.col("rank") + 1.0) / F.log(F.lit(2.0))
    )
    dcg = ranked.agg(F.sum(gain).alias("dcg"))
    ideal = (
        docs.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.desc("rel"), F.asc("doc_id"))
        ))
    )
    idcg = ideal.agg(
        F.sum(
            (F.pow(F.lit(2.0), F.col("rel")) - 1)
            / (F.log(F.col("rank") + 1.0) / F.log(F.lit(2.0)))
        ).alias("idcg")
    )
    return dcg.crossJoin(idcg).select(
        F.round("dcg", 4).alias("dcg"),
        F.round("idcg", 4).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 4).alias("ndcg"),
    )


_register(
    "tx_ndcg_eval",
    tx_ndcg_eval,
    f"""
    WITH labels AS (
      SELECT doc_id,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                                {list(BM25_QUERY)})) AS rel
      FROM documents
    ),
    ranked AS (
      SELECT r.rank, l.rel
      FROM ({ORACLE["tx_bm25_topk"]}) r JOIN labels l USING (doc_id)
    ),
    dcg AS (
      SELECT sum((pow(2.0, rel) - 1) / (ln(rank + 1.0) / ln(2.0))) AS dcg
      FROM ranked
    ),
    ideal AS (
      SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS rank
      FROM labels ORDER BY rel DESC, doc_id ASC LIMIT {BM25_TOPK}
    ),
    idcg AS (
      SELECT sum((pow(2.0, rel) - 1) / (ln(rank + 1.0) / ln(2.0))) AS idcg
      FROM ideal
    )
    SELECT round(dcg, 4) AS dcg,
           round(idcg, 4) AS idcg,
           round(dcg / idcg, 4) AS ndcg
    FROM dcg CROSS JOIN idcg
    """,
)


# ---------------------------------------------------------------------------
# tx_zipf_fit — Zipf's-law diagnostic: OLS fit of ln(frequency) vs
# ln(rank) over the corpus vocabulary. Natural text sits near slope
# −1; synthetic/templated corpora (like this one) flatten toward 0 —
# making the slope a cheap corpus-authenticity signal data teams
# track across crawl snapshots. The rank window is unpartitioned BY
# DESIGN: it runs over the vocabulary, a dictionary-sized artifact
# that grows sublinearly with the corpus (the q47 dimension-window
# justification), never over corpus rows. The fit itself is the
# built-in regr_* aggregate family (exact same aggregation in DuckDB).
# ---------------------------------------------------------------------------


def tx_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    freqs = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.orderBy(F.desc("tf"), F.asc("term"))
    ranked = freqs.withColumn("r", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(
            F.regr_slope(F.log(F.col("tf")), F.log(F.col("r"))), 4
        ).alias("zipf_slope"),
        F.round(
            F.regr_r2(F.log(F.col("tf")), F.log(F.col("r"))), 4
        ).alias("fit_r2"),
    )


_register(
    "tx_zipf_fit",
    tx_zipf_fit,
    """
    WITH freqs AS (
      SELECT term, count(*) AS tf FROM (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
      ) GROUP BY 1
    ),
    ranked AS (
      SELECT tf, row_number() OVER (ORDER BY tf DESC, term ASC) AS r
      FROM freqs
    )
    SELECT count(*) AS vocab_size,
           round(regr_slope(ln(tf), ln(r)), 4) AS zipf_slope,
           round(regr_r2(ln(tf), ln(r)), 4) AS fit_r2
    FROM ranked
    """,
)


# ---------------------------------------------------------------------------
# tx_js_divergence — distribution-shift detection: Jensen-Shannon
# divergence between each source's unigram distribution P and the
# corpus distribution Q (JSD = ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q)).
# This is the metric curation teams track across crawl snapshots — a
# source whose JSD jumps has changed character (spam influx, format
# drift) before any individual document filter notices. Zero-prob
# terms contribute 0 to their own KL side (0·ln0 ≡ 0), handled by a
# full-outer term join with null-safe arithmetic. Scale shape: two
# frequency aggregates (term-keyed shuffles), a term-keyed join, one
# per-source fold — vocabulary-proportional work throughout.
# ---------------------------------------------------------------------------


def tx_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents", parallelize=True).select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    per_src = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    src_tot = per_src.groupBy("source").agg(F.sum("c").alias("src_n"))
    corp = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cc"))
    corp_tot = corp.agg(F.sum("cc").alias("n"))
    # full (source × vocabulary) domain so absent terms contribute
    # their q-side mass (p=0 ⇒ q·ln2/2 per term) — the domain is
    # vocabulary-proportional, never corpus-row-proportional.
    # Broadcast the SOURCE side, stream the vocabulary (r9 broadcast
    # audit): source count is a catalog attribute (bounded by
    # contract), while the vocabulary grows with the corpus — the old
    # orientation force-broadcast the whole term table.
    domain = corp.crossJoin(F.broadcast(src_tot))
    joined = (
        domain.join(per_src, ["source", "term"], "left")
        .crossJoin(F.broadcast(corp_tot))
        .withColumn(
            "p", F.coalesce(F.col("c") / F.col("src_n"), F.lit(0.0))
        )
        .withColumn("q", F.col("cc") / F.col("n"))
    )
    m = (F.col("p") + F.col("q")) / 2
    term_div = F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(
        F.lit(0.0)
    ) / 2 + F.col("q") * F.log(F.col("q") / m) / 2
    return joined.groupBy("source").agg(
        F.round(F.sum(term_div), 6).alias("jsd_vs_corpus")
    )


_register(
    "tx_js_divergence",
    tx_js_divergence,
    """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    per_src AS (
      SELECT source, term, count(*) AS c FROM toks GROUP BY 1, 2
    ),
    src_tot AS (SELECT source, sum(c) AS src_n FROM per_src GROUP BY 1),
    corp AS (SELECT term, count(*) AS cc FROM toks GROUP BY 1),
    corp_tot AS (SELECT sum(cc) AS n FROM corp),
    domain AS (
      SELECT s.source, c.term, c.cc FROM (SELECT DISTINCT source FROM per_src) s
      CROSS JOIN corp c
    ),
    joined AS (
      SELECT d.source, d.term,
             coalesce(ps.c * 1.0 / st.src_n, 0.0) AS p,
             d.cc * 1.0 / ct.n AS q
      FROM domain d
      LEFT JOIN per_src ps ON d.source = ps.source AND d.term = ps.term
      JOIN src_tot st ON d.source = st.source
      CROSS JOIN corp_tot ct
    )
    SELECT source,
           round(sum(
             CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END / 2
             + q * ln(q / ((p + q) / 2)) / 2
           ), 6) AS jsd_vs_corpus
    FROM joined
    GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# tx_entropy — per-source unigram Shannon entropy (lexical-diversity
# metric, the within-source complement of tx_js_divergence's
# between-distribution shift): low entropy flags templated/repetitive
# sources before any document-level rule fires. One frequency
# aggregate and one per-source fold — vocabulary-proportional.
# ---------------------------------------------------------------------------


def tx_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents", parallelize=True).select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    per = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    tot = per.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        per.join(tot, "source")
        .groupBy("source")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.count(F.lit(1)).alias("vocab"),
        )
    )


_register(
    "tx_entropy",
    tx_entropy,
    """
    WITH per AS (
      SELECT source, term, count(*) AS c FROM (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
      ) GROUP BY 1, 2
    ),
    tot AS (SELECT source, sum(c) AS n FROM per GROUP BY 1)
    SELECT source,
           round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS entropy_nats,
           count(*) AS vocab
    FROM per JOIN tot USING (source)
    GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# tx_pmi_collocations — pointwise mutual information over bigrams
# (the word2vec-style phrase-mining step that decides which token
# pairs deserve a merged vocabulary entry): PMI = ln(p(xy)/(p(x)p(y)))
# over bigrams with support ≥ 5; high-PMI pairs co-occur far more
# than their unigram frequencies predict. Unigram probabilities join
# onto the bigram table by term (two vocabulary-keyed joins — AQE
# picks broadcast when the vocab side is small); top-15 by TakeOrdered.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 15


def tx_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    t = tokens(F.col("text"))
    length = F.greatest(F.size(t) - 1, F.lit(0))
    bigrams = F.transform(
        F.arrays_zip(F.slice(t, 1, length), F.slice(t, 2, length)),
        lambda s: F.struct(s["0"].alias("w1"), s["1"].alias("w2")),
    )
    bg = docs.select(F.explode(bigrams).alias("b")).select(
        F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    # Corpus totals ride the SAME plan as the scored output — no
    # driver-side count()/collect() during construction (the bench's
    # zero-construction-jobs rule). Both totals are identities of the
    # per-doc token count (n_uni = Σ |tokens|, n_bg = Σ max(|tokens|−1,
    # 0)), so ONE narrow scan — tokenize + size, no explode, no
    # shuffle beyond the 1-row partial agg — produces a single-row
    # frame that broadcast-crossjoins onto every scored row. (A 1-row
    # re-aggregate of the grouped tables would be vocab-bounded too,
    # but its exchange does not canonicalize with the scoring
    # subtree's — lambda variables in the bigram transform defeat
    # ReuseExchange — so it would re-explode the corpus; the identity
    # form sidesteps that.)
    totals = docs.agg(
        F.sum(F.size(t)).cast("double").alias("_nuni"),
        F.sum(F.greatest(F.size(t) - 1, F.lit(0)))
        .cast("double")
        .alias("_nbg"),
    )
    bgc = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= _PMI_MIN_COUNT)
    )
    uni = docs.select(F.explode(t).alias("term")).groupBy("term").agg(
        F.count(F.lit(1)).alias("cu")
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("cu").alias("c1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("cu").alias("c2"))
    pmi = F.log(
        (F.col("c12") / F.col("_nbg"))
        / (
            (F.col("c1") / F.col("_nuni"))
            * (F.col("c2") / F.col("_nuni"))
        )
    )
    scored = (
        bgc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1", "w2", "c12", F.round(pmi, 4).alias("pmi")
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(_PMI_TOPK)


_register(
    "tx_pmi_collocations",
    tx_pmi_collocations,
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                    i -> {{'w1': t[i], 'w2': t[i+1]}})) AS g
      FROM toks WHERE len(t) >= 2
    ),
    bgf AS (SELECT g.w1 AS w1, g.w2 AS w2 FROM bg),
    nbg AS (SELECT count(*)::DOUBLE AS n FROM bgf),
    bgc AS (
      SELECT w1, w2, count(*) AS c12 FROM bgf GROUP BY 1, 2
      HAVING count(*) >= {_PMI_MIN_COUNT}
    ),
    uni AS (
      SELECT term, count(*) AS cu FROM (
        SELECT unnest(t) AS term FROM toks
      ) GROUP BY 1
    ),
    nuni AS (SELECT sum(cu)::DOUBLE AS n FROM uni)
    SELECT w1, w2, c12,
           round(ln((c12 / (SELECT n FROM nbg))
                    / ((u1.cu / (SELECT n FROM nuni))
                       * (u2.cu / (SELECT n FROM nuni)))), 4) AS pmi
    FROM bgc
    JOIN uni u1 ON bgc.w1 = u1.term
    JOIN uni u2 ON bgc.w2 = u2.term
    ORDER BY pmi DESC, w1 ASC, w2 ASC
    LIMIT {_PMI_TOPK}
    """,
)


# ---------------------------------------------------------------------------
# tx_hashed_linear_score — fastText/CCNet-style quality-classifier
# INFERENCE as pure column math (the shape used to score every
# pre-training document against a trained linear model): each token
# hashes into one of _HLS_FEATS weight buckets, the document's score
# is the mean bucket weight plus a bias, squashed by a sigmoid. The
# trained model ships INSIDE the plan as a literal weight array (the
# same artifact-inlining pattern as sim_ivf_topk's centroids) — at
# 100 TB the scoring pass is a zero-shuffle narrow scan: no join, no
# UDF, no Python; a different model is a different literal. Weights
# here are derived from a fixed formula so the DuckDB oracle can
# reconstruct them and verify the arithmetic end-to-end; a real
# deployment would paste trained weights into the same literal.
# ---------------------------------------------------------------------------

_HLS_FEATS = 256
_HLS_BIAS = 0.05


def _hls_weight(b: int) -> float:
    # fixed, engine-portable pseudo-weights standing in for a trained
    # model: w(b) ∈ [-1, 1] with a deterministic integer formula
    return ((b * 37) % 201 - 100) / 100.0


def tx_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    weights = F.array(
        *[F.lit(_hls_weight(b)) for b in range(_HLS_FEATS)]
    )
    toks = tokens(F.col("text"))
    bucket = lambda t: (  # noqa: E731 — md5-int bucket, oracle-portable
        F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        % _HLS_FEATS
    )
    total = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.element_at(weights, (bucket(t) + 1).cast("int")),
    )
    n = F.size(toks)
    raw = F.when(n > 0, total / n + F.lit(_HLS_BIAS)).otherwise(
        F.lit(_HLS_BIAS)
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-raw))
    return docs.select(
        "doc_id",
        F.round(prob, 4).alias("quality_prob"),
        (prob >= 0.5).alias("keep"),
    )


_register(
    "tx_hashed_linear_score",
    tx_hashed_linear_score,
    f"""
    WITH scored AS (
      SELECT doc_id,
             string_split(text, ' ') AS t,
             list_sum(list_transform(string_split(text, ' '),
               tok -> (((TRY_CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                         % {_HLS_FEATS}) * 37) % 201 - 100) / 100.0
             )) AS total
      FROM documents
    ),
    raw AS (
      SELECT doc_id,
             CASE WHEN len(t) > 0
                  THEN coalesce(total, 0.0) / len(t) + {_HLS_BIAS}
                  ELSE {_HLS_BIAS} END AS raw
      FROM scored
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-raw)), 4) AS quality_prob,
           (1.0 / (1.0 + exp(-raw))) >= 0.5 AS keep
    FROM raw
    """,
)


# ---------------------------------------------------------------------------
# tx_bpe_train_merges — distributed BPE tokenizer TRAINING (merge-rule
# learning), the missing half of tx_bpe_tokens (which only applies a
# fixed vocabulary). Classic BPE trains on the word-frequency
# dictionary, so after ONE corpus scan (explode → groupBy word) every
# iteration runs on vocab-bounded data — the scale-correct shape: at
# 100 TB the corpus is touched once and the merge loop never sees it
# again. Each round (a) counts adjacent symbol pairs weighted by word
# frequency, (b) takes the arg-max pair (count desc, pair asc — the
# deterministic tie-break), (c) rewrites every word's symbol array by
# a left-to-right greedy fold (the exact merge semantics of reference
# BPE implementations). The merge loop itself runs vocab-locally in
# one Arrow-batched group (see the function docstring for why the
# per-round JVM plan lost); the JVM helpers below remain the
# distributed APPLY path used by tx_bpe_fertility. Symbols are joined
# on U+001F in the JVM fold; corpus text is assumed not to contain
# that control character (true of any sane corpus).
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3
_BPE_US = "\x1f"


def _bpe_pair_counts(cur: DataFrame) -> DataFrame:
    ln = F.greatest(F.size(F.col("syms")) - 1, F.lit(0))
    pairs = F.transform(
        F.arrays_zip(F.slice("syms", 1, ln), F.slice("syms", 2, ln)),
        lambda s: F.concat(s["0"], F.lit(_BPE_US), s["1"]),
    )
    return (
        cur.select("cnt", F.explode(pairs).alias("p"))
        .groupBy("p")
        .agg(F.sum("cnt").alias("total"))
    )


def _bpe_apply_merge(cur: DataFrame, p1: str, p2: str) -> DataFrame:
    # left-to-right greedy merge: fold symbols into a US-joined string
    # (always a leading US), replacing a trailing "<US>p1" + incoming
    # p2 with the merged symbol; re-split afterwards. Merged symbols
    # differ from their parts, so overlapping runs ("a a a") merge
    # non-overlapping exactly like reference BPE.
    merged = p1 + p2
    joined = F.aggregate(
        F.col("syms"),
        F.lit(""),
        lambda acc, x: F.when(
            (F.length(acc) > 0)
            & (F.substring_index(acc, _BPE_US, -1) == F.lit(p1))
            & (x == F.lit(p2)),
            F.concat(
                F.substring(acc, 1, F.length(acc) - len(p1)),
                F.lit(merged),
            ),
        ).otherwise(F.concat(acc, F.lit(_BPE_US), x)),
    )
    return cur.select(
        "cnt",
        F.split(F.substring(joined, 2, 1 << 30), _BPE_US).alias("syms"),
    )


def _bpe_winner(pc: DataFrame, rnd: int) -> DataFrame:
    """The round's arg-max pair (count desc, pair asc) as a 1-row DF."""
    return (
        pc.orderBy(F.desc("total"), F.asc("p"))
        .limit(1)
        .select(
            F.lit(rnd).alias("merge_round"),
            F.substring_index("p", _BPE_US, 1).alias("p1"),
            F.substring_index("p", _BPE_US, -1).alias("p2"),
            F.col("total").alias("pair_count"),
        )
    )




def tx_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule learning: R rounds of (pair-count argmax →
    greedy non-overlapping rewrite) over the word-frequency table.

    Scale shape: the ONLY corpus-proportional stage is the word-count
    aggregate (explode → partial-agg shuffle). Merge learning then
    runs on the VOCABULARY — Zipf-bounded (heaps' law ~ corpus^0.5-0.7;
    single-digit-millions of rows even at 100 TB, tens of MB) — as ONE
    Arrow-batched ``applyInPandas`` group. BPE's serial argmax→rewrite
    dependency is why this beats a per-round JVM plan: each round
    needs its predecessor's winner, so r4's fused single-job plan
    still paid ~9 DEPENDENT stage waves of pure scheduling floor
    (0.45 s at sf0.1 on kilobytes of vocab, 6.9× the oracle); the
    vocab-local trainer is one stage after the count, and rounds cost
    Python-loop time on bounded data (R-independent plan, so the old
    large-R checkpoint path is gone too). The JVM fold
    (``_bpe_apply_merge``) pins identical merge semantics
    (tests/test_text_properties.py::test_bpe_merge_fold_semantics)
    and remains the distributed APPLY path (tx_bpe_fertility).
    """
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rounds, us = _BPE_ROUNDS, _BPE_US

    def train(pdf):
        import pandas as pd

        # Symbol split must match the ORACLE's regexp_extract_all(w,
        # '.') — RE2's '.' matches every character except '\n', so a
        # token containing a line terminator (tokens() splits on
        # single spaces only) must drop it here too; a plain list(w)
        # would keep it and diverge on pair counts. (Java's '.'
        # additionally excludes \r and U+0085/U+2028/U+2029 — a
        # nuance the JVM apply path carries against its own
        # oracle, out of scope here.)
        words = [
            ([ch for ch in w if ch != "\n"], int(c))
            for w, c in zip(pdf["w"], pdf["cnt"])
        ]
        out = []
        for r in range(rounds):
            counts: dict = {}
            for syms, c in words:
                for i in range(len(syms) - 1):
                    k = (syms[i], syms[i + 1])
                    counts[k] = counts.get(k, 0) + c
            if not counts:
                break  # no adjacent pairs left
            # winner: count desc, then "p1<US>p2" asc — the same
            # (desc total, asc p) order the JVM winner used; UTF-8
            # byte order equals code-point order, so Python string
            # comparison matches Spark/DuckDB binary collation.
            (p1, p2), total = min(
                counts.items(),
                key=lambda kv: (-kv[1], kv[0][0] + us + kv[0][1]),
            )
            out.append((r + 1, p1, p2, p1 + p2, total))
            merged = p1 + p2
            rewritten = []
            for syms, c in words:
                ns, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == p1
                        and syms[i + 1] == p2
                    ):
                        ns.append(merged)
                        i += 2
                    else:
                        ns.append(syms[i])
                        i += 1
                rewritten.append((ns, c))
            words = rewritten
        return pd.DataFrame(
            out,
            columns=["merge_round", "p1", "p2", "merged", "pair_count"],
        )

    # Empty corpus → zero groups → the trainer never runs and the
    # frame is empty with the stable schema (pinned by
    # tests/test_text_properties.py::test_bpe_train_merges_empty_corpus).
    return (
        vocab.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(
            train,
            "merge_round int, p1 string, p2 string, merged string,"
            " pair_count long",
        )
    )


def _bpe_pair_cte(s: str) -> str:
    return f"""
      SELECT p, sum(cnt) AS total FROM (
        SELECT cnt, unnest(list_transform(range(1, greatest(len(syms), 1)),
               i -> syms[i] || chr(31) || syms[i+1])) AS p
        FROM {s})
      GROUP BY p"""


def _bpe_top_cte(pc: str) -> str:
    return f"""
      SELECT string_split(p, chr(31))[1] AS a,
             string_split(p, chr(31))[2] AS b, total
      FROM {pc} ORDER BY total DESC, p ASC LIMIT 1"""


def _bpe_apply_cte(s: str, m: str) -> str:
    return f"""
      SELECT cnt, string_split(substr(list_reduce(list_prepend('', syms),
               (acc, x) -> CASE WHEN length(acc) > 0
                                 AND string_split(acc, chr(31))[-1] = {m}.a
                                 AND x = {m}.b
                           THEN substr(acc, 1, length(acc) - length({m}.a))
                                || {m}.a || {m}.b
                           ELSE acc || chr(31) || x END), 2),
             chr(31)) AS syms
      FROM {s}, {m}"""


def _bpe_sql() -> str:
    pair_cte, top_cte, apply_cte = _bpe_pair_cte, _bpe_top_cte, _bpe_apply_cte
    return f"""
    WITH words AS (
      SELECT w, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    s1 AS (SELECT cnt, regexp_extract_all(w, '.') AS syms FROM words),
    pc1 AS ({pair_cte('s1')}),
    m1 AS ({top_cte('pc1')}),
    s2 AS ({apply_cte('s1', 'm1')}),
    pc2 AS ({pair_cte('s2')}),
    m2 AS ({top_cte('pc2')}),
    s3 AS ({apply_cte('s2', 'm2')}),
    pc3 AS ({pair_cte('s3')}),
    m3 AS ({top_cte('pc3')})
    SELECT 1 AS merge_round, a AS p1, b AS p2, a || b AS merged,
           total::BIGINT AS pair_count FROM m1
    UNION ALL
    SELECT 2, a, b, a || b, total::BIGINT FROM m2
    UNION ALL
    SELECT 3, a, b, a || b, total::BIGINT FROM m3
    """


_register("tx_bpe_train_merges", tx_bpe_train_merges, _bpe_sql())


# ---------------------------------------------------------------------------
# tx_bpe_fertility — the APPLY half of BPE training: encode the corpus
# with the merges tx_bpe_train_merges just learned and report tokenizer
# FERTILITY (tokens per word / per character), the metric tokenizer
# teams use to size vocabularies and compare languages. Applying
# merges to the word-frequency dictionary (not per document) keeps the
# apply stage vocab-bounded — identical scale shape to training; the
# corpus contributes only word counts from the single tokenize pass.
# Output per language bucket of the vocabulary: words, characters,
# symbols after merging, and the compression ratio — at R trained
# merges the ratio directly measures how much of the pair mass the
# merge table captured.
# ---------------------------------------------------------------------------


def tx_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .cache()
    )
    cur = vocab.select(
        "w", "cnt", F.expr("regexp_extract_all(w, '.', 0)").alias("syms")
    )
    for r in range(_BPE_ROUNDS):
        w = _bpe_winner(_bpe_pair_counts(cur), r + 1)
        # Broadcast-winner variant of the _bpe_apply_merge fold, inlined to
        # carry the word key `w` through the rewrite (fertility buckets
        # by word length; training only needs cnt+syms).
        cur = (
            cur.crossJoin(
                F.broadcast(
                    w.select(F.col("p1").alias("_a"), F.col("p2").alias("_b"))
                )
            )
            .select(
                "w",
                "cnt",
                F.split(
                    F.substring(
                        F.aggregate(
                            F.col("syms"),
                            F.lit(""),
                            lambda acc, x: F.when(
                                (F.length(acc) > 0)
                                & (
                                    F.substring_index(acc, _BPE_US, -1)
                                    == F.col("_a")
                                )
                                & (x == F.col("_b")),
                                F.concat(
                                    F.substring(
                                        acc,
                                        F.lit(1),
                                        F.length(acc)
                                        - F.length(F.col("_a")),
                                    ),
                                    F.col("_a"),
                                    F.col("_b"),
                                ),
                            ).otherwise(F.concat(acc, F.lit(_BPE_US), x)),
                        ),
                        F.lit(2),
                        F.lit(1 << 30),
                    ),
                    _BPE_US,
                ).alias("syms"),
            )
        )
    return (
        cur.groupBy((F.length("w") % 4).cast("int").alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("cnt").alias("n_occurrences"),
            F.sum(F.col("cnt") * F.length("w")).alias("chars"),
            F.sum(F.col("cnt") * F.size("syms")).alias("symbols"),
            F.round(
                F.sum(F.col("cnt") * F.size("syms"))
                / F.sum(F.col("cnt") * F.length("w")),
                4,
            ).alias("symbols_per_char"),
        )
    )


def _bpe_fertility_sql() -> str:
    pair_cte, top_cte = _bpe_pair_cte, _bpe_top_cte

    def apply_keep_w(s: str, m: str) -> str:
        return f"""
      SELECT w, cnt, string_split(substr(list_reduce(list_prepend('', syms),
               (acc, x) -> CASE WHEN length(acc) > 0
                                 AND string_split(acc, chr(31))[-1] = {m}.a
                                 AND x = {m}.b
                           THEN substr(acc, 1, length(acc) - length({m}.a))
                                || {m}.a || {m}.b
                           ELSE acc || chr(31) || x END), 2),
             chr(31)) AS syms
      FROM {s}, {m}"""

    return f"""
    WITH words AS (
      SELECT w, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    s1 AS (SELECT w, cnt, regexp_extract_all(w, '.') AS syms FROM words),
    pc1 AS ({pair_cte('s1')}),
    m1 AS ({top_cte('pc1')}),
    s2 AS ({apply_keep_w('s1', 'm1')}),
    pc2 AS ({pair_cte('s2')}),
    m2 AS ({top_cte('pc2')}),
    s3 AS ({apply_keep_w('s2', 'm2')}),
    pc3 AS ({pair_cte('s3')}),
    m3 AS ({top_cte('pc3')}),
    s4 AS ({apply_keep_w('s3', 'm3')})
    SELECT (length(w) % 4)::INT AS len_bucket,
           count(*) AS n_words,
           sum(cnt)::BIGINT AS n_occurrences,
           sum(cnt * length(w))::BIGINT AS chars,
           sum(cnt * len(syms))::BIGINT AS symbols,
           round(sum(cnt * len(syms)) * 1.0
                 / sum(cnt * length(w)), 4) AS symbols_per_char
    FROM s4 GROUP BY 1
    """


_register("tx_bpe_fertility", tx_bpe_fertility, _bpe_fertility_sql())


# ---------------------------------------------------------------------------
# tx_pii_redact — PII scrubbing pass (the email/phone/IP redaction
# every pre-training pipeline runs before release). Pure narrow scan:
# three nested regexp_replace calls (JVM regex, no UDF), occurrence
# counts via regexp_extract_all, and an md5 over the scrubbed text so
# the oracle verifies the REDACTED BYTES exactly, not just the counts.
# The synthetic corpus contains no PII (no digits at all), so the
# fixture is synthesized inline from doc_id — both engines build the
# same enriched text, which makes this a machinery check in the same
# spirit as the fixture-backed mapwarper entries. Patterns stay in the
# Java∩RE2 regex subset so Spark and DuckDB match identically.
# ---------------------------------------------------------------------------

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
_PII_IP = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"


def tx_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    enriched = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    with_counts = docs.select(
        "doc_id",
        enriched.alias("t"),
        F.size(F.regexp_extract_all(enriched, F.lit(_PII_EMAIL), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(enriched, F.lit(_PII_PHONE), 0)).alias(
            "n_phones"
        ),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return with_counts.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_IP), 0)).alias(
            "n_ips"
        ),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).alias("redacted_len"),
    )


_register(
    "tx_pii_redact",
    tx_pii_redact,
    f"""
    WITH enriched AS (
      SELECT doc_id,
             text || ' contact user' || doc_id
                  || '@example.com or 555-'
                  || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
                  || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  || ' from 10.0.' || (doc_id % 256) || '.7' AS t
      FROM documents
    ),
    red AS (
      SELECT doc_id, t,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g') AS r
      FROM enriched
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones,
           len(regexp_extract_all(t, '{_PII_IP}')) AS n_ips,
           md5(r) AS redacted_md5,
           length(r) AS redacted_len
    FROM red
    """,
)


# ---------------------------------------------------------------------------
# tx_logreg_train_steps — distributed TRAINING of the quality
# classifier (the learn half of tx_hashed_linear_score's inference):
# two full-batch gradient-descent steps of logistic regression,
# predicting lang='en' from the cheap quality features
# [bias, stopword_ratio, punct_ratio, ln(1+n_tokens)]. Each step is
# the textbook distributed-GD shape: ONE corpus aggregate producing a
# d-dimensional gradient (d=4 here), collected as bounded scalars and
# folded into the next step's expression as literals — exactly the
# sim_kmeans_2iter contract (per-round driver traffic is O(d), never
# O(corpus)). At 100 TB each step is a single map-side-combined
# aggregate over the feature scan; rounds are fixed, no convergence
# loop. Output: per feature, the weight after step 1 and step 2, plus
# the final mean log-loss (same value every row — the corpus-level
# verification signal).
# ---------------------------------------------------------------------------

_LR_RATE = 1.0  # full-batch GD learning rate
_LR_FEATURES = ["bias", "stopword_ratio", "punct_ratio", "log1p_tokens"]


def _lr_feature_cols():
    t = tokens(F.col("text"))
    return [
        F.lit(1.0),
        stopword_ratio(t),
        punct_ratio(F.col("text")),
        F.log1p(F.size(t).cast("double")),
    ]


def tx_logreg_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    fx = _lr_feature_cols()
    y = F.when(F.col("lang") == "en", 1.0).otherwise(0.0)
    feats = docs.select(
        *[c.alias(f"x{i}") for i, c in enumerate(fx)], y.alias("y")
    ).cache()

    d = len(_LR_FEATURES)
    w = [0.0] * d
    weights_per_step = []
    for _ in range(2):
        z = sum(
            [F.col(f"x{i}") * F.lit(w[i]) for i in range(d)], F.lit(0.0)
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        g = feats.agg(
            *[F.avg((p - F.col("y")) * F.col(f"x{i}")).alias(f"g{i}")
              for i in range(d)]
        ).collect()[0]
        w = [w[i] - _LR_RATE * g[f"g{i}"] for i in range(d)]
        weights_per_step.append(list(w))

    zf = sum([F.col(f"x{i}") * F.lit(w[i]) for i in range(d)], F.lit(0.0))
    pf = F.lit(1.0) / (F.lit(1.0) + F.exp(-zf))
    loss = feats.agg(
        F.avg(
            -(
                F.col("y") * F.log(pf)
                + (1.0 - F.col("y")) * F.log(1.0 - pf)
            )
        ).alias("loss")
    ).collect()[0]["loss"]

    # "+ 0.0" normalizes IEEE negative zero (round(-1e-9, 4) is -0.0,
    # which hash-compares unequal to the oracle's 0.0)
    rows = [
        (
            _LR_FEATURES[i],
            round(weights_per_step[0][i], 4) + 0.0,
            round(weights_per_step[1][i], 4) + 0.0,
            round(loss, 4) + 0.0,
        )
        for i in range(d)
    ]
    return spark.createDataFrame(
        rows, "feature string, w_step1 double, w_step2 double, "
        "final_loss double"
    )


_register(
    "tx_logreg_train_steps",
    tx_logreg_train_steps,
    f"""
    WITH feats AS (
      SELECT 1.0 AS x0,
             len(list_filter(string_split(text, ' '),
                             w -> w IN {_STOP_SQL})) * 1.0
               / len(string_split(text, ' ')) AS x1,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0
               / length(text) AS x2,
             ln(1 + len(string_split(text, ' '))) AS x3,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ),
    g1 AS (
      SELECT avg((0.5 - y) * x0) AS g0, avg((0.5 - y) * x1) AS g1,
             avg((0.5 - y) * x2) AS g2, avg((0.5 - y) * x3) AS g3
      FROM feats
    ),
    w1 AS (
      SELECT -{_LR_RATE} * g0 AS w0, -{_LR_RATE} * g1 AS w1,
             -{_LR_RATE} * g2 AS w2, -{_LR_RATE} * g3 AS w3
      FROM g1
    ),
    g2 AS (
      SELECT avg((1.0 / (1.0 + exp(-(w1.w0*x0 + w1.w1*x1 + w1.w2*x2
                                     + w1.w3*x3))) - y) * x0) AS g0,
             avg((1.0 / (1.0 + exp(-(w1.w0*x0 + w1.w1*x1 + w1.w2*x2
                                     + w1.w3*x3))) - y) * x1) AS g1,
             avg((1.0 / (1.0 + exp(-(w1.w0*x0 + w1.w1*x1 + w1.w2*x2
                                     + w1.w3*x3))) - y) * x2) AS g2,
             avg((1.0 / (1.0 + exp(-(w1.w0*x0 + w1.w1*x1 + w1.w2*x2
                                     + w1.w3*x3))) - y) * x3) AS g3
      FROM feats, w1 GROUP BY w1.w0, w1.w1, w1.w2, w1.w3
    ),
    w2 AS (
      SELECT w1.w0 - {_LR_RATE} * g2.g0 AS w0,
             w1.w1 - {_LR_RATE} * g2.g1 AS w1,
             w1.w2 - {_LR_RATE} * g2.g2 AS w2,
             w1.w3 - {_LR_RATE} * g2.g3 AS w3
      FROM w1, g2
    ),
    lossf AS (
      SELECT avg(-(y * ln(1.0 / (1.0 + exp(-(w2.w0*x0 + w2.w1*x1
                                             + w2.w2*x2 + w2.w3*x3))))
                   + (1.0 - y) * ln(1.0 - 1.0 / (1.0 + exp(-(w2.w0*x0
                       + w2.w1*x1 + w2.w2*x2 + w2.w3*x3)))))) AS loss
      FROM feats, w2 GROUP BY w2.w0, w2.w1, w2.w2, w2.w3
    )
    SELECT f.feature,
           round(CASE f.i WHEN 0 THEN w1.w0 WHEN 1 THEN w1.w1
                          WHEN 2 THEN w1.w2 ELSE w1.w3 END, 4) + 0.0
             AS w_step1,
           round(CASE f.i WHEN 0 THEN w2.w0 WHEN 1 THEN w2.w1
                          WHEN 2 THEN w2.w2 ELSE w2.w3 END, 4) + 0.0
             AS w_step2,
           round(lossf.loss, 4) + 0.0 AS final_loss
    FROM (VALUES (0, 'bias'), (1, 'stopword_ratio'),
                 (2, 'punct_ratio'), (3, 'log1p_tokens')) f(i, feature),
         w1, w2, lossf
    """,
)


# ---------------------------------------------------------------------------
# tx_kneser_ney_logprob — interpolated Kneser-Ney bigram LM scoring,
# the production-grade smoothing next to tx_bigram_logprob's add-k
# baseline (Kneser & Ney 1995; Chen & Goodman 1998 found interpolated
# KN the strongest n-gram smoother, which is why KenLM and every
# serious n-gram perplexity filter use it):
#
#   P(w2|w1) = max(c(w1w2) - D, 0)/c(w1·)
#              + (D · N1+(w1·)/c(w1·)) · (N1+(·w2)/N1+(··))
#
# The continuation probability N1+(·w2)/N1+(··) scores HOW MANY
# contexts a word follows, not how often it occurs — the "Francisco"
# fix: frequent-but-context-locked words stop inflating unseen-bigram
# mass. Same physical shape as tx_bigram_logprob: one bigram explode
# feeds instances AND type counts; every statistic (c12, c(w1·),
# N1+(w1·), N1+(·w2), N1+(··)) derives from ONE groupBy over the
# vocab²-bounded type table, so only 8-byte hashed keys ever shuffle;
# the resolved log-prob table broadcasts under the same size gate.
# Both engines evaluate the identical parenthesized double expression
# before the rounded per-doc average.
# ---------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount


def _kn_scores(inst: DataFrame, lptab: DataFrame) -> DataFrame:
    """Per-doc bigram count and mean KN log-prob of the instances
    ``(doc_id, bh)`` under the model ``lptab(bh, lp)``."""
    return (
        inst.join(lptab, "bh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 4).alias("avg_kn_logprob"),
        )
    )


def tx_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    inst = _bigram_instances(docs, with_w2=True)
    c12 = inst.groupBy("bh").agg(
        F.count(F.lit(1)).alias("c12"),
        F.min("w1h").alias("w1h"),
        F.min("w2h").alias("w2h"),
    )
    fwd = c12.groupBy("w1h").agg(
        F.sum("c12").alias("cdot"),
        F.count(F.lit(1)).alias("n1fwd"),
    )
    bwd = c12.groupBy("w2h").agg(F.count(F.lit(1)).alias("n1bwd"))
    nbi = c12.agg(F.count(F.lit(1)).alias("nbi"))
    lptab = (
        c12.join(fwd, "w1h")
        .join(bwd, "w2h")
        .crossJoin(broadcast(nbi))
        .select(
            "bh",
            F.log(
                F.greatest(F.col("c12") - F.lit(_KN_D), F.lit(0.0))
                / F.col("cdot")
                + (F.lit(_KN_D) * F.col("n1fwd") / F.col("cdot"))
                * (F.col("n1bwd") / F.col("nbi"))
            ).alias("lp"),
        )
    )
    from ..sources.tables import _input_bytes

    if _input_bytes(f"{sf_dir}/documents.parquet") <= _BLM_BCAST_MAX_INPUT:
        lptab = broadcast(lptab)
    return _kn_scores(inst, lptab)


_register(
    "tx_kneser_ney_logprob",
    tx_kneser_ney_logprob,
    _BIGRAM_CTES
    + f"""
    bgk AS (
      SELECT doc_id, b,
             string_split(b, ' ')[1] AS w1,
             string_split(b, ' ')[2] AS w2
      FROM bg
    ),
    c12 AS (
      SELECT b, any_value(w1) AS w1, any_value(w2) AS w2,
             count(*) AS c12
      FROM bgk GROUP BY b
    ),
    fwd AS (
      SELECT w1, sum(c12) AS cdot, count(*) AS n1fwd FROM c12 GROUP BY 1
    ),
    bwd AS (
      SELECT w2, count(*) AS n1bwd FROM c12 GROUP BY 1
    ),
    nbi AS (SELECT count(*) AS nbi FROM c12),
    lptab AS (
      SELECT c12.b,
             ln(greatest(c12.c12 - {_KN_D}, 0.0) / fwd.cdot
                + ({_KN_D} * fwd.n1fwd / fwd.cdot)
                * (bwd.n1bwd / nbi.nbi)) AS lp
      FROM c12 JOIN fwd USING (w1) JOIN bwd USING (w2) CROSS JOIN nbi
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(lp), 4) AS avg_kn_logprob
    FROM bgk JOIN lptab USING (b)
    GROUP BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# tx_kneser_ney_fp — the PRODUCTION shape of KN scoring (r8 verdict
# item 3, the same materialized-artifact treatment sim_ivfpq_search_fp
# gives the IVF-PQ codebooks and dd_incremental_dedup_fp gives the
# landed fingerprints): the resolved (bigram, log-prob) table is a
# TRAINED ARTIFACT — an n-gram LM trains once and scores many batches
# (exactly how KenLM-filtered pipelines run) — so the steady-state
# scorer reads it materialized instead of re-deriving the
# c12/fwd/bwd/N1+ count tables from the raw corpus per run.
#
# Floor decomposition of the from-raw twin at sf0.1 (BASELINE.md r9):
# the full entry pays the corpus bigram explode TWICE (model branch +
# score branch, 0.227 s each) plus the vocab²-bounded type aggregate
# and three model joins (0.27 s) — ~0.88 s total. The fp twin's floor
# is ONE score-side explode (the incoming batch is raw by definition)
# + a size-gated broadcast join + the per-doc aggregate. At 100 TB
# the model table is vocab²-bounded (931 rows at sf0.1) while the
# corpus passes it removes are corpus-sized — the classic
# train-once/score-many split.
#
# The fixture is a deterministic pure-Python (duckdb → parquet)
# materialization of the SAME interpolated-KN formula the oracle
# computes, keyed on the corpus file's content identity + the formula
# text + the discount (stale reuse impossible); write-to-temp +
# atomic rename. Value-equality against the from-text oracle proves
# the materialized table IS the KN model.
# ---------------------------------------------------------------------------

# The resolved-model formula, defined ONCE: the fixture writer embeds
# it and the cache key hashes it, so editing the model invalidates
# the cache with it (the landed-fp discipline, dedup.py).
_KN_LPTAB_SQL_TMPL = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM read_parquet('{src}')
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t), 1)),
                                   i -> t[i] || ' ' || t[i+1])) AS b
      FROM toks WHERE len(t) >= 2
    ),
    bgk AS (
      SELECT b, string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2
      FROM bg
    ),
    c12 AS (
      SELECT b, any_value(w1) AS w1, any_value(w2) AS w2, count(*) AS c12
      FROM bgk GROUP BY b
    ),
    fwd AS (
      SELECT w1, sum(c12) AS cdot, count(*) AS n1fwd FROM c12 GROUP BY 1
    ),
    bwd AS (SELECT w2, count(*) AS n1bwd FROM c12 GROUP BY 1),
    nbi AS (SELECT count(*) AS nbi FROM c12)
    SELECT c12.b,
           ln(greatest(c12.c12 - {d}, 0.0) / fwd.cdot
              + ({d} * fwd.n1fwd / fwd.cdot)
              * (bwd.n1bwd / nbi.nbi)) AS lp
    FROM c12 JOIN fwd USING (w1) JOIN bwd USING (w2) CROSS JOIN nbi
    ORDER BY b
"""


def _kn_lptab_table(sf_dir: str) -> str:
    import os

    from ..functions.fixture_cache import duckdb_fixture

    src = os.path.join(sf_dir, "documents.parquet")
    return duckdb_fixture(
        "kn_lptab",
        src,
        (_KN_D, _KN_LPTAB_SQL_TMPL),
        {"kn_lptab": _KN_LPTAB_SQL_TMPL.format(src=src, d=_KN_D)},
    )["kn_lptab"]


def tx_kneser_ney_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import _input_bytes

    lp_path = _kn_lptab_table(sf_dir)
    # SIZE-GATED broadcast (r9 broadcast audit): the model table is
    # distinct-bigram-TYPE-bounded, which grows with the corpus (a
    # web-scale bigram vocabulary is billions of types) — the same
    # gate the from-raw twin applies, measured here directly on the
    # fixture parquet. Past the gate AQE decides and the score join
    # shuffles on the 8-byte hash key; keys drop to xxhash64 at the
    # scan so no string rides the join either way.
    # The artifact stores the bigram as its STRING form; the instance
    # stream keys on the multi-column pair hash (r12, see
    # _bigram_instances), so split the vocab²-bounded artifact once
    # and hash pair-wise — the corpus-scale side never concatenates.
    lptab = (
        spark.read.schema("b string, lp double")
        .parquet(lp_path)
        .select(F.split("b", " ").alias("bs"), "lp")
        .select(
            F.xxhash64(F.col("bs")[0], F.col("bs")[1]).alias("bh"), "lp"
        )
    )
    if _input_bytes(lp_path) <= _BLM_BCAST_MAX_INPUT:
        lptab = broadcast(lptab)
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    inst = _bigram_instances(docs).select("doc_id", "bh")
    return _kn_scores(inst, lptab)


_register(
    "tx_kneser_ney_fp",
    tx_kneser_ney_fp,
    # Same logical contract as tx_kneser_ney_logprob — the oracle
    # recomputes the model from text (DuckDB sees only the catalog
    # tables); value-equality proves the materialized table IS the
    # interpolated-KN model.
    ORACLE["tx_kneser_ney_logprob"],
)
