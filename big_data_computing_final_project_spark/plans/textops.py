"""Text-analysis queries over `documents` (north-star extension:
language-ID, quality scoring, token counting, fingerprinting — SURVEY.md §7
step 6). All pure Column expressions (functions/text.py) — JVM-side,
narrow maps, no shuffle except the final aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as X
from ..sources.io import local_frame
from .registry import register

# DuckDB equivalent of functions.text.normalize / tokens
_SQL_NORM = "trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r\\p{Z}]+', ' ', 'g'))"
_SQL_TOKS = f"string_split({_SQL_NORM}, ' ')"


# ---------------------------------------------------------------------------
# q31 — token counting + fingerprinting (whitespace count, BPE-ish piece
# count, md5 fingerprint).
# ---------------------------------------------------------------------------

_Q31_ORACLE = f"""
SELECT doc_id,
       len({_SQL_TOKS}) AS n_tokens,
       CAST(list_sum(list_transform({_SQL_TOKS},
            w -> CAST(ceil(length(w) / 4.0) AS INT))) AS BIGINT) AS n_pieces,
       md5({_SQL_NORM}) AS fp
FROM documents
ORDER BY doc_id
"""


@register("q31_token_stats", oracle=_Q31_ORACLE)
def q31_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        X.token_count(t).alias("n_tokens"),
        X.bpe_ish_token_count(t).cast("bigint").alias("n_pieces"),
        X.fingerprint(t).alias("fp"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q32 — heuristic language ID (stopword-hit argmax over en/fr/de/es).
# The oracle replicates the same first-max-wins fold as a CASE chain.
# ---------------------------------------------------------------------------


def _sql_hits(words: list[str]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({_SQL_TOKS}, t -> list_contains({arr}, t)))"


def _q32_oracle() -> str:
    hit_cols = {lang: _sql_hits(words) for lang, words in X.STOPWORDS.items()}
    sel = ", ".join(f"{sql} AS hits_{lang}" for lang, sql in hit_cols.items())
    langs = list(X.STOPWORDS)  # same fold order as functions.text.lang_id
    m = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    case = f"CASE WHEN {m} = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN hits_{lang} = {m} THEN '{lang}' "
    case += "END"
    return f"""
WITH h AS (SELECT doc_id, {sel} FROM documents)
SELECT {case} AS detected_lang, COUNT(*) AS n_docs
FROM h GROUP BY detected_lang ORDER BY detected_lang
"""


@register("q32_lang_id", oracle=_q32_oracle())
def q32_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(X.lang_id(F.col("text")).alias("detected_lang"))
        .groupBy("detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("detected_lang")
    )


# ---------------------------------------------------------------------------
# q33 — quality scoring: per-document composite score (raw doubles — exact
# cross-engine) plus the per-source min/max (exact under any order).
# ---------------------------------------------------------------------------

_SQL_PUNCT_RATIO = (
    "CASE WHEN length(text) > 0 THEN "
    "CAST(length(text) - length(regexp_replace(text, '[^\\w\\p{L}\\p{N} \\t\\n\\x0b\\f\\r\\p{Z}]', '', 'g')) AS DOUBLE)"
    " / length(text) ELSE 0.0 END"
)
_SQL_STOP_RATIO = (
    f"CASE WHEN len({_SQL_TOKS}) > 0 THEN "
    f"CAST({_sql_hits(X.STOPWORDS['en'])} AS DOUBLE) / len({_SQL_TOKS}) ELSE 0.0 END"
)

_Q33_ORACLE = f"""
WITH q AS (
  SELECT doc_id, source,
         least(length(text) / 500.0, 1.0) * 0.4
         + (1.0 - least({_SQL_PUNCT_RATIO} * 5.0, 1.0)) * 0.3
         + least({_SQL_STOP_RATIO} * 5.0, 1.0) * 0.3 AS quality
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       MIN(quality) AS min_q, MAX(quality) AS max_q,
       COUNT(*) FILTER (WHERE quality >= 0.5) AS n_good
FROM q GROUP BY source ORDER BY source
"""


@register("q33_quality_by_source", oracle=_Q33_ORACLE)
def q33_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = X.quality_score(F.col("text"))
    return (
        docs.select("source", q.alias("quality"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("quality").alias("min_q"),
            F.max("quality").alias("max_q"),
            F.count(F.when(F.col("quality") >= 0.5, F.lit(1))).alias("n_good"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q67 — TF-IDF top terms (SURVEY §7 step 6: Tokenizer / StopWordsRemover /
# TF-IDF, expressed relationally instead of via ml.feature so it is
# oracle-checkable). idf is constant per term, so the per-term score
# collapses to total_tf * ln(N/df) — ONE double multiply per output row,
# no summation-order hazard. Corpus size N comes from a broadcast 1-row
# aggregate, not a driver collect, so the plan scales unchanged.
# Scale shape: explode -> one hash aggregate on term; top-k via
# TakeOrderedAndProject (no global sort).
# ---------------------------------------------------------------------------

_TFIDF_K = 20

# union of every language's stopword list — the filter a StopWordsRemover
# stage would apply
_ALL_STOPWORDS = sorted({w for words in X.STOPWORDS.values() for w in words})
_SQL_STOPLIST = "[" + ", ".join(f"'{w}'" for w in _ALL_STOPWORDS) + "]"

_Q67_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
), filtered AS (
  SELECT doc_id, term FROM tok
  WHERE term <> '' AND NOT list_contains({_SQL_STOPLIST}, term)
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
), stats AS (
  SELECT term, COUNT(*) AS total_tf, COUNT(DISTINCT doc_id) AS df
  FROM filtered GROUP BY term
)
SELECT term, total_tf, df
FROM stats, n
ORDER BY total_tf * ln(CAST(n_docs AS DOUBLE) / df) DESC, term
LIMIT {_TFIDF_K}
"""


@register("q67_tfidf_top_terms", oracle=_Q67_ORACLE)
def q67_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    terms = (
        # outer-explode skips InferFiltersFromGenerate's size()>0 filter
        # (it would re-tokenize every row a second time below the projection)
        docs.select("doc_id", F.explode_outer(X.tokens(F.col("text"))).alias("term"))
        .filter((F.col("term") != "") & ~F.col("term").isin(_ALL_STOPWORDS))
    )
    stats = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("total_tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    # the double score orders the result but is NOT an output column:
    # Java Math.log and DuckDB's libm ln disagree in the last ulp, which
    # would poison the value hash; rank flips need two terms within 1 ulp,
    # and exact score ties (equal tf and df) fall to the term tiebreaker.
    tfidf = F.col("total_tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    return (
        stats.join(F.broadcast(n_docs))
        .orderBy(tfidf.desc(), "term")
        .limit(_TFIDF_K)
        .select("term", "total_tf", "df")
    )


# ---------------------------------------------------------------------------
# q71 — rule-based quality filtering funnel (C4/Gopher-style): every doc is
# tested against ordered rules — token-count bounds, mean-word-length
# bounds, symbol ratio, duplicate-bigram repetition — and attributed to its
# FIRST failing rule; output is the per-source funnel (how much each source
# loses to which rule), the report a training-data pipeline ships with
# every crawl snapshot. One narrow scan + one hash aggregate on source;
# every rule is a JVM Column expression over the token array (no UDF, no
# shuffle before the final per-source agg).
# ---------------------------------------------------------------------------

_QF_MIN_TOKS, _QF_MAX_TOKS = 20, 90
_QF_MIN_WL, _QF_MAX_WL = 3.0, 5.0
_QF_MAX_SYM = 0.1
_QF_MAX_DUP_BIGRAM = 0.1

_Q71_ORACLE = f"""
WITH d AS (
  SELECT source, {_SQL_TOKS} AS t, {_SQL_NORM} AS nm FROM documents
), s AS (
  SELECT source, len(t) AS n,
         CAST(length(nm) - (len(t) - 1) AS DOUBLE) / len(t) AS mean_wl,
         CAST(length(regexp_replace(nm, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(nm) AS sym,
         CASE WHEN len(t) >= 2
              THEN 1 - CAST(len(list_distinct(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i+1]))) AS DOUBLE) / (len(t) - 1)
              ELSE 0.0 END AS dup_bg
  FROM d
), flagged AS (
  SELECT source,
         CASE
           WHEN n < {_QF_MIN_TOKS} OR n > {_QF_MAX_TOKS} THEN 'length'
           WHEN mean_wl < {_QF_MIN_WL} OR mean_wl > {_QF_MAX_WL} THEN 'word_length'
           WHEN sym > {_QF_MAX_SYM} THEN 'symbol'
           WHEN dup_bg > {_QF_MAX_DUP_BIGRAM} THEN 'repetition'
           ELSE 'kept'
         END AS verdict
  FROM s
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (verdict = 'kept') AS kept,
       COUNT(*) FILTER (verdict = 'length') AS drop_length,
       COUNT(*) FILTER (verdict = 'word_length') AS drop_word_length,
       COUNT(*) FILTER (verdict = 'symbol') AS drop_symbol,
       COUNT(*) FILTER (verdict = 'repetition') AS drop_repetition
FROM flagged
GROUP BY source
ORDER BY source
"""


@register("q71_quality_filter_funnel", oracle=_Q71_ORACLE)
def q71_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = X.tokens(F.col("text"))
    nm = X.normalize(F.col("text"))
    n = F.size(t)
    mean_wl = (F.length(nm) - (n - F.lit(1))).cast("double") / n
    sym = F.length(F.regexp_replace(nm, "[a-z0-9 ]", "")).cast("double") / F.length(nm)
    # bigrams via slice (bounds-safe under ANSI); guard n<2 where the
    # sequence would go descending
    bigrams = F.transform(
        F.sequence(F.lit(1), n - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
    )
    dup_bg = F.when(
        n >= 2,
        F.lit(1) - F.size(F.array_distinct(bigrams)).cast("double") / (n - F.lit(1)),
    ).otherwise(F.lit(0.0))
    verdict = (
        F.when((n < _QF_MIN_TOKS) | (n > _QF_MAX_TOKS), F.lit("length"))
        .when((mean_wl < _QF_MIN_WL) | (mean_wl > _QF_MAX_WL), F.lit("word_length"))
        .when(sym > _QF_MAX_SYM, F.lit("symbol"))
        .when(dup_bg > _QF_MAX_DUP_BIGRAM, F.lit("repetition"))
        .otherwise(F.lit("kept"))
    )
    return (
        docs.select("source", verdict.alias("verdict"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("verdict") == "kept", 1)).alias("kept"),
            F.count(F.when(F.col("verdict") == "length", 1)).alias("drop_length"),
            F.count(F.when(F.col("verdict") == "word_length", 1)).alias("drop_word_length"),
            F.count(F.when(F.col("verdict") == "symbol", 1)).alias("drop_symbol"),
            F.count(F.when(F.col("verdict") == "repetition", 1)).alias("drop_repetition"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q75 — deterministic hash split (train/val/test 80/10/10): split membership
# = md5(doc_id) mod 100, so assignment is a pure function of the key —
# reproducible across runs, engines, cluster sizes, and data re-shuffles,
# and new documents never move existing ones between splits (the property
# random-fraction sampling lacks, and the reason production corpus
# pipelines split by hash). Output: per-source x split counts with shares.
# md5-60bit keeps the oracle bit-identical (same portability trick as q37);
# the xxhash64 swap is the cheap production variant.
# ---------------------------------------------------------------------------

_SPLIT_TRAIN, _SPLIT_VAL = 80, 90  # <80 train, <90 val, else test

_Q75_ORACLE = f"""
WITH d AS (
  SELECT source,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
  FROM documents
), labeled AS (
  SELECT source,
         CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
              WHEN bucket < {_SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split
  FROM d
)
SELECT source, split, COUNT(*) AS n_docs,
       CAST(COUNT(*) AS DOUBLE)
         / SUM(COUNT(*)) OVER (PARTITION BY source) AS share
FROM labeled
GROUP BY source, split
ORDER BY source, split
"""


# ---------------------------------------------------------------------------
# q80 — denylist redaction (the masking pass of a PII/toxicity scrub): every
# match of a term denylist is replaced with a mask token; the report is the
# per-source redaction audit (docs touched, matches masked, chars removed)
# that ships with a scrub run. regexp_count/regexp_replace are codegen'd
# JVM ops — one narrow scan, one agg; at 100 TB the rewrite pass is
# scan-bound, exactly what you want. The \b word-boundary pattern means
# identical semantics in Java regex (Spark) and RE2 (DuckDB).
# ---------------------------------------------------------------------------

_DENYLIST_RE = r"\b(customer|spark|secret)\b"

_Q80_ORACLE = f"""
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (len(regexp_extract_all(text, '{_DENYLIST_RE}')) > 0)
         AS docs_redacted,
       CAST(SUM(len(regexp_extract_all(text, '{_DENYLIST_RE}'))) AS BIGINT)
         AS total_hits,
       CAST(SUM(length(text)
                - length(regexp_replace(text, '{_DENYLIST_RE}', '', 'g'))) AS BIGINT)
         AS chars_removed
FROM documents
GROUP BY source
ORDER BY source
"""


@register("q80_denylist_redact", oracle=_Q80_ORACLE)
def q80_denylist_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hits = F.regexp_count(F.col("text"), F.lit(_DENYLIST_RE))
    removed = F.length("text") - F.length(F.regexp_replace("text", _DENYLIST_RE, ""))
    return (
        docs.select("source", hits.alias("hits"), removed.alias("removed"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("hits") > 0, 1)).alias("docs_redacted"),
            F.sum("hits").alias("total_hits"),
            F.sum("removed").alias("chars_removed"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q81 — fixed-size document chunking (tokenize -> split every doc into
# 32-token chunks), the 1-row -> N-rows shaping step before embedding or
# context-window packing. Pure array exprs: sequence over chunk indices +
# explode — a narrow map with no shuffle; chunk rows inherit the parent's
# partitioning, which is exactly how a 100 TB chunking pass should behave.
# ---------------------------------------------------------------------------

_CHUNK = 32

_Q81_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), c AS (
  SELECT doc_id, len(t) AS n,
         unnest(range(CAST(ceil(len(t) / {_CHUNK}.0) AS BIGINT))) AS chunk_id,
         t
  FROM d
)
SELECT doc_id, chunk_id,
       least({_CHUNK}, n - chunk_id * {_CHUNK}) AS n_chunk_tokens,
       t[chunk_id * {_CHUNK} + 1] AS head_token
FROM c
ORDER BY doc_id, chunk_id
"""


@register("q81_chunk_documents", oracle=_Q81_ORACLE)
def q81_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = X.tokens(F.col("text"))
    base = docs.select("doc_id", t.alias("t"), F.size(t).alias("n"))
    chunk_ids = F.sequence(
        F.lit(0), F.ceil(F.col("n") / F.lit(float(_CHUNK))).cast("long") - 1
    )
    return (
        base.select("doc_id", "n", "t", F.explode_outer(chunk_ids).alias("chunk_id"))  # outer: skip inferred re-tokenizing filter
        .select(
            "doc_id",
            "chunk_id",
            F.least(F.lit(_CHUNK), F.col("n") - F.col("chunk_id") * _CHUNK).alias(
                "n_chunk_tokens"
            ),
            F.element_at("t", (F.col("chunk_id") * _CHUNK + 1).cast("int")).alias(
                "head_token"
            ),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# q82 — greedy sequence packing (GPT-style concat-then-split): documents are
# concatenated in deterministic order (doc_id) per source and cut into
# 1024-token context bins; a doc belongs to the bin where it STARTS
# (start offset = running token sum minus own length). One window cumsum
# per source partition + one hash agg — integer arithmetic end-to-end, so
# the oracle matches exactly. The packing report (bins, docs/bin, fill
# level) is what a pretraining data loader derives its sampling plan from.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 1024

_Q82_ORACLE = f"""
WITH d AS (
  SELECT source, doc_id, len({_SQL_TOKS}) AS n_tokens FROM documents
), placed AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start_off
  FROM d
)
SELECT source,
       CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM placed
GROUP BY source, bin_id
ORDER BY source, bin_id
"""


@register("q82_pack_sequences", oracle=_Q82_ORACLE)
def q82_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The running token sum uses the bucketed prefix scan, NOT
    ``Window.partitionBy("source")``: documents.source has ~20 values, so
    the window form serializes the whole corpus into 20 single-task scans
    at 100 TB. ``prefix_agg`` splits each source's scan
    by doc_id blocks — within-block cumsums parallelize across all cores,
    and only the per-(source, block) partials (n_docs/4096 rows) see a
    sequential combine."""
    from ..operators.prefix import prefix_agg

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", "doc_id", X.token_count(F.col("text")).alias("n_tokens")
    )
    placed = prefix_agg(
        d,
        ["doc_id"],
        [("n_tokens", "cum_tokens", "sum")],
        bucket=F.floor(F.col("doc_id") / 4096).cast("bigint"),
        partition_cols=["source"],
    ).withColumn("start_off", F.col("cum_tokens") - F.col("n_tokens"))
    return (
        placed.groupBy(
            "source", F.floor(F.col("start_off") / _PACK_BUDGET).alias("bin_id")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        .orderBy("source", "bin_id")
    )


# ---------------------------------------------------------------------------
# q85 — Python UDTF surface (SURVEY §2.9 extension): a table-generating
# function (1 doc row -> N positional-bigram rows) via the Spark 4 UDTF API
# under a lateral join, Arrow-batched (ArrowEvalPythonUDTF — NOT the
# forbidden row-at-a-time BatchEvalPython path; the conf is set at runtime
# so an external driver session gets it too). The same rows are expressible
# with JVM array exprs (q81's approach) — this query exists to pin the UDTF
# plumbing: schema declaration, outer-column lateral reference, Arrow
# batching, and downstream aggregation over UDTF output.
# ---------------------------------------------------------------------------

_Q85_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), bg AS (
  SELECT doc_id,
         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bigrams
  FROM d WHERE len(t) >= 2
)
SELECT doc_id,
       len(bigrams) AS n_bigrams,
       len(list_distinct(bigrams)) AS n_distinct
FROM bg
ORDER BY doc_id
"""


@register("q85_udtf_ngrams", oracle=_Q85_ORACLE)
def q85_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, ngram string", useArrow=True)
    class NGramUDTF:
        def eval(self, text: str, n: int):
            toks = text.split()
            for i in range(len(toks) - n + 1):
                yield i, " ".join(toks[i : i + n])

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.normalize(F.col("text")).alias("nm")
    )
    grams = docs.lateralJoin(NGramUDTF(F.col("nm").outer(), F.lit(2)))
    return (
        grams.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.countDistinct("ngram").alias("n_distinct"),
        )
        .orderBy("doc_id")
    )


@register("q75_hash_split", oracle=_Q75_ORACLE)
def q75_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    bucket = X.md5_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    counts = (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("source")
    return (
        counts.withColumn(
            "share", F.col("n_docs").cast("double") / F.sum("n_docs").over(w)
        )
        .orderBy("source", "split")
    )


# ---------------------------------------------------------------------------
# q100 — corpus vocabulary heavy hitters (SpaceSaving-style mergeable
# counters, operators/sketches.heavy_hitters_topk) finished with an EXACT
# rescore pass, so the final answer is oracle-paired. The scale story:
# q67's exact TF path explodes every token through a shuffle; here phase 1
# ships at most `capacity` truncated counters per partition (shuffle is
# O(partitions x capacity) regardless of corpus size) and phase 2 re-scans
# only tokens matching the certified candidate set (data-dependent size,
# capped at cand_max=4096 — broadcast hash semi; almost all tokens
# short-circuit at the probe, nothing wide shuffles).
# Candidate selection is CERTIFIED, not heuristic: phase 1's
# [lo, hi] bound rows feed operators/sketches.certified_hh_candidates,
# which proves {item : count_hi >= k-th largest count_lo} contains the
# true top-20 and that no truncated-away term can rank (drop_total <
# threshold); when the certificate fails — flat/adversarial vocab where
# a sketch fundamentally cannot rank — the query falls back to the exact
# q67-shaped full aggregation instead of silently returning a wrong
# answer. The sketch's bound semantics stay pytest-pinned in
# tests/test_sketches.py (incl. a planted flat-vocab certificate test).
# ---------------------------------------------------------------------------

_Q100_ORACLE = f"""
WITH tok AS (
  SELECT unnest({_SQL_TOKS}) AS term FROM documents
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM tok
WHERE term <> ''
GROUP BY term
ORDER BY n_occurrences DESC, term
LIMIT 20
"""


# Certified candidate lists memoized per (application, sf_dir, DATA
# FINGERPRINT): building q100 runs the phase-1 sketch jobs at plan-BUILD
# time, and bench/snapshot tooling rebuilds the same query several times
# per session. Unlike the broadcast-estimate cache (operators/sizing.py,
# which can only cost a slower plan when stale), this memo carries the
# ANSWER's correctness, so it must not trust path identity alone: the key
# includes the documents table's file stats (name, size, mtime_ns), so a
# rewritten-in-place corpus recomputes instead of silently rescoring the
# old head terms.
_Q100_CAND_MEMO: dict[tuple, list[str] | None] = {}


def _path_stat_fingerprint(path: str) -> tuple:
    """Cheap change detector for a parquet file or directory: sorted
    (name, size, mtime_ns) of the path's entries (or the file itself)."""
    import os

    if os.path.isdir(path):
        entries = []
        for name in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, name))
            entries.append((name, st.st_size, st.st_mtime_ns))
        return tuple(entries)
    st = os.stat(path)
    return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)


@register("q100_vocab_heavy_hitters", oracle=_Q100_ORACLE)
def q100_vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import certified_hh_candidates, heavy_hitters_partials

    docs = load_table(spark, sf_dir, "documents")
    # pre-filter '' inside the array so the sketch counts exactly the
    # domain the exact query aggregates (a frequent '' could otherwise
    # inflate the certificate threshold past a real top-20 term)
    toks = docs.select(
        F.filter(X.tokens(F.col("text")), lambda t: t != "").alias("toks")
    )
    terms = toks.select(F.explode_outer("toks").alias("term")).where(
        F.col("term").isNotNull() & (F.col("term") != "")
    )
    # phase 1: bounded-state sketch -> CERTIFIED candidate terms (or None
    # when no sketch can rank this distribution)
    memo_key = (
        spark.sparkContext.applicationId,
        sf_dir,
        _path_stat_fingerprint(f"{sf_dir}/documents.parquet"),
    )
    if memo_key in _Q100_CAND_MEMO:
        cand_items = _Q100_CAND_MEMO[memo_key]
    else:
        cand_items = certified_hh_candidates(
            heavy_hitters_partials(toks, "toks", capacity=4096), k=20
        )
        _Q100_CAND_MEMO[memo_key] = cand_items
    if cand_items is None:
        # certificate failed (flat/adversarial vocab): exact full
        # aggregation — correct at any distribution, pays the wide shuffle
        src = terms
    else:
        # phase 2: exact counts for candidates only; the collected
        # candidate list (<= cand_max) broadcasts as a local relation
        cand = local_frame(spark, [(t,) for t in cand_items], "term string")
        src = terms.join(F.broadcast(cand), "term")
    exact = src.groupBy("term").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return exact.orderBy(F.desc("n_occurrences"), "term").limit(20)


# ---------------------------------------------------------------------------
# q103 — temperature-scaled mixture sampling weights per source (the
# multilingual-corpus sampling recipe: sample source i proportionally to
# p_i^alpha with alpha=0.5, upweighting small sources). Emitted as exact
# per-source stats + temperature weight sqrt(p_i) + the upsampling factor
# relative to the largest source. Every double here is produced only by
# correctly-rounded IEEE ops (bigint sums, one division, sqrt), so a
# 1000-executor run hash-matches the single-threaded oracle — deliberately
# NO cross-source sum of irrational doubles (not order-reproducible).
# Scale: one narrow map + one partial-aggregated groupBy on ~dozens of keys.
# ---------------------------------------------------------------------------

_Q103_ORACLE = f"""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT source, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS tok_share,
         CAST(n_tokens AS DOUBLE) / MAX(n_tokens) OVER () AS vs_max
  FROM s
)
SELECT source, n_docs, n_tokens, tok_share,
       sqrt(tok_share) AS temp_weight,
       sqrt(1.0 / vs_max) AS upsample_vs_max
FROM t
ORDER BY source
"""


@register("q103_mixture_weights", oracle=_Q103_ORACLE)
def q103_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count(F.col("text"))).alias("n_tokens"),
    )
    w = Window.partitionBy()
    t = s.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w)).alias("tok_share"),
        (F.col("n_tokens").cast("double") / F.max("n_tokens").over(w)).alias("vs_max"),
    )
    return t.select(
        "source",
        "n_docs",
        "n_tokens",
        "tok_share",
        F.sqrt("tok_share").alias("temp_weight"),
        F.sqrt(F.lit(1.0) / F.col("vs_max")).alias("upsample_vs_max"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q105 — Gopher-style repetition signals per document: duplicate-token
# fraction and duplicate bigram/trigram fractions (high values flag boiler-
# plate / degenerate text for corpus filtering). Computed entirely with
# array expressions (size/array_distinct over transform-built n-grams) —
# zero explode, zero shuffle except the final sort: per-row work stays in
# whole-stage codegen no matter the corpus size. Ratios are integer
# divisions -> bit-exact vs the oracle.
# ---------------------------------------------------------------------------

def _sql_ngrams(n: int) -> str:
    # n-grams as joined token slices toks[i .. i+n-1]; empty list when the
    # doc has fewer than n tokens
    return (
        f"list_transform(range(1, greatest(len(toks) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' '))"
    )


_Q105_ORACLE = f"""
WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, toks,
         {_sql_ngrams(2)} AS bg,
         {_sql_ngrams(3)} AS tg
  FROM d
)
SELECT doc_id,
       len(toks) AS n_tokens,
       1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_token_frac,
       CASE WHEN len(bg) > 0
            THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
            ELSE 0.0 END AS dup_bigram_frac,
       CASE WHEN len(tg) > 0
            THEN 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)
            ELSE 0.0 END AS dup_trigram_frac
FROM g
ORDER BY doc_id
"""


def _ngrams(toks, n: int):
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0)))
    return F.when(F.size(toks) >= n, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))).otherwise(
        F.array().cast("array<string>")
    )


@register("q105_repetition_signals", oracle=_Q105_ORACLE)
def q105_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.col("toks"),
        _ngrams(F.col("toks"), 2).alias("bg"),
        _ngrams(F.col("toks"), 3).alias("tg"),
    )

    def dup_frac(c):
        return F.when(
            F.size(c) > 0,
            F.lit(1.0) - F.size(F.array_distinct(c)).cast("double") / F.size(c),
        ).otherwise(F.lit(0.0))

    return base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (F.lit(1.0) - F.size(F.array_distinct("toks")).cast("double") / F.size("toks")).alias(
            "dup_token_frac"
        ),
        dup_frac(F.col("bg")).alias("dup_bigram_frac"),
        dup_frac(F.col("tg")).alias("dup_trigram_frac"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q121 — token-rarity scoring (perplexity-proxy quality signal, CCNet-style
# LM filtering without the LM): rarity(t) = floor((N + V) / (c_t + 1)) from
# the corpus's own unigram counts (add-1 smoothed inverse frequency), and a
# doc's score is its total token rarity. Deliberately ALL-INTEGER until the
# final per-source average: log-prob scoring would hash-diverge between
# engines (libm log differs in the last ulp), while integer division of
# exact counts is bit-identical everywhere — same scale story, zero
# cross-engine risk.
#
# Scale shape: one explode→count pass builds the unigram table (map-side
# combined), which joins back to the exploded tokens — broadcast at corpus
# vocab sizes that fit, shuffle-on-token otherwise (Spark picks by stats);
# per-doc then per-source aggregates ride the same shuffle key chain.
# ---------------------------------------------------------------------------

_Q121_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS t FROM documents
),
vocab AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
consts AS (SELECT (SELECT COUNT(*) FROM toks) AS n, (SELECT COUNT(*) FROM vocab) AS v),
doc_scores AS (
  SELECT toks.doc_id,
         SUM((consts.n + consts.v) // (vocab.c + 1)) AS rarity
  FROM toks JOIN vocab USING (t) CROSS JOIN consts
  GROUP BY toks.doc_id
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(s.rarity) AS DOUBLE) / COUNT(*) AS avg_rarity
FROM doc_scores s JOIN documents d USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


@register("q121_token_rarity", oracle=_Q121_ORACLE)
def q121_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(X.tokens(F.col("text"))).alias("t")
    ).filter(F.col("t").isNotNull())
    # ^ tokens(null text) is a null array and explode_outer (used to dodge
    # InferFiltersFromGenerate re-tokenizing) emits a null-token row that
    # plain explode and DuckDB unnest both drop — it must not become a
    # vocab group (would inflate n and v for every document's score)
    vocab = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    consts = vocab.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )  # n = total tokens (sum of counts: no second toks pass), v = |vocab|
    scored = (
        toks.join(F.broadcast(consts))
        .join(vocab, "t")
        .groupBy("doc_id")
        .agg(F.sum(F.expr("(n + v) div (c + 1)")).alias("rarity"))
    )
    return (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("rarity").cast("double") / F.count(F.lit(1))).alias("avg_rarity"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q149 — BM25 ranked retrieval (Robertson/Sparck Jones; the lexical-search
# complement to q67's corpus TF-IDF and q38's vector search): score every
# document against a fixed query-term set with Okapi BM25 (k1=1.2, b=0.75)
# and emit the top 15. Like q67, the irrational parts (ln idf, the length
# normalization) ORDER the result but are not output columns — emitted
# values are integer tf/length stats, so the cross-engine hash is exact
# while the ranking is still full BM25 (rank flips would need two docs
# within 1 ulp; exact component ties fall to the doc_id tiebreaker).
#
# Scale: one explode->filter->per-doc aggregate (the posting scan is
# pre-filtered to the query terms, so almost all tokens die at the
# codegen'd IN before any shuffle), one 1-row doc-stats broadcast, one
# |terms|-row df broadcast, TakeOrderedAndProject top-k. No full posting
# list materializes.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "scan", "merge")
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 15

_SQL_BM25_TERMS = "[" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + "]"

_Q149_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), lens AS (
  SELECT doc_id, len(toks) AS dl FROM d
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
  WHERE list_contains({_SQL_BM25_TERMS}, term)
  GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         SUM(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({_BM25_K1} + 1)
             / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * lens.dl / s.avgdl))
         ) AS score,
         CAST(SUM(tf.tf) AS BIGINT) AS total_tf,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
         ANY_VALUE(lens.dl) AS dl
  FROM tf JOIN df USING (term) JOIN lens ON lens.doc_id = tf.doc_id, stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, total_tf, n_terms_hit, CAST(dl AS BIGINT) AS doc_len
FROM scored
ORDER BY score DESC, doc_id
LIMIT {_BM25_TOPK}
"""


@register("q149_bm25_retrieval", oracle=_Q149_ORACLE)
def q149_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    lens = d.select("doc_id", F.size("toks").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # dl rides the explode so the hit aggregate already carries it — no
    # corpus-wide lens re-join/shuffle on doc_id (lens exists only for the
    # 1-row stats aggregate above)
    tf = (
        d.select(
            "doc_id", F.size("toks").alias("dl"), F.explode_outer("toks").alias("term")
        )
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.any_value(F.col("dl")).alias("dl"))
    )
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") * (_BM25_K1 + 1) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_tab), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(idf * norm).alias("score"),
            F.sum("tf").cast("bigint").alias("total_tf"),
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.any_value(F.col("dl")).cast("bigint").alias("doc_len"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .select("doc_id", "total_tf", "n_terms_hit", "doc_len")
    )


# ---------------------------------------------------------------------------
# q207 — token frequency spectrum: how many distinct tokens fall in each
# frequency OCTAVE (floor(log2(freq)) band), plus each band's share of
# total token mass. The Zipf-curve diagnostic a corpus audit reads before
# choosing vocabulary / min-frequency cutoffs — a healthy natural corpus
# fills every octave; synthetic or deduplicated text shows holes. Octave
# = the exponent of the frequency's highest set bit, an INTEGER — so the
# whole query stays inside the exact-hash discipline (no ln(), which the
# oracle contract forbids as libm-divergent). Scale shape: one explode ->
# one (token) hash agg -> one (octave) hash agg; the spectrum has at most
# 64 rows.
# ---------------------------------------------------------------------------

_Q207_ORACLE = f"""
WITH tf AS (
  SELECT t AS token, COUNT(*) AS freq
  FROM (SELECT unnest({_SQL_TOKS}) AS t FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''
  GROUP BY t
), tot AS (SELECT SUM(freq) AS total_tokens FROM tf)
SELECT CAST(floor(log2(freq)) AS BIGINT) AS freq_octave,
       COUNT(*) AS n_distinct_tokens,
       CAST(SUM(freq) AS BIGINT) AS n_token_occurrences,
       CAST(SUM(freq) AS DOUBLE) / (SELECT total_tokens FROM tot) AS mass_share
FROM tf
GROUP BY freq_octave
ORDER BY freq_octave
"""


@register("q207_token_freq_spectrum", oracle=_Q207_ORACLE)
def q207_token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(X.tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # floor(log2(freq)) == bit_length(freq) - 1: the Spark side avoids
    # floating log entirely (binary-string length); the oracle's
    # floor(log2()) is safe because the distance from log2(non-power-of-2)
    # to the next integer (~1/(freq*ln2)) dwarfs a correctly-rounded
    # libm's sub-ulp error at these magnitudes
    tf = tf.withColumn(
        "freq_octave",
        (
            F.length(F.conv(F.col("freq").cast("string"), 10, 2)) - F.lit(1)
        ).cast("bigint"),
    )
    tot = tf.agg(F.sum("freq").alias("total_tokens"))
    return (
        tf.groupBy("freq_octave")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum("freq").cast("bigint").alias("n_token_occurrences"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "freq_octave",
            "n_distinct_tokens",
            "n_token_occurrences",
            (
                F.col("n_token_occurrences").cast("double") / F.col("total_tokens")
            ).alias("mass_share"),
        )
        .orderBy("freq_octave")
    )


# ---------------------------------------------------------------------------
# q210 — tokenizer fertility audit per source: characters-per-token and
# pieces-per-word ratios, the quick health check an LLM data pipeline runs
# when choosing/validating a tokenizer against each corpus slice (fertility
# creep on a source usually means encoding damage or the wrong language).
# Whitespace words vs the BPE-ish piece count (functions/text.bpeish_
# pieces twin) — both already oracle-twinned primitives; ratios are single
# double divisions of exact BIGINTs.
# ---------------------------------------------------------------------------


@register(
    "q210_tokenizer_fertility",
    oracle=f"""
WITH d AS (
  SELECT source,
         length({_SQL_NORM}) AS n_chars,
         len({_SQL_TOKS}) AS n_words
  FROM documents WHERE text IS NOT NULL
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_chars) AS DOUBLE) / SUM(n_words) AS chars_per_word
FROM d
GROUP BY source
ORDER BY source
""",
)
def q210_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("text").isNotNull()).select("source", *fertility_cols())
    return fertility(d).orderBy("source")


def fertility_cols() -> list[F.Column]:
    """Per-document inputs of the fertility signal: normalized characters
    ``n_chars`` and whitespace words ``n_words`` of ``text``."""
    return [
        F.length(X.normalize(F.col("text"))).cast("bigint").alias("n_chars"),
        F.size(X.tokens(F.col("text"))).cast("bigint").alias("n_words"),
    ]


def fertility(d: DataFrame) -> DataFrame:
    """Per-source tokenizer fertility of a ``(source, *fertility_cols())``
    frame of non-null texts: n_docs, total_chars, total_words and
    chars_per_word — q210's table and q232's signal."""
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_words").cast("bigint").alias("total_words"),
    ).select(
        "source",
        "n_docs",
        "total_chars",
        "total_words",
        (
            F.col("total_chars").cast("double") / F.col("total_words")
        ).alias("chars_per_word"),
    )


# ---------------------------------------------------------------------------
# q221 — vocabulary coverage curve: for candidate vocabulary sizes V, the
# share of total token mass covered by the top-V tokens (frequency desc,
# token asc tiebreak) — the sizing primitive behind "how big does the
# tokenizer vocab need to be for 99% coverage of this corpus". Ranks,
# cumulative mass and the vocabulary totals ride the bucketed prefix scan
# (operators/prefix.py, bucket = NEGATED frequency octave, monotone in
# the freq-desc scan and bounded by 64 bands — q207's spectrum argument),
# so no stage serializes the vocabulary into one task. All counts are exact BIGINTs; each
# coverage share is one bigint/bigint division per output row.
# ---------------------------------------------------------------------------

_Q221_VOCAB_SIZES = [100, 500, 1000, 5000]

_Q221_ORACLE = f"""
WITH tf AS (
  SELECT t AS token, COUNT(*) AS freq
  FROM (SELECT unnest({_SQL_TOKS}) AS t FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''
  GROUP BY t
), r AS (
  SELECT token, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rk,
         SUM(freq) OVER (ORDER BY freq DESC, token
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tf
), tot AS (SELECT SUM(freq) AS total_occ, COUNT(*) AS n_vocab FROM tf)
SELECT v.vocab_size,
       CAST(LEAST(v.vocab_size, (SELECT n_vocab FROM tot)) AS BIGINT)
         AS n_vocab_tokens,
       CAST(MAX(r.cum) AS BIGINT) AS covered_occurrences,
       CAST(MAX(r.cum) AS DOUBLE) / (SELECT total_occ FROM tot)
         AS coverage_share
FROM (VALUES {", ".join(f"({v})" for v in _Q221_VOCAB_SIZES)}) v(vocab_size)
JOIN r ON r.rk <= v.vocab_size
GROUP BY v.vocab_size
ORDER BY v.vocab_size
"""


@register("q221_vocab_coverage", oracle=_Q221_ORACLE)
def q221_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import prefix_agg

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(X.tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # freq-desc scan order as an ascending key; the bucket is the negated
    # octave (bit_length - 1), monotone non-decreasing along the scan
    tf = tf.select(
        "token",
        "freq",
        (-F.col("freq")).alias("neg_freq"),
        (
            F.lit(1) - F.length(F.conv(F.col("freq").cast("string"), 10, 2))
        ).cast("bigint").alias("neg_octave"),
    ).cache()  # the prefix pass reads it twice (partials + row join),
    # and each read would re-execute the corpus explode + token count; the
    # vocab-sized frame is the natural cache point.
    # Rank, cumulative mass and both vocabulary totals share ONE bucketed
    # prefix pass (four prefix_agg specs): one partial groupBy, one offset
    # window, one within-bucket sort, one join
    ranked = prefix_agg(
        tf,
        ["neg_freq", "token"],
        [
            ("*", "rk", "count"),
            ("freq", "cum", "sum"),
            ("*", "n_vocab", "total"),
            ("freq", "total_occ", "total"),
        ],
        bucket=F.col("neg_octave"),
    )
    sizes = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v) for v in _Q221_VOCAB_SIZES])
        ).alias("vocab_size")
    )
    return (
        # only ranks <= the largest candidate size can satisfy ANY
        # rk <= vocab_size predicate — pre-filtering bounds the 4-way
        # crossJoin fan-out at |max size| rows however large the
        # vocabulary grows (the rank filter rides the prefix pass)
        ranked.filter(F.col("rk") <= F.lit(max(_Q221_VOCAB_SIZES)))
        .crossJoin(F.broadcast(sizes))
        .filter(F.col("rk") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(
            F.max("cum").cast("bigint").alias("covered_occurrences"),
            F.max("n_vocab").alias("n_vocab"),
            F.max("total_occ").alias("total_occ"),
        )
        .select(
            F.col("vocab_size").cast("int").alias("vocab_size"),
            F.least(F.col("vocab_size").cast("bigint"), F.col("n_vocab"))
            .cast("bigint")
            .alias("n_vocab_tokens"),
            "covered_occurrences",
            (
                F.col("covered_occurrences").cast("double") / F.col("total_occ")
            ).alias("coverage_share"),
        )
        .orderBy("vocab_size")
    )


# ---------------------------------------------------------------------------
# q223 — fertility x quality drill-down matrix: per (source, quality
# band), document count, the band's share of its source, and the
# tokenizer-fertility ratio (chars per whitespace word).
# The analytical question q210 and q33 can't answer separately: when a
# source's fertility creeps (q210's signal), is the creep concentrated in
# its LOW-quality band — meaning a quality filter fixes the corpus — or
# spread across bands, meaning the source needs re-extraction or a
# different tokenizer. Bands cut the q33 composite score at 0.33/0.66;
# the band expression is the same per-row double math on both sides (the
# q33 precedent: its >= 0.5 filter hash-matches, so per-row quality is
# engine-identical). share is one exact bigint/bigint division per output
# row; chars_per_word divides two exact BIGINT sums (the q210 rule).
#
# Scale: one map-side-combinable hash aggregate keyed (source, band) —
# the same single shuffle q210 pays — then a window over the aggregated
# |sources| x 3 frame only (the q220 share idiom). Nothing
# corpus-proportional crosses the wire after the first exchange.
# ---------------------------------------------------------------------------

_SQL_QUALITY = (
    "least(length(text) / 500.0, 1.0) * 0.4"
    f" + (1.0 - least({_SQL_PUNCT_RATIO} * 5.0, 1.0)) * 0.3"
    f" + least({_SQL_STOP_RATIO} * 5.0, 1.0) * 0.3"
)

_Q223_ORACLE = f"""
WITH d AS (
  SELECT source,
         CASE WHEN {_SQL_QUALITY} >= 0.66 THEN 'high'
              WHEN {_SQL_QUALITY} >= 0.33 THEN 'mid'
              ELSE 'low' END AS q_band,
         length({_SQL_NORM}) AS n_chars,
         len({_SQL_TOKS}) AS n_words
  FROM documents WHERE text IS NOT NULL
), a AS (
  SELECT source, q_band,
         COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(n_words) AS BIGINT) AS total_words
  FROM d GROUP BY source, q_band
)
SELECT source, q_band, n_docs,
       CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY source)
         AS source_share,
       total_chars, total_words,
       CAST(total_chars AS DOUBLE) / total_words AS chars_per_word
FROM a
ORDER BY source, q_band
"""


@register("q223_fertility_quality_matrix", oracle=_Q223_ORACLE)
def q223_fertility_quality_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    q = X.quality_score(F.col("text"))
    band = (
        F.when(q >= 0.66, F.lit("high"))
        .when(q >= 0.33, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    d = docs.select(
        "source",
        band.alias("q_band"),
        F.length(X.normalize(F.col("text"))).cast("bigint").alias("n_chars"),
        F.size(X.tokens(F.col("text"))).cast("bigint").alias("n_words"),
    )
    agg = d.groupBy("source", "q_band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_words").cast("bigint").alias("total_words"),
    )
    w = Window.partitionBy("source")
    return agg.select(
        "source",
        "q_band",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "source_share"
        ),
        "total_chars",
        "total_words",
        (F.col("total_chars").cast("double") / F.col("total_words")).alias(
            "chars_per_word"
        ),
    ).orderBy("source", "q_band")
