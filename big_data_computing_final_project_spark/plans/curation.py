"""Corpus-curation queries over `documents`: deterministic curriculum
sampling, per-source capping, dictionary term masking, and TF-IDF salient
terms. These are the "choose and clean the training mix" operators that sit
downstream of the mixture-weight / quality / dedup signals (q103, q33, q34):
given per-source statistics, actually *materialize* the sampled corpus — and
do it reproducibly, so a re-run on a 1000-executor cluster selects the same
documents.

Relation to earlier queries: q117 samples at *fixed, literal* per-stratum
rates (the audit-table shape); q127 *derives* its rates from corpus
statistics (the temperature-mixture recipe q103 only weights) and q128
enforces an *exact* per-group cap — the three reproducible-sampling shapes
a mix-building pipeline actually chains.

Determinism strategy (shared with plans/dedup.py's SimHash): every random
choice is a pure function of the row key via the md5-60bit engine-portable
uniform — `conv(substring(md5(key),1,15),16,10)` on Spark,
`('0x' || substring(md5(key),1,15))::BIGINT` in DuckDB — so the oracle, a
re-run, and every executor agree bit-for-bit. No rand(), no seed state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as X
from ..operators.sizing import broadcast_if_small
from .registry import register

# canonical DuckDB fragments — imported, not re-defined, so the curation
# oracles can never drift from the tokenization / split-bucket definitions
# the dedup/text queries certify
from .dedup import _SQL_BUCKET  # noqa: E402
from .textops import _SQL_NORM, _SQL_TOKS, fertility, fertility_cols  # noqa: E402

_TWO_60 = float(1 << 60)


def _u60(col: Column) -> Column:
    """Engine-portable uniform in [0, 1): first 60 bits of md5(key) scaled
    by 2^-60. Both engines cast the same BIGINT to double (correctly
    rounded, identical) and divide by an exact power of two."""
    h = X.md5_60(col.cast("string"))
    return h.cast("double") / F.lit(_TWO_60)


def _sql_u60(expr: str) -> str:
    return (
        f"CAST(('0x' || substring(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"
        f" / {_TWO_60!r}"
    )


# ---------------------------------------------------------------------------
# q127 — curriculum sampling: materialize the temperature-scaled mixture
# that q103 only *weights*. Per-source acceptance probability
# p = least(1, 1/2 · sqrt(max_tokens / n_tokens)) — the sqrt-temperature
# upsampling recipe (small sources keep a larger fraction), capped at
# keep-everything. A document survives iff its md5-uniform < p(source), so
# the sample is a pure function of (doc_id, corpus stats): re-runs and the
# oracle select the identical subset.
#
# Scale: one partial-aggregated groupBy for source stats (~dozens of rows),
# broadcast back onto the fact scan, one final groupBy. The per-doc filter
# is a codegen'd hash + compare — no rand(), no sort, no sampling skew.
#
# The narrow (doc_id, source, n_toks) frame is cached: its two consumers
# (the source-stats aggregate and the kept filter) would otherwise each
# re-execute the scan+tokenize lineage, two full corpus traversals with
# the regexp tokenizer as the dominant per-row cost. Tokenize runs once;
# the rate table and the acceptance pass both read the materialized
# 24-byte rows (1 documents scan instead of 2; measured warm at sf0.1:
# 4.18 s uncached vs ~1.3 s).
# ---------------------------------------------------------------------------

_Q127_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_toks
  FROM documents
), s AS (
  SELECT source, CAST(SUM(n_toks) AS BIGINT) AS src_tokens FROM d GROUP BY source
), p AS (
  SELECT source, src_tokens,
         least(1.0, 0.5 * sqrt(CAST(MAX(src_tokens) OVER () AS DOUBLE)
                               / CAST(src_tokens AS DOUBLE))) AS p_accept
  FROM s
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(d.n_toks) AS BIGINT) AS kept_tokens,
       ANY_VALUE(p.p_accept) AS p_accept
FROM d JOIN p ON d.source = p.source
WHERE {_sql_u60("d.doc_id")} < p.p_accept
GROUP BY d.source
ORDER BY d.source
"""


@register("q127_curriculum_sample", oracle=_Q127_ORACLE)
def q127_curriculum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", X.token_count(F.col("text")).cast("bigint").alias("n_toks")
    ).cache()  # two consumers (stats agg + kept filter): tokenize once
    s = d.groupBy("source").agg(F.sum("n_toks").cast("bigint").alias("src_tokens"))
    w = Window.partitionBy()
    p = s.select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(0.5)
            * F.sqrt(
                F.max("src_tokens").over(w).cast("double")
                / F.col("src_tokens").cast("double")
            ),
        ).alias("p_accept"),
    )
    kept = d.join(F.broadcast(p), "source").filter(_u60(F.col("doc_id")) < F.col("p_accept"))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_toks").cast("bigint").alias("kept_tokens"),
            F.any_value(F.col("p_accept")).alias("p_accept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q128 — per-source cap: keep at most K documents per source, chosen by
# hash order (row_number over md5-uniform) — a deterministic distributed
# reservoir. The standard "no source may dominate the mix" guard; unlike
# df.sampleBy it needs no fraction tuning and is exactly reproducible.
#
# Scale: one shuffle on source for the ranking window; no global sort
# before the cap. With a skewed giant source the window sort is
# O(n log n) per partition — still the minimal work for an exact cap; the
# approximate alternative (threshold on the uniform) is q127's shape.
# ---------------------------------------------------------------------------

_CAP_K = 10

_Q128_ORACLE = f"""
SELECT source, doc_id, rk
FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {_sql_u60("doc_id")}, doc_id) AS rk
  FROM documents
) t
WHERE rk <= {_CAP_K}
ORDER BY source, rk
"""


@register("q128_per_source_cap", oracle=_Q128_ORACLE)
def q128_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(_u60(F.col("doc_id")), F.col("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _CAP_K)
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# q129 — token-exact term masking with a rewrite certificate. q80 already
# audits regex-denylist redaction per source (counts only); q129 is the
# complementary check a scrub pipeline needs before shipping the rewritten
# corpus: it masks at token granularity (no substring false-positives:
# 'customers' survives a 'customer' denylist) and emits the md5 of each
# masked document, so the oracle certifies the *output text itself*, not
# just the hit counts. (The regex-PII variant — emails, long digit runs —
# is functions/text.redact_pii, pytest-covered on planted fixtures since
# this synthetic corpus contains neither.)
#
# Scale: pure per-row Column expressions (transform + array_to_string +
# md5) — narrow map in whole-stage codegen, zero shuffle before the
# doc_id output sort.
# ---------------------------------------------------------------------------

_MASK_TERMS = ("customer", "supplier")
_MASK = "<masked>"

_SQL_MASK_LIST = "[" + ", ".join(f"'{t}'" for t in _MASK_TERMS) + "]"

_Q129_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         CAST(len(list_filter({_SQL_TOKS}, t -> list_contains({_SQL_MASK_LIST}, t)))
              AS BIGINT) AS n_masked,
         array_to_string(list_transform({_SQL_TOKS},
             t -> CASE WHEN list_contains({_SQL_MASK_LIST}, t)
                       THEN '{_MASK}' ELSE t END), ' ') AS masked
  FROM documents
)
SELECT doc_id, n_masked, md5(masked) AS masked_fp
FROM m
WHERE n_masked > 0
ORDER BY doc_id
"""


@register("q129_term_mask", oracle=_Q129_ORACLE)
def q129_term_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # tokens staged as an aliased column (shingles_of_tokens rule): the
    # masked transform and the hit count both consume it, so inlining the
    # expression would run the normalize+split regex twice per row
    staged = docs.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    deny = F.array(*[F.lit(t) for t in _MASK_TERMS])
    masked = F.array_join(
        F.transform(
            toks,
            lambda t: F.when(F.array_contains(deny, t), F.lit(_MASK)).otherwise(t),
        ),
        " ",
    )
    n_masked = F.size(F.filter(toks, lambda t: F.array_contains(deny, t))).cast("bigint")
    return (
        staged.select(
            "doc_id", n_masked.alias("n_masked"), F.md5(masked).alias("masked_fp")
        )
        .filter(F.col("n_masked") > 0)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q130 — TF-IDF salient terms per source: rank each source's terms by
# tf(source, term) / df(term), df = number of documents containing the
# term. The grouped complement of q67 (corpus-global top terms): q67
# answers "what characterizes this corpus", q130 "what distinguishes each
# source" — the mixture-debugging view. A log-free ratio keeps every
# value column a bigint or a
# single correctly-rounded IEEE division (cross-engine bit-exact — libm
# log differs between engines; see NOTES.md parity rules), and ordering by
# tf/df is order-equivalent to ordering by tf·idf for fixed N.
#
# Scale: explode once, two partial-aggregated groupBys (term-level df is
# vocab-sized), broadcast the df table into the score join, per-source
# top-k via ranking window — no global sort, no re-tokenization.
# ---------------------------------------------------------------------------

_TFIDF_K = 5

_Q130_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, unnest({_SQL_TOKS}) AS t FROM documents
), tf AS (
  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY source, t
), df AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY t
)
SELECT source, t AS term, tf, df, score, rk
FROM (
  SELECT tf.source, tf.t, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
         ROW_NUMBER() OVER (PARTITION BY tf.source
                            ORDER BY CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) DESC,
                                     tf.t) AS rk
  FROM tf JOIN df ON tf.t = df.t
) r
WHERE rk <= {_TFIDF_K}
ORDER BY source, rk
"""


@register("q130_tfidf_terms", oracle=_Q130_ORACLE)
def q130_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", "source", F.explode_outer(X.tokens(F.col("text"))).alias("t"))
        .filter(F.col("t").isNotNull())
    )
    tf = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("tf"))
    df_tab = (
        tok.select("doc_id", "t")
        .distinct()
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    score = F.col("tf").cast("double") / F.col("df").cast("double")
    w = Window.partitionBy("source").orderBy(score.desc(), F.col("t"))
    return (
        tf.join(broadcast_if_small(df_tab), "t")
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TFIDF_K)
        .select("source", F.col("t").alias("term"), "tf", "df", "score", "rk")
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# q132 — the end-to-end corpus-build funnel: the composite a training-data
# pipeline actually ships, chaining four operator families the registry
# otherwise certifies in isolation —
#
#   raw (train split, q75's md5 bucket < 80)
#     -> quality gate       (q33's composite score >= 0.5)
#     -> exact dedup        (q34's md5 fingerprint, min-doc_id keeper)
#     -> decontamination    (q102's shingle containment vs the bench split)
#     -> curriculum sample  (q127's derived temperature rates, md5 accept)
#
# Output is the per-source funnel report (survivor count after each stage,
# sampled token total, acceptance probability). Every stage is
# deterministic, so the whole five-stage composite is oracle-paired — the
# certificate that the operators COMPOSE exactly, not just pass alone.
#
# Scale: quality/bucket/uniform are narrow codegen'd maps; dedup is one
# shuffle on the fingerprint; decontamination broadcasts the bench split's
# shingle postings under a SIZE GUARD (operators/sizing.broadcast_if_small,
# same as q102): an MB-scale eval suite broadcasts, a corpus-proportional
# bench side degrades to a shuffle join automatically; sampling
# broadcasts the ~|sources| rate table; the five per-stage aggregates are
# |sources|-row frames joined at the end. No stage shuffles raw text more
# than once.
# ---------------------------------------------------------------------------

_F_QUALITY_T = 0.5
_F_B_TRAIN, _F_B_BENCH = 80, 90  # q75 split: <80 train, >=90 test(=bench)
_F_CONTAIN_T = 0.5

_SQL_SHINGLES3 = (
    "list_distinct(list_transform(range(greatest(len(toks)-2, 1)), "
    "i -> array_to_string(toks[i+1:i+3], ' ')))"
)


def _q132_oracle() -> str:
    from .textops import _SQL_PUNCT_RATIO, _SQL_STOP_RATIO

    quality = (
        f"least(length(text) / 500.0, 1.0) * 0.4"
        f" + (1.0 - least({_SQL_PUNCT_RATIO} * 5.0, 1.0)) * 0.3"
        f" + least({_SQL_STOP_RATIO} * 5.0, 1.0) * 0.3"
    )
    return f"""
WITH base AS (
  SELECT doc_id, source, text, {_SQL_TOKS} AS toks,
         {_SQL_BUCKET} AS b, {_sql_u60("doc_id")} AS u,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_toks,
         {quality} AS quality,
         md5({_SQL_NORM}) AS fp
  FROM documents
), train AS (SELECT * FROM base WHERE b < {_F_B_TRAIN}),
qual AS (SELECT * FROM train WHERE quality >= {_F_QUALITY_T}),
ded AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM qual
  ) WHERE rn = 1
),
bench AS (
  SELECT doc_id, {_SQL_SHINGLES3} AS sh FROM base WHERE b >= {_F_B_BENCH}
),
exd AS (SELECT d.doc_id, unnest({_SQL_SHINGLES3}) AS s FROM ded d),
exb AS (SELECT doc_id, unnest(sh) AS s FROM bench),
pairs AS (
  SELECT exd.doc_id AS train_doc, exb.doc_id AS bench_doc, COUNT(*) AS common
  FROM exd JOIN exb ON exd.s = exb.s GROUP BY 1, 2
),
contaminated AS (
  SELECT DISTINCT train_doc FROM pairs
  JOIN (SELECT doc_id, len(sh) AS n FROM bench) lb ON lb.doc_id = pairs.bench_doc
  WHERE CAST(common AS DOUBLE) / lb.n >= {_F_CONTAIN_T}
),
clean AS (
  SELECT * FROM ded WHERE doc_id NOT IN (SELECT train_doc FROM contaminated)
),
rates AS (
  SELECT source,
         least(1.0, 0.5 * sqrt(CAST(MAX(src_tokens) OVER () AS DOUBLE)
                               / CAST(src_tokens AS DOUBLE))) AS p_accept
  FROM (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS src_tokens
        FROM clean GROUP BY source)
),
samp AS (
  SELECT clean.* FROM clean JOIN rates USING (source) WHERE u < rates.p_accept
)
SELECT t.source,
       CAST(t.n AS BIGINT) AS n_raw,
       CAST(COALESCE(q.n, 0) AS BIGINT) AS n_quality,
       CAST(COALESCE(d.n, 0) AS BIGINT) AS n_dedup,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_clean,
       CAST(COALESCE(s.n, 0) AS BIGINT) AS n_sampled,
       CAST(COALESCE(s.toks, 0) AS BIGINT) AS sampled_tokens,
       r.p_accept
FROM (SELECT source, COUNT(*) AS n FROM train GROUP BY source) t
LEFT JOIN (SELECT source, COUNT(*) AS n FROM qual GROUP BY source) q USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n FROM ded GROUP BY source) d USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n FROM clean GROUP BY source) c USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n, SUM(n_toks) AS toks
           FROM samp GROUP BY source) s USING (source)
LEFT JOIN rates r USING (source)
ORDER BY t.source
"""


@register("q132_corpus_funnel", oracle=_q132_oracle())
def q132_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        X.md5_bucket(F.col("doc_id"))
    )
    base = docs.select(
        "doc_id",
        "source",
        X.tokens(F.col("text")).alias("toks"),
        bucket.alias("b"),
        _u60(F.col("doc_id")).alias("u"),
        X.token_count(F.col("text")).cast("bigint").alias("n_toks"),
        X.quality_score(F.col("text")).alias("quality"),
        X.fingerprint(F.col("text")).alias("fp"),
    ).cache()  # three consumers (flag window, train shingles, bench
    # shingles) — tokenize/quality/fingerprint run once, not per branch
    # Stage FLAGS on one frame instead of one filtered frame per stage:
    # per-stage aggregates as separate frames would each re-execute the
    # whole scan+tokenize lineage (~9 documents traversals; this shape
    # does 3 — flag aggregate, contamination explode, sampling pass —
    # measured 4.0s -> 3.1s at sf0.1, and at 100 TB the traversal count is
    # the whole game; a long-lived pipeline would persist `enriched` and
    # get to 1). The dedup rank partitions on (fp, pass_q) so keeper
    # status is computable in the same window without pre-filtering to
    # quality survivors — junk docs rank among themselves and can't steal
    # rank 1.
    train = base.filter(F.col("b") < _F_B_TRAIN)
    w = Window.partitionBy("fp", "pass_q").orderBy("doc_id")
    flagged = train.withColumn(
        "pass_q", F.col("quality") >= _F_QUALITY_T
    ).withColumn("keeper", F.col("pass_q") & (F.row_number().over(w) == 1))
    bench = base.filter(F.col("b") >= _F_B_BENCH).select(
        "doc_id", X.shingles_of_tokens(F.col("toks"), 3).alias("sh")
    )
    # outer-explodes dodge the inferred size()>0 generator re-inlining
    # (NOTES.md); shingles never null here so no null-row filter needed on
    # counts — but keep the guard for symmetry with q102/q121
    exd = (
        flagged.filter(F.col("keeper"))
        .select(
            F.col("doc_id").alias("train_doc"),
            F.explode_outer(X.shingles_of_tokens(F.col("toks"), 3)).alias("s"),
        )
        .filter(F.col("s").isNotNull())
    )
    # single bench traversal: the shingle count rides along with each
    # exploded posting, so no second bench scan for the denominators
    exb = bench.select(
        F.col("doc_id").alias("bench_doc"),
        F.size("sh").alias("bn"),
        F.explode_outer("sh").alias("s"),
    ).filter(F.col("s").isNotNull())
    # size-guarded broadcast: estimate from the
    # pre-explode bench frame with an 8x postings expansion — MB-scale
    # eval suites broadcast, a corpus-proportional bench side falls back
    # to a shuffle join instead of OOMing executors at 100x
    pairs = (
        exd.join(broadcast_if_small(exb, expansion=8.0, estimate_from=bench), "s")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("common"), F.any_value(F.col("bn")).alias("n"))
    )
    contaminated = (
        pairs.filter(F.col("common").cast("double") / F.col("n") >= _F_CONTAIN_T)
        .select("train_doc")
        .distinct()
    )
    # UNHINTED join: `contaminated` is bounded only by
    # contamination_rate x corpus size, so a forced broadcast is a 100x OOM
    # cliff; static Catalyst stats post-(explode+join+groupBy) are useless
    # for a size guard, but the frame sits behind a shuffle-aggregate, so
    # AQE sees its TRUE runtime size and converts to a broadcast join
    # exactly when it is actually small. Leave it unhinted and let AQE pick.
    enriched = (
        flagged.join(
            contaminated.withColumn("is_cont", F.lit(True)),
            flagged.doc_id == contaminated.train_doc,
            "left",
        )
        .withColumn("clean", F.col("keeper") & F.col("is_cont").isNull())
        # narrow (toks/fp dropped) and cached: the flag window +
        # contamination join execute once; the stage aggregate and the
        # sampling pass read the materialized rows instead of re-running
        # the whole funnel lineage (1 documents scan instead of 12)
        .select("source", "n_toks", "u", "pass_q", "keeper", "clean")
        .cache()
    )
    # ONE conditional aggregate yields every stage count plus the clean
    # token sums the rate table needs; rates then derive from this 20-row
    # frame (window over sources), no second corpus pass. Cached (tiny,
    # |sources| rows): consumed by rates, the sampling broadcast, and the
    # final report join.
    agg = enriched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("pass_q").cast("bigint")).alias("n_quality"),
        F.sum(F.col("keeper").cast("bigint")).alias("n_dedup"),
        F.sum(F.col("clean").cast("bigint")).alias("n_clean"),
        F.sum(F.when(F.col("clean"), F.col("n_toks")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("src_tokens"),
    ).cache()
    wall = Window.partitionBy()
    rates = agg.filter(F.col("n_clean") > 0).select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(0.5)
            * F.sqrt(
                F.max("src_tokens").over(wall).cast("double")
                / F.col("src_tokens").cast("double")
            ),
        ).alias("p_accept"),
    )
    # the sampling pass is the one unavoidable second corpus traversal
    # (per-doc u < p with p derived from a corpus aggregate)
    samp = (
        enriched.filter(F.col("clean"))
        .join(F.broadcast(rates), "source")
        .filter(F.col("u") < F.col("p_accept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_toks").cast("bigint").alias("sampled_tokens"),
        )
    )
    z = F.lit(0).cast("bigint")
    return (
        agg.join(samp, "source", "left")
        .join(rates, "source", "left")
        .select(
            "source",
            F.col("n_raw").cast("bigint").alias("n_raw"),
            F.col("n_quality").cast("bigint").alias("n_quality"),
            F.col("n_dedup").cast("bigint").alias("n_dedup"),
            F.col("n_clean").cast("bigint").alias("n_clean"),
            F.coalesce(F.col("n_sampled"), z).cast("bigint").alias("n_sampled"),
            F.coalesce(F.col("sampled_tokens"), z).cast("bigint").alias("sampled_tokens"),
            "p_accept",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q144 — priority dedup: q34 keeps the min-doc_id copy of each duplicate
# group; real pipelines keep the copy from the most TRUSTED source tier
# (curated > books > web-crawl), because metadata quality follows the
# source even when text is identical. Keeper = first row of each
# fingerprint group under (tier, doc_id) order; output is the per-source
# audit (docs kept, docs lost to a higher-priority twin) — the table that
# shows who wins cross-source collisions. Tier = source index mod 3 here
# (the synthetic corpus has no real tiers); swap the CASE for a real tier
# dim at deployment.
#
# Scale: same single fingerprint shuffle as q34 — the ranking window
# replaces the min-agg, cost shape unchanged.
# ---------------------------------------------------------------------------

# TRY_CAST + COALESCE: a source with no trailing digits gets the LOWEST
# priority tier (3), not a hard error (DuckDB CAST('' AS INT) throws) and
# not an accidental win (Spark ''->NULL would sort FIRST in the keeper
# window under default nulls-first ascending)
_SQL_TIER = "COALESCE(TRY_CAST(regexp_extract(source, '[0-9]+$') AS INT) % 3, 3)"


_Q144_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, {_SQL_TIER} AS tier, md5({_SQL_NORM}) AS fp
  FROM documents
), r AS (
  SELECT source, tier,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY tier, doc_id) AS rn
  FROM d
)
SELECT source,
       ANY_VALUE(tier) AS tier,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_lost
FROM r
GROUP BY source
ORDER BY source
"""


@register("q144_priority_dedup", oracle=_Q144_ORACLE)
def q144_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # try_cast: ANSI mode (Spark 4 default) hard-errors on CAST('' AS INT)
    tier = F.coalesce(
        F.regexp_extract(F.col("source"), "[0-9]+$", 0).try_cast("int") % 3, F.lit(3)
    ).alias("tier")
    d = docs.select("doc_id", "source", tier, X.fingerprint(F.col("text")).alias("fp"))
    w = Window.partitionBy("fp").orderBy("tier", "doc_id")
    r = d.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("source")
        .agg(
            F.any_value(F.col("tier")).alias("tier"),
            F.sum((F.col("rn") == 1).cast("bigint")).alias("n_kept"),
            F.sum((F.col("rn") > 1).cast("bigint")).alias("n_lost"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q145 — deterministic shuffle -> shard manifest: the last step of a
# training-data build. A global random permutation is a total sort at 100 TB;
# the scale idiom is hash-shard + in-shard hash-order: every doc gets a
# deterministic pseudo-random key (md5 of doc_id), its shard is a 60-bit
# slice of that key mod N_SHARDS (one hash-partition shuffle, no global
# sort), and readers stream each shard ordered by the key — jointly a
# reproducible permutation that any worker fleet can re-derive with zero
# coordination. Emitted manifest: per-shard doc/token totals plus the
# shard's key range (the split points a reader needs to resume mid-shard).
# Shard sizes concentrate tightly around corpus/N (md5 is uniform), which
# the manifest itself evidences — and the pytest pins.
# ---------------------------------------------------------------------------

_N_SHARDS = 16

_SQL_SHARD_KEY = "md5(CAST(doc_id AS VARCHAR))"
_SQL_SHARD = f"('0x' || substring({_SQL_SHARD_KEY}, 1, 15))::BIGINT % {_N_SHARDS}"

_Q145_ORACLE = f"""
WITH d AS (
  SELECT {_SQL_SHARD} AS shard, {_SQL_SHARD_KEY} AS k,
         len({_SQL_TOKS}) AS n_tokens
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(k) AS key_lo,
       MAX(k) AS key_hi
FROM d
GROUP BY shard
ORDER BY shard
"""


@register("q145_shuffle_shard_manifest", oracle=_Q145_ORACLE)
def q145_shuffle_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    k = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(k, 1, 15), 16, 10).cast("bigint") % _N_SHARDS
    )
    d = docs.select(
        shard.alias("shard"), k.alias("k"), X.token_count(F.col("text")).alias("n_tokens")
    )
    return (
        d.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("k").alias("key_lo"),
            F.max("k").alias("key_hi"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q147 — token-budget allocation plan: given a training-run budget of B
# tokens, split it across sources proportionally to sqrt(source tokens)
# (the same temperature-1/2 recipe q103 weights and q127 samples by) and
# report each source's planned tokens and repeat factor (epochs over the
# source — >1 means the source is recycled, the small-source upsampling a
# mixture schedule actually executes). Everything stays engine-exact:
# weights are integerized (floor of the IEEE sqrt — both engines compute
# the identical double), the weight total is an INTEGER sum (order-free,
# unlike a cross-source sum of irrational doubles), and the two emitted
# doubles each come from a single division of bigints.
#
# Scale: one partial-aggregated groupBy to ~|sources| rows, then window
# math on that kilobyte frame. Nothing else moves.
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 10_000_000

_Q147_ORACLE = f"""
WITH s AS (
  SELECT source, CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), w AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS wt
  FROM s
), t AS (
  SELECT source, n_tokens, wt, SUM(wt) OVER () AS tot_wt FROM w
)
SELECT source, n_tokens, wt,
       CAST(floor(CAST({_BUDGET_TOKENS} * wt AS DOUBLE)
                  / CAST(tot_wt AS DOUBLE)) AS BIGINT) AS planned_tokens,
       CAST(floor(CAST({_BUDGET_TOKENS} * wt AS DOUBLE)
                  / CAST(tot_wt AS DOUBLE)) AS DOUBLE)
       / CAST(n_tokens AS DOUBLE) AS repeat_factor
FROM t
ORDER BY source
"""


@register("q147_token_budget_plan", oracle=_Q147_ORACLE)
def q147_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(X.token_count(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    w = s.select(
        "source",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("bigint").alias("wt"),
    )
    win = Window.partitionBy()
    planned = F.floor(
        (F.lit(_BUDGET_TOKENS) * F.col("wt")).cast("double")
        / F.sum("wt").over(win).cast("double")
    ).cast("bigint")
    return (
        w.select(
            "source",
            "n_tokens",
            "wt",
            planned.alias("planned_tokens"),
            (planned.cast("double") / F.col("n_tokens").cast("double")).alias(
                "repeat_factor"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q157 — per-source corpus report card: the one-stop corpus-health
# dashboard a curation pipeline runs on every ingest (and the first thing
# a data audit asks for): per source — volume (docs, tokens, avg chars),
# language spread, and the corpus-wide exact-dup exposure (docs whose
# fingerprint appears anywhere else in the corpus, CROSS-source aware —
# q146's flow matrix tells you where dups flow; this tells each source
# owner how dirty their slice is).
#
# Scale: one window keyed on the fingerprint (the dedup key — group
# state per distinct fp, the q146 shape) followed by one hash aggregate
# keyed on source. Both shuffles carry one narrow row per document; the
# output is O(sources). All ratio columns are exact-int divisions
# (bigint/bigint in double) — deterministic cross-engine, no rounding
# needed.
# ---------------------------------------------------------------------------

_Q157_ORACLE = f"""
WITH d AS (
  SELECT source, lang, n_chars,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_toks,
         COUNT(*) OVER (PARTITION BY md5({_SQL_NORM})) AS grp_sz
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs,
       COUNT(*) FILTER (grp_sz > 1) AS dup_docs,
       CAST(COUNT(*) FILTER (grp_sz > 1) AS DOUBLE) / COUNT(*) AS dup_rate
FROM d
GROUP BY source
ORDER BY source
"""


@register("q157_corpus_report_card", oracle=_Q157_ORACLE)
def q157_corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("source", "lang", "n_chars", *dup_cols())
    return dup_exposure(
        d,
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
    ).orderBy("source")


def dup_cols() -> list[Column]:
    """Per-document inputs of the dup-exposure signal: token count
    ``n_toks`` and ``grp_sz``, the number of documents corpus-wide that
    share the text's fingerprint (a window keyed on it)."""
    w = Window.partitionBy(X.fingerprint(F.col("text")))
    return [
        X.token_count(F.col("text")).cast("bigint").alias("n_toks"),
        F.count(F.lit(1)).over(w).alias("grp_sz"),
    ]


def dup_exposure(d: DataFrame, *volume: Column) -> DataFrame:
    """Per-source exact-dup exposure of a ``(source, *dup_cols())`` frame:
    n_docs, n_tokens, the caller's further ``volume`` aggregates, dup_docs
    and dup_rate — q157's table and q232's signal."""
    n_docs = F.count(F.lit(1))
    dup_docs = F.count(F.when(F.col("grp_sz") > 1, 1))
    return d.groupBy("source").agg(
        n_docs.alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        *volume,
        dup_docs.alias("dup_docs"),
        (dup_docs.cast("double") / n_docs).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# q190 — deterministic weighted sampling WITHOUT replacement (A-ES /
# Efraimidis-Spirtsis): per source, keep the K docs with the largest
# priority u^(1/w) (ranked equivalently by ln(u)/w), u the md5-uniform of
# (salt, doc_id) and w the token count. The A-ES guarantee: the K kept
# items are exactly a weight-proportional sample without replacement —
# for K=1, P(pick i) = w_i / sum(w) exactly. Registered ROWS-ONLY: the
# ln() tie ranking is a transcendental of a full-mantissa double, the one
# thing the cross-engine hash discipline forbids — the pytest property
# pin (inclusion frequencies across salts converge to w/sum(w)) is the
# oracle instead.
#
# Scale: priorities are a narrow map; per-source top-K is the grouped
# top-k window on (source)-hash partitions — one shuffle, K rows kept per
# source. Deterministic for a fixed salt: a re-run on any cluster keeps
# the same documents.
# ---------------------------------------------------------------------------

_Q190_K = 50


def weighted_sample(
    docs: DataFrame, k: int, weight: Column, salt: str = "r5"
) -> DataFrame:
    """A-ES weighted sampling without replacement, k per source."""
    u = _u60(F.concat(F.lit(salt), F.lit(":"), F.col("doc_id").cast("string")))
    # ln(u)/w: monotone transform of u^(1/w); u in [0,1) makes ln(u) <= 0,
    # so LARGER is better. w <= 0 rows are excluded (undefined priority).
    pri = F.log(u) / weight
    ranked = docs.filter(weight > 0).withColumn("__pri", pri)
    w = Window.partitionBy("source").orderBy(F.col("__pri").desc(), "doc_id")
    return (
        ranked.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__pri", "__rk")
    )


@register("q190_weighted_sample")  # rows-only: see block comment
def q190_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wt = X.token_count(F.col("text")).cast("double")
    sampled = weighted_sample(
        docs.select("doc_id", "source", wt.alias("weight")), _Q190_K, F.col("weight")
    )
    return sampled.select("doc_id", "source", "weight").orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# q226 — dedup-adjusted token-budget plan: q147's
# sqrt-temperature split re-planned over q194's keeper semantics — the
# budget a corpus team actually allocates, because a source whose token
# mass is mostly near-duplicate copies of other documents contributes far
# fewer EFFECTIVE tokens than its raw count claims. Per source: raw
# tokens, effective tokens (each q68/q194 near-dup cluster counted ONCE,
# at its keeper's — min doc_id — source and token count: what survives
# dedup), the dup discount, and q147's plan re-run on the effective mass
# (wt = floor(sqrt(eff)), planned = floor(BUDGET·wt/Σwt), repeat factor
# vs effective tokens).
#
# Scale shape: the LSH candidate pairs + iterative min-label propagation
# are exactly q194's (bounded candidate work, one shuffle join per CC
# round); on top sit ONE min_by aggregate keyed on the cluster, two hash
# aggregates keyed on source, and q147's O(sources) keyless offsets
# window. All counts exact BIGINTs; every ratio is a single division of
# exact sums (the q103/q210 parity rule). Guards mirror both engines:
# CASE WHEN eff/raw > 0 so a degenerate source can't emit an engine-
# specific division artifact.
# ---------------------------------------------------------------------------

from .dedup import _SQL_CLUSTER_LABELS, _SQL_SHINGLES  # noqa: E402

_Q226_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, source, len({_SQL_TOKS}) AS nt FROM documents
), docs AS (
  SELECT doc_id, {_SQL_SHINGLES} AS sh
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
), {_SQL_CLUSTER_LABELS},
keep AS (
  SELECT l.cluster_id,
         min_by(t.source, t.doc_id) AS ksource,
         min_by(t.nt, t.doc_id) AS knt
  FROM labels l JOIN t ON t.doc_id = l.doc_id
  GROUP BY l.cluster_id
),
eff AS (
  SELECT ksource AS source, CAST(SUM(knt) AS BIGINT) AS eff_tokens
  FROM keep GROUP BY ksource
),
raw AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(nt) AS BIGINT) AS raw_tokens
  FROM t GROUP BY source
),
j AS (
  SELECT r.source, r.n_docs, r.raw_tokens,
         COALESCE(e.eff_tokens, 0) AS eff_tokens
  FROM raw r LEFT JOIN eff e USING (source)
),
w AS (
  SELECT *, CAST(floor(sqrt(CAST(eff_tokens AS DOUBLE))) AS BIGINT) AS wt
  FROM j
),
tt AS (SELECT *, SUM(wt) OVER () AS tot_wt FROM w)
SELECT source, n_docs, raw_tokens, eff_tokens,
       CASE WHEN raw_tokens > 0
            THEN CAST(eff_tokens AS DOUBLE) / raw_tokens END AS dup_discount,
       wt,
       CAST(floor(CAST({_BUDGET_TOKENS} * wt AS DOUBLE)
                  / CAST(tot_wt AS DOUBLE)) AS BIGINT) AS planned_tokens,
       CASE WHEN eff_tokens > 0
            THEN CAST(floor(CAST({_BUDGET_TOKENS} * wt AS DOUBLE)
                            / CAST(tot_wt AS DOUBLE)) AS DOUBLE)
                 / CAST(eff_tokens AS DOUBLE) END AS repeat_factor
FROM tt
ORDER BY source
"""


def budget_plan_columns(j: DataFrame, budget_tokens: int = _BUDGET_TOKENS) -> DataFrame:
    """The q226 budget projection over a ``(source, n_docs, raw_tokens,
    eff_tokens)`` frame: dup discount, integerized sqrt-temperature
    weight, planned tokens, repeat factor. Shared by batch q226 and the
    store folds in streaming/events.py (exact-fp kept store, near-dup
    labels store) so the batch and streaming twins cannot drift on the
    formula. Window math runs on the O(sources) frame only."""
    wt = F.floor(F.sqrt(F.col("eff_tokens").cast("double"))).cast("bigint")
    win = Window.partitionBy()
    w = j.withColumn("wt", wt)
    planned = F.floor(
        (F.lit(budget_tokens) * F.col("wt")).cast("double")
        / F.sum("wt").over(win).cast("double")
    ).cast("bigint")
    return (
        w.select(
            "source",
            "n_docs",
            "raw_tokens",
            "eff_tokens",
            F.when(
                F.col("raw_tokens") > 0,
                F.col("eff_tokens").cast("double") / F.col("raw_tokens"),
            ).alias("dup_discount"),
            "wt",
            planned.alias("planned_tokens"),
            F.when(
                F.col("eff_tokens") > 0,
                planned.cast("double") / F.col("eff_tokens").cast("double"),
            ).alias("repeat_factor"),
        )
        .orderBy("source")
    )


@register("q226_dedup_adjusted_budget", oracle=_Q226_ORACLE)
def q226_dedup_adjusted_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dedup_cluster_labels

    # staged once (the q35/q225 rule): the token-count projection feeds
    # TWO consumers (the keeper join, the raw aggregate) —
    # localCheckpoint materializes the tokenizer pass instead of
    # re-running it per consumer. Build-time job is fine here: the CC
    # labels already run jobs at plan time (q226 is not PLAN_ONLY).
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", X.token_count(F.col("text")).cast("bigint").alias("nt")
    ).localCheckpoint(eager=True)
    # session-cached CC labels: the propagation
    # rounds run once per (session, sf_dir), shared with q68/q194
    labels = dedup_cluster_labels(spark, sf_dir)
    # each cluster counted once, at its keeper's source and token count
    keep = (
        docs.join(labels, docs.doc_id == labels.id)
        .groupBy("component")
        .agg(F.min_by(F.struct("source", "nt"), "doc_id").alias("k"))
    )
    eff = keep.groupBy(F.col("k.source").alias("source")).agg(
        F.sum("k.nt").cast("bigint").alias("eff_tokens")
    )
    raw = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("bigint").alias("raw_tokens"),
    )
    j = raw.join(eff, "source", "left").na.fill(0, ["eff_tokens"])
    return budget_plan_columns(j)


# ---------------------------------------------------------------------------
# q232 — per-source curation scorecard: the ONE table a data
# lead reads before a crawl renewal, joining the four per-source health
# signals the registry already measures separately — exact-dup exposure
# (q157's fingerprint window), tokenizer fertility (q210), media decode
# health (q220's real decoders, folded to a malformed share), and n-gram
# novelty (q225's boilerplate signal) — plus a flag count and a
# renew/review/reduce recommendation from fixed thresholds. Every ratio
# is one bigint/bigint division and every threshold literal is spelled
# identically on both engines (CAST('<repr>' AS DOUBLE) in the oracle —
# the DECIMAL-literal lesson), so the flags are deterministic
# cross-engine.
#
# Scale shape: three corpus passes that cannot be merged (text-stats
# fold, binary decode pass, shingle posting lists), each ending in an
# O(sources) aggregate; the scorecard joins those kilobyte frames. At
# 100 TB each pass is the corresponding registered query's documented
# shape — the composition adds only the tiny joins.
# ---------------------------------------------------------------------------

_SC_DUP_T = 0.25   # dup_rate above this -> dedup before renewal
_SC_MAL_T = 0.25   # malformed media share above this -> crawl is damaged
_SC_NOV_T = 0.32   # novelty below this -> boilerplate-heavy source
_SC_CPW_T = 8.0    # chars/word above this -> encoding damage / wrong lang

_Q232_ORACLE = f"""
WITH rep AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) FILTER (grp_sz > 1) AS DOUBLE) / COUNT(*) AS dup_rate
  FROM (SELECT source, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_toks,
               COUNT(*) OVER (PARTITION BY md5({_SQL_NORM})) AS grp_sz
        FROM documents)
  GROUP BY source
),
fert AS (
  SELECT source,
         CAST(SUM(length({_SQL_NORM})) AS DOUBLE) / SUM(len({_SQL_TOKS}))
           AS chars_per_word
  FROM documents WHERE text IS NOT NULL GROUP BY source
),
med AS (
  SELECT source,
         CAST(COUNT(*) FILTER (WHERE NOT ok) AS DOUBLE) / COUNT(*)
           AS malformed_share
  FROM (SELECT source, (doc_id % 11 <> 0 AND doc_id % 7 <> 0) AS ok
        FROM documents)
  GROUP BY source
),
sh AS (
  SELECT source, unnest({_SQL_SHINGLES}) AS s
  FROM (SELECT doc_id, source, {_SQL_TOKS} AS toks
        FROM documents WHERE text IS NOT NULL)
),
df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
nov AS (
  SELECT source,
         CAST(COUNT(*) FILTER (WHERE df.df = 1) AS DOUBLE) / COUNT(*)
           AS novelty_share
  FROM sh JOIN df USING (s) GROUP BY source
),
j AS (
  SELECT rep.source, rep.n_docs, rep.n_tokens, rep.dup_rate,
         fert.chars_per_word, med.malformed_share, nov.novelty_share
  FROM rep
  LEFT JOIN fert USING (source)
  LEFT JOIN med USING (source)
  LEFT JOIN nov USING (source)
),
f AS (
  SELECT *,
         CAST(COALESCE(dup_rate > CAST('{_SC_DUP_T!r}' AS DOUBLE), FALSE) AS INT)
         + CAST(COALESCE(malformed_share > CAST('{_SC_MAL_T!r}' AS DOUBLE), FALSE) AS INT)
         + CAST(COALESCE(novelty_share < CAST('{_SC_NOV_T!r}' AS DOUBLE), FALSE) AS INT)
         + CAST(COALESCE(chars_per_word > CAST('{_SC_CPW_T!r}' AS DOUBLE), FALSE) AS INT)
           AS n_flags
  FROM j
)
SELECT source, n_docs, n_tokens, dup_rate, chars_per_word, malformed_share,
       novelty_share, n_flags,
       CASE WHEN n_flags = 0 THEN 'renew'
            WHEN n_flags = 1 THEN 'review'
            ELSE 'reduce' END AS recommendation
FROM f
ORDER BY source
"""


@register("q232_curation_scorecard", oracle=_Q232_ORACLE)
def q232_curation_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import media_health
    from .dedup import q225_ngram_novelty

    # the dup-exposure signal (q157's) and the fertility signal (q210's)
    # share ONE cached per-doc frame instead of two corpus scans that each
    # run the tokenizer (narrow, corpus-linear — SCALING.md
    # persist-vs-recompute policy, the q127/q132 precedent); both
    # aggregates are the registered queries' own functions. The remaining
    # passes genuinely cannot merge: the decode pass reads media bytes,
    # the novelty pass needs the token ARRAYS (shingle posting lists),
    # this one only counts.
    tdocs = load_table(spark, sf_dir, "documents")
    d = tdocs.select(
        "source",
        *dup_cols(),
        *fertility_cols(),
        F.col("text").isNotNull().alias("has_text"),
    ).cache()
    rep = dup_exposure(d).drop("dup_docs")
    fert = fertility(d.filter(F.col("has_text"))).select("source", "chars_per_word")
    # the REAL decode path (q220's contract), not the oracle's planted
    # restatement — the scorecard stays honest about what the decoders saw
    docs = load_table(spark, sf_dir, "documents", fan_out_ok=False)  # see q51
    med = (
        media_health(docs)
        .groupBy("source")
        .agg(
            (
                F.sum((F.col("status") != "ok").cast("int")).cast("double")
                / F.count(F.lit(1))
            ).alias("malformed_share")
        )
    )
    nov = q225_ngram_novelty(spark, sf_dir).select("source", "novelty_share")
    j = (
        rep.join(fert, "source", "left")
        .join(med, "source", "left")
        .join(nov, "source", "left")
    )
    return scorecard_columns(j)


def scorecard_columns(j: DataFrame) -> DataFrame:
    """Flags + recommendation over a joined per-source signal frame of
    (source, n_docs, n_tokens, dup_rate, chars_per_word, malformed_share,
    novelty_share) — ONE formula serving batch q232 and the store fold
    (streaming/events.curation_scorecard_from_stores), so the live
    scorecard can never drift from the batch definition."""

    def flag(c: Column) -> Column:
        return F.coalesce(c, F.lit(False)).cast("int")

    n_flags = (
        flag(F.col("dup_rate") > F.lit(_SC_DUP_T))
        + flag(F.col("malformed_share") > F.lit(_SC_MAL_T))
        + flag(F.col("novelty_share") < F.lit(_SC_NOV_T))
        + flag(F.col("chars_per_word") > F.lit(_SC_CPW_T))
    )
    return (
        j.withColumn("n_flags", n_flags)
        .withColumn(
            "recommendation",
            F.when(F.col("n_flags") == 0, F.lit("renew"))
            .when(F.col("n_flags") == 1, F.lit("review"))
            .otherwise(F.lit("reduce")),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q233 — contamination-aware clean-token budget: "how many
# CLEAN NOVEL tokens does each source really contribute?" — q226 nets out
# near-dup mass; q233 additionally nets out benchmark contamination
# (q102: a train-split doc containing >= 50% of a held-out doc's
# 3-shingles leaks eval answers). Per near-dup cluster the counted
# representative is the CLEAN keeper — the min doc_id among members that
# are NOT contaminated (a pipeline drops the contaminated copy and keeps
# the clean twin); a cluster whose every member is contaminated
# contributes nothing. The sqrt-temperature plan then re-runs on the
# clean mass only.
#
# Scale shape: q226's pieces (session-cached CC labels + two tiny keeper
# aggregates) plus q102's broadcast-bench containment join; the contam
# set is O(contaminated docs) and joins the label frame as a broadcast
# anti-join. The oracle composes the recursive-CTE CC with the q102 core
# over one shared shingle table.
# ---------------------------------------------------------------------------

from .dedup import _CONTAIN_T  # noqa: E402

_Q233_ORACLE = f"""
WITH RECURSIVE docs AS (
  SELECT doc_id, {_SQL_BUCKET} AS b, {_SQL_SHINGLES} AS sh
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
), {_SQL_CLUSTER_LABELS},
ext AS (SELECT doc_id, unnest(sh) AS s FROM docs WHERE b < 80),
exq AS (SELECT doc_id, unnest(sh) AS s FROM docs WHERE b >= 90),
cp AS (
  SELECT ext.doc_id AS train_doc, exq.doc_id AS bench_doc, COUNT(*) AS common
  FROM ext JOIN exq ON ext.s = exq.s
  GROUP BY train_doc, bench_doc
),
contam AS (
  SELECT DISTINCT train_doc AS doc_id
  FROM cp
  JOIN (SELECT doc_id, len(sh) AS n FROM docs WHERE b >= 90) lq
    ON lq.doc_id = cp.bench_doc
  WHERE CAST(common AS DOUBLE) / lq.n >= {_CONTAIN_T}
),
t AS (
  SELECT doc_id, source, CAST(len({_SQL_TOKS}) AS BIGINT) AS nt
  FROM documents
),
eff AS (
  SELECT t.source, CAST(SUM(t.nt) AS BIGINT) AS eff_tokens
  FROM labels l JOIN t ON t.doc_id = l.doc_id
  WHERE l.doc_id = l.cluster_id
  GROUP BY t.source
),
ck AS (
  SELECT l.cluster_id, MIN(l.doc_id) AS keeper
  FROM labels l LEFT JOIN contam c ON c.doc_id = l.doc_id
  WHERE c.doc_id IS NULL
  GROUP BY l.cluster_id
),
clean AS (
  SELECT t.source, CAST(SUM(t.nt) AS BIGINT) AS clean_tokens
  FROM ck JOIN t ON t.doc_id = ck.keeper
  GROUP BY t.source
),
raw AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(nt) AS BIGINT) AS raw_tokens
  FROM t GROUP BY source
),
j AS (
  SELECT r.source, r.n_docs, r.raw_tokens,
         COALESCE(e.eff_tokens, 0) AS eff_tokens,
         COALESCE(c.clean_tokens, 0) AS clean_tokens
  FROM raw r
  LEFT JOIN eff e USING (source)
  LEFT JOIN clean c USING (source)
),
w AS (
  SELECT *, CAST(floor(sqrt(CAST(clean_tokens AS DOUBLE))) AS BIGINT) AS wt
  FROM j
),
tt AS (SELECT *, SUM(wt) OVER () AS tot_wt FROM w)
SELECT source, n_docs, raw_tokens, eff_tokens, clean_tokens,
       CASE WHEN raw_tokens > 0
            THEN CAST(clean_tokens AS DOUBLE) / raw_tokens END AS clean_share,
       wt,
       CAST(floor(CAST({_BUDGET_TOKENS} * wt AS DOUBLE)
                  / CAST(tot_wt AS DOUBLE)) AS BIGINT) AS planned_tokens,
       CASE WHEN clean_tokens > 0
            THEN CAST(floor(CAST({_BUDGET_TOKENS} * wt AS DOUBLE)
                            / CAST(tot_wt AS DOUBLE)) AS DOUBLE)
                 / CAST(clean_tokens AS DOUBLE) END AS repeat_factor
FROM tt
ORDER BY source
"""


@register("q233_clean_token_budget", oracle=_Q233_ORACLE)
def q233_clean_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dedup_cluster_labels, q102_decontamination

    # staged once: the token-count projection feeds raw + two keeper
    # joins; build-time job fine (the CC labels already run jobs)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", X.token_count(F.col("text")).cast("bigint").alias("nt")
    ).localCheckpoint(eager=True)
    labels = dedup_cluster_labels(spark, sf_dir)  # session-cached CC
    contam = (
        q102_decontamination(spark, sf_dir)
        .select(F.col("train_doc").alias("id"))
        .distinct()
    )
    # dedup keeper == cluster min == the component label itself (q226)
    eff = (
        docs.join(
            labels.where(F.col("id") == F.col("component")).select("id"),
            docs["doc_id"] == F.col("id"),
        )
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("eff_tokens"))
    )
    # clean keeper: min NON-contaminated member per cluster (broadcast
    # anti-join against the O(contaminated) id set)
    clean_keeper = (
        labels.join(F.broadcast(contam), "id", "left_anti")
        .groupBy("component")
        .agg(F.min("id").alias("keeper"))
    )
    clean = (
        docs.join(clean_keeper, docs["doc_id"] == clean_keeper["keeper"])
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("clean_tokens"))
    )
    raw = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("bigint").alias("raw_tokens"),
    )
    j = (
        raw.join(eff, "source", "left")
        .join(clean, "source", "left")
        .na.fill(0, ["eff_tokens", "clean_tokens"])
    )
    wt = F.floor(F.sqrt(F.col("clean_tokens").cast("double"))).cast("bigint")
    win = Window.partitionBy()
    w = j.withColumn("wt", wt)
    planned = F.floor(
        (F.lit(_BUDGET_TOKENS) * F.col("wt")).cast("double")
        / F.sum("wt").over(win).cast("double")
    ).cast("bigint")
    return (
        w.select(
            "source",
            "n_docs",
            "raw_tokens",
            "eff_tokens",
            "clean_tokens",
            F.when(
                F.col("raw_tokens") > 0,
                F.col("clean_tokens").cast("double") / F.col("raw_tokens"),
            ).alias("clean_share"),
            "wt",
            planned.alias("planned_tokens"),
            F.when(
                F.col("clean_tokens") > 0,
                planned.cast("double") / F.col("clean_tokens").cast("double"),
            ).alias("repeat_factor"),
        )
        .orderBy("source")
    )
