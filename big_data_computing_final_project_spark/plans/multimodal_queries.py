"""Multimodal queries: the mapInPandas decode path, oracle-checked.

The synthetic codec makes every decoded value a deterministic function of
(doc_id, text), so the DuckDB oracle re-derives the same values directly —
verifying the Arrow batch plumbing, UDF schema, and byte handling
end-to-end without any image library.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.multimodal import attach_synthetic_media, decode_media, frame_sample
from .registry import register

# ---------------------------------------------------------------------------
# q51 — decode features: header dims + payload size + md5 over the binary.
# content = '%04d%04d' header + utf-8 text, so the oracle rebuilds it as a
# string (all-ASCII corpus) and must agree byte-for-byte incl. the md5.
# ---------------------------------------------------------------------------

_Q51_ORACLE = """
SELECT doc_id,
       CAST(doc_id * 37 % 640 + 16 AS INT) AS width,
       CAST(doc_id * 53 % 480 + 16 AS INT) AS height,
       CAST(length(text) AS BIGINT) AS n_payload_bytes,
       md5(lpad(CAST(doc_id * 37 % 640 + 16 AS VARCHAR), 4, '0')
           || lpad(CAST(doc_id * 53 % 480 + 16 AS VARCHAR), 4, '0')
           || text) AS content_md5
FROM documents
ORDER BY doc_id
"""


@register("q51_multimodal_decode", oracle=_Q51_ORACLE)
def q51_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out_ok=False: the decode is a single Arrow pass whose cost is
    # dominated by byte movement, so the pre-decode repartition (a full
    # payload shuffle) loses more than the extra scan tasks gain —
    # measured 0.54s -> 1.24s when fan-out was applied here. Real media
    # tables are multi-row-group, where fan_out no-ops anyway.
    docs = load_table(spark, sf_dir, "documents", fan_out_ok=False)
    return decode_media(attach_synthetic_media(docs)).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q52 — frame sampling (row-expanding mapInPandas): every 64th payload byte,
# up to 8 'frames'. Oracle re-derives the sampled bytes with ascii() on the
# corresponding text positions.
# ---------------------------------------------------------------------------

_Q52_ORACLE = """
WITH frames AS (
  SELECT doc_id, CAST(f.k AS INT) AS frame_idx,
         ascii(substr(text, f.k * 64 + 1, 1)) AS frame_byte
  FROM documents,
       LATERAL (SELECT unnest(range(least(8, length(text) // 64))) AS k) f
)
SELECT doc_id, frame_idx, CAST(frame_byte AS INT) AS frame_byte
FROM frames
ORDER BY doc_id, frame_idx
"""


@register("q52_frame_sample", oracle=_Q52_ORACLE)
def q52_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out_ok=False)  # see q51
    return frame_sample(attach_synthetic_media(docs)).orderBy("doc_id", "frame_idx")

# ---------------------------------------------------------------------------
# q220 — decode-health audit: per-source media decode
# error rates over a planted real-format mix. media_health builds one
# REAL png/jpeg/gif/wav/mp4 blob per doc (format = doc_id % 5) with every
# 7th doc malformed in a format-specific way and every 11th (precedence)
# magic-less garbage — the truncated-download blob a crawl sees most
# often, classified 'unknown' — and, in the same Arrow pass, runs the real
# header decoders and folds each NotImplementedError into a status row.
# The oracle restates the planting rule directly — if a decoder's guard,
# the sniffer, or the Arrow plumbing drifts, a status string (and its
# count) moves and the hash breaks. share_of_fmt is one exact
# bigint/bigint division per aggregated row (q103 rule: no cross-row
# irrational sums). doc_id >= 0 is load-bearing on BOTH sides: Python %
# and SQL % disagree on negatives, so _mix_blob guards it with an
# explicit ValueError; the testdata contract keeps doc_id
# non-negative.
# ---------------------------------------------------------------------------

_Q220_ORACLE = """
WITH m AS (
  SELECT source,
         CASE WHEN doc_id % 11 = 0 THEN 'unknown'
              WHEN doc_id % 5 = 0 THEN 'png' WHEN doc_id % 5 = 1 THEN 'jpeg'
              WHEN doc_id % 5 = 2 THEN 'gif' WHEN doc_id % 5 = 3 THEN 'wav'
              ELSE 'mp4' END AS fmt,
         CASE WHEN doc_id % 11 = 0
                THEN 'unsupported media format: unrecognized magic'
              WHEN doc_id % 7 <> 0 THEN 'ok'
              WHEN doc_id % 5 = 0 THEN 'malformed PNG: zero or out-of-range dims'
              WHEN doc_id % 5 = 1 THEN 'malformed JPEG: no SOF marker before EOF'
              WHEN doc_id % 5 = 2 THEN 'malformed GIF: zero dims'
              WHEN doc_id % 5 = 3 THEN 'unsupported WAVE: 4-bit samples'
              ELSE 'malformed ISO-BMFF: no moov/mvhd' END AS status
  FROM documents
), c AS (
  SELECT source, fmt, status, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM m GROUP BY source, fmt, status
)
SELECT source, fmt, status, n_docs,
       CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY source, fmt)
         AS share_of_fmt
FROM c
ORDER BY source, fmt, status
"""


@register("q220_decode_health", oracle=_Q220_ORACLE)
def q220_decode_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.multimodal import media_health

    docs = load_table(spark, sf_dir, "documents", fan_out_ok=False)  # see q51
    health = media_health(docs)
    counts = health.groupBy("source", "fmt", "status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    # the share window runs over the aggregated (source, fmt, status)
    # frame — bounded by sources x 5 formats x status classes, never
    # corpus-sized
    w = Window.partitionBy("source", "fmt")
    return counts.select(
        "source",
        "fmt",
        "status",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "share_of_fmt"
        ),
    ).orderBy("source", "fmt", "status")


# ---------------------------------------------------------------------------
# q227 — decode-health × text-quality matrix: "is bad
# media concentrated in low-quality sources?" — the q220 × q33 join a
# curation pipeline runs before deciding whether to drop a source or just
# its malformed blobs. Per (source, quality band of the SAME document's
# text): doc count, malformed-media count (any decode status other than
# 'ok' — planted-format rejections and magic-less garbage alike), the
# malformed share within the band, and the band's share of its source.
# Concentration reads directly: a source whose 'poor' band carries a much
# higher malformed share than its 'good' band has a quality-correlated
# media problem, not a random transport one.
#
# The Spark side runs the REAL mapInPandas header-decode over the
# deterministic blob mix (q220's contract — the oracle mirrors the mix's
# doc_id arithmetic, which q220 already proves equals the decode);
# quality is q33's exact scalar. Scale: one Arrow decode pass + one
# narrow quality projection, a 1:1 doc_id join, one hash aggregate keyed
# (source, band), and a share window over the aggregated O(sources × 2)
# frame. Ratios are single divisions of exact BIGINTs.
# ---------------------------------------------------------------------------

from .textops import _SQL_PUNCT_RATIO, _SQL_STOP_RATIO  # noqa: E402

_Q227_ORACLE = f"""
WITH m AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN 1 ELSE 0 END
           AS malformed
  FROM documents
), q AS (
  SELECT doc_id,
         CASE WHEN least(length(text) / 500.0, 1.0) * 0.4
                   + (1.0 - least({_SQL_PUNCT_RATIO} * 5.0, 1.0)) * 0.3
                   + least({_SQL_STOP_RATIO} * 5.0, 1.0) * 0.3 >= 0.5
              THEN 'good' ELSE 'poor' END AS quality_band
  FROM documents
), c AS (
  SELECT m.source, q.quality_band,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(m.malformed) AS BIGINT) AS n_malformed
  FROM m JOIN q ON q.doc_id = m.doc_id
  GROUP BY m.source, q.quality_band
)
SELECT source, quality_band, n_docs, n_malformed,
       CAST(n_malformed AS DOUBLE) / n_docs AS malformed_share,
       CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY source)
         AS band_share,
       CAST(SUM(n_malformed) OVER (PARTITION BY source) AS BIGINT)
         AS source_malformed
FROM c
ORDER BY source, quality_band
"""


@register("q227_decode_quality_matrix", oracle=_Q227_ORACLE)
def q227_decode_quality_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions import text as X
    from ..operators.multimodal import media_health

    docs = load_table(spark, sf_dir, "documents", fan_out_ok=False)  # see q51
    health = media_health(docs).select(
        "doc_id", "source", (F.col("status") != "ok").cast("int").alias("malformed")
    )
    band = (
        F.when(X.quality_score(F.col("text")) >= 0.5, F.lit("good"))
        .otherwise(F.lit("poor"))
        .alias("quality_band")
    )
    qual = docs.select("doc_id", band)
    c = (
        health.join(qual, "doc_id")
        .groupBy("source", "quality_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("malformed").cast("bigint").alias("n_malformed"),
        )
    )
    # share windows run over the aggregated (source, band) frame —
    # bounded by sources × 2 bands, never corpus-sized (the q220 rule)
    w = Window.partitionBy("source")
    return c.select(
        "source",
        "quality_band",
        "n_docs",
        "n_malformed",
        (F.col("n_malformed").cast("double") / F.col("n_docs")).alias(
            "malformed_share"
        ),
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "band_share"
        ),
        F.sum("n_malformed").over(w).cast("bigint").alias("source_malformed"),
    ).orderBy("source", "quality_band")
