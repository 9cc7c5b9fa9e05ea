"""Banded candidate pairs and duplicate-group expansion — the two joins
every near-duplicate search shares (MinHash-LSH q36, SimHash q37,
hyperplane-LSH q40 and the streaming LSH store).

A search hashes each item into one bucket per band: a posting
``(id, band, key)``. Two items are candidates when they share a bucket in
at least one band. :func:`bucket_pairs` is the only equi-join on
``(band, key)``; it owns the candidate rules: ``a < b``, never a
self-pair, one row per pair however many bands agree.

Searches that first collapse byte-identical content to one
representative search over the representatives only, so n copies cost
one posting instead of a C(n, 2) hot bucket. :func:`expand_groups` turns
the representatives' pairs back into member pairs: every pair inside a
group, plus every rep pair crossed with the members of its two groups.
Groups are disjoint, so each unordered member pair comes out once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def explode_bands(df: DataFrame, id_col: str, bands: Column) -> DataFrame:
    """``(id, band, key)`` postings of an ``array<struct<band, key>>``
    column. ``explode_outer``: a plain explode lets
    InferFiltersFromGenerate re-inline the band-key expression (for
    MinHash bands, a second signature pass) into an inferred filter; the
    null posting it emits for a null array never joins."""
    return df.select(F.col(id_col).alias("id"), F.explode_outer(bands).alias("p")).select(
        "id", "p.band", "p.key"
    )


def _same_bucket(left: DataFrame, right: DataFrame, keep: Column) -> DataFrame:
    """(a, b) of ``left`` (id -> a) x ``right`` (id -> b) postings in one
    bucket, where ``keep`` holds."""
    a = left.select(F.col("id").alias("a"), "band", "key")
    b = right.select(
        F.col("id").alias("b"), F.col("band").alias("band_b"), F.col("key").alias("key_b")
    )
    cond = (F.col("band") == F.col("band_b")) & (F.col("key") == F.col("key_b"))
    return a.join(b, cond & keep).select("a", "b")


def bucket_pairs(postings: DataFrame, against: DataFrame | None = None) -> DataFrame:
    """Distinct ``(a, b)``, ``a < b``, of ids whose ``(id, band, key)``
    postings share a bucket.

    ``against`` (earlier postings, disjoint ids): also the pairs of one
    new and one earlier id, oriented with least/greatest and never a
    self-pair; pairs within ``against`` are not returned. Both legs read
    ``postings``, so a caller whose postings are costly to compute
    materializes them first."""
    pairs = _same_bucket(postings, postings, F.col("a") < F.col("b"))
    if against is not None:
        cross = _same_bucket(postings, against, F.col("a") != F.col("b")).select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        pairs = pairs.unionByName(cross)
    return pairs.distinct()


def expand_groups(members: DataFrame, rep_pairs: DataFrame) -> DataFrame:
    """Member pairs ``(a, b, payload...)``, ``a < b``, of representative
    pairs.

    ``members`` is ``(id, rep, payload...)``: one row per item, ``rep`` its
    group's representative. Pairs within a group take the payload columns
    of ``members``; ``rep_pairs`` is ``(a, b, payload...)`` over
    representatives, and each of its rows is crossed with the members of
    its two groups, keeping its own payload."""
    payload = [c for c in members.columns if c not in ("id", "rep")]
    m1 = members.select(F.col("rep").alias("g"), F.col("id").alias("a"), *payload)
    m2 = members.select(F.col("rep").alias("g"), F.col("id").alias("b"))
    within = m1.join(m2, "g").filter(F.col("a") < F.col("b")).select("a", "b", *payload)
    xa = members.select(F.col("rep").alias("a"), F.col("id").alias("xa"))
    xb = members.select(F.col("rep").alias("b"), F.col("id").alias("xb"))
    rep_payload = [c for c in rep_pairs.columns if c not in ("a", "b")]
    across = (
        rep_pairs.join(xa, "a")
        .join(xb, "b")
        .select(F.least("xa", "xb").alias("a"), F.greatest("xa", "xb").alias("b"), *rep_payload)
    )
    return within.unionByName(across)
