"""Similarity search over the `embeddings` table (north-star extension):
brute-force cosine top-k (the correctness baseline) and a random-hyperplane
LSH-bucketed variant (the scale path).

FP-parity notes: float32 × float32 promoted to double is exact; the dot
product is a sequential left-fold in both engines (Spark `aggregate`,
DuckDB `list_sum`), so cosine values are bit-identical and need no rounding.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..sources.ann_index import CODES_SCHEMA, centers_frame
from .registry import register

_K = 5
_N_QUERIES = 20  # vec_id < 20 are the query vectors
_TOPK_SALT = 64  # q38 two-phase top-k fan-out (local top-k per salt slice)


def as_double(arr: F.Column) -> F.Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Sequential left-fold dot product — same FP order as DuckDB list_sum."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: F.Column) -> F.Column:
    return F.sqrt(dot(a, a))


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return dot(a, b) / (norm(a) * norm(b))


def embedding_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e): the embeddings table with float vectors cast to double."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )


# ---------------------------------------------------------------------------
# The retrieval core every ranker below is built from: norms staged per
# row, the query slice, the pair scorer and the per-query top-k cut.
# ---------------------------------------------------------------------------


def _normed(emb: DataFrame) -> DataFrame:
    """``emb`` plus each vector's norm ``nc``, staged per SIDE before any
    pair join: a norm inside the pair projection would re-fold each
    candidate's self-dot once per query."""
    return emb.select(*emb.columns, norm(F.col("e")).alias("nc"))


def _queries(emb: DataFrame, *extra: F.Column) -> DataFrame:
    """(q_id, qe, nq, *extra): the query rows (vec_id < _N_QUERIES) of a
    normed frame."""
    return emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("nc").alias("nq"),
        *extra,
    )


def _not_self() -> F.Column:
    return F.col("vec_id") != F.col("q_id")


def _cos_sim() -> F.Column:
    """Query × candidate cosine over the staged norms — the oracle's
    dot / (sqrt(nq) * sqrt(nc)), since norm() IS sqrt(self-dot)."""
    return (dot(F.col("qe"), F.col("e")) / (F.col("nq") * F.col("nc"))).alias("cos_sim")


def _cos_scored(
    q: DataFrame, emb: DataFrame, on: F.Column, *extra: str | F.Column
) -> DataFrame:
    """(q_id, cand_id, cos_sim, *extra): the broadcast query block joined
    to the normed corpus on ``on`` and scored."""
    return (
        F.broadcast(q)
        .join(emb, on)
        .select("q_id", F.col("vec_id").alias("cand_id"), _cos_sim(), *extra)
    )


def _top_k(df: DataFrame, k: int, score: str, tie: str) -> DataFrame:
    """Each query's first ``k`` rows of ``df`` by ``score`` descending,
    ties to the smaller ``tie``, numbered ``rk`` 1..k — the one per-query
    cut of every ranker here."""
    w = Window.partitionBy("q_id").orderBy(F.col(score).desc(), F.col(tie))
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def cos_topk(scored: DataFrame) -> DataFrame:
    """(q_id, cand_id, cos_sim, rk): the per-query top-_K of a cosine-scored
    pair frame — the output of q38, q39, q64, q200 and the store- and
    index-built IVF rankers (streaming ivf_topk_from_store,
    sources/ann_index.ivf_topk_from_index)."""
    return (
        _top_k(scored, _K, "cos_sim", "cand_id")
        .select("q_id", "cand_id", "cos_sim", "rk")
        .orderBy("q_id", "rk")
    )


# ---------------------------------------------------------------------------
# q38 — brute-force cosine top-k (k=5) for 20 query vectors against the full
# table. Scale shape: queries broadcast against candidates (narrow map +
# per-query top-k via ranking window partitioned on the query id).
# ---------------------------------------------------------------------------

_Q38_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.q_id, v.vec_id AS cand_id,
         list_sum(list_transform(list_zip(q.qe, v.e), p -> p[1] * p[2]))
         / (sqrt(list_sum(list_transform(q.qe, x -> x * x)))
            * sqrt(list_sum(list_transform(v.e, x -> x * x)))) AS cos_sim
  FROM q, v
  WHERE v.vec_id != q.q_id
)
SELECT q_id, cand_id, cos_sim, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id) AS rk
  FROM scored
) WHERE rk <= {_K}
ORDER BY q_id, rk
"""


@register("q38_cosine_topk", oracle=_Q38_ORACLE)
def q38_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _normed(embedding_vectors(spark, sf_dir))
    scored = _cos_scored(_queries(emb), emb, _not_self())
    # two-phase top-k: a per-(query, salt) partial
    # top-k first, so the per-query window never sees the full corpus —
    # the q_id-partitioned shuffle carries <= _TOPK_SALT*k rows per query
    # instead of n_corpus, and the first-phase sort parallelizes across
    # n_queries*_TOPK_SALT partitions. The global top-k is a subset of the
    # union of salt-local top-ks under the same ordering, so results are
    # identical to the single-window form.
    lw = Window.partitionBy("q_id", F.pmod(F.col("cand_id"), _TOPK_SALT)).orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    pruned = (
        scored.withColumn("lrk", F.row_number().over(lw))
        .filter(F.col("lrk") <= _K)
        .drop("lrk")
    )
    return cos_topk(pruned)


# ---------------------------------------------------------------------------
# q39 — LSH-bucketed ANN (scale path): 4 random hyperplanes (seeded RNG,
# literals in the plan) -> 4-bit sign bucket (16 buckets); candidates =
# same bucket OR one of the 4 Hamming-1 neighbor buckets (multi-probe);
# exact cosine rerank inside the candidate set. Rows-only: recall < 1 by
# design; pytest measures recall against q38.
# ---------------------------------------------------------------------------

_DIM = 64  # expected embedding width; verified against the data at runtime
_N_PLANES = 4


def bucket_of(e: F.Column, planes: list[list[float]]) -> F.Column:
    """Sign-bit bucket id of a (double) embedding under fixed hyperplanes.

    The caller must guarantee ``size(e) == len(planes[0])``: zip_with pads
    the shorter array with nulls, which would silently null the projection
    and collapse every vector into bucket 0 (use :func:`assert_dim`).
    """
    acc = F.lit(0)
    for i, p in enumerate(planes):
        proj = dot(e, F.array(*[F.lit(v) for v in p]))
        acc = acc + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return acc


def assert_dim(e: F.Column, dim: int) -> F.Column:
    """Pass ``e`` through, failing the job loudly on a width mismatch
    instead of letting zip_with null-pad (recall collapse with no error)."""
    return F.when(F.size(e) == dim, e).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"embedding dim mismatch: expected {dim}, got "),
                F.size(e).cast("string"),
            )
        )
    )


def _multi_probe(q: DataFrame) -> DataFrame:
    """One row per probe of each query: its bucket ``qb`` plus the
    _N_PLANES Hamming-1 neighbours. A candidate sits in one bucket and the
    probe values are pairwise distinct, so a probe join on
    :func:`_probe_hit` matches each (q_id, cand_id) pair at most once and
    needs no distinct."""
    probes = F.array(
        F.col("qb"), *[F.col("qb").bitwiseXOR(F.lit(1 << i)) for i in range(_N_PLANES)]
    )
    return q.withColumn("probe", F.explode(probes))


def _probe_hit() -> F.Column:
    return (F.col("bucket") == F.col("probe")) & _not_self()


@register("q39_ann_lsh_topk")
def q39_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    planes = _plane_tables(1, _N_PLANES, _DIM)[0]
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", assert_dim(as_double(F.col("embedding")), _DIM).alias("e")
    )
    emb = _normed(emb).withColumn("bucket", bucket_of(F.col("e"), planes))
    q = _multi_probe(_queries(emb, F.col("bucket").alias("qb")))
    return cos_topk(_cos_scored(q, emb, _probe_hit()))


# ---------------------------------------------------------------------------
# q40 — embedding near-duplicate pairs: cosine >= 0.95 over all pairs
# (embedding-cosine near-dup from the north-star dedup list). Exact,
# oracle-checked; the scale path applies the q39 bucketing first.
# ---------------------------------------------------------------------------

# the sf0.01 embeddings top out at pairwise cosine ≈ 0.51, so the "near
# duplicate" threshold is set where the table actually has matter
_DUP_T = 0.4

_Q40_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
       / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
          * sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS cos_sim
FROM v a, v b
WHERE a.vec_id < b.vec_id
  AND list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
      / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
         * sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= {_DUP_T}
ORDER BY vec_a, vec_b
"""


# ---------------------------------------------------------------------------
# Primary path: banded hyperplane-LSH candidates + exact rescore. An
# L-table x b-bit sign-LSH (OR over tables, AND within a table's bits) is
# the cosine analogue of q36's MinHash banding: a pair at cosine t collides
# in one table with probability p^b, p = 1 - acos(t)/pi, so L =
# ceil(ln(delta)/ln(1-p^b)) tables bound the per-pair miss probability by
# delta. Candidates are generated by a postings self-join on (table,
# bucket) — the same shuffle shape as the q36 band join, never all-pairs —
# and only candidates are re-scored with the sequential JVM fold, so every
# emitted cos_sim is bit-identical to the oracle's.
#
# Honest scale note: pruning power is (1 - collision rate of RANDOM pairs)
# and falls off as the threshold drops. At a true near-dup threshold
# (>= 0.9) the band join touches a tiny fraction of the pair space (see
# test_q40_planted_high_threshold_prunes); at this table's deliberately low
# 0.4 gate threshold (the synthetic corpus tops out at cosine ~0.51)
# random 64-dim pairs collide often and the candidate set approaches
# all-pairs — inherent to ANY sublinear cosine filter at theta ~ 66deg,
# not a defect of the banding. Recall at the gate SFs is pinned at 1.0
# against the GEMM twin (test_q40_lsh_equals_gemm_twin).
# ---------------------------------------------------------------------------

_LSH_BITS = 4
_LSH_DELTA = 1e-3  # per-pair miss bound at cosine == threshold
_LSH_SEED = 42  # the one seeded hyperplane stream (q39, q133 and q40's tables)
# _band_params accepts a band width only within these two bounds
_MAX_TABLES = 128
_MAX_RAND_FRAC = 0.15  # expected candidate fraction of random pairs


def _n_tables_for(threshold: float, n_bits: int) -> int:
    """Smallest L with (1 - p^b)^L <= _LSH_DELTA at cosine == threshold."""
    p = 1.0 - math.acos(threshold) / math.pi
    return max(1, math.ceil(math.log(_LSH_DELTA) / math.log(1.0 - p**n_bits)))


def _band_params(threshold: float) -> tuple[int, int] | None:
    """Closed-form (n_bits, n_tables) chooser — or None when banding
    cannot prune at this threshold (the DENSE regime).

    A random pair (cosine ~ 0) collides per table with probability 0.5^b,
    so the expected candidate fraction is 1 - (1 - 0.5^b)^L. Pick the
    narrowest band width whose L (from the recall bound) keeps that
    fraction under _MAX_RAND_FRAC within _MAX_TABLES tables. When no width
    qualifies — e.g. the 0.4 gate threshold, where p = 0.63 forces either
    ~93% candidate fraction or hundreds of tables — LSH is strictly worse
    than enumerating the pairs, and the caller should switch to the dense
    block join (the OUTPUT is pair-dense at such thresholds anyway)."""
    for b in (4, 8, 12, 16):
        n_tables = _n_tables_for(threshold, b)
        rand_frac = 1.0 - (1.0 - 0.5**b) ** n_tables
        if n_tables <= _MAX_TABLES and rand_frac <= _MAX_RAND_FRAC:
            return b, n_tables
    return None


_DENSE_BLOCKS = 8


def _rep_dense_pairs(reps: DataFrame, n_blocks: int = _DENSE_BLOCKS) -> DataFrame:
    """All rep-level pairs (ga < gb) of the rep frame ``reps`` (gid, e, see
    _dup_reps) as a DISTRIBUTED block-nested-loop: reps hash into
    ``n_blocks`` blocks; the tiny block-pair table broadcast-joins each
    side, so every unordered block pair is one equi-join partition of work
    — no CartesianProduct node, no driver loop, and the O(n^2) work (which
    equals the output size in the dense regime) spreads across block
    pairs."""
    spark = reps.sparkSession
    reps = reps.select(
        "gid", F.pmod(F.xxhash64("gid"), F.lit(n_blocks)).cast("int").alias("blk")
    )
    # block-pair table as a pure Range plan (no ExistingRDD scan; tiny, so
    # Catalyst size-gates it onto a broadcast without a forced hint)
    bp = (
        spark.range(n_blocks * n_blocks)
        .select(
            (F.col("id") / n_blocks).cast("int").alias("ba"),
            F.pmod(F.col("id"), F.lit(n_blocks)).cast("int").alias("bb"),
        )
        .filter(F.col("ba") <= F.col("bb"))
    )
    a = reps.select(F.col("gid").alias("ga"), F.col("blk").alias("ba"))
    b = reps.select(F.col("gid").alias("gb"), F.col("blk").alias("bb"))
    return (
        a.join(bp, "ba")
        .join(b, "bb")
        .filter((F.col("ba") < F.col("bb")) | (F.col("ga") < F.col("gb")))
        .select(
            F.least("ga", "gb").alias("ga"), F.greatest("ga", "gb").alias("gb")
        )
    )


def _plane_tables(n_tables: int, n_bits: int, dim: int) -> list:
    """n_tables x n_bits Gaussian hyperplanes from ONE seeded stream —
    prefix-stable, so a larger L strictly grows the candidate set (the
    recall pin on a 32-table prefix transfers to any L >= 32)."""
    rng = random.Random(_LSH_SEED)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]
        for _ in range(n_tables)
    ]


def _bucket_signatures(e: F.Column, tables: list) -> F.Column:
    """array<string> of per-table sign-bit bucket ids ("0110"-style), all
    JVM higher-order functions over ONE nested plane literal — no Python
    in the hot path, one expression node per table regardless of dim."""
    return F.transform(
        F.lit(tables),
        lambda tbl: F.array_join(
            F.transform(
                tbl,
                lambda plane: F.when(dot(e, plane) > 0, F.lit("1")).otherwise(F.lit("0")),
            ),
            "",
        ),
    )


def _dup_reps(emb: DataFrame) -> DataFrame:
    """(e, gid): one row per distinct embedding, tagged with the min vec_id
    among its byte-identical copies (grouping directly on the array
    column) — the dup-collapse aggregate, built once per caller and cached
    lazily (no plan-build job): membership and the candidate generator
    both read it."""
    return emb.groupBy("e").agg(F.min("vec_id").alias("gid")).cache()


def _rep_band_pairs(
    reps: DataFrame, threshold: float, n_bits: int = _LSH_BITS
) -> DataFrame:
    """Rep-level candidate pairs (ga < gb) from the banded postings
    self-join over the rep frame ``reps`` (gid, e) — one posting per
    DISTINCT embedding per table, so planted exact copies cannot widen
    this join (pinned by test_q40_exact_dup_collapse_guard, the q36
    pattern)."""
    tables = _plane_tables(_n_tables_for(threshold, n_bits), n_bits, _DIM)
    postings = reps.select(
        "gid",
        F.posexplode(_bucket_signatures(assert_dim(F.col("e"), _DIM), tables)).alias(
            "tbl", "bucket"
        ),
    )
    pa = postings.select(F.col("gid").alias("ga"), "tbl", "bucket")
    pb = postings.select(F.col("gid").alias("gb"), "tbl", "bucket")
    return (
        pa.join(pb, ["tbl", "bucket"])
        .filter(F.col("ga") < F.col("gb"))
        .select("ga", "gb")
        .distinct()
    )


def _rep_pairs_for(
    reps: DataFrame, threshold: float, n_bits: int | None = None
) -> DataFrame:
    """The ONE regime decision (review finding: q40 and lsh_candidate_pairs
    had drifted copies) over the rep frame ``reps`` (gid, e): banded LSH at
    the closed-form width when it can prune, the distributed dense block
    join when it can't, explicit ``n_bits`` forcing banding at that
    width."""
    if n_bits is not None:
        return _rep_band_pairs(reps, threshold, n_bits)
    params = _band_params(threshold)
    if params is None:
        return _rep_dense_pairs(reps)
    return _rep_band_pairs(reps, threshold, params[0])


def lsh_candidate_pairs(
    emb: DataFrame, threshold: float, n_bits: int | None = None
) -> DataFrame:
    """Candidate (vec_a, vec_b) pairs, vec_a < vec_b, for cosine >= threshold
    under banded hyperplane LSH, with q36's exact-dup collapse guard.

    ``n_bits=None`` (default) picks the band width in closed form
    (_band_params) — and when NO width can prune at this threshold (the
    dense regime: candidate fraction near 1 or absurd table counts), the
    rep-level generator degenerates deliberately to the distributed block
    join (_rep_dense_pairs): at such thresholds the answer itself is
    pair-dense, so enumeration IS the optimal plan, and banding overhead
    (L postings + band self-join + distinct) would only be added on top.
    Passing ``n_bits`` explicitly forces banding at that width.

    ``emb`` must carry (vec_id, e) with e array<double> of width _DIM.
    Guard: byte-identical embeddings collapse to their min-vec_id
    representative BEFORE banding, so a corpus of N copies costs one
    posting, not a C(N,2) hot bucket; dup-group pairs re-enter via an
    output-bounded group self-join and rep-pair expansion."""
    reps = _dup_reps(emb)
    mem = emb.join(reps, "e").select("vec_id", "gid")

    # within-dup-group pairs (cos == 1 after rescore, always >= threshold;
    # output-bounded: a group of k members owes k*(k-1)/2 result rows anyway)
    m_a = mem.select(F.col("vec_id").alias("vec_a"), F.col("gid").alias("g"))
    m_b = mem.select(F.col("vec_id").alias("vec_b"), F.col("gid").alias("g"))
    within = m_a.join(m_b, "g").filter(F.col("vec_a") < F.col("vec_b")).drop("g")

    rep_pairs = _rep_pairs_for(reps, threshold, n_bits)
    # expand rep pairs to member pairs (groups are disjoint, so each
    # unordered member pair appears exactly once; least/greatest orients it)
    ea = mem.select(F.col("gid").alias("ga"), F.col("vec_id").alias("va"))
    eb = mem.select(F.col("gid").alias("gb"), F.col("vec_id").alias("vb"))
    expanded = (
        rep_pairs.join(ea, "ga")
        .join(eb, "gb")
        .select(
            F.least("va", "vb").alias("vec_a"), F.greatest("va", "vb").alias("vec_b")
        )
    )
    return within.unionByName(expanded)


def embedding_near_dup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = _DUP_T
) -> DataFrame:
    """Regime-chosen candidates (banded LSH / dense block join, see
    _band_params) -> exact sequential-fold rescore AT THE REP LEVEL ->
    verified pairs expanded to members (the q36 structure). One lazy
    DataFrame, no driver-side embedding collect anywhere (contrast the
    retired GEMM twin below). ``threshold`` parameterizes the gate so the
    growth harness can measure BOTH regimes on the same replica: at the
    registered 0.4 the dense block join runs (banding cannot prune —
    q40); from ~0.8 up (_band_params gives 8 bits x 40 tables at 0.8 and
    0.75 is still dense at _LSH_DELTA) the banded path prunes and carries
    the same downstream rescore/expansion.

    Cosine depends only on content, so byte-identical embeddings rescore
    ONCE per distinct pair and only VERIFIED pairs expand to members —
    candidate and rescore work is bounded by distinct-content counts, and
    only the (irreducibly quadratic) answer rows materialize. Nothing is
    force-broadcast: in the dense regime the candidate set is ~all rep
    pairs — corpus-scale, never broadcastable — and AQE size-gates the
    small sides at gate SFs on its own. Per-side norms are staged once
    (q38's lesson: a norm inside the pair projection re-folds per pair).

    Intra-group pairs emit dot(e,e)/norm(e)^2 of their own (shared)
    vector and cross-group members inherit their reps' cos — both
    bit-identical to what the oracle computes on the same arrays."""
    emb = embedding_vectors(spark, sf_dir)
    # the array-keyed dup-collapse aggregate is the expensive shared input
    # of ALL four consumers (membership, rep vectors, candidate generator's
    # two legs) — build it ONCE (no plan-build job, so the pure-plan pin
    # holds)
    reps_full = _dup_reps(emb)
    mem = emb.join(reps_full.select("gid", "e"), "e").select("vec_id", "gid")
    erep = reps_full.select("gid", "e", norm(F.col("e")).alias("n"))
    rep_pairs = _rep_pairs_for(reps_full.select("gid", "e"), threshold)
    ra = erep.select(F.col("gid").alias("ga"), F.col("e").alias("ea"), F.col("n").alias("na"))
    rb = erep.select(F.col("gid").alias("gb"), F.col("e").alias("eb"), F.col("n").alias("nb"))
    verified = (
        rep_pairs.join(ra, "ga")
        .join(rb, "gb")
        .select(
            "ga",
            "gb",
            F.try_divide(
                dot(F.col("ea"), F.col("eb")), F.col("na") * F.col("nb")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    # intra-group pairs: the self-cosine of the shared vector (== what the
    # oracle computes for two byte-identical arrays; NOT the literal 1.0 —
    # dot(e,e)/(sqrt(dot)*sqrt(dot)) can differ from 1.0 in the last ulp)
    # try_divide, not /: ANSI division raises on a zero-norm vector, and
    # the oracle's 0/0 is NULL (filtered); NaN flows through >= like the
    # oracle's (both engines order NaN above every number)
    self_cos = erep.select(
        F.col("gid").alias("g"),
        F.try_divide(dot(F.col("e"), F.col("e")), F.col("n") * F.col("n")).alias(
            "cos_sim"
        ),
    )
    m1 = mem.select(F.col("gid").alias("g"), F.col("vec_id").alias("vec_a"))
    m2 = mem.select(F.col("gid").alias("g"), F.col("vec_id").alias("vec_b"))
    intra = (
        m1.join(m2, "g")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .join(self_cos, "g")
        .select("vec_a", "vec_b", "cos_sim")
        # degenerate duplicates (zero-norm -> NULL self-cosine, NaN-bearing
        # -> NaN) must not leak rows the threshold-filtered oracle never
        # emits; for normal vectors self-cosine ~1.0 always passes
        .filter(F.col("cos_sim") >= threshold)
    )
    # verified rep pairs expanded across their (disjoint) groups
    xa = mem.select(F.col("gid").alias("ga"), F.col("vec_id").alias("va"))
    xb = mem.select(F.col("gid").alias("gb"), F.col("vec_id").alias("vb"))
    expanded = (
        verified.join(xa, "ga")
        .join(xb, "gb")
        .select(
            F.least("va", "vb").alias("vec_a"),
            F.greatest("va", "vb").alias("vec_b"),
            "cos_sim",
        )
    )
    return intra.unionByName(expanded).orderBy("vec_a", "vec_b")


@register("q40_embedding_near_dup", oracle=_Q40_ORACLE)
def q40_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_near_dup_pairs at the registered 0.4 gate (dense regime
    at this corpus/delta; see the helper's docstring)."""
    return embedding_near_dup_pairs(spark, sf_dir, _DUP_T)


# ---------------------------------------------------------------------------
# q64 — IVF ANN (scale path #2): KMeans coarse quantizer (k=16, seeded) over
# the embeddings, queries probe their 4 nearest centroids, exact cosine
# rerank inside the probed cells. Rows-only (KMeans fit isn't
# SQL-expressible); pytest measures recall against brute-force q38.
# At 100 TB this is the IVF pattern: centroids are tiny broadcast state,
# the probe join prunes the candidate scan to nprobe/nlist of the corpus.
# ---------------------------------------------------------------------------

_IVF_NLIST = 16
_IVF_NPROBE = 4


# Session-scoped quantizer-state cache: a fitted quantizer is a pure
# function of (application, sf_dir, config, input bytes), the same seeded
# KMeans over the same rows, so one fit per session serves every consumer.
# It holds the IVF coarse fit (centroids + cached assignment frame) and
# q200's PQ codebooks. The cache mechanics (applicationId keying,
# input-snapshot validation, unpersist-on-evict) live in
# operators/session_cache.py, shared with the dedup CC label cache.
from ..operators import session_cache as _state_cache

_table_snapshot = _state_cache.table_snapshot
_quantizer_cache_get = _state_cache.get
_quantizer_cache_put = _state_cache.put


def _fit_rows(df: DataFrame) -> DataFrame:
    """The input of every quantizer fit: ``df`` on ONE partition ordered by
    vec_id. MLlib KMeans' k-means|| initialisation samples per input
    partition, and a table's partition count follows the core count; on
    one ordered partition the fitted centers depend on the rows alone, so
    the session cache's pure-function premise holds on any box."""
    return df.repartition(1).sortWithinPartitions("vec_id")


def _ivf_quantize(emb: DataFrame):
    """Seeded KMeans coarse quantizer over ``emb`` (vec_id, e, vec): fit on
    _fit_rows(emb), assign every row of ``emb``. Returns (centroids as
    [nlist][dim] floats, cached (vec_id, e, nc, cell) assignment frame)."""
    from pyspark.ml.clustering import KMeans

    km = KMeans(featuresCol="vec", k=_IVF_NLIST, seed=42, predictionCol="cell").fit(
        _fit_rows(emb)
    )
    # stage per-row norm with the cell assignment (see q38: a norm inside
    # the pair projection re-folds per probe hit)
    assigned = (
        km.transform(emb)
        .select("vec_id", "e", norm(F.col("e")).alias("nc"), "cell")
        .cache()
    )
    return [[float(x) for x in c] for c in km.clusterCenters()], assigned


def _ivf_fit(spark: SparkSession, sf_dir: str):
    """The session's IVF quantizer (_ivf_quantize over the embeddings),
    shared by the IVF probe path (_ivf_scored / q64 / q205) and the
    cell-balance audit (q222), so the audit measures the EXACT index state
    the probes run against. Fits ONCE per (session, sf_dir, nlist): q222's
    audit on top of a probe-serving session costs one aggregate."""
    key = (spark.sparkContext.applicationId, sf_dir, _IVF_NLIST)
    snapshot = _table_snapshot(sf_dir, "embeddings")
    hit = _quantizer_cache_get(key, snapshot)
    if hit is not None:
        return hit
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        as_double(F.col("embedding")).alias("e"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("vec"),
    )
    fit = _ivf_quantize(emb)
    _quantizer_cache_put(key, snapshot, fit)
    return fit


def ivf_cell_udf(centers: list):
    """Frozen-centers cell assignment as an Arrow-batched kernel: argmin
    Euclidean distance == argmax(x·c − |c|²/2) (the |x|² term is constant
    across centers), computed as ONE numpy GEMM per Arrow batch. This is
    the ingest-time assignment path: the inline column expression for
    nlist×dim=1024 literal terms overflows janino codegen (measured) and
    falls back to interpreted, while the GEMM stays vectorized at any
    nlist. Ties take the lowest cell index, matching MLlib's findClosest
    (parity with _ivf_fit's transform pinned by the store≡q222 test)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.array(centers, dtype=np.float64)
    half = (C * C).sum(axis=1) / 2.0

    def _cell_of(e):
        if len(e) == 0:
            return pd.Series([], dtype="int32")
        m = np.array(list(e), dtype=np.float64)
        return pd.Series(np.argmax(m @ C.T - half, axis=1).astype("int32"))

    # real annotation objects (the module's deferred-annotation mode would
    # hand pandas_udf unresolvable strings)
    _cell_of.__annotations__ = {"e": pd.Series, "return": pd.Series}
    return pandas_udf(_cell_of, "int")


def ivf_probe_scored(
    spark: SparkSession,
    centers: list,
    assigned: DataFrame,
    nprobe: int = _IVF_NPROBE,
) -> DataFrame:
    """The IVF probe-and-score core over ANY quantizer state: ``centers``
    is the [nlist][dim] coarse centroids, ``assigned`` the (vec_id, e,
    nc, cell) index frame. Shared by the session-fit path (_ivf_scored →
    q64/q205) and the store-built index (streaming ivf_topk_from_store),
    so the serving and the incrementally-maintained index probe through
    the SAME code."""
    centroids = centers_frame(spark, centers)
    # rank centroids per query by cosine, keep the top nprobe cells
    qc = (
        _queries(assigned)
        .join(F.broadcast(centroids))
        .select(
            "q_id",
            "qe",
            "nq",
            "cell",
            (dot(F.col("qe"), F.col("centroid"))
             / (F.col("nq") * norm(F.col("centroid")))).alias("c_sim"),
        )
    )
    probes = _top_k(qc, nprobe, "c_sim", "cell").select("q_id", "qe", "nq", "cell")
    return (
        probes.join(assigned, "cell")
        .filter(_not_self())
        .select("q_id", F.col("vec_id").alias("cand_id"), _cos_sim(), "e")
    )


def _ivf_scored(
    spark: SparkSession, sf_dir: str, nprobe: int = _IVF_NPROBE
) -> DataFrame:
    """The session-fit probe frame shared by q64 and the IVF-pooled MMR
    (q205): (q_id, cand_id, cos_sim, e) for every candidate inside each
    query's nprobe nearest cells."""
    centers, assigned = _ivf_fit(spark, sf_dir)
    return ivf_probe_scored(spark, centers, assigned, nprobe)


@register("q64_ann_ivf_topk")
def q64_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cos_topk(_ivf_scored(spark, sf_dir))


# ---------------------------------------------------------------------------
# q222 — IVF cell-balance audit: the vector-index
# health twin of q172's partition-skew audit. A skewed coarse quantizer
# silently destroys an IVF index twice over — hot cells make every probe
# that touches them scan far more than nprobe/nlist of the corpus, and
# empty cells waste list slots so real vectors crowd into fewer lists,
# cutting recall at fixed nprobe — and nothing else in the index path
# reports it. One row per cell (including empty ones, via an nlist spine):
# count, share, plus the index-level imbalance factor (max cell over the
# uniform-ideal n/nlist), empty-cell rate, and a salt-style
# recommendation. Rows-only (the KMeans fit isn't SQL-expressible, same
# contract as q64); pytest pins the audit math on planted assignments and
# the registered query against the live quantizer state.
#
# Scale: one hash aggregate keyed on cell (map-side combinable) over the
# assignment frame, then window math over exactly nlist rows — index
# configuration, never corpus-proportional (bounded keyless window, the
# q191 class). At 100 TB the assignment frame is the index build's own
# output; the audit adds one cheap aggregate to the build job.
# ---------------------------------------------------------------------------


def ivf_cell_balance(assigned: DataFrame, nlist: int) -> DataFrame:
    """Cell-balance audit of an IVF quantizer assignment: ``assigned``
    needs a ``cell`` int column in [0, nlist); cells with no vectors
    still get a row (that's the point — empty-cell rate is the recall
    health signal). imbalance_factor = max_cell / (n_vectors / nlist);
    recommendation flips to 'rebalance' when the hottest cell exceeds 4x
    the uniform ideal or more than a quarter of cells are empty (the
    q172 salt threshold, restated for lists)."""
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    return cell_balance_from_counts(counts, nlist)


def cell_balance_from_counts(counts: DataFrame, nlist: int) -> DataFrame:
    """The q222 audit math over pre-aggregated (cell, n_vecs) counts —
    the form the streaming IVF ingest store folds to, so the live
    monitor and the batch audit share ONE implementation and cannot
    drift on thresholds."""
    spark = counts.sparkSession
    spine = spark.range(nlist).select(F.col("id").cast("int").alias("cell"))
    full = spine.join(counts, "cell", "left").na.fill(0, ["n_vecs"])
    whole = Window.partitionBy()
    tot = F.sum("n_vecs").over(whole)
    imb = (F.max("n_vecs").over(whole) * F.lit(nlist)).cast("double") / tot
    n_empty = F.sum((F.col("n_vecs") == 0).cast("bigint")).over(whole)
    empty_rate = n_empty.cast("double") / F.lit(nlist)
    return (
        full.select(
            "cell",
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            (F.col("n_vecs").cast("double") / tot).alias("share"),
            imb.alias("imbalance_factor"),
            empty_rate.alias("empty_cell_rate"),
            F.when(
                (imb > 4.0) | (n_empty * 4 > F.lit(nlist)), F.lit("rebalance")
            )
            .otherwise(F.lit("ok"))
            .alias("recommendation"),
        )
        .orderBy("cell")
    )


@register("q222_ivf_cell_balance")
def q222_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, assigned = _ivf_fit(spark, sf_dir)
    return ivf_cell_balance(assigned, _IVF_NLIST)


# ---------------------------------------------------------------------------
# q72 — per-label embedding centroids in long form (label, dim, centroid):
# the class-centroid primitive behind nearest-centroid classification,
# cluster summaries, and IVF coarse-quantizer seeding. posexplode -> one
# hash aggregate on (label, dim) — fully distributed, no driver math.
#
# FP parity: a distributed double sum is reduction-order-dependent, so the
# oracle-parity mode (exact=True) folds a SORTED collect_list left-to-
# right (both engines fold identically — same trick as q38's dot
# product). The at-scale mode (exact=False) is plain F.avg — partial
# aggregation before the shuffle, no per-group value buffer, last-ulp
# partial-sum order noise; pytest pins the two modes within 1e-9 and the
# avg plan free of collect_list buffers.
# ---------------------------------------------------------------------------


def centroid_means(v: DataFrame, exact: bool = True) -> DataFrame:
    """(label, dim, centroid) per-class means of an embedding frame.

    exact=True (the default): FP-deterministic sorted fold — identical
    on any partitioning, what the q72 oracle certifies. exact=False:
    plain avg, the mode to PREFER at scale (map-side partial agg; the
    sorted fold must buffer every group value via collect_list, which
    the exact oracle mode accepts for reproducibility).

    Assumes dense arrays (no null elements) — the embeddings schema's
    contract. On a null element the two modes would diverge: the exact
    fold divides by the group row count (mirroring the oracle's
    COUNT(*)) while avg skips nulls.
    """
    ex = v.select("label", F.posexplode(as_double(F.col("embedding"))).alias("dim", "val"))
    if exact:
        centroid = F.aggregate(
            F.array_sort(F.collect_list("val")), F.lit(0.0), lambda acc, x: acc + x
        ) / F.count(F.lit(1))
    else:
        centroid = F.avg("val")
    return ex.groupBy("label", "dim").agg(centroid.alias("centroid"))


_Q72_ORACLE = """
WITH v AS (
  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE label IS NOT NULL
), ex AS (SELECT label, unnest(range(len(e))) AS dim, unnest(e) AS val FROM v)
SELECT label, dim, list_sum(list_sort(list(val))) / COUNT(*) AS centroid
FROM ex GROUP BY label, dim ORDER BY label, dim
"""


@register("q72_embedding_centroids", oracle=_Q72_ORACLE)
def q72_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    return centroid_means(v, exact=True).orderBy("label", "dim")


# ---------------------------------------------------------------------------
# q74 — nearest-centroid assignment (the E-step of Lloyd's KMeans, and the
# router of an IVF index): every vector joins the 10-row centroid dim
# (broadcast — centroids are always tiny) and takes the argmin-L2 label.
# Distances fold sequentially over the zipped arrays (deterministic FP,
# same as q38); ties break to the smallest label via min(struct).
# ---------------------------------------------------------------------------

_Q74_ORACLE = """
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE label IS NOT NULL
), ex AS (SELECT label, unnest(range(len(e))) AS dim, unnest(e) AS val FROM v),
cent AS (
  SELECT label, list_transform(
           list_sort(list(struct_pack(dim := dim, c := c))), s -> s.c) AS ce
  FROM (
    SELECT label, dim, list_sum(list_sort(list(val))) / COUNT(*) AS c
    FROM ex GROUP BY label, dim
  ) GROUP BY label
), scored AS (
  SELECT v.vec_id, v.label AS true_label, cent.label AS cand_label,
         list_sum(list_transform(list_zip(v.e, cent.ce),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM v, cent
)
SELECT vec_id, true_label,
       MIN(struct_pack(d2 := d2, l := cand_label)).l AS nearest_label,
       MIN(d2) AS min_d2
FROM scored
GROUP BY vec_id, true_label
ORDER BY vec_id
"""


@register("q74_nearest_centroid", oracle=_Q74_ORACLE)
def q74_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("label").isNotNull())
        .select("vec_id", "label", as_double(F.col("embedding")).alias("e"))
    )
    ex = v.select("label", F.posexplode("e").alias("dim", "val"))
    per_dim = ex.groupBy("label", "dim").agg(
        (
            F.aggregate(F.array_sort(F.collect_list("val")), F.lit(0.0), lambda a, x: a + x)
            / F.count(F.lit(1))
        ).alias("c")
    )
    cent = per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s.c
        ).alias("ce")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("e"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        v.join(F.broadcast(cent.select(F.col("label").alias("cand_label"), "ce")))
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            "cand_label",
            d2.alias("d2"),
        )
    )
    return (
        scored.groupBy("vec_id", "true_label")
        .agg(
            F.min(F.struct(F.col("d2"), F.col("cand_label").alias("l")))["l"].alias(
                "nearest_label"
            ),
            F.min("d2").alias("min_d2"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# q94 — higher-order array functions as the vector feature pipeline
# (transform / filter / aggregate / zip over array<float> without ever
# leaving the JVM): per-vector L2 norm, positive-component fraction, and
# energy; top 20 by energy. Every expression is whole-stage-codegen'd —
# the Pandas-UDF path (operators/multimodal) is reserved for work Catalyst
# cannot express; this query is the proof these features don't need it.
# ---------------------------------------------------------------------------

_Q94_ORACLE = """
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
feat AS (
  SELECT vec_id, label,
         list_sum(list_transform(e, x -> x * x)) AS energy,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS l2_norm,
         CAST(len(list_filter(e, x -> x > 0)) AS DOUBLE) / len(e) AS frac_pos
  FROM v
)
SELECT vec_id, label, energy, l2_norm, frac_pos
FROM feat ORDER BY energy DESC, vec_id LIMIT 20
"""


@register("q94_array_feature_stats", oracle=_Q94_ORACLE)
def q94_array_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = as_double(F.col("embedding"))
    energy = dot(e, e)
    return (
        emb.select(
            "vec_id",
            "label",
            energy.alias("energy"),
            F.sqrt(energy).alias("l2_norm"),
            (
                F.size(F.filter(e, lambda x: x > 0)).cast("double") / F.size(e)
            ).alias("frac_pos"),
        )
        .orderBy(F.desc("energy"), "vec_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q125 — int8 embedding quantization (operators/quantize.py): symmetric
# per-vector max-abs codes, the 4x-smaller ANN serving format. Pure Column
# expressions (transform/aggregate HOFs) — zero shuffle, zero Python; the
# oracle reproduces the exact integer codes because every step is
# engine-independent IEEE arithmetic + floor (NOT round(), whose half-tie
# behavior differs between Spark and DuckDB).
# ---------------------------------------------------------------------------

_Q125_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), m AS (
  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS maxabs FROM v
), q AS (
  SELECT vec_id, maxabs,
         list_transform(e, x -> CASE WHEN maxabs = 0 THEN 0
                                ELSE CAST(floor(x * 127.0 / maxabs + 0.5) AS INT)
                                END) AS qv
  FROM m
)
SELECT vec_id, maxabs,
       CAST(list_sum(qv) AS BIGINT) AS sum_q,
       CAST(list_sum(list_transform(qv, c -> CAST(c AS BIGINT) * c)) AS BIGINT) AS sum_q2
FROM q
ORDER BY vec_id
"""


@register("q125_int8_quantize", oracle=_Q125_ORACLE)
def q125_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantize import max_abs, quantize_int8_of

    emb = load_table(spark, sf_dir, "embeddings")
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint")
    )
    # stage e -> maxabs -> codes so array_max runs once per row and the
    # code array is built once, not once per consuming aggregate (see
    # quantize_int8_of staging note)
    staged = emb.select("vec_id", as_double(F.col("embedding")).alias("e")).select(
        "vec_id", "e", max_abs(F.col("e")).alias("maxabs")
    )
    coded = staged.select(
        "vec_id", "maxabs", quantize_int8_of(F.col("e"), F.col("maxabs")).alias("q")
    )
    return coded.select(
        "vec_id",
        "maxabs",
        isum(F.col("q")).alias("sum_q"),
        isum(F.transform(F.col("q"), lambda c: c.cast("bigint") * c)).alias("sum_q2"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# q131 — int8 retrieval top-k: q38's brute-force cosine run entirely on
# q125's int8 codes — the serving path of a quantized ANN store. The
# approximate cosine uses ONLY quantized quantities,
#
#     cos8(a, b) = dotq(a, b) / (sqrt(dotq(a,a)) * sqrt(dotq(b,b))),
#
# i.e. exact bigint integer dot products of the codes, normalized by the
# code norms (the per-vector maxabs scales cancel in the ratio). Every
# value is integer until one hardware-sqrt + one division — bit-identical
# across engines, so unlike most ANN this approximation is fully
# oracle-checkable. Ranking quality vs float cosine is pinned by
# tests/test_dedup_similarity.py::test_int8_topk_recall_vs_exact.
#
# Scale shape: identical to q38 (broadcast query block, narrow map,
# per-query ranking window) but the candidate side streams 4x fewer bytes
# (int8 codes) and the inner loop is integer MAC — the DP4A/VNNI form; on
# a 100 TB store the scan, shuffle, and cache all shrink 4x. Pair with
# q39/q64 bucketing for sub-linear candidate generation.
# ---------------------------------------------------------------------------

_Q131_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), m AS (
  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS maxabs FROM v
), c AS (
  SELECT vec_id,
         list_transform(e, x -> CASE WHEN maxabs = 0 THEN 0
                                ELSE CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT)
                                END) AS qv
  FROM m
), n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q2 FROM c
), q AS (
  SELECT vec_id AS q_id, qv AS qqv, q2 AS qq2 FROM n WHERE vec_id < {_N_QUERIES}
), scored AS (
  SELECT q.q_id, n.vec_id AS cand_id,
         CAST(list_sum(list_transform(list_zip(q.qqv, n.qv), p -> p[1] * p[2]))
              AS BIGINT) AS dotq,
         CAST(list_sum(list_transform(list_zip(q.qqv, n.qv), p -> p[1] * p[2]))
              AS DOUBLE) / (sqrt(CAST(q.qq2 AS DOUBLE)) * sqrt(CAST(n.q2 AS DOUBLE)))
           AS cos8
  FROM q, n
  WHERE n.vec_id != q.q_id AND q.qq2 > 0 AND n.q2 > 0
)
SELECT q_id, cand_id, dotq, cos8, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos8 DESC, cand_id) AS rk
  FROM scored
) WHERE rk <= {_K}
ORDER BY q_id, rk
"""


def _int8_coded(e: DataFrame, *extra: F.Column) -> DataFrame:
    """(vec_id, qv, q2, *extra): q125's int8 codes of a (vec_id, e) frame
    as bigint (so products never touch int overflow — 127*127*64 fits
    easily, but mirror the oracle's BIGINT lists) and their self-dot.
    maxabs is its own aliased projection so array_max runs once per ROW,
    not once per element (see quantize_int8_of). The zero-vector guard
    filters on it — equivalent to the oracle's q2 > 0: maxabs = 0 <=> all
    codes 0, maxabs > 0 => the max element's code is exactly 127 => q2 >=
    127^2 — as a cheap O(d) predicate instead of the full code array."""
    from ..operators.quantize import max_abs, quantize_int8_of

    staged = e.select("vec_id", "e", max_abs(F.col("e")).alias("maxabs")).filter(
        F.col("maxabs") > 0
    )
    coded = staged.select(
        "vec_id",
        F.transform(
            quantize_int8_of(F.col("e"), F.col("maxabs")), lambda c: c.cast("bigint")
        ).alias("qv"),
    )
    q2 = F.aggregate(F.col("qv"), F.lit(0).cast("bigint"), lambda acc, x: acc + x * x)
    return coded.select("vec_id", "qv", q2.alias("q2"), *extra)


def _int8_queries(n: DataFrame, *extra: F.Column) -> DataFrame:
    """(q_id, qqv, qq2, *extra): the query rows of a coded frame."""
    return n.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("qv").alias("qqv"),
        F.col("q2").alias("qq2"),
        *extra,
    )


def _int8_scored(q: DataFrame, n: DataFrame, on: F.Column) -> DataFrame:
    """(q_id, cand_id, dotq, cos8): the query codes ``q`` broadcast
    against the code store ``n`` on ``on``. The integer dot is its own
    projection, so q131's output column and cos8 share one fold per pair."""
    from ..operators.quantize import int8_dot

    pairs = (
        F.broadcast(q)
        .join(n, on)
        .select(
            "q_id",
            F.col("vec_id").alias("cand_id"),
            int8_dot(F.col("qqv"), F.col("qv")).alias("dotq"),
            "qq2",
            "q2",
        )
    )
    cos8 = F.col("dotq").cast("double") / (
        F.sqrt(F.col("qq2").cast("double")) * F.sqrt(F.col("q2").cast("double"))
    )
    return pairs.select("q_id", "cand_id", "dotq", cos8.alias("cos8"))


@register("q131_int8_cosine_topk", oracle=_Q131_ORACLE)
def q131_int8_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _int8_coded(embedding_vectors(spark, sf_dir))
    return (
        _top_k(_int8_scored(_int8_queries(n), n, _not_self()), _K, "cos8", "cand_id")
        .select("q_id", "cand_id", "dotq", "cos8", "rk")
        .orderBy("q_id", "rk")
    )


# ---------------------------------------------------------------------------
# q133 — quantized-store ANN: q39's multi-probe hyperplane bucketing
# composed with q131's integer-dot scoring, reading ONLY the int8 code
# store (buckets are computed from the codes: per-vector scales are
# positive, so sign(dot(codes, plane)) == sign(dot(e, plane)) except for
# near-zero projections the LSH already treats as noise). This is the
# actual 100 TB serving path: sub-linear candidate generation AND a 4x
# smaller store — float embeddings never leave cold storage.
# Rows-only like q39/q64 (recall < 1 by design);
# tests/test_dedup_similarity.py::test_int8_bucketed_ann_recall pins the
# recall floor vs float brute force (q38).
# ---------------------------------------------------------------------------


@register("q133_int8_ann_topk")
def q133_int8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    planes = _plane_tables(1, _N_PLANES, _DIM)[0]
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", assert_dim(as_double(F.col("embedding")), _DIM).alias("e")
    )
    # everything past the coding touches ONLY the code store
    qd = F.transform(F.col("qv"), lambda c: c.cast("double"))
    n = _int8_coded(e, bucket_of(qd, planes).alias("bucket"))
    q = _multi_probe(_int8_queries(n, F.col("bucket").alias("qb")))
    return (
        _top_k(_int8_scored(q, n, _probe_hit()), _K, "cos8", "cand_id")
        .select("q_id", "cand_id", "cos8", "rk")
        .orderBy("q_id", "rk")
    )


# ---------------------------------------------------------------------------
# q150 — embedding-store audit: the vector-side counterpart of q120's
# document DQ audit. Before an embedding table feeds retrieval/dedup, a
# pipeline needs per-label: vector counts, dimension consistency (a
# ragged store silently breaks every GEMM/quantization path), zero-vector
# and non-finite counts (cosine would divide by zero / poison top-k), and
# the norm envelope (min/max — order-free; the mean is deliberately
# omitted: a cross-row sum of irrational sqrt values is not
# order-reproducible). Norms use the same sequential-fold dot as q38, so
# min/max are bit-identical to the oracle.
#
# Scale: one narrow map (fold per row) + one partial-aggregated groupBy
# on ~|labels| keys. Nothing else moves.
# ---------------------------------------------------------------------------

_Q150_ORACLE = """
WITH v AS (
  SELECT label,
         len(embedding) AS dim,
         list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq,
         len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) AS n_bad
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(DISTINCT dim) AS BIGINT) AS n_distinct_dims,
       CAST(COUNT(*) FILTER (WHERE sq = 0.0) AS BIGINT) AS n_zero_vecs,
       CAST(COUNT(*) FILTER (WHERE n_bad > 0) AS BIGINT) AS n_nonfinite_vecs,
       MIN(CASE WHEN n_bad = 0 AND sq > 0 THEN sqrt(sq) END) AS min_norm,
       MAX(CASE WHEN n_bad = 0 AND sq > 0 THEN sqrt(sq) END) AS max_norm
FROM v
GROUP BY label
ORDER BY label
"""


@register("q150_embedding_audit", oracle=_Q150_ORACLE)
def q150_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = as_double(F.col("embedding"))
    sq = dot(e, e)
    n_bad = F.size(F.filter(e, lambda x: F.isnan(x) | (F.abs(x) == float("inf"))))
    v = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        sq.alias("sq"),
        n_bad.alias("n_bad"),
    )
    # envelope over USABLE vectors only: zero vectors are already
    # counted separately and would pin min_norm to 0
    good_norm = F.when((F.col("n_bad") == 0) & (F.col("sq") > 0), F.sqrt(F.col("sq")))
    return (
        v.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("dim").alias("n_distinct_dims"),
            F.count(F.when(F.col("sq") == 0.0, F.lit(1))).alias("n_zero_vecs"),
            F.count(F.when(F.col("n_bad") > 0, F.lit(1))).alias("n_nonfinite_vecs"),
            F.min(good_norm).alias("min_norm"),
            F.max(good_norm).alias("max_norm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q186 — kNN classifier over the embedding store: predict each query
# vector's label by majority vote of its 10 nearest neighbors (exact
# cosine, q38's ordered-fold dot product so both engines score
# identically), ties broken (count DESC, label ASC) so the vote is
# deterministic. Emits the prediction, the true label, the vote count,
# and the mean neighbor similarity — the eval row a retrieval-quality
# dashboard ingests. Completes the ML surface with the one classic
# classifier that needs no training phase at all.
#
# Exactness: the vote is integer; mean_sim folds exactly 10 doubles in
# rank order via an ordered array fold (sort_array of (rk, sim) structs),
# not an aggregation-order-dependent SUM — the same trick the EWMA fold
# uses. Scale: queries broadcast against the store; per-query top-k via
# ranking window — q38's plan plus a kilobyte vote rollup.
# ---------------------------------------------------------------------------

_KNN_K = 10

_Q186_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), q AS (
  SELECT vec_id AS q_id, label AS true_label, e AS qe FROM v
  WHERE vec_id < {_N_QUERIES}
), scored AS (
  SELECT q.q_id, q.true_label, v.vec_id AS cand_id, v.label AS cand_label,
         list_sum(list_transform(list_zip(q.qe, v.e), p -> p[1] * p[2]))
         / (sqrt(list_sum(list_transform(q.qe, x -> x * x)))
            * sqrt(list_sum(list_transform(v.e, x -> x * x)))) AS cos_sim
  FROM q, v
  WHERE v.vec_id != q.q_id
), topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, cand_id) AS rk
    FROM scored
  ) WHERE rk <= {_KNN_K}
), votes AS (
  SELECT q_id, true_label, cand_label,
         COUNT(*) AS n_votes,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY COUNT(*) DESC, cand_label) AS vrk
  FROM topk GROUP BY q_id, true_label, cand_label
), sims AS (
  -- rank-ordered exact fold: sum sims at rk=1..K left to right; divide by
  -- the RETRIEVED count (a tiny store can have < K candidates)
  SELECT q_id, list_sum(list_transform(
           list_sort(list_zip(list(rk), list(cos_sim))), p -> p[2]
         )) / COUNT(*) AS mean_sim
  FROM topk GROUP BY q_id
)
SELECT v.q_id,
       CAST(v.true_label AS BIGINT) AS true_label,
       CAST(v.cand_label AS BIGINT) AS predicted_label,
       CAST(v.n_votes AS BIGINT) AS n_votes,
       s.mean_sim,
       v.cand_label = v.true_label AS is_correct
FROM votes v JOIN sims s ON s.q_id = v.q_id
WHERE v.vrk = 1
ORDER BY v.q_id
"""


@register("q186_knn_classifier", oracle=_Q186_ORACLE)
def q186_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _normed(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double(F.col("embedding")).alias("e")
        )
    )
    q = _queries(emb, F.col("label").alias("true_label"))
    scored = _cos_scored(
        q, emb, _not_self(), "true_label", F.col("label").alias("cand_label")
    )
    topk = _top_k(scored, _KNN_K, "cos_sim", "cand_id")
    counts = topk.groupBy("q_id", "true_label", "cand_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    # the winning label: most votes, ties to the smaller label
    votes = _top_k(counts, 1, "n_votes", "cand_label")
    # rank-ordered exact fold of the K sims (see oracle note)
    pair = F.sort_array(F.collect_list(F.struct("rk", "cos_sim")))
    sims = topk.groupBy("q_id").agg(
        (
            F.aggregate(
                pair, F.lit(0.0), lambda acc, p: acc + p["cos_sim"]
            )
            / F.count(F.lit(1))
        ).alias("mean_sim")
    )
    return (
        votes.join(sims, "q_id")
        .select(
            "q_id",
            F.col("true_label").cast("bigint").alias("true_label"),
            F.col("cand_label").cast("bigint").alias("predicted_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
            "mean_sim",
            (F.col("cand_label") == F.col("true_label")).alias("is_correct"),
        )
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------------
# q199 — MMR diversified re-ranking (Carbonell & Goldstein, SIGIR'98): a
# retrieval pipeline rarely serves raw cosine top-k — near-duplicate hits
# crowd the list. Maximal Marginal Relevance re-scores iteratively:
#     next = argmax over remaining d of
#            LAMBDA*sim(q,d) - (1-LAMBDA)*max(sim(d,s) for selected s)
# Per query: candidate pool = cosine top-_MMR_POOL (JVM-side, the q38
# plan), then the K-step selection runs in ONE Arrow batch per query via
# applyInPandas — the pool is small (50x64 floats), so the loop is local
# numpy; parallelism is across queries, and no all-pairs work ever leaves
# a pool. Rows-only (iterative argmax is not SQL-expressible); pinned by
# determinism, lambda=1 == plain top-k, and a measured diversity gain.
# ---------------------------------------------------------------------------

_MMR_POOL = 50
_MMR_K = 10
_MMR_IVF_NPROBE = 8  # q205 pool probes (rerank pools want recall > serving nprobe)
_MMR_LAMBDA = 0.7


def mmr_rerank(
    scored_pool: DataFrame,
    k: int = _MMR_K,
    lam: float = _MMR_LAMBDA,
) -> DataFrame:
    """MMR-select ``k`` of each query's candidate pool. ``scored_pool``:
    (q_id, cand_id, cos_sim, e array<double>) with unit-normalized or raw
    embeddings (similarities among candidates are computed as cosine).
    Ties (equal marginal score) break to the smaller cand_id, so the
    selection is deterministic."""
    import pandas as pd  # noqa: F401 (applyInPandas contract)

    def select(pdf):
        import numpy as np

        pdf = pdf.sort_values("cand_id").reset_index(drop=True)
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["e"]])
        nrm = np.linalg.norm(mat, axis=1)
        nrm[nrm == 0.0] = 1.0
        unit = mat / nrm[:, None]
        pair = unit @ unit.T  # pool x pool candidate-candidate cosine
        rel = pdf["cos_sim"].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        remaining = list(range(n))
        out = []
        for rank in range(1, min(k, n) + 1):
            best_i, best_score = None, None
            for i in remaining:
                div = max((pair[i, j] for j in selected), default=0.0)
                score = lam * rel[i] - (1.0 - lam) * div
                # strict > : equal scores keep the earlier (smaller cand_id)
                if best_score is None or score > best_score:
                    best_i, best_score = i, score
            selected.append(best_i)
            remaining.remove(best_i)
            out.append((pdf["q_id"].iat[0], pdf["cand_id"].iat[best_i], rank, best_score))
        import pandas as _pd

        return _pd.DataFrame(out, columns=["q_id", "cand_id", "mmr_rank", "mmr_score"])

    return scored_pool.groupBy("q_id").applyInPandas(
        select, "q_id bigint, cand_id bigint, mmr_rank int, mmr_score double"
    )


def _scored_pool(spark: SparkSession, sf_dir: str, pool: int = _MMR_POOL) -> DataFrame:
    """(q_id, cand_id, cos_sim, e): each query's brute-force cosine top-``pool``."""
    emb = _normed(embedding_vectors(spark, sf_dir))
    scored = _cos_scored(_queries(emb), emb, _not_self(), "e")
    return _top_k(scored, pool, "cos_sim", "cand_id").drop("rk")


@register("q199_mmr_rerank")
def q199_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, cand_id, mmr_rank, mmr_score) — the diversified top-10 of
    each query's cosine top-50 pool."""
    return mmr_rerank(_scored_pool(spark, sf_dir)).orderBy("q_id", "mmr_rank")


@register("q205_mmr_ivf_rerank")
def q205_mmr_ivf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR over an ANN pool: the candidate pool comes
    from the IVF probe path (q64's coarse-quantizer cells) instead of the
    brute-force score of the whole corpus — the composition a 100-TB
    retrieval stack actually runs (ANN recall -> diversity rerank). Pool
    construction scans only nprobe/nlist of the corpus; the per-pool MMR
    is unchanged. Rows-only (KMeans fit isn't SQL-expressible);
    tests pin per-query pool recall vs the brute pool. A rerank pool
    wants higher recall than a top-5 lookup, so this probes 8/16 cells
    (double q64's serving nprobe — the standard IVF knob)."""
    scored = _ivf_scored(spark, sf_dir, nprobe=_MMR_IVF_NPROBE)
    pool = _top_k(scored, _MMR_POOL, "cos_sim", "cand_id").drop("rk")
    return mmr_rerank(pool).orderBy("q_id", "mmr_rank")


# ---------------------------------------------------------------------------
# q200 — product-quantization ANN (Jégou et al., TPAMI'11 — the FAISS IVF-PQ
# scoring half): split the embedding into M subspaces, k-means each
# subspace to K centroids (the codebook), store each vector as M 4-bit
# codes, and score queries by Asymmetric Distance Computation — one
# 16-entry lookup table per (query, subspace), candidate score =
# sum of M table lookups. Completes the quantized-serving family: q125/
# q131/q133 compress to int8 PER COORDINATE (4x); PQ compresses to
# M*log2(K) BITS PER VECTOR (64x here: 64 floats -> 8 nibbles), the regime
# where a 100-TB embedding store becomes RAM-resident.
#
# Scale shape: codebooks are plan literals (M*K*sub_dim = 1024 doubles);
# encode is a narrow JVM map (argmin over K per subspace); serving reads
# ONLY (vec_id, codes, norm) — the float store is never touched at query
# time. Scoring is a broadcast of 20 query LUTs against the code table,
# per-query top-k via ranking window. Rows-only: quantization error makes
# values non-SQL-derivable; recall vs exact q38 is pytest-pinned.
# ---------------------------------------------------------------------------

_PQ_M = 8   # subspaces
_PQ_K = 16  # centroids per subspace (4-bit codes)


def _pq_codebooks(spark: SparkSession, emb: DataFrame, dim: int) -> list[list[list[float]]]:
    """Fit one seeded KMeans per subspace; returns [m][k][sub_dim] floats.

    The 8 fits are independent (disjoint subspace slices, per-subspace
    seeds), so they run CONCURRENTLY from a thread pool — MLlib fits are
    driver-side loops submitting jobs, and overlapping them fills the
    scheduler instead of serializing 8 × per-fit job latency (measured:
    the sequential form dominated q200's cold-session cost). One cached
    materialization of all slices, on _fit_rows' single ordered
    partition, feeds every fit; each fit alone would re-scan the parquet
    and re-run the float cast per KMeans iteration. Seeds are fixed per
    subspace, so the result is identical to the sequential fit."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = dim // _PQ_M
    staged = _fit_rows(
        emb.select(
            "vec_id",
            *[
                array_to_vector(F.slice(F.col("e"), m * d + 1, d)).alias(f"sub{m}")
                for m in range(_PQ_M)
            ],
        )
    ).cache()
    staged.count()
    try:

        def fit(m: int) -> list[list[float]]:
            km = KMeans(
                featuresCol=f"sub{m}", k=_PQ_K, seed=42 + m, predictionCol="c"
            ).fit(staged)
            return [[float(x) for x in c] for c in km.clusterCenters()]

        with ThreadPoolExecutor(max_workers=_PQ_M) as pool:
            books = list(pool.map(fit, range(_PQ_M)))
    finally:
        staged.unpersist()
    _assert_finite_books(books)
    return books


def _assert_finite_books(books: list[list[list[float]]]) -> None:
    """Fail fast on a degenerate KMeans fit: the numpy kernels would
    silently propagate a non-finite centroid into every distance. M*K*d ≈
    1k checks, negligible next to the fit."""
    for m, book in enumerate(books):
        for k, c in enumerate(book):
            for x in c:
                if not math.isfinite(x):
                    raise ValueError(
                        f"PQ codebook m={m} k={k} contains non-finite value "
                        f"{x!r} — degenerate KMeans fit on that subspace"
                    )


def _list_col_matrix(arr, n: int, width: int, what: str):
    """Arrow list column -> (n, width) float64/int numpy matrix, with the
    preconditions the bit-exactness argument needs made explicit: no
    nulls, every list exactly ``width`` long."""
    import numpy as np
    import pyarrow.compute as pc

    if arr.null_count:
        raise ValueError(f"PQ kernel: NULL {what} row in batch")
    lens = pc.list_value_length(arr).to_numpy()
    if n and (lens != width).any():
        raise ValueError(
            f"PQ kernel: {what} length mismatch (expected {width}, "
            f"got {sorted(set(lens.tolist()))[:4]})"
        )
    return arr.flatten().to_numpy(zero_copy_only=False).reshape(n, width)


def _pq_encode_frame(df: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """(vec_id, e) -> (vec_id, codes array<int>, nc double): the PQ store
    build as ONE mapInArrow numpy kernel (an inline expression would be
    M*K*d ≈ 1k multiply-adds per row, which janino either compiles slowly
    or drops to interpreted mode — the same cliff the streaming IVF
    assigner avoids). Shared by q200's session store,
    the persisted-index saver (sources/ann_index.save_pq_index) and the
    streaming ingest encoder (streaming/events.run_stream_pq_encode), so
    every store stays bit-identical across paths.

    Bit-exactness vs the reference expressions (`_pq_encode(books)` +
    `norm(e)` in tests/test_dedup_similarity.py, checked by
    test_pq_kernel_matches_expression): numpy float64
    ops are the same IEEE-754 doubles the JVM evaluates, every sum is
    accumulated in the reference's left-associative order term by term
    (including the `t0 + 0` seed Python sum() leaves in the tree), and
    np.argmin's first-minimum tie-break equals array_position(...,
    array_min(...)). Non-finite embeddings are rejected loudly — there the
    two argmin semantics genuinely diverge (Spark's array_min skips NaN,
    np.argmin returns it), so the kernel refuses instead of silently
    disagreeing with the reference."""
    import numpy as np
    import pyarrow as pa

    _assert_finite_books(books)
    d = len(books[0][0])
    m_books = [np.asarray(book, dtype=np.float64) for book in books]
    dim = len(books) * d
    pa_schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("codes", pa.list_(pa.int32())),
            ("nc", pa.float64()),
        ]
    )

    def encode(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vid = batch.column(0)
            if vid.null_count:
                raise ValueError("PQ kernel: NULL vec_id row in batch")
            X = _list_col_matrix(batch.column(1), n, dim, "embedding")
            if not np.isfinite(X).all():
                raise ValueError(
                    "PQ kernel: non-finite embedding value (argmin tie "
                    "semantics would diverge from the reference expression)"
                )
            # |e|: dot()'s left fold is seeded 0.0; 0.0 + t0 == t0 for the
            # non-negative squares, so the seed add is elided exactly
            acc = X[:, 0] * X[:, 0]
            for i in range(1, dim):
                acc = acc + X[:, i] * X[:, i]
            nc = np.sqrt(acc)
            codes = np.empty((n, len(m_books)), dtype=np.int32)
            for m, book in enumerate(m_books):
                base = m * d
                dists = np.empty((n, len(book)), dtype=np.float64)
                for k in range(len(book)):
                    t = X[:, base] - book[k, 0]
                    dk = t * t
                    dk = dk + 0.0  # the `t0 + 0` sum() seed in the reference
                    for i in range(1, d):
                        t = X[:, base + i] - book[k, i]
                        dk = dk + t * t
                    dists[:, k] = dk
                codes[:, m] = np.argmin(dists, axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    vid.cast(pa.int64()),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(codes.reshape(-1), type=pa.int32()), codes.shape[1]
                    ).cast(pa.list_(pa.int32())),
                    pa.array(nc, type=pa.float64()),
                ],
                schema=pa_schema,
            )

    return df.select("vec_id", "e").mapInArrow(encode, CODES_SCHEMA)


_PQ_SHORTLIST = 100  # ADC shortlist width fed to the exact rerank


@register("q200_pq_ann_topk")
def q200_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, cand_id, cos_sim, rk): top-_K per query via ADC shortlist +
    exact rerank (the FAISS IVFPQ+refine layout). The FULL corpus is
    scanned only as 4-bit codes + a stored norm; float vectors are read
    for the _PQ_SHORTLIST survivors per query only — at 100 TB that is
    the difference between streaming 64 bytes/vector vs 8 bytes/vector
    through the scorer, with float I/O proportional to queries, not
    corpus. Emitted cos_sim is the exact fold, so the rerank output is
    comparable row-for-row with q38."""
    emb = embedding_vectors(spark, sf_dir)
    dim = len(emb.select("e").first()["e"])
    books = _pq_books(spark, sf_dir, emb, dim)
    # the serving store: codes + exact norm only (no float vectors) —
    # encoded through the numpy kernel
    store = _pq_encode_frame(emb, books)
    return _pq_adc_rank(spark, emb, books, store)


def _pq_books(
    spark: SparkSession, sf_dir: str, emb: DataFrame, dim: int
) -> list[list[list[float]]]:
    """The session-cached codebook fit behind q200 and the persisted-index
    saver (sources/ann_index.py): same session-scoped quantizer-state
    reuse as _ivf_fit — the 8 per-subspace fits are a pure function of
    (application, sf_dir, M, K, input bytes)."""
    if dim % _PQ_M != 0:
        raise ValueError(f"embedding dim {dim} not divisible by {_PQ_M} subspaces")
    pq_key = (spark.sparkContext.applicationId, sf_dir, _PQ_M, _PQ_K)
    pq_snapshot = _table_snapshot(sf_dir, "embeddings")
    books = _quantizer_cache_get(pq_key, pq_snapshot)
    if books is None:
        books = _pq_codebooks(spark, emb, dim)
        _quantizer_cache_put(pq_key, pq_snapshot, books)
    return books


def _pq_query_luts(
    books: list[list[list[float]]], q_rows: list[tuple[int, list[float]]]
) -> list[list[float]]:
    """Per-query ADC lookup tables (flat dot-product arrays, packed per
    ACTUAL book length — a degenerate KMeans fit can return fewer than
    _PQ_K centers, so indexing uses cumulative offsets, not a fixed
    m*_PQ_K stride). Computed in plain Python floats, which ARE IEEE
    doubles, in the reference expression's exact fold order
    (`t0 + 0 + t1 + ...` — see _pq_adc_scored_expr in
    tests/test_dedup_similarity.py)."""
    d = len(books[0][0])
    luts = []
    for _qid, qe in q_rows:
        row = []
        for m, book in enumerate(books):
            base = m * d
            for c in book:
                acc = qe[base] * c[0]
                acc = acc + 0.0
                for i in range(1, d):
                    acc = acc + qe[base + i] * c[i]
                row.append(acc)
        luts.append(row)
    return luts


def _pq_adc_scored(
    store: DataFrame,
    books: list[list[list[float]]],
    q_rows: list[tuple[int, list[float]]],
    local_top: int | None,
) -> DataFrame:
    """(q_id, cand_id, adc_score) for every (query, store row) pair with
    vec_id != q_id — the ADC LUT gather + sum as a mapInArrow numpy kernel
    over the code store, instead of a broadcast-nested-loop join against
    a 1k-term codegen'd gather expression. The queries (≤ _N_QUERIES rows) ride the task closure —
    the same frozen-state shape as the streaming IVF assigner kernel.

    ``local_top``: when set, each task pre-selects its per-query exact
    top-``local_top`` rows by (adc_score desc, cand_id asc) before
    emitting — the distributive half of the shortlist's row_number, so the
    downstream window shuffles O(tasks x queries x shortlist) rows instead
    of O(corpus x queries). Rows with a non-finite or null-div score are
    always emitted (Spark orders NaN above +Inf; numpy cannot reproduce
    that order, so such rows bypass the local cut and the JVM window
    alone ranks them). Pass None to emit every pair (the equivalence pin
    compares that full frame against _pq_adc_scored_expr bit-for-bit).

    Bit-exactness vs the reference expression: the LUT values come from
    _pq_query_luts (same fold), the M-term gather sum is accumulated in
    sum()'s left-associative order, and the final division by nc is one
    IEEE op on both sides."""
    import numpy as np
    import pyarrow as pa

    _assert_finite_books(books)
    n_m = len(books)
    offsets = [0]
    for book in books:
        offsets.append(offsets[-1] + len(book))
    offs = np.asarray(offsets[:-1], dtype=np.int64)
    lut_mat = np.asarray(_pq_query_luts(books, q_rows), dtype=np.float64)
    qids = np.asarray([int(qid) for qid, _ in q_rows], dtype=np.int64)
    n_q = len(qids)
    pa_schema = pa.schema(
        [
            ("q_id", pa.int64()),
            ("cand_id", pa.int64()),
            ("adc_score", pa.float64()),
        ]
    )

    def score(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0 or n_q == 0:
                continue
            vid_col = batch.column(0)
            if vid_col.null_count or batch.column(2).null_count:
                raise ValueError("PQ kernel: NULL vec_id/nc row in batch")
            vid = vid_col.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            codes = _list_col_matrix(batch.column(1), n, n_m, "codes")
            nc = batch.column(2).to_numpy(zero_copy_only=False)
            idx = codes.astype(np.int64, copy=False) + offs[None, :]
            if idx.min() < 0 or idx.max() >= lut_mat.shape[1]:
                raise ValueError("PQ kernel: code outside codebook range")
            out_q, out_c, out_s = [], [], []
            for qi in range(n_q):
                lut = lut_mat[qi]
                acc = lut[idx[:, 0]]
                acc = acc + 0.0  # the `l0 + 0` sum() seed in the reference
                for m in range(1, n_m):
                    acc = acc + lut[idx[:, m]]
                s = acc / nc
                keep = vid != qids[qi]
                v, sv = vid[keep], s[keep]
                if local_top is not None and v.size > local_top:
                    fin = np.isfinite(sv)
                    if fin.all():
                        sel = np.lexsort((v, -sv))[:local_top]
                    else:
                        f = np.nonzero(fin)[0]
                        if f.size > local_top:
                            f = f[np.lexsort((v[f], -sv[f]))[:local_top]]
                        sel = np.concatenate([f, np.nonzero(~fin)[0]])
                    v, sv = v[sel], sv[sel]
                out_q.append(np.full(v.size, qids[qi], dtype=np.int64))
                out_c.append(v)
                out_s.append(sv)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_c), type=pa.int64()),
                    pa.array(np.concatenate(out_s), type=pa.float64()),
                ],
                schema=pa_schema,
            )

    return store.select("vec_id", "codes", "nc").mapInArrow(
        score, "q_id bigint, cand_id bigint, adc_score double"
    )


def _pq_adc_rank(
    spark: SparkSession,
    emb: DataFrame,
    books: list[list[list[float]]],
    store: DataFrame,
) -> DataFrame:
    """ADC shortlist + exact rerank over ANY (codebooks, code store) pair —
    the session-built store (q200), the persisted index
    (sources/ann_index.pq_topk_from_index) and the streaming store
    (streaming/events.pq_topk_from_store) rank through this one body, so a
    loaded index ranks row-for-row like the session fit. ``emb``
    supplies the query vectors and the rerank floats only.

    The query slice (vec_id < _N_QUERIES, a pushed-down scan filter) is
    collected once at plan-build time — O(queries) rows, the same bounded
    driver transfer the previous broadcast build paid — and ships to the
    ADC kernel as frozen LUT state."""
    q = _queries(_normed(emb))
    q_rows = sorted(
        (r["q_id"], [float(x) for x in r["qe"]])
        for r in q.select("q_id", "qe").collect()
    )
    scored = _pq_adc_scored(store, books, q_rows, _PQ_SHORTLIST)
    shortlist = _top_k(scored, _PQ_SHORTLIST, "adc_score", "cand_id").select(
        "q_id", "cand_id"
    )
    # exact rerank: float vectors touched for shortlist rows only
    cand = emb.select(F.col("vec_id").alias("cand_id"), F.col("e").alias("ce"))
    exact = (
        shortlist.join(F.broadcast(q), "q_id")
        .join(cand, "cand_id")
        .select(
            "q_id",
            "cand_id",
            (dot(F.col("qe"), F.col("ce")) / (F.col("nq") * norm(F.col("ce")))).alias(
                "cos_sim"
            ),
        )
    )
    return cos_topk(exact)


# ---------------------------------------------------------------------------
# q228 — retrieval-quality metrics: nDCG@k and recall@k of the
# exact cosine top-k ranking (q38) against a deterministic relevance set
# (candidate shares the query's embedding label — the standard
# labels-as-relevance eval a retrieval stack runs before shipping an
# index change; q38 is the ranking under test here, with the ANN paths
# pinned to it by recall tests). Per query: relevant-candidate count,
# hits@k, DCG, ideal DCG, nDCG, recall@k.
#
# recall_at_k is the CAPPED variant: denominator min(n_rel, k), so a
# query with more relevant candidates than k can still score 1.0 when
# every retrieved slot is relevant ("R-precision at k"). Standard-IR
# recall@k divides by n_rel; compare against external tooling with that
# in mind — the cap is deliberate (it measures ranking quality at the
# retrieval depth, not corpus-wide coverage the ranking cannot reach).
#
# Cross-engine float discipline: the per-rank gains 1/log2(rk+1) and the
# ideal-DCG prefix sums are PYTHON-PRECOMPUTED literals embedded in both
# the Spark plan and the oracle SQL (engine log2()s can differ in the
# last ulp) — in the SQL as CAST('<repr>' AS DOUBLE), because DuckDB
# types a bare decimal literal as DECIMAL and decimal division rounds
# differently from IEEE binary (measured: last-ulp ndcg drift); per-query DCG folds a SORTED gain list left-to-right on
# both sides (the q72 exact-sum idiom), and every ratio is one division.
#
# Scale shape: rides q38's scored top-k (broadcast queries x corpus scan
# — or any ANN ranking at 100 TB); on top sit two label joins — the
# query-side one broadcasts only the O(queries) label slice (the caller
# passes it pre-filtered; the fallback derives it by semi-joining the
# corpus labels against the ranking's broadcast-size distinct q_ids —
# never the full corpus label column) — one groupBy over q_id (k rows
# each), and a broadcast join to the O(labels) relevance counts. Metrics
# cost is O(queries·k) beyond the ranking itself.
# ---------------------------------------------------------------------------

import math as _math

_NDCG_W = [1.0 / _math.log2(i + 1) for i in range(1, _K + 1)]
_NDCG_IW = [0.0]
for _w in _NDCG_W:
    _NDCG_IW.append(_NDCG_IW[-1] + _w)

_Q228_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.q_id, v.vec_id AS cand_id,
         list_sum(list_transform(list_zip(q.qe, v.e), p -> p[1] * p[2]))
         / (sqrt(list_sum(list_transform(q.qe, x -> x * x)))
            * sqrt(list_sum(list_transform(v.e, x -> x * x)))) AS cos_sim
  FROM q, v
  WHERE v.vec_id != q.q_id
),
topk AS (
  SELECT q_id, cand_id, rk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id) AS rk
    FROM scored
  ) WHERE rk <= {_K}
),
lab AS (SELECT vec_id, label FROM embeddings),
g AS (
  SELECT t.q_id, lq.label AS ql,
         CASE WHEN lq.label = lc.label
              THEN ([{", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in _NDCG_W)}])[t.rk]
              END AS gain
  FROM topk t
  JOIN lab lq ON lq.vec_id = t.q_id
  JOIN lab lc ON lc.vec_id = t.cand_id
),
per AS (
  SELECT q_id, ql,
         CAST(COUNT(gain) AS BIGINT) AS hits_at_k,
         COALESCE(list_sum(list_sort(list(gain) FILTER (WHERE gain IS NOT NULL))),
                  0.0) AS dcg
  FROM g GROUP BY q_id, ql
),
rel AS (SELECT label, CAST(COUNT(*) - 1 AS BIGINT) AS n_rel FROM lab GROUP BY label),
m AS (
  SELECT p.q_id, r.n_rel, p.hits_at_k, p.dcg,
         ([{", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in _NDCG_IW)}])[LEAST(r.n_rel, {_K}) + 1]
           AS idcg,
         LEAST(r.n_rel, {_K}) AS cap
  FROM per p JOIN rel r ON r.label = p.ql
)
SELECT q_id, n_rel, hits_at_k, dcg, idcg,
       CASE WHEN idcg > 0 THEN dcg / idcg END AS ndcg,
       CASE WHEN cap > 0 THEN CAST(hits_at_k AS DOUBLE) / cap END AS recall_at_k
FROM m
ORDER BY q_id
"""


def retrieval_metrics(
    topk: DataFrame, lab: DataFrame, query_lab: DataFrame | None = None
) -> DataFrame:
    """nDCG@k / (capped, see header) recall@k of ANY (q_id, cand_id, rk)
    ranking against label relevance — the shared metric core of
    q228 (exact ranking) and q229/q230/q231 (ANN rankings): score an
    index change with the same yardstick as the exact baseline. ``lab``
    is (vec_id, label) over the corpus; ``query_lab`` is the O(queries)
    slice of it covering the ranking's q_ids — pass it when the caller
    knows the query set (all registered queries do), else it is derived
    by semi-joining ``lab`` against the ranking's distinct q_ids (one
    extra pass over the ranking, still never a corpus-wide broadcast)."""
    if query_lab is None:
        qids = topk.select(F.col("q_id").alias("vec_id")).distinct()
        query_lab = lab.join(F.broadcast(qids), "vec_id", "semi")
    lq = query_lab.select(F.col("vec_id").alias("q_id"), F.col("label").alias("ql"))
    lc = lab.select(F.col("vec_id").alias("cand_id"), F.col("label").alias("cl"))
    warr = F.array(*[F.lit(x) for x in _NDCG_W])
    gain = F.when(
        F.col("ql") == F.col("cl"),
        F.element_at(warr, F.col("rk").cast("int")),
    )
    g = topk.join(F.broadcast(lq), "q_id").join(lc, "cand_id").select(
        "q_id", "ql", gain.alias("gain")
    )
    per = g.groupBy("q_id", "ql").agg(
        F.count("gain").cast("bigint").alias("hits_at_k"),
        # sorted sequential fold (the q72 exact-sum idiom): both engines
        # add the <= k gains in the identical order; empty -> 0.0
        F.aggregate(
            F.array_sort(F.collect_list("gain")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("dcg"),
    )
    rel = lab.groupBy("label").agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_rel")
    )
    iwarr = F.array(*[F.lit(x) for x in _NDCG_IW])
    cap = F.least(F.col("n_rel"), F.lit(_K))
    joined = per.join(
        F.broadcast(rel), per["ql"] == rel["label"]
    ).withColumn("cap", cap).withColumn(
        "idcg", F.element_at(iwarr, (F.col("cap") + 1).cast("int"))
    )
    return joined.select(
        "q_id",
        "n_rel",
        "hits_at_k",
        "dcg",
        "idcg",
        F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).alias("ndcg"),
        F.when(
            F.col("cap") > 0,
            F.col("hits_at_k").cast("double") / F.col("cap"),
        ).alias("recall_at_k"),
    ).orderBy("q_id")


def label_metrics(spark: SparkSession, sf_dir: str, topk: DataFrame) -> DataFrame:
    """retrieval_metrics of a (q_id, cand_id, rk) ranking over the query
    vectors against the embeddings table's labels."""
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return retrieval_metrics(
        topk.select("q_id", "cand_id", "rk"),
        lab,
        query_lab=lab.filter(F.col("vec_id") < _N_QUERIES),
    )


@register("q228_retrieval_ndcg", oracle=_Q228_ORACLE)
def q228_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_metrics(spark, sf_dir, q38_cosine_topk(spark, sf_dir))


# ---------------------------------------------------------------------------
# q229 — the same retrieval metrics over the IVF (q64) ranking: the
# apples-to-apples eval a team runs BEFORE switching the serving index —
# does the approximate index lose ranking QUALITY (label relevance), not
# just candidate recall (which the q64-vs-q38 recall pins already
# measure)? Rows-only (the KMeans fit isn't SQL-expressible — the q64
# contract); pytest pins invariants and that the metric core is the
# SAME code scoring q228. Shares the session quantizer fit.
# ---------------------------------------------------------------------------


@register("q229_ann_retrieval_ndcg")
def q229_ann_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_metrics(spark, sf_dir, q64_ann_ivf_topk(spark, sf_dir))


# ---------------------------------------------------------------------------
# q230/q231 — the rest of the index-eval matrix: q229 scores
# the IVF ranking; q230 scores the int8 multi-probe ANN (q133, the
# fully-quantized serving store) and q231 the PQ-ADC index (q200), each
# through the SAME retrieval_metrics core as the exact baseline q228 —
# these are the indexes a team would actually serve, and before swapping
# one in they need its ranking-QUALITY number, not just candidate recall
# (which the q133/q200 recall pins already measure). Rows-only: q133
# rides the collected hyperplane bucketer (the q39 contract) and q200
# the seeded per-subspace KMeans codebooks (the q200 contract) — neither
# is SQL-expressible; pytest pins determinism and the nDCG floor vs
# q228. q231 shares the session codebook cache, so the marginal cost on
# a serving session is the ranking itself plus O(queries·k) metric rows.
# ---------------------------------------------------------------------------


@register("q230_int8_retrieval_ndcg")
def q230_int8_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_metrics(spark, sf_dir, q133_int8_ann_topk(spark, sf_dir))


@register("q231_pq_retrieval_ndcg")
def q231_pq_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_metrics(spark, sf_dir, q200_pq_ann_topk(spark, sf_dir))
