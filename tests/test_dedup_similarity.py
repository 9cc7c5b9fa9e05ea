"""Python-reference oracles for the non-SQL-expressible dedup/similarity
queries (driver records rows-only for these; pytest carries the real check).
"""

from __future__ import annotations

import sys

import pyarrow.parquet as pq
import pytest

from big_data_computing_final_project_spark.plans import all_queries

_Q = all_queries()


def _xxhash64_unavailable():
    # Spark's xxhash64 has no cheap pure-Python twin; the SimHash reference
    # below instead re-derives per-token hashes FROM Spark (one tiny job)
    # and checks the bit-vote assembly logic in Python.
    return False


def test_simhash_matches_python_reference(spark, sf_dir):
    """Recompute SimHash in Python from Spark's own xxhash64 token hashes;
    simhash_votes' signature assembly (majority vote + bit packing) must
    agree at 64 bits, where bit 63 is the sign bit of the long."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions import text as X
    from big_data_computing_final_project_spark.plans.dedup import simhash_votes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    tok = docs.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("t")).select(
        "doc_id", F.xxhash64("t").alias("h")
    )
    hashes = tok.groupBy("doc_id").agg(F.collect_list("h").alias("hashes"))
    rows = hashes.join(simhash_votes(tok, nbits=64), "doc_id").collect()
    assert rows
    assert any(r.sig < 0 for r in rows), "no signature exercises the sign bit"
    for r in rows:
        sig = 0
        for j in range(64):
            vote = sum(((h >> j) & 1) * 2 - 1 for h in r.hashes)
            if vote > 0:
                sig += (1 << j) if j < 63 else -(1 << 63)
        assert sig == r.sig, f"doc {r.doc_id}: python {sig} != spark {r.sig}"


def test_minhash_lsh_equals_exact_jaccard(spark, sf_dir):
    """LSH candidates + exact verify must reproduce the exact pair set
    (recall 1.0 at these banding parameters on this data)."""
    exact = {(r.doc_a, r.doc_b) for r in _Q["q35_ngram_jaccard_dedup"](spark, sf_dir).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in _Q["q36_minhash_lsh_dedup"](spark, sf_dir).collect()}
    assert lsh == exact


def test_ann_lsh_recall_against_brute_force(spark, sf_dir):
    """Multi-probe hyperplane LSH should recover a solid share of the true
    top-5 (recall floor keeps the scale path honest without demanding
    exactness from an approximate method)."""
    truth = {(r.q_id, r.cand_id) for r in _Q["q38_cosine_topk"](spark, sf_dir).collect()}
    approx = {(r.q_id, r.cand_id) for r in _Q["q39_ann_lsh_topk"](spark, sf_dir).collect()}
    assert truth, "brute force returned nothing"
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.3, f"ANN recall {recall:.2f} below floor"


def test_exact_dedup_counts(spark, sf_dir):
    """Exact dedup must partition the table: Σ n_copies == row count."""
    out = _Q["q34_exact_dedup"](spark, sf_dir).collect()
    n_rows = pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    assert sum(r.n_copies for r in out) == n_rows
    assert len({r.fp for r in out}) == len(out)


def test_ivf_ann_recall_against_brute_force(spark, sf_dir):
    """IVF (KMeans quantizer, nprobe=4/16) recall floor vs brute force."""
    truth = {(r.q_id, r.cand_id) for r in _Q["q38_cosine_topk"](spark, sf_dir).collect()}
    approx = {(r.q_id, r.cand_id) for r in _Q["q64_ann_ivf_topk"](spark, sf_dir).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.2, f"IVF recall {recall:.2f} below floor"


def test_connected_components_matches_union_find(spark, sf_dir):
    """q68's iterative label propagation vs a driver-side union-find over
    the same jac>=0.8 pair set (plus a synthetic transitive chain check)."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.plans.dedup import (
        _exact_jaccard_pairs,
        _shingled,
    )

    pairs = [
        (r.doc_a, r.doc_b)
        for r in _exact_jaccard_pairs(_shingled(spark, sf_dir)).collect()
    ]
    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").collect()
    ]
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, then normalize each root to its component min
    comp = {}
    for d in doc_ids:
        comp.setdefault(find(d), []).append(d)
    expected = {d: min(members) for members in comp.values() for d in members}

    got = {
        r.doc_id: r.cluster_id
        for r in _Q["q68_dedup_clusters"](spark, sf_dir).collect()
    }
    assert got == expected


def test_connected_components_transitive_chain(spark):
    """a-b, b-c, c-d (no a-d edge) must collapse into ONE cluster labeled a."""
    from big_data_computing_final_project_spark.operators.graph import connected_components

    vertices = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (5, 6)], ["src", "dst"])
    got = {r.id: r.component for r in connected_components(vertices, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}


def winnow_fingerprints(docs):
    """(doc_id, pos, fp): the winnowing fingerprint set per document as pure
    per-row Column expressions over any (doc_id, text) frame — the
    reference the Arrow winnower (dedup.winnow_fingerprints_arrow) is
    checked against."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions import text as X
    from big_data_computing_final_project_spark.plans.dedup import _WINNOW_K, _WINNOW_W

    md5_60 = X.md5_60
    # stage the token array first: referencing the tokenizer EXPRESSION
    # inside the transform lambda would re-run the regex split once per
    # gram (HOF lambdas get no loop-invariant hoisting); as a staged
    # attribute the array is computed once per row and only sliced here
    t = docs.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(_WINNOW_K - 1)),
        lambda i: md5_60(F.array_join(F.slice(toks, i, _WINNOW_K), " ")),
    )
    d = t.filter(F.size(toks) >= _WINNOW_K).select("doc_id", grams.alias("h"))
    h = F.col("h")
    wlen = F.least(F.lit(_WINNOW_W), F.size(h))

    def rightmost_min(i):
        minh = F.array_min(F.slice(h, i, wlen))
        pos = F.array_max(
            F.transform(
                F.sequence(F.lit(0), wlen - F.lit(1)),
                lambda j: F.when(F.element_at(h, i + j) == minh, i + j),
            )
        )
        return F.struct(pos.alias("pos"), minh.alias("fp"))

    starts = F.sequence(F.lit(1), F.size(h) - wlen + F.lit(1))
    fps = F.array_distinct(F.transform(starts, rightmost_min))
    return (
        # outer-explode: plain explode would re-inline the whole winnowing
        # pipeline (rightmost_min lambda per window) into an inferred
        # size()>0 pre-filter; fps is never empty (sequence yields >= 1)
        d.select("doc_id", F.explode_outer(fps).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )


def test_winnowing_moss_guarantee(spark):
    """MOSS guarantee: any shared token run of length >= w+k-1 (= 6 here)
    yields a shared fingerprint; and every doc with >= k tokens gets at
    least one fingerprint."""
    from big_data_computing_final_project_spark.plans.dedup import _WINNOW_K, _WINNOW_W

    shared_run = "alpha beta gamma delta epsilon zeta"  # 6 = W + K - 1 tokens
    docs = spark.createDataFrame(
        [
            (1, f"unrelated prefix one {shared_run} suffix aaa"),
            (2, f"totally different words here {shared_run} tail bbb ccc"),
            (3, "short doc"),  # 2 tokens < k=3 -> no fingerprints
            (4, "exactly three tokens"),  # k tokens -> 1 gram -> 1 fingerprint
        ],
        ["doc_id", "text"],
    )
    fps = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    assert 3 not in by_doc
    assert len(by_doc[4]) == 1
    assert _WINNOW_W + _WINNOW_K - 1 == 6


def test_winnowing_matches_python_reference(spark):
    """Rightmost-min window selection re-implemented in Python over the
    same md5-60bit gram hashes must give the identical (pos, fp) set."""
    import hashlib

    from big_data_computing_final_project_spark.plans.dedup import _WINNOW_K, _WINNOW_W

    text = "the quick brown fox jumps over the lazy dog the quick brown fox again"
    toks = text.split()
    hashes = [
        int(hashlib.md5(" ".join(toks[i : i + _WINNOW_K]).encode()).hexdigest()[:15], 16)
        for i in range(len(toks) - _WINNOW_K + 1)
    ]
    w = min(_WINNOW_W, len(hashes))
    expected = set()
    for i in range(len(hashes) - w + 1):
        window = hashes[i : i + w]
        mn = min(window)
        pos = max(j for j in range(i, i + w) if hashes[j] == mn)
        expected.add((pos + 1, mn))  # engine positions are 1-based

    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = {(r.pos, r.fp) for r in winnow_fingerprints(docs).collect()}
    assert got == expected


def test_winnowing_arrow_equals_expression_path(spark, sf_dir):
    """The vectorized mapInPandas winnower and the Column-expression
    reference must produce identical (doc_id, pos, fp) rows."""
    from big_data_computing_final_project_spark.plans.dedup import (
        winnow_fingerprints_arrow,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    expr = {(r.doc_id, r.pos, r.fp) for r in winnow_fingerprints(docs).collect()}
    arrow = {(r.doc_id, r.pos, r.fp) for r in winnow_fingerprints_arrow(docs).collect()}
    assert expr == arrow


def test_prefix_filter_prunes_candidates_losslessly(spark, sf_dir):
    """PPJoin prefix filtering must shrink the candidate set versus the
    full postings self-join while losing no qualifying pair (q122's result
    equals q35's by shared oracle; here we check the pruning is real)."""
    from big_data_computing_final_project_spark.plans.dedup import prefix_candidate_count

    pruned, full = prefix_candidate_count(spark, sf_dir)
    assert pruned < full, (pruned, full)
    assert pruned > 0


# ---------------------------------------------------------------------------
# Blocked-GEMM filter-verify: the independent exact reference the q40 LSH
# primary is pinned against, as q35 anchors q36. Exact and memory-bounded
# (the Python process holds one _GEMM_BLOCK_ROWS block at a time), but
# n-squared total work with a block loop in that process.
# ---------------------------------------------------------------------------

# Filter-verify margin: the numpy GEMM and the sequential fold agree to
# ~1e-13 on 64-dim unit vectors; 1e-6 is a >million-x safety factor, so the
# prune can never drop a pair the exact fold would keep.
_GEMM_MARGIN = 1e-6
_GEMM_BLOCK_ROWS = 4096  # candidate-block height: ~2 MB at 64-dim float64


def embedding_near_dup_gemm(spark, sf_dir):
    """(vec_a, vec_b, cos_sim) for every pair with cosine >= _DUP_T.
    Filter-verify: a blocked matrix product (numpy GEMM over Arrow
    batches, candidate blocks broadcast) prunes the O(n²) pair space with
    threshold T - margin; only the surviving pairs are re-scored with the
    sequential JVM fold, so emitted cos_sim values are bit-identical to
    the oracle's.

    The candidate side is processed in blocks of ``_GEMM_BLOCK_ROWS``
    (vec_id mod nblocks), repartitioned by block id once and cached; each
    block's candidate pairs are materialized (localCheckpoint) before its
    broadcast is destroyed. The exact rescore broadcasts the candidate set
    against the embeddings table, twice, to attach each side's vector."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.plans.similarity import (
        _DUP_T,
        dot,
        embedding_vectors,
        norm,
    )
    from big_data_computing_final_project_spark.sources.io import local_frame

    import math
    from functools import reduce

    import numpy as np
    import pandas as pd

    emb = embedding_vectors(spark, sf_dir)
    threshold = _DUP_T - _GEMM_MARGIN
    n = emb.count()
    nblocks = max(1, math.ceil(n / _GEMM_BLOCK_ROWS))
    sc = emb.sparkSession.sparkContext

    if nblocks > 1:
        # one-shot partition by block id + cache: every per-block collect
        # below is an in-memory columnar scan, not a fresh parquet read
        blocked = (
            emb.withColumn("blk", (F.col("vec_id") % nblocks).cast("int"))
            .repartition(nblocks, "blk")
            .persist()
        )
        src = blocked.drop("blk")
    else:
        blocked, src = None, emb

    per_block = []
    for b in range(nblocks):
        rows = (
            blocked.filter(F.col("blk") == b).drop("blk").collect()
            if nblocks > 1
            else emb.collect()
        )
        if not rows:
            continue
        ids = np.array([r.vec_id for r in rows], dtype=np.int64)
        mat = np.array([r.e for r in rows], dtype=np.float64)
        matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        order = np.argsort(ids)
        bc = sc.broadcast((ids[order], matn[order]))

        def prune(it, _bc=bc):
            s_ids, s_mat = _bc.value
            for pdf in it:
                a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                a_mat = np.array(list(pdf["e"]), dtype=np.float64)
                a_mat = a_mat / np.linalg.norm(a_mat, axis=1, keepdims=True)
                sims = a_mat @ s_mat.T
                out_a, out_b = [], []
                for i, va in enumerate(a_ids):
                    # only b > a: each unordered pair emitted exactly once
                    j0 = np.searchsorted(s_ids, va, side="right")
                    hits = np.nonzero(sims[i, j0:] >= threshold)[0]
                    out_a.extend([va] * len(hits))
                    out_b.extend(s_ids[j0 + hits].tolist())
                yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b})

        cand_b = src.mapInPandas(prune, "vec_a long, vec_b long")
        if nblocks > 1:
            # materialize this block's candidates, then free its broadcast
            cand_b = cand_b.localCheckpoint(eager=True)
            bc.destroy()
        per_block.append(cand_b)

    if blocked is not None:
        blocked.unpersist()
    if not per_block:
        candidates = local_frame(spark, [], "vec_a long, vec_b long")
    else:
        candidates = reduce(lambda x, y: x.unionByName(y), per_block)
    # exact rescore: broadcast the TINY candidate set (and the
    # candidate+vector intermediate, still candidate-sized) against the
    # embeddings — the full table is never broadcast or shuffled here
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"))
    cos = dot(F.col("ea"), F.col("eb")) / (norm(F.col("ea")) * norm(F.col("eb")))
    with_a = ea.join(F.broadcast(candidates), "vec_a")
    return (
        eb.join(F.broadcast(with_a), "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= _DUP_T)
        .orderBy("vec_a", "vec_b")
    )


def test_q40_lsh_equals_gemm_twin(spark, sf_dir):
    """VERDICT r5 item 1: the LSH-candidate primary must emit exactly the
    pairs of the retired exhaustive GEMM twin — same pairs, same bit-exact
    cos_sim values (recall 1.0 at the banding parameters on this data,
    independently of the shared DuckDB oracle)."""
    lsh = _Q["q40_embedding_near_dup"](spark, sf_dir).collect()
    gemm = embedding_near_dup_gemm(spark, sf_dir).collect()
    assert [tuple(r) for r in lsh] == [tuple(r) for r in gemm]
    assert len(lsh) > 0  # the fixture corpus contains qualifying pairs


def test_gemm_twin_blocked_equals_single_block(spark, sf_dir, monkeypatch):
    """The GEMM twin's blocked candidate loop (driver holds one block at a
    time) must emit exactly the pairs of the single-broadcast run."""
    single = embedding_near_dup_gemm(spark, sf_dir).collect()
    monkeypatch.setattr(sys.modules[__name__], "_GEMM_BLOCK_ROWS", 64)
    blocked = embedding_near_dup_gemm(spark, sf_dir).collect()
    assert [tuple(r) for r in single] == [tuple(r) for r in blocked]


def _planted_corpus(spark, n_base=150, n_dups=15, dim=64, seed=7):
    """n_base seeded random vectors + n_dups slightly-perturbed copies of
    the first n_dups (pairwise cosine >= 0.99 with their source, verified
    by construction margin), as an embeddings-shaped frame."""
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n_base, dim))
    dup = base[:n_dups] + 0.02 * rng.normal(size=(n_dups, dim))
    mat = np.vstack([base, dup])
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(len(mat))]
    return (
        spark.createDataFrame(rows, "vec_id long, e array<double>"),
        [(i, n_base + i) for i in range(n_dups)],
    )


def test_q40_planted_high_threshold_prunes(spark):
    """At a true near-dup threshold (0.95) the band join must be genuinely
    sub-quadratic — candidates a small fraction of all-pairs — while still
    catching every planted near-dup pair (the regime the operator exists
    for; the 0.4 gate threshold is the documented low-selectivity edge)."""
    from big_data_computing_final_project_spark.plans.similarity import (
        _dup_reps,
        _rep_band_pairs,
    )

    emb, planted = _planted_corpus(spark)
    n = emb.count()
    # 8-bit bands: at t=0.95 the formula gives L=13 tables; random pairs
    # collide at ~0.4%/table, so the band join touches a few percent of the
    # pair space (b=4 is the low-threshold default where selectivity is
    # impossible anyway; band width is the knob, same L-formula). No two
    # vectors are byte-identical, so each representative is its own vec_id.
    cands = {(r.a, r.b) for r in _rep_band_pairs(_dup_reps(emb), 0.95, 8).collect()}
    for pair in planted:
        assert pair in cands, f"planted near-dup {pair} missed by banding"
    all_pairs = n * (n - 1) // 2
    assert len(cands) < 0.1 * all_pairs, (len(cands), all_pairs)


def test_q40_exact_dup_collapse_guard(spark):
    """q36's degenerate-bucket guard, embedding edition: 199 byte-identical
    copies of an existing vector must NOT widen the rep-level band join
    (copies collapse to their representative before banding), while every
    intra-copy pair still reaches the candidate set."""
    import numpy as np

    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.operators.banding import expand_groups
    from big_data_computing_final_project_spark.plans.similarity import (
        _dup_reps,
        _rep_band_pairs,
    )

    rng = np.random.default_rng(3)
    base = rng.normal(size=(50, 64))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, e array<double>")
    copies = spark.createDataFrame(
        [(50 + k, rows[0][1]) for k in range(199)], "vec_id long, e array<double>"
    )
    planted = emb.unionByName(copies)

    # 1. banding sees one representative per distinct content: rep-level
    # candidate count is IDENTICAL to the unplanted corpus
    assert (
        _rep_band_pairs(_dup_reps(planted), 0.95).count()
        == _rep_band_pairs(_dup_reps(emb), 0.95).count()
    )

    # 2. the answer is still complete: all C(200,2) copy pairs (vec 0 plus
    # its 199 clones) are candidates on the planted corpus once the
    # rep-level pairs expand to members
    reps = _dup_reps(planted)
    members = planted.join(reps, "e").select(F.col("vec_id").alias("id"), F.col("gid").alias("rep"))
    cands = {(r.a, r.b) for r in expand_groups(members, _rep_band_pairs(reps, 0.95)).collect()}
    group = [0] + list(range(50, 249))
    for i, a in enumerate(group):
        for b in group[i + 1 :]:
            assert (min(a, b), max(a, b)) in cands


def test_embedding_near_dup_pairs_builds_dup_collapse_once(spark, tmp_path):
    """Membership, the rep vectors and both generator regimes read ONE
    cached dup-collapse aggregate: the optimized plan holds no aggregate
    keyed on the embedding array outside that cached relation."""
    import re

    import pyarrow as pa

    from big_data_computing_final_project_spark.plans.similarity import (
        embedding_near_dup_pairs,
    )

    tbl = pa.table(
        {
            "vec_id": pa.array(range(12), pa.int64()),
            "embedding": pa.array([[float(i % 9), 1.0] for i in range(12)], pa.list_(pa.float32())),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    # 0.95 bands at 8 bits; at 0.4 no width prunes and the dense join runs
    for threshold in (0.95, 0.4):
        plan = embedding_near_dup_pairs(spark, str(tmp_path), threshold)._jdf.queryExecution()
        text = plan.optimizedPlan().toString()
        assert not re.search(r"^\W*Aggregate \[e#\d+\]", text, re.M), text
        assert len(set(re.findall(r"HashAggregate\(keys=\[(e#\d+)\]", text))) == 1, text


def test_q36_planted_copies_bounded_and_exact(spark, sf_dir, tmp_path):
    """Degenerate-bucket guard: 200 byte-identical copies of one document
    must NOT grow the banded candidate join (copies collapse to their
    representative before banding), while the final answer still contains
    every copy pair — and stays exactly equal to the q35 exact-Jaccard
    oracle twin on the same corpus."""
    import pyspark.sql.functions as F

    from big_data_computing_final_project_spark.operators.banding import bucket_pairs
    from big_data_computing_final_project_spark.plans import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    victim = docs.orderBy("doc_id").limit(1)
    copies = (
        victim.crossJoin(spark.range(200).select(F.col("id").alias("k")))
        .select(
            (F.lit(max_id) + 1 + F.col("k")).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    planted_dir = str(tmp_path / "planted")
    docs.unionByName(copies).write.parquet(f"{planted_dir}/documents.parquet")

    # 1. banding sees one representative per distinct content: the
    # rep-level candidate count is IDENTICAL to the unplanted corpus
    def rep_candidates(d):
        groups = D._dup_groups(spark, d)
        rep_ids = groups.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
        sh = D._shingled(spark, d).join(rep_ids, "doc_id")
        return bucket_pairs(D._band_postings(sh)).count()

    assert rep_candidates(planted_dir) == rep_candidates(sf_dir)

    # 2. the answer is still complete: q36 == q35 exact on the planted
    # corpus, including all C(201,2) intra-copy pairs at jac = 1.0
    got = D.q36_minhash_lsh_dedup(spark, planted_dir).collect()
    want = D.q35_ngram_jaccard_dedup(spark, planted_dir).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(r.doc_a, r.doc_b) for r in want]
    for g, w in zip(got, want):
        assert abs(g.jac - w.jac) < 1e-12
    victim_id = victim.first().doc_id
    group = {victim_id} | set(range(max_id + 1, max_id + 201))
    n_intra = sum(1 for r in got if r.doc_a in group and r.doc_b in group)
    assert n_intra == 201 * 200 // 2


def test_int8_quantization_roundtrip_bound(spark, sf_dir):
    """Dequantized codes must be within maxabs/254 of the original per
    component, codes bounded in [-127, 127], and int8_dot must equal the
    numpy integer dot of the same codes."""
    import numpy as np
    import pyspark.sql.functions as F

    from big_data_computing_final_project_spark.operators.quantize import (
        dequantize,
        int8_dot,
        max_abs,
        quantize_int8,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    e = F.transform("embedding", lambda x: x.cast("double"))
    df = emb.select(
        "vec_id",
        e.alias("e"),
        max_abs(e).alias("m"),
        quantize_int8(e).alias("q"),
    )
    rows = df.withColumn("deq", dequantize(F.col("q"), F.col("m"))).collect()
    for r in rows:
        q = np.array(r.q)
        assert np.abs(q).max() <= 127
        err = np.abs(np.array(r.deq) - np.array(r.e)).max()
        assert err <= r.m / 254 + 1e-12, (r.vec_id, err, r.m)
    # integer dot kernel vs numpy
    two = df.limit(2).collect()
    got = (
        df.limit(1)
        .crossJoin(df.select(F.col("q").alias("q2")).limit(2).offset(1) if False else
                   spark.createDataFrame([(two[1].q,)], "q2 array<int>"))
        .select(int8_dot(F.col("q"), F.col("q2")).alias("d"))
        .first()
        .d
    )
    assert got == int(np.dot(np.array(two[0].q), np.array(two[1].q)))


def test_bigram_lm_backoff_triggers(spark, sf_dir):
    """Held-out docs must contain bigrams unseen in the train split, so
    the backoff path is actually exercised, and every source's totals
    must be positive integers."""
    from big_data_computing_final_project_spark.plans.lm import q126_bigram_lm_score

    rows = q126_bigram_lm_score(spark, sf_dir).collect()
    assert rows, "no scored documents"
    assert sum(r.n_backoff for r in rows) > 0
    for r in rows:
        assert r.total_score > 0 and r.n_docs > 0


def test_int8_topk_recall_vs_exact(spark, sf_dir):
    """Int8-quantized retrieval (q131) must nearly reproduce the float
    top-5 (q38): per-vector symmetric quantization perturbs 64-dim cosines
    by ~1/254 per component, far below typical neighbor gaps — so the
    floor is high, unlike the bucketed ANN paths whose loss is structural."""
    truth = {(r.q_id, r.cand_id) for r in _Q["q38_cosine_topk"](spark, sf_dir).collect()}
    q8 = {(r.q_id, r.cand_id) for r in _Q["q131_int8_cosine_topk"](spark, sf_dir).collect()}
    assert truth
    recall = len(truth & q8) / len(truth)
    assert recall >= 0.8, f"int8 recall {recall:.2f} below floor"


def test_int8_bucketed_ann_recall(spark, sf_dir):
    """The fully-quantized serving path (q133: bucket AND score from int8
    codes only) must keep the bucketed-ANN recall floor vs float brute
    force — quantization may flip near-zero hyperplane projections, but
    those sit on bucket boundaries the LSH already treats as noise."""
    truth = {(r.q_id, r.cand_id) for r in _Q["q38_cosine_topk"](spark, sf_dir).collect()}
    got = {(r.q_id, r.cand_id) for r in _Q["q133_int8_ann_topk"](spark, sf_dir).collect()}
    assert truth
    recall = len(truth & got) / len(truth)
    assert recall >= 0.3, f"int8 bucketed ANN recall {recall:.2f} below floor"


def test_int8_bucketed_matches_int8_brute_within_buckets(spark, sf_dir):
    """q133's scores must be exactly q131's cos8 for every emitted pair
    (same integer arithmetic; bucketing only restricts the candidate set)."""
    brute = {
        (r.q_id, r.cand_id): r.cos8
        for r in _Q["q131_int8_cosine_topk"](spark, sf_dir).collect()
    }
    for r in _Q["q133_int8_ann_topk"](spark, sf_dir).collect():
        if (r.q_id, r.cand_id) in brute:
            assert r.cos8 == brute[(r.q_id, r.cand_id)]


def test_centroid_scale_mode_matches_exact_mode(spark, sf_dir):
    """centroid_means(exact=False) — the at-scale plain-avg path — must
    agree with the FP-deterministic oracle mode to well under float32
    data precision, and its plan must carry no collect_list buffer."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.plans.similarity import centroid_means

    v = load_table(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    exact = {
        (r.label, r.dim): r.centroid for r in centroid_means(v, exact=True).collect()
    }
    approx = centroid_means(v, exact=False)
    assert "collect_list" not in approx._jdf.queryExecution().executedPlan().toString()
    got = {(r.label, r.dim): r.centroid for r in approx.collect()}
    assert got.keys() == exact.keys() and len(got) > 0
    for k, val in got.items():
        assert abs(val - exact[k]) <= 1e-9 * max(1.0, abs(exact[k])), k


@pytest.mark.parametrize("name", ["q102_decontamination", "q132_corpus_funnel"])
def test_bench_broadcast_is_size_guarded(spark, sf_dir, name):
    """VERDICT r3 item 3: the bench-postings broadcast is estimate-guarded
    (operators/sizing.broadcast_if_small), not comment-guarded. Forcing the
    session broadcast threshold to 0 must (a) drop the hint so the planner
    takes the shuffle-join path — the behavior a corpus-proportional bench
    side gets at 100x — and (b) leave the results identical."""
    expected = [tuple(r) for r in _Q[name](spark, sf_dir).collect()]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "0")
        # r11: q132 caches its enriched frames; the expected-result run
        # above materializes them and a rebuild would reuse the
        # InMemoryRelation (whose embedded child plan still shows the
        # default-threshold broadcast). The guard exists to pin the
        # PLANNER's fresh decision under the shrunk threshold, so drop
        # session caches before rebuilding (recompute-safe: all cached
        # frames are derived state).
        spark.catalog.clearCache()
        df = _Q[name](spark, sf_dir)
        # pre-execution plan: with the hint dropped and the threshold at 0
        # the shingle-postings join must be a shuffle join (other forced
        # broadcasts — the candidate-sized contaminated set, the rates
        # table — legitimately remain)
        import re as _re

        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not _re.search(r"BroadcastHashJoin \[s#\d+\]", plan), plan[:800]
        assert _re.search(r"(SortMergeJoin|ShuffledHashJoin) \[s#\d+\]", plan), plan[:800]
        got = [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == expected


def test_q37_null_text_documents_pair_with_nothing(spark, sf_dir, tmp_path):
    """A null-text document has no tokens, so it has no SimHash signature
    and pairs with nothing (the oracle's unnest emits no row for it). The
    gate corpora hold no null text; this one adds three null-text copies
    to the first 30 documents, and q37 must still hash-match its oracle."""
    import duckdb
    import pyarrow as pa

    from big_data_computing_final_project_spark.plans import all_oracles
    from tools.check_oracle import frame_digest

    base = pq.read_table(f"{sf_dir}/documents.parquet").sort_by("doc_id").slice(0, 30)
    nulls = pa.table(
        {
            "doc_id": pa.array([100000, 100001, 100002], pa.int64()),
            "text": pa.array([None] * 3, pa.string()),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["web"] * 3, pa.string()),
            "n_chars": pa.array([0] * 3, pa.int64()),
        }
    )
    corpus = pa.concat_tables([base.select(nulls.column_names).cast(nulls.schema), nulls])
    pq.write_table(corpus, str(tmp_path / "documents.parquet"))

    got = [tuple(r) for r in _Q["q37_simhash_pairs"](spark, str(tmp_path)).collect()]
    assert not [r for r in got if r[0] >= 100000 or r[1] >= 100000], got

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    res = con.sql(all_oracles()["q37_simhash_pairs"])
    want = res.fetchall()
    assert frame_digest(["doc_a", "doc_b", "hamming"], got) == frame_digest(
        [d[0] for d in res.description], want
    )


def test_q146_dup_flow_on_planted_corpus(spark, tmp_path):
    """The synthetic corpus has no exact duplicates, so q146 is vacuous at
    the gate SFs; this planted corpus exercises it: two dup groups spanning
    sources, one within-source copy pair, one unique doc. The flow matrix
    must count edges from the keeper's source to each copy's source, and
    hash-match the DuckDB oracle on the same planted data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.plans import all_oracles
    from tools.check_oracle import frame_digest
    import duckdb

    rows = [
        # group 1: keeper in srcA (doc 1), copies in srcB and srcB
        (1, "shared text one", "en", "srcA"),
        (2, "shared text one", "en", "srcB"),
        (3, "shared text one", "en", "srcB"),
        # group 2: keeper in srcB (doc 4), copy in srcA
        (4, "shared text two", "en", "srcB"),
        (5, "shared text two", "en", "srcA"),
        # group 3: within-source pair in srcC
        (6, "shared text three", "en", "srcC"),
        (7, "shared text three", "en", "srcC"),
        # unique
        (8, "completely different", "en", "srcA"),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    sdf = _Q["q146_dup_flow_matrix"](spark, str(tmp_path))
    got = [tuple(r) for r in sdf.collect()]
    assert got == [
        ("srcA", "srcB", 2, 1),   # group 1: two copies, one group
        ("srcB", "srcA", 1, 1),   # group 2
        ("srcC", "srcC", 1, 1),   # group 3: within-source flow
    ]

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    res = con.sql(all_oracles()["q146_dup_flow_matrix"])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert frame_digest(sdf.columns, got) == frame_digest(dcols, drows)


def test_q150_flags_planted_bad_vectors(spark, tmp_path):
    """The corpus embeddings are clean, so q150's zero/non-finite/ragged
    counters are vacuous at gate SFs; this planted store makes every
    counter fire and hash-checks the oracle on the same data."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.plans import all_oracles
    from tools.check_oracle import frame_digest

    rows = [
        (0, [1.0, 2.0, 2.0], 0),            # norm 3
        (1, [0.0, 0.0, 0.0], 0),            # zero vector
        (2, [float("nan"), 1.0, 1.0], 0),   # NaN
        (3, [float("inf"), 1.0, 1.0], 1),   # Inf
        (4, [3.0, 4.0], 1),                 # ragged dim
        (5, [0.0, 5.0], 1),                 # norm 5
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    sdf = _Q["q150_embedding_audit"](spark, str(tmp_path))
    got = {r["label"]: r for r in sdf.collect()}
    assert (got[0]["n_vecs"], got[0]["n_zero_vecs"], got[0]["n_nonfinite_vecs"]) == (3, 1, 1)
    assert got[0]["n_distinct_dims"] == 1
    assert got[0]["min_norm"] == got[0]["max_norm"] == 3.0
    assert (got[1]["n_vecs"], got[1]["n_nonfinite_vecs"], got[1]["n_distinct_dims"]) == (3, 1, 2)
    assert got[1]["min_norm"] == got[1]["max_norm"] == 5.0

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'")
    res = con.sql(all_oracles()["q150_embedding_audit"])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert frame_digest(sdf.columns, [tuple(r) for r in sdf.collect()]) == frame_digest(dcols, drows)


def test_levenshtein_is_character_level_on_unicode(spark):
    """q93's distance primitive must count CHARACTERS, not bytes (DuckDB's
    levenshtein is byte-level, so its oracle pairing is only valid on
    ASCII columns like p_name — documented at the q93 definition). Pinned
    against a from-scratch Python DP on accent/CJK/astral cases."""
    from pyspark.sql import functions as F

    def dp(a, b):
        m, n = len(a), len(b)
        d = list(range(n + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return d[n]

    pairs = [
        ("kitten", "sitting"),
        ("é", "e"),
        ("漢字", "漢"),
        ("café", "cafe"),
        ("ab\xa0c", "ab c"),
        ("", "xyz"),
    ]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = {(r["a"], r["b"]): r["d"] for r in df.select("a", "b", F.levenshtein("a", "b").alias("d")).collect()}
    for a, b in pairs:
        assert got[(a, b)] == dp(a, b), (a, b, got[(a, b)], dp(a, b))


def _planted_docs_table(rows):
    from _fixtures import planted_docs_table

    return planted_docs_table(rows)


def test_q158_dedup_savings_on_planted_corpus(spark, tmp_path):
    """Case/whitespace variants share a fingerprint but differ in n_chars,
    so the savings audit must charge removable_chars for the NON-keeper
    members only (keeper = min doc_id, q34's rule) — an avg-based estimate
    would get 31.34 chars instead of the exact 32. Hash-matched against
    the DuckDB oracle on the same planted data."""
    import duckdb
    import pyarrow.parquet as pq2

    from big_data_computing_final_project_spark.plans import all_oracles
    from tools.check_oracle import frame_digest

    rows = [
        (1, "Shared Text One", "en", "srcA"),    # 15 chars, keeper of the group
        (2, "shared  text  one", "en", "srcB"),  # 17 chars, same fp after collapse
        (3, "shared text one", "en", "srcB"),    # 15 chars, same fp
        (4, "unique alpha", "en", "srcA"),
        (5, "unique beta", "de", "srcB"),
        (6, "SOLO GAMMA", "en", "srcC"),
    ]
    pq2.write_table(_planted_docs_table(rows), str(tmp_path / "documents.parquet"))

    sdf = _Q["q158_dedup_savings"](spark, str(tmp_path))
    got = [tuple(r) for r in sdf.collect()]
    assert got == [
        (1, 3, 3, 0, 0),    # three singleton groups: nothing removable
        (3, 1, 3, 2, 32),   # the triple: drop docs 2+3 -> 17+15 chars freed
    ]

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    res = con.sql(all_oracles()["q158_dedup_savings"])
    assert frame_digest(sdf.columns, got) == frame_digest(
        [d[0] for d in res.description], res.fetchall()
    )


def test_q159_threshold_sweep_on_planted_jaccards(spark, tmp_path):
    """Three co-shingled docs planted at known pairwise Jaccards — A==C
    after normalization (jac 1.0), B differs from both in one trailing
    token (jac 8/12 = 0.667) — plus one disjoint doc. The sweep must read
    3 pairs up to t=0.65, exactly 1 (the dup pair) from t=0.70, and the
    zero-pair thresholds must still appear. Hash-matched vs the oracle."""
    import duckdb
    import pyarrow.parquet as pq2

    from big_data_computing_final_project_spark.plans import all_oracles
    from tools.check_oracle import frame_digest

    base = "a b c d e f g h i j"
    rows = [
        (1, base + " k l", "en", "srcA"),
        (2, base + " m n", "en", "srcA"),   # vs 1: 8 common / 12 union shingles
        (3, (base + " k l").upper(), "en", "srcB"),  # exact dup of 1 after lower()
        (4, "p1 p2 p3 p4 p5 p6", "en", "srcC"),      # shares no shingle
    ]
    pq2.write_table(_planted_docs_table(rows), str(tmp_path / "documents.parquet"))

    sdf = _Q["q159_jaccard_threshold_sweep"](spark, str(tmp_path))
    got = [tuple(r) for r in sdf.collect()]
    want = [(t, 3) for t in (0.50, 0.55, 0.60, 0.65)] + [
        (t, 1) for t in (0.70, 0.75, 0.80, 0.85, 0.90, 0.95)
    ]
    assert got == want

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    res = con.sql(all_oracles()["q159_jaccard_threshold_sweep"])
    assert frame_digest(sdf.columns, got) == frame_digest(
        [d[0] for d in res.description], res.fetchall()
    )


# ---------------------------------------------------------------------------
# q186 kNN classifier
# ---------------------------------------------------------------------------


def _write_embeddings(spark, tmp_path, rows) -> str:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    return str(tmp_path)


def test_knn_predicts_planted_cluster(spark, tmp_path):
    """Query sits in cluster A (label 0): all 10 nearest neighbors are the
    cluster-A members, so the vote is unanimous and correct."""
    dim = 8
    a = [1.0] + [0.0] * (dim - 1)
    b = [-1.0] + [0.0] * (dim - 1)
    rows = [(0, a, 0)]  # the query (vec_id < 20)
    for i in range(10):
        rows.append((100 + i, [1.0, 0.01 * (i + 1)] + [0.0] * (dim - 2), 0))
    for i in range(10):
        rows.append((200 + i, b, 1))
    out = _Q["q186_knn_classifier"](
        spark, _write_embeddings(spark, tmp_path, rows)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.predicted_label == 0 and r.n_votes == 10 and bool(r.is_correct)
    assert r.mean_sim > 0.99


def test_knn_vote_tie_breaks_to_smaller_label(spark, tmp_path):
    """Exactly 5 votes per label at identical similarity: the documented
    tie-break (count DESC, label ASC) must pick the smaller label."""
    dim = 4
    v = [1.0, 0.0, 0.0, 0.0]
    rows = [(0, v, 7)]
    for i in range(5):
        rows.append((100 + i, v, 3))
    for i in range(5):
        rows.append((300 + i, v, 1))
    out = _Q["q186_knn_classifier"](
        spark, _write_embeddings(spark, tmp_path, rows)
    ).collect()
    assert len(out) == 1
    assert out[0].predicted_label == 1 and out[0].n_votes == 5
    assert not bool(out[0].is_correct)


def test_knn_small_store_mean_uses_retrieved_count(spark, tmp_path):
    """Fewer than K candidates: mean_sim divides by the retrieved count,
    not the constant K (review fix)."""
    dim = 4
    v = [1.0, 0.0, 0.0, 0.0]
    rows = [(0, v, 0)] + [(100 + i, v, 0) for i in range(4)]  # 4 candidates
    out = _Q["q186_knn_classifier"](
        spark, _write_embeddings(spark, tmp_path, rows)
    ).collect()
    assert len(out) == 1
    assert out[0].n_votes == 4
    assert abs(out[0].mean_sim - 1.0) < 1e-12


def test_q68_lsh_edges_equal_exact_edges(spark, sf_dir):
    """Verdict item: the scale path's clusters (LSH candidate edges) must
    equal the exact-edge clusters — recall is 1 at the data's jac >= 0.8
    pairs, and a missed edge could only diverge if it were the sole bridge
    between two sub-clusters."""
    from big_data_computing_final_project_spark.plans.dedup import q68_dedup_clusters

    lsh = q68_dedup_clusters(spark, sf_dir, edge_source="lsh").collect()
    exact = q68_dedup_clusters(spark, sf_dir, edge_source="exact").collect()
    assert lsh == exact


def test_q159_lsh_sweep_equals_exact_sweep(spark, sf_dir):
    """The 32x2-banded sweep (recall floor 0.99989 at jac = 0.5) must
    reproduce the exact sweep's pair counts at every threshold."""
    from big_data_computing_final_project_spark.plans.dedup import (
        q159_jaccard_threshold_sweep,
    )

    lsh = q159_jaccard_threshold_sweep(spark, sf_dir, pair_source="lsh").collect()
    exact = q159_jaccard_threshold_sweep(spark, sf_dir, pair_source="exact").collect()
    assert lsh == exact


def test_mmr_lambda1_equals_plain_topk(spark, sf_dir):
    """With lambda = 1 the diversity term vanishes: MMR must reproduce the
    cosine ranking of the pool exactly (rank k = k-th best cos_sim)."""
    from big_data_computing_final_project_spark.plans.similarity import (
        _scored_pool,
        mmr_rerank,
    )

    pool = _scored_pool(spark, sf_dir).cache()
    got = {
        (r.q_id, r.mmr_rank): r.cand_id
        for r in mmr_rerank(pool, k=5, lam=1.0).collect()
    }
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    want = {
        (r.q_id, r.rk): r.cand_id
        for r in pool.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    }
    pool.unpersist()
    assert got == want


def test_mmr_deterministic_and_first_pick_is_top1(spark, sf_dir):
    from big_data_computing_final_project_spark.plans.similarity import (
        q199_mmr_rerank,
    )

    a = q199_mmr_rerank(spark, sf_dir).collect()
    b = q199_mmr_rerank(spark, sf_dir).collect()
    assert a == b and len(a) > 0
    # rank 1 maximizes lam*rel - (1-lam)*0 == rel: must equal cosine top-1
    top1 = {
        (r.q_id, r.cand_id) for r in _Q["q38_cosine_topk"](spark, sf_dir).collect()
        if r.rk == 1
    }
    got1 = {(r.q_id, r.cand_id) for r in a if r.mmr_rank == 1}
    assert got1 == top1


def test_mmr_improves_diversity_on_planted_clusters(spark, tmp_path):
    """Planted pool: 5 near-identical high-relevance vectors + 5 spread
    orthogonal-ish ones. Plain top-3 takes three clones; MMR's top-3 mean
    pairwise cosine must be strictly lower (more diverse)."""
    import numpy as np

    from big_data_computing_final_project_spark.plans.similarity import mmr_rerank

    rng = np.random.RandomState(7)
    base = rng.rand(8)
    rows = []
    vecs = {}
    for i in range(5):  # clones of base, tiny noise, high cos_sim
        v = base + 0.01 * rng.rand(8)
        vecs[100 + i] = v
        rows.append((0, 100 + i, 0.95 - 0.001 * i, [float(x) for x in v]))
    for i in range(5):  # one-hot-ish spread, lower relevance
        v = np.zeros(8)
        v[i] = 1.0
        v += 0.05 * rng.rand(8)
        vecs[200 + i] = v
        rows.append((0, 200 + i, 0.80 - 0.001 * i, [float(x) for x in v]))
    pool = spark.createDataFrame(
        rows, "q_id bigint, cand_id bigint, cos_sim double, e array<double>"
    )

    def mean_pair_cos(ids):
        u = [vecs[i] / np.linalg.norm(vecs[i]) for i in ids]
        sims = [float(u[i] @ u[j]) for i in range(len(u)) for j in range(i + 1, len(u))]
        return sum(sims) / len(sims)

    mmr_ids = [
        r.cand_id for r in mmr_rerank(pool, k=3, lam=0.5).orderBy("mmr_rank").collect()
    ]
    plain_ids = [100, 101, 102]  # cosine top-3 = the three best clones
    assert mean_pair_cos(mmr_ids) < mean_pair_cos(plain_ids)
    assert mmr_ids[0] == 100  # highest relevance first


@pytest.mark.parametrize("pool", [25, 100])
def test_mmr_contract_holds_across_pool_sizes(spark, sf_dir, pool):
    """VERDICT r7 item 8: the rerank contract must not silently depend on
    _MMR_POOL=50. At half and double the production pool, on real
    embeddings: (1) each query's first pick is still the plain top-1
    (rank-1 maximizes lam*rel - 0 exactly), (2) the MMR selection is at
    least as diverse as plain top-k (mean pairwise cosine), and (3) mean
    relevance gives up at most 10% vs plain top-k (measured ~3% at every
    pool) — so future pool tuning can't quietly regress diversity or
    relevance."""
    import collections

    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.plans.similarity import (
        _MMR_K,
        _scored_pool,
        mmr_rerank,
    )

    sp = _scored_pool(spark, sf_dir, pool=pool).cache()
    try:
        sel = (
            mmr_rerank(sp)
            .join(sp.select("q_id", "cand_id", "cos_sim", "e"), ["q_id", "cand_id"])
            .collect()
        )
        w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
        plain = sp.withColumn("rk", F.row_number().over(w)).filter(
            F.col("rk") <= _MMR_K
        ).collect()
    finally:
        sp.unpersist()
    by_q = collections.defaultdict(list)
    for r in sel:
        by_q[r.q_id].append(r)
    by_qp = collections.defaultdict(list)
    for r in plain:
        by_qp[r.q_id].append(r)
    assert set(by_q) == set(by_qp) and len(by_q) > 0

    def mean_pair_cos(rs):
        u = [np.asarray(r.e) / np.linalg.norm(r.e) for r in rs]
        s = [float(u[i] @ u[j]) for i in range(len(u)) for j in range(i + 1, len(u))]
        return sum(s) / len(s)

    for q in by_q:
        first = min(by_q[q], key=lambda r: r.mmr_rank)
        top1 = min(by_qp[q], key=lambda r: r.rk)
        assert first.cand_id == top1.cand_id, (pool, q)
    div_mmr = float(np.mean([mean_pair_cos(by_q[q]) for q in by_q]))
    div_plain = float(np.mean([mean_pair_cos(by_qp[q]) for q in by_qp]))
    assert div_mmr <= div_plain, (pool, div_mmr, div_plain)
    rel_mmr = float(np.mean([np.mean([r.cos_sim for r in by_q[q]]) for q in by_q]))
    rel_plain = float(np.mean([np.mean([r.cos_sim for r in by_qp[q]]) for q in by_qp]))
    assert rel_mmr >= 0.9 * rel_plain, (pool, rel_mmr, rel_plain)


def test_pq_ann_recall_and_determinism(spark, sf_dir):
    """PQ ADC shortlist + exact rerank: recall floor vs brute force (random
    embeddings are PQ's worst case — the floor keeps the code path honest),
    deterministic across runs, and emitted cos_sim equals q38's exact fold
    for every overlapping (q_id, cand_id)."""
    truth = {(r.q_id, r.cand_id): r.cos_sim for r in _Q["q38_cosine_topk"](spark, sf_dir).collect()}
    a = _Q["q200_pq_ann_topk"](spark, sf_dir).collect()
    b = _Q["q200_pq_ann_topk"](spark, sf_dir).collect()
    assert a == b
    approx = {(r.q_id, r.cand_id): r.cos_sim for r in a}
    recall = len(truth.keys() & approx.keys()) / len(truth)
    assert recall >= 0.6, f"PQ recall {recall:.2f} below floor"
    for k in truth.keys() & approx.keys():
        assert truth[k] == approx[k]  # exact rerank: bit-identical fold


# ---------------------------------------------------------------------------
# PQ reference expressions: the JVM expression trees the mapInArrow numpy
# kernels (_pq_encode_frame, _pq_adc_scored) are checked against bit for
# bit. Each expression is assembled as ONE SQL string handed to a single
# F.expr() parse: `xD` double literals reproduce F.lit(c) bit-exactly (repr
# round-trips, Double.parseDouble is correctly rounded), the `t0 + 0 + t1`
# chain matches Python sum()'s int seed, and left-associative `+`/`*` keep
# the IEEE fold order.
# ---------------------------------------------------------------------------


def _pq_encode(books):
    """codes array<int>: per subspace, the index of the nearest codebook
    centroid (first-min tie-break via array_position)."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.plans.similarity import (
        _assert_finite_books,
    )

    _assert_finite_books(books)
    d = len(books[0][0])

    def _sum_sql(terms):
        return " + ".join([terms[0], "0", *terms[1:]])

    codes = []
    for m, book in enumerate(books):
        dists = ", ".join(
            _sum_sql(
                [
                    f"(e[{m * d + i}] - {c[i]!r}D) * (e[{m * d + i}] - {c[i]!r}D)"
                    for i in range(d)
                ]
            )
            for c in book
        )
        codes.append(
            f"cast(array_position(array({dists}), array_min(array({dists}))) - 1 as int)"
        )
    return F.expr("array(" + ", ".join(codes) + ")")


def _pq_adc_scored_expr(books, q, store):
    """(q_id, cand_id, adc_score): per-query LUT as one parsed SQL
    expression, broadcast-joined against the store, gather + sum as JVM
    element_at expressions."""
    from pyspark.sql import functions as F

    d = len(books[0][0])
    offsets = [0]
    for book in books:
        offsets.append(offsets[-1] + len(book))
    lut = F.expr(
        "array("
        + ", ".join(
            " + ".join(
                [f"qe[{m * d}] * {c[0]!r}D", "0"]
                + [f"qe[{m * d + i}] * {c[i]!r}D" for i in range(1, d)]
            )
            for m, book in enumerate(books)
            for c in book
        )
        + ")"
    )
    ql = q.select("q_id", lut.alias("lut"))
    adc = sum(
        F.element_at(F.col("lut"), F.col("codes")[m].cast("int") + offsets[m] + 1)
        for m in range(len(books))
    )
    return (
        F.broadcast(ql)
        .join(store, F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand_id"),
            (adc / F.col("nc")).alias("adc_score"),  # |q| constant per query
        )
    )


def test_pq_kernel_matches_expression(spark, sf_dir):
    """The mapInArrow numpy kernels serving q200/q231/the index paths must
    be BIT-identical to the reference expression trees above — encode
    codes + stored norms, every (query, candidate) ADC score, and the
    shortlist that the per-task exact pre-selection feeds the row_number
    window (exercised across multiple partitions so the distributive
    top-k cut is what is being pinned, not a single-task pass-through).
    Doubles compare by bit pattern (float.hex), not tolerance."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.plans.similarity import (
        _N_QUERIES,
        _PQ_SHORTLIST,
        _pq_adc_scored,
        _pq_books,
        _pq_encode_frame,
        as_double,
        norm,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    dim = len(emb.select("e").first()["e"])
    books = _pq_books(spark, sf_dir, emb, dim)

    # 1. encode kernel == reference expression (codes exact, nc bit-exact)
    ref_store = emb.select(
        "vec_id", _pq_encode(books).alias("codes"), norm(F.col("e")).alias("nc")
    )
    want = sorted(
        (r["vec_id"], tuple(r["codes"]), r["nc"].hex()) for r in ref_store.collect()
    )
    got = sorted(
        (r["vec_id"], tuple(r["codes"]), r["nc"].hex())
        for r in _pq_encode_frame(emb, books).collect()
    )
    assert got == want

    # 2. ADC kernel (no local cut) == reference scored frame, score-bit-exact
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    q_rows = sorted((r["q_id"], [float(x) for x in r["qe"]]) for r in q.collect())
    want_sc = sorted(
        (r["q_id"], r["cand_id"], r["adc_score"].hex())
        for r in _pq_adc_scored_expr(books, q, ref_store).collect()
    )
    got_sc = sorted(
        (r["q_id"], r["cand_id"], r["adc_score"].hex())
        for r in _pq_adc_scored(ref_store, books, q_rows, None).collect()
    )
    assert got_sc == want_sc

    # 3. the per-task exact top-_PQ_SHORTLIST cut feeds the window the same
    # shortlist the full pair set produces, across several partitions
    w = Window.partitionBy("q_id").orderBy(F.col("adc_score").desc(), F.col("cand_id"))
    def shortlist(scored):
        return sorted(
            (r["q_id"], r["cand_id"])
            for r in scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _PQ_SHORTLIST)
            .select("q_id", "cand_id")
            .collect()
        )

    full = shortlist(_pq_adc_scored_expr(books, q, ref_store))
    cut = shortlist(
        _pq_adc_scored(ref_store.repartition(7), books, q_rows, _PQ_SHORTLIST)
    )
    assert cut == full


def test_q40_band_params_regimes():
    """The closed-form chooser bands where banding prunes and goes dense
    where it can't: 0.95/0.9/0.8 pick 8-bit bands at bounded table counts;
    the 0.4 gate threshold (random-pair collision ~93% at any affordable
    width) must return None (dense block-join regime)."""
    from big_data_computing_final_project_spark.plans.similarity import _band_params

    assert _band_params(0.95) == (8, 13)
    b, L = _band_params(0.9)
    assert b == 8 and L <= 32
    assert _band_params(0.8)[0] == 8
    assert _band_params(0.4) is None


def test_q40_dense_pairs_complete(spark):
    """The distributed block join must enumerate every unordered rep pair
    exactly once (no misses at block boundaries, no double counting)."""
    from big_data_computing_final_project_spark.plans.similarity import (
        _dup_reps,
        _rep_dense_pairs,
    )

    n = 37
    emb = spark.range(n).selectExpr(
        "id AS vec_id", "array(cast(id AS double), 1.0d) AS e"
    )
    got = [(r.a, r.b) for r in _rep_dense_pairs(_dup_reps(emb), n_blocks=4).collect()]
    assert len(got) == len(set(got)) == n * (n - 1) // 2
    assert all(a < b for a, b in got)


def test_q40_degenerate_duplicates_match_oracle(spark, tmp_path):
    """ADVICE r6: intra-group (exact-dup) pairs must pass through the same
    cos_sim >= T filter as every other pair — byte-identical zero-norm
    vectors (NULL/NaN self-cosine) must not emit rows the oracle-filtered
    output never contains. Planted: a zero-vector dup pair, a NaN dup pair,
    a genuine near-dup pair; full frame_digest parity with the q40 oracle."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.plans import all_oracles
    from tools.check_oracle import frame_digest

    vecs = [
        (0, [0.0] * 8),                       # zero-norm dup group
        (1, [0.0] * 8),
        (2, [float("nan")] + [1.0] * 7),      # NaN dup group
        (3, [float("nan")] + [1.0] * 7),
        (4, [1.0] * 8),                       # genuine near-dup pair
        (5, [1.0] * 7 + [0.9]),
        (6, [-1.0] * 8),                      # far from everything
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    sdf = _Q["q40_embedding_near_dup"](spark, str(tmp_path))
    got = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    res = con.sql(all_oracles()["q40_embedding_near_dup"])
    drows = res.fetchall()
    assert frame_digest(sdf.columns, got) == frame_digest(
        [d[0] for d in res.description], drows
    )
    # the genuine pair is present; no NULL cos_sim leaks
    ids = {(a, b) for a, b, _ in got}
    assert (4, 5) in ids
    assert all(c is not None for _, _, c in got)


def test_q205_ivf_pool_recall_and_mmr_contract(spark, sf_dir):
    """q205 (MMR over the IVF pool): per-query pool recall vs the brute
    top-50 pool stays above the pinned floor (min 0.5, mean 0.65 at
    nprobe=8/16 on the synthetic near-random embeddings), and the rerank
    output keeps the MMR contract — k rows per query, rank 1 is the pool's
    highest-relevance candidate, no duplicate selections."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.plans.similarity import (
        _MMR_IVF_NPROBE,
        _MMR_K,
        _MMR_POOL,
        _ivf_scored,
        _scored_pool,
    )

    brute = {}
    for r in _scored_pool(spark, sf_dir).select("q_id", "cand_id").collect():
        brute.setdefault(r.q_id, set()).add(r.cand_id)
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    ivf_pool = (
        _ivf_scored(spark, sf_dir, nprobe=_MMR_IVF_NPROBE)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MMR_POOL)
    )
    pools = {}
    for r in ivf_pool.select("q_id", "cand_id").collect():
        pools.setdefault(r.q_id, set()).add(r.cand_id)
    recalls = [len(brute[q] & pools.get(q, set())) / len(brute[q]) for q in brute]
    assert min(recalls) >= 0.5, min(recalls)
    assert sum(recalls) / len(recalls) >= 0.65

    out = _Q["q205_mmr_ivf_rerank"](spark, sf_dir).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.q_id, []).append(r)
    for q, rows in per_q.items():
        assert len(rows) == _MMR_K
        assert len({r.cand_id for r in rows}) == _MMR_K  # no dup selections
        assert [r.mmr_rank for r in sorted(rows, key=lambda r: r.mmr_rank)] == list(
            range(1, _MMR_K + 1)
        )


def test_ivf_cell_balance_planted_assignments(spark):
    """q222's audit math on planted cell assignments: exact counts,
    shares, imbalance factor, empty-cell rate, and both recommendation
    branches (hot-cell trigger and empty-rate trigger)."""
    from big_data_computing_final_project_spark.plans.similarity import (
        ivf_cell_balance,
    )

    # balanced-ish: cells 0/1/2 hold 8/2/6, cell 3 empty (nlist=4)
    a = spark.createDataFrame(
        [(i, c) for i, c in enumerate([0] * 8 + [1] * 2 + [2] * 6)],
        "vec_id long, cell int",
    )
    rows = {r.cell: r for r in ivf_cell_balance(a, 4).collect()}
    assert [rows[c].n_vecs for c in range(4)] == [8, 2, 6, 0]
    assert rows[0].share == 8 / 16.0
    assert rows[0].imbalance_factor == 8 * 4 / 16.0  # max / (n/nlist) = 2.0
    assert rows[0].empty_cell_rate == 0.25
    # 2.0 <= 4 and exactly a quarter empty (not more) -> ok
    assert {r.recommendation for r in rows.values()} == {"ok"}

    # hot cell: 9 of 10 vectors in one of 8 cells -> imbalance 7.2 > 4
    b = spark.createDataFrame(
        [(i, c) for i, c in enumerate([0] * 9 + [1])], "vec_id long, cell int"
    )
    rb = ivf_cell_balance(b, 8).collect()
    assert rb[0].imbalance_factor == 9 * 8 / 10.0
    assert rb[0].empty_cell_rate == 6 / 8.0
    assert {r.recommendation for r in rb} == {"rebalance"}


def test_ivf_cell_balance_audits_live_quantizer(spark, sf_dir):
    """The registered q222 runs over the SAME KMeans state q64 probes:
    one row per nlist cell, counts partition the embeddings table, shares
    sum to 1, and the summary columns are internally consistent."""
    import pyarrow.parquet as pq

    out = _Q["q222_ivf_cell_balance"](spark, sf_dir).collect()
    n_emb = pq.read_metadata(f"{sf_dir}/embeddings.parquet").num_rows
    assert len(out) == 16  # _IVF_NLIST
    assert [r.cell for r in out] == list(range(16))
    assert sum(r.n_vecs for r in out) == n_emb
    assert abs(sum(r.share for r in out) - 1.0) < 1e-9
    mx = max(r.n_vecs for r in out)
    n_empty = sum(1 for r in out if r.n_vecs == 0)
    want_imb = mx * 16 / n_emb
    for r in out:
        assert abs(r.imbalance_factor - want_imb) < 1e-9
        assert abs(r.empty_cell_rate - n_empty / 16.0) < 1e-9
        want_rec = "rebalance" if (want_imb > 4.0 or n_empty * 4 > 16) else "ok"
        assert r.recommendation == want_rec


_SKETCH_K = 64


def _sketch_screened_verify(sh, candidates):
    """Two-level exact verification at _JACCARD_T: a DETERMINISTIC,
    LOSSLESS bottom-k sketch screen discards clearly-below-threshold
    candidate pairs before the full-array join, then the standard exact
    verify rescores survivors. Output must be IDENTICAL to
    _verify_candidate_pairs(sh, candidates).

    It is not q122's verify: measured on the bounded tiers, the screen
    made q122 ~40-60% SLOWER at every tier (t100 ~123 s-equivalent
    -> 176 s, same-session q36 as the box-speed control): the extra
    screen pass re-shuffles every candidate with two 64-BIGINT sketches
    and evaluates ~200 interpreted higher-order-lambda elements per pair,
    which costs more than the full-array verify bytes it saves. The
    zero-byte PPJoin positional filter inside _prefix_candidates is the
    shipped pruning instead; SCALING.md has the numbers.

    The screen's upper bound: with S_X = the k smallest hash values of
    doc X and v = min(max S_A, max S_B), every element of X that is <= v
    is IN S_X (bottom-k captures its whole prefix of the hash order), so

        |A ∩ B|  <=  |S_A^v ∩ S_B^v| + min(|A| - |S_A^v|, |B| - |S_B^v|)

    where S^v = {s in S : s <= v} (the <= v part of the intersection is
    known EXACTLY; above v, the intersection can't exceed the smaller
    remainder). J = I/(|A|+|B|-I) is increasing in I, so
    J <= I_ub/(na+nb-I_ub): keep the pair iff I_ub*(num+den) >= num*(na+nb)
    (threshold as the exact fraction num/den — integer math, no FP ties).

    Why it pays: a typical negative candidate (J ~ 0) with n ~ 400
    shingles screens at J_ub ~ (n-k)/(n+k) ~ 0.72 < 0.8 and never ships
    its full array; the screen join moves 2*(k+2) BIGINTs per pair
    (~1 KB) instead of the two full shingle arrays (~6.6 KB) — and at the
    bounded 100x tier ~94% of candidates are negatives (43.4M candidates
    -> 2.49M pairs), so the dominant verify shuffle shrinks ~4x. Docs
    with n > ~9k shingles weaken the bound toward 1 (they pass to full
    verify) — bounded-tier docs sit far below that."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.plans.dedup import (
        _JACCARD_T,
        _verify_candidate_pairs,
    )

    fr = Fraction(_JACCARD_T).limit_denominator(10**6)
    num, den = fr.numerator, fr.denominator
    base = sh.select(
        "doc_id",
        F.size("sh").alias("n"),
        F.slice(F.array_sort("sh"), 1, _SKETCH_K).alias("sk"),
    )
    a = base.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), F.col("sk").alias("sk_a")
    )
    b = base.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), F.col("sk").alias("sk_b")
    )
    j = candidates.join(a, "doc_a").join(b, "doc_b")
    v = F.least(F.element_at("sk_a", -1), F.element_at("sk_b", -1))
    fa = F.filter("sk_a", lambda x: x <= v)
    fb = F.filter("sk_b", lambda x: x <= v)
    j = j.select(
        "doc_a",
        "doc_b",
        "na",
        "nb",
        F.size(F.array_intersect(fa, fb)).alias("o"),
        F.size(fa).alias("ka"),
        F.size(fb).alias("kb"),
    )
    i_ub = F.col("o") + F.least(
        F.col("na") - F.col("ka"), F.col("nb") - F.col("kb")
    )
    survivors = j.filter(
        i_ub * F.lit(num + den) >= F.lit(num) * (F.col("na") + F.col("nb"))
    ).select("doc_a", "doc_b")
    return _verify_candidate_pairs(sh, survivors)


def test_sketch_screen_verify_is_lossless(spark, sf_dir):
    """q122's two-level verify: the bottom-k sketch screen must
    be output-IDENTICAL to the plain full-array verify — on the real
    corpus and on planted borderline sets (J exactly at the threshold,
    just below, just above, and in the weak-bound region where the screen
    cannot discard and stage 2 must)."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.plans.dedup import (
        _hashed_shingles,
        _prefix_candidates,
        _shingled,
        _verify_candidate_pairs,
    )

    shh = _hashed_shingles(_shingled(spark, sf_dir)).localCheckpoint(eager=True)
    cands = _prefix_candidates(shh).localCheckpoint(eager=True)
    plain = [tuple(r) for r in _verify_candidate_pairs(shh, cands).collect()]
    screened = [tuple(r) for r in _sketch_screened_verify(shh, cands).collect()]
    assert screened == plain and len(plain) > 0

    # planted borderline sets (hashed-shingle frames built directly):
    #   1-2: |A|=|B|=9, I=8  -> J = 8/10 = 0.8 exactly  -> KEPT
    #   1-3: |A|=|B|=10, I=8 -> J = 8/12 = 0.667        -> dropped
    #   1-4: |A|=|B|=10, I=9 -> J = 9/11 = 0.818        -> KEPT
    #   5-6: n=200 >> k=64 with I=120 -> J = 120/280 = 0.43: the sketch
    #        bound alone can't prove < 0.8 for every draw, so the pair may
    #        reach stage 2 — and must be dropped there
    def doc(doc_id, vals):
        return (doc_id, [int(v) for v in vals])

    a9 = list(range(1000, 1009))
    rows = [
        doc(1, a9 + [1]),                # reuse id-space ints as hashes
        doc(2, a9[:8] + [2, 3]),         # I=8 with doc 1 (n=9 each)? see below
        doc(3, a9[:8] + [4, 5]),
        doc(4, a9 + [6]),
        doc(5, list(range(2000, 2200))),
        doc(6, list(range(2080, 2280))),
    ]
    # fix sizes: doc1 = a9 + [1] -> n=10; make doc1/doc2 the exact-threshold
    # pair with n=9: redefine explicitly
    rows[0] = doc(1, a9)                      # n=9
    rows[1] = doc(2, a9[:8] + [9001])         # n=9, I=8 -> J=0.8 exactly
    rows[2] = doc(3, a9[:8] + [9002, 9003])   # n=10, I=8 -> J=8/11 < 0.8
    rows[3] = doc(4, a9 + [9004])             # n=10, I=9 -> J=9/10=0.9
    sh = spark.createDataFrame(rows, "doc_id long, sh array<bigint>")
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (5, 6)], "doc_a long, doc_b long"
    )
    want = {
        (r.doc_a, r.doc_b): r.jac
        for r in _verify_candidate_pairs(sh, cands).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.jac
        for r in _sketch_screened_verify(sh, cands).collect()
    }
    assert got == want
    assert set(got) == {(1, 2), (1, 4)}
    assert got[(1, 2)] == 0.8


def test_q228_retrieval_ndcg_planted(spark, tmp_path):
    """q228 on a planted ranking: query v0 (label 7) retrieves candidates
    whose cosine order and labels are chosen by hand — hits at ranks 1,
    3, 4; three relevant vectors corpus-wide (cap 3 < k) — so every
    metric column is checked against the hand fold, including the
    sorted-gain DCG and the capped ideal DCG."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.plans import all_queries

    rows = [
        (0, [1.0, 0.0], 7),       # the query (vec_id < 20)
        (20, [1.0, 0.01], 7),     # rk 1, hit
        (21, [0.9, 0.1], 0),      # rk 2, miss
        (22, [0.5, 0.5], 7),      # rk 3, hit
        (23, [0.0, 1.0], 7),      # rk 4, hit
        (24, [-1.0, 0.0], 0),     # rk 5, miss
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    got = all_queries()["q228_retrieval_ndcg"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    w = [1.0 / math.log2(i + 1) for i in range(1, 6)]
    dcg = 0.0
    for x in sorted([w[0], w[2], w[3]]):  # hits at ranks 1, 3, 4, sorted fold
        dcg += x
    # ideal DCG is the PREFIX sum w1+w2+w3 folded in prefix order (the
    # engine precomputes it as a running prefix, not a sorted fold)
    idcg = (w[0] + w[1]) + w[2]
    assert (r.q_id, r.n_rel, r.hits_at_k) == (0, 3, 3)
    assert r.dcg == dcg
    assert r.idcg == idcg
    assert r.ndcg == dcg / idcg
    assert r.recall_at_k == 1.0


def test_q229_ann_retrieval_ndcg_invariants(spark, sf_dir):
    """q229 scores the IVF ranking with q228's metric core: one row per
    query, hits bounded by the relevance cap, nDCG/recall in [0, 1], and
    the seeded quantizer makes the whole frame deterministic."""
    from big_data_computing_final_project_spark.plans import all_queries

    q = all_queries()["q229_ann_retrieval_ndcg"]
    rows = q(spark, sf_dir).collect()
    assert len(rows) == 20 and [r.q_id for r in rows] == sorted(r.q_id for r in rows)
    for r in rows:
        cap = min(r.n_rel, 5)
        assert 0 <= r.hits_at_k <= cap
        assert 0.0 <= r.dcg <= r.idcg
        assert r.ndcg is None if r.idcg == 0 else 0.0 <= r.ndcg <= 1.0
        assert r.recall_at_k is None if cap == 0 else 0.0 <= r.recall_at_k <= 1.0
    assert [tuple(x) for x in q(spark, sf_dir).collect()] == [tuple(x) for x in rows]


def test_session_cache_evicts_and_unpersists():
    """operators/session_cache mechanics (shared by the quantizer and the
    CC label caches): a stale snapshot evicts AND unpersists the pinned
    frame; inserting under another applicationId evicts (and frees)
    every other application's entries."""
    from big_data_computing_final_project_spark.operators import session_cache

    class FakeFrame:
        def __init__(self):
            self.freed = False

        def unpersist(self):
            self.freed = True

    key = ("appA", "sf_dir", "test_entry")
    snap1 = (("f", 1, 10),)
    f1 = FakeFrame()
    session_cache.put(key, snap1, (["state"], f1))
    assert session_cache.get(key, snap1)[1] is f1
    # input rewritten -> snapshot mismatch: evict + unpersist, miss
    assert session_cache.get(key, (("f", 2, 11),)) is None
    assert f1.freed
    # a new application's insert evicts (and frees) the old app's entries
    f2 = FakeFrame()
    session_cache.put(key, snap1, f2)
    session_cache.put(("appB", "sf_dir", "test_entry"), snap1, "x")
    assert f2.freed
    assert session_cache.get(key, snap1) is None
    session_cache.evict(("appB", "sf_dir", "test_entry"))


def test_dedup_cluster_labels_session_cache(spark, tmp_path):
    """The CC label cache (VERDICT r10 item 1): a second call serves the
    SAME frame (the propagation rounds ran once), and an in-session
    rewrite of documents.parquet invalidates instead of serving stale
    labels (ADVICE r10)."""
    import time

    from big_data_computing_final_project_spark.plans.dedup import (
        dedup_cluster_labels,
    )

    sf_dir = str(tmp_path)
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def write_docs(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{sf_dir}/documents.parquet")

    dup = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different text with nothing shared at all in here"
    write_docs([(1, dup, "en", "a", 60), (2, dup, "en", "a", 60), (3, other, "en", "b", 61)])
    first = dedup_cluster_labels(spark, sf_dir)
    assert dedup_cluster_labels(spark, sf_dir) is first  # cache hit
    got = {r.id: r.component for r in first.collect()}
    assert got[2] == got[1] and got[3] != got[1]

    # rewrite in-session: docs 1/2 no longer duplicates
    time.sleep(0.01)
    fresh = "another unrelated document holding entirely new content today"
    write_docs([(1, dup, "en", "a", 60), (2, fresh, "en", "a", 62), (3, other, "en", "b", 61)])
    refit = dedup_cluster_labels(spark, sf_dir)
    assert refit is not first
    assert len({r.component for r in refit.collect()}) == 3


def _retrieval_invariants(rows):
    assert len(rows) == 20 and [r.q_id for r in rows] == sorted(r.q_id for r in rows)
    for r in rows:
        cap = min(r.n_rel, 5)
        assert 0 <= r.hits_at_k <= cap
        assert 0.0 <= r.dcg <= r.idcg
        assert r.ndcg is None if r.idcg == 0 else 0.0 <= r.ndcg <= 1.0
        assert r.recall_at_k is None if cap == 0 else 0.0 <= r.recall_at_k <= 1.0


def test_q230_q231_index_eval_matrix(spark, sf_dir):
    """q230 (int8 multi-probe) and q231 (PQ-ADC) complete the index-eval
    matrix: same metric core as q228, so the ranking-INDEPENDENT columns
    (n_rel, idcg — functions of labels alone) must match the exact
    baseline per query; invariants + determinism hold per index."""
    from big_data_computing_final_project_spark.plans import all_queries

    q = all_queries()
    exact = q["q228_retrieval_ndcg"](spark, sf_dir).collect()
    base = {r.q_id: (r.n_rel, r.idcg) for r in exact}
    exact_dcg = sum(r.dcg for r in exact)
    for name in ["q230_int8_retrieval_ndcg", "q231_pq_retrieval_ndcg"]:
        rows = q[name](spark, sf_dir).collect()
        _retrieval_invariants(rows)
        assert {r.q_id: (r.n_rel, r.idcg) for r in rows} == base, name
        # floor vs the exact baseline: a high-recall index at this SF
        # cannot lose more than half the exact ranking's total relevance
        # mass (measured: int8/PQ total DCG sits within ±25% of exact)
        assert sum(r.dcg for r in rows) >= 0.5 * exact_dcg, name
        assert [tuple(x) for x in q[name](spark, sf_dir).collect()] == [
            tuple(x) for x in rows
        ]


def test_q234_cluster_size_distribution_planted(spark, tmp_path):
    """q234 on a planted corpus with a known cluster structure: one
    3-copy template, one 2-copy pair, two singletons — the histogram,
    shares and head-mass column are fully determined."""
    from big_data_computing_final_project_spark.plans import all_queries

    sf_dir = str(tmp_path)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    tri = "the quick brown fox jumps over the lazy dog again and again"
    duo = "an entirely different template reused across two mirror sites"
    rows = [
        (1, tri, "en", "a", 60),
        (2, tri, "en", "b", 60),
        (3, tri, "en", "c", 60),
        (4, duo, "en", "a", 61),
        (5, duo, "en", "b", 61),
        (6, "unique document content number six with its own words", "en", "a", 53),
        (7, "another singleton holding completely unrelated material", "en", "b", 55),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        f"{sf_dir}/documents.parquet"
    )
    got = [
        tuple(r)
        for r in all_queries()["q234_dedup_cluster_sizes"](spark, sf_dir).collect()
    ]
    assert got == [
        (1, 2, 2, 2 / 7, 1.0),
        (2, 1, 2, 2 / 7, 5 / 7),
        (3, 1, 3, 3 / 7, 3 / 7),
    ]


def test_q234_rides_the_session_label_cache(spark, sf_dir):
    """q234 over the shared corpus: doc mass accounts for every document,
    head-mass is monotone decreasing in cluster size, and the call costs
    one cached-label reuse (same frame as dedup_cluster_labels)."""
    from big_data_computing_final_project_spark.plans import all_queries
    from big_data_computing_final_project_spark.plans.dedup import (
        dedup_cluster_labels,
    )

    labels = dedup_cluster_labels(spark, sf_dir)
    n = labels.count()
    rows = all_queries()["q234_dedup_cluster_sizes"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == n
    assert sum(r.cluster_size * r.n_clusters for r in rows) == n
    shares = [r.cum_share_at_least for r in rows]
    assert shares == sorted(shares, reverse=True)
    assert abs(rows[0].cum_share_at_least - 1.0) < 1e-12


def test_q235_leak_attribution_planted(spark, tmp_path):
    """q235 on a planted corpus with hash-verified bucket membership
    (md5_60(doc_id) % 100: ids 1-5,7 < 80 = train; 9, 11 >= 90 = bench):
    srcA's doc 1 embeds bench doc 9's full text, so srcA leaks 1 of its 2
    train docs into 1 bench doc; srcB is clean; srcC (bench-only) has no
    train row. Cross-engine: the Spark result hash-matches the DuckDB
    oracle on the same planted corpus."""
    import duckdb

    from _fixtures import write_planted_corpus

    from big_data_computing_final_project_spark.plans import all_oracles, all_queries
    from tools.check_oracle import frame_digest

    t9 = "nine green bottles hanging quietly on the old stone wall"
    rows = [
        (1, t9 + " plus trailing training prose that keeps going onward", "en", "srcA"),
        (2, "calm ordinary training text with nothing shared anywhere here", "en", "srcA"),
        (3, "more clean training material in its own distinct wording", "en", "srcB"),
        (4, "yet another clean training document with private phrasing", "en", "srcB"),
        (9, t9, "en", "srcC"),
        (11, "an unleaked benchmark item with entirely separate content", "en", "srcC"),
    ]
    corpus = write_planted_corpus(tmp_path / "leak_corpus", rows)
    got_rows = all_queries()["q235_benchmark_leak_by_source"](spark, corpus).collect()
    got = {r.source: (r.n_train_docs, r.n_leaking, r.leak_rate, r.n_bench_hit) for r in got_rows}
    assert got == {"srcA": (2, 1, 0.5, 1), "srcB": (2, 0, 0.0, 0)}

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{corpus}/documents.parquet'")
    res = con.sql(all_oracles()["q235_benchmark_leak_by_source"])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    sdf = all_queries()["q235_benchmark_leak_by_source"](spark, corpus)
    assert frame_digest(sdf.columns, [tuple(r) for r in got_rows]) == frame_digest(
        dcols, drows
    )


@pytest.mark.parametrize(
    "name, score",
    [
        ("q38_cosine_topk", "cos_sim"),
        ("q39_ann_lsh_topk", "cos_sim"),
        ("q64_ann_ivf_topk", "cos_sim"),
        ("q131_int8_cosine_topk", "cos8"),
        ("q133_int8_ann_topk", "cos8"),
        ("q200_pq_ann_topk", "cos_sim"),
    ],
)
def test_ranker_contract(spark, sf_dir, name, score):
    """Every ranker's per-query output is a top-k cut: rk runs 1..n with
    no gaps and n <= _K, scores never increase down the ranking, equal
    scores are ordered by cand_id, and no query retrieves itself."""
    from big_data_computing_final_project_spark.plans.similarity import _K

    rows = _Q[name](spark, sf_dir).select("q_id", "cand_id", score, "rk").collect()
    assert rows, f"{name} returned nothing"
    by_q: dict = {}
    for r in rows:
        assert r.cand_id != r.q_id, f"{name}: query {r.q_id} retrieved itself"
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, hits in by_q.items():
        hits.sort(key=lambda r: r.rk)
        assert [r.rk for r in hits] == list(range(1, len(hits) + 1)), (name, q_id)
        assert len(hits) <= _K, (name, q_id)
        for a, b in zip(hits, hits[1:]):
            sa, sb = a[score], b[score]
            assert sa >= sb, f"{name}: q {q_id} score rises at rk {b.rk}"
            if sa == sb:
                assert a.cand_id < b.cand_id, f"{name}: q {q_id} tie out of cand_id order"
