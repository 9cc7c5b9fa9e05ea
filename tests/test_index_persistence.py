"""Persisted ANN index artifacts (sources/ann_index.py): a fitted index
saved to parquet and served by a loader must rank IDENTICALLY to the
session-fit path — the deployment contract that lets a build cluster fit
once and query drivers serve without ever running KMeans."""

from __future__ import annotations

import os

import pytest

from big_data_computing_final_project_spark.plans.registry import all_queries
from big_data_computing_final_project_spark.sources.ann_index import (
    ivf_topk_from_index,
    load_ivf_index,
    load_pq_index,
    pq_topk_from_index,
    save_ivf_index,
    save_pq_index,
)


def test_ivf_index_roundtrip_serves_identically(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "ivf_idx")
    save_ivf_index(spark, sf_dir, idx)
    want = [tuple(r) for r in all_queries()["q64_ann_ivf_topk"](spark, sf_dir).collect()]
    got = [tuple(r) for r in ivf_topk_from_index(spark, idx, sf_dir).collect()]
    assert got == want and len(got) > 0
    # the lists live as one parquet partition per cell — the physical
    # inverted-list layout dynamic partition pruning needs
    parts = [
        d for d in os.listdir(os.path.join(idx, "lists")) if d.startswith("cell=")
    ]
    assert len(parts) > 1


def test_ivf_loaded_centers_match_session_fit(spark, sf_dir, tmp_path):
    from big_data_computing_final_project_spark.plans.similarity import _ivf_fit

    idx = str(tmp_path / "ivf_idx2")
    save_ivf_index(spark, sf_dir, idx)
    centers, lists = load_ivf_index(spark, idx, sf_dir)
    want_centers, assigned = _ivf_fit(spark, sf_dir)
    assert centers == want_centers
    got = sorted(tuple(r) for r in lists.select("vec_id", "cell").collect())
    want = sorted(tuple(r) for r in assigned.select("vec_id", "cell").collect())
    assert got == want


def test_pq_index_roundtrip_serves_identically(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "pq_idx")
    save_pq_index(spark, sf_dir, idx)
    want = [tuple(r) for r in all_queries()["q200_pq_ann_topk"](spark, sf_dir).collect()]
    got = [tuple(r) for r in pq_topk_from_index(spark, idx, sf_dir).collect()]
    assert got == want and len(got) > 0


def test_stale_and_mismatched_indexes_refused(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "ivf_idx3")
    save_ivf_index(spark, sf_dir, idx)
    # a different corpus' bytes: the snapshot guard must refuse
    with pytest.raises(ValueError, match="different embedding bytes"):
        load_ivf_index(spark, idx, "/root/testdata/sf0.01")
    # kind mismatch: an ivf dir is not a pq index
    with pytest.raises(ValueError, match="not pq"):
        load_pq_index(spark, idx, sf_dir)
    # no sf_dir named -> loads without the staleness check (serving boxes
    # that never see the source table)
    centers, _ = load_ivf_index(spark, idx)
    assert len(centers) > 0


def test_store_promotion_serves_identically(spark, sf_dir, tmp_path):
    """The compaction-to-serving handoff: an IVF ingest store promoted to
    the partitioned artifact must serve q64's exact ranking with no
    quantizer run — the full lifecycle ingest → monitor → promote →
    serve."""
    import time

    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.plans.similarity import _ivf_fit
    from big_data_computing_final_project_spark.sources.ann_index import (
        save_ivf_index_from_store,
    )
    from big_data_computing_final_project_spark.streaming.events import (
        run_stream_ivf_assign,
    )

    centers, _ = _ivf_fit(spark, sf_dir)
    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).select(
        ["vec_id", "embedding"]
    )
    n = tbl.num_rows
    src = tmp_path / "promo_drops"
    src.mkdir()
    base = time.time() - 3600
    for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, n)]):
        p = str(src / f"drop_{i}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), p)
        os.utime(p, (base + 10 * i,) * 2)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    store = str(tmp_path / "promo_store")
    run_stream_ivf_assign(stream, centers, store, str(tmp_path / "promo_ckpt"))

    idx = str(tmp_path / "promo_idx")
    save_ivf_index_from_store(spark, sf_dir, store, idx)
    got = [tuple(r) for r in ivf_topk_from_index(spark, idx, sf_dir).collect()]
    want = [tuple(r) for r in all_queries()["q64_ann_ivf_topk"](spark, sf_dir).collect()]
    assert got == want and len(got) > 0


def test_pq_store_promotion_serves_identically(spark, sf_dir, tmp_path):
    """A live PQ ingest store promoted to the persisted artifact serves
    q200's exact ranking with no encode run — the PQ half of the
    compaction-to-serving handoff."""
    import time

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.plans.similarity import (
        _pq_books,
        as_double,
    )
    from big_data_computing_final_project_spark.sources.ann_index import (
        save_pq_index_from_store,
    )
    from big_data_computing_final_project_spark.streaming.events import (
        run_stream_pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    dim = len(emb.select("e").first()["e"])
    books = _pq_books(spark, sf_dir, emb, dim)
    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).select(
        ["vec_id", "embedding"]
    )
    n = tbl.num_rows
    src = tmp_path / "pq_promo_drops"
    src.mkdir()
    base = time.time() - 3600
    for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, n)]):
        p = str(src / f"drop_{i}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), p)
        os.utime(p, (base + 10 * i,) * 2)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    store = str(tmp_path / "pq_promo_store")
    run_stream_pq_encode(stream, books, store, str(tmp_path / "pq_promo_ckpt"))

    idx = str(tmp_path / "pq_promo_idx")
    save_pq_index_from_store(spark, sf_dir, store, idx)
    got = [tuple(r) for r in pq_topk_from_index(spark, idx, sf_dir).collect()]
    want = [tuple(r) for r in all_queries()["q200_pq_ann_topk"](spark, sf_dir).collect()]
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# fast tier: the index format and the fit determinism
# ---------------------------------------------------------------------------


def test_quantizer_fits_independent_of_input_partitioning(spark, sf_dir):
    """The IVF and PQ quantizers fit on one partition ordered by vec_id, so
    the same rows in 2 and in 7 input partitions fit identical centers and
    codebooks (the session cache treats a fit as a function of the rows)."""
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.plans.similarity import (
        _ivf_quantize,
        _pq_codebooks,
        embedding_vectors,
    )

    emb = embedding_vectors(spark, sf_dir).withColumn("vec", array_to_vector(F.col("e")))
    dim = len(emb.select("e").first()["e"])
    fits = []
    for n in (2, 7):
        rows = emb.repartition(n)
        assert rows.rdd.getNumPartitions() == n
        centers, assigned = _ivf_quantize(rows)
        assigned.unpersist()
        fits.append((centers, _pq_codebooks(spark, rows, dim)))
    assert fits[0] == fits[1]


def test_quantizer_files_round_trip(spark, tmp_path):
    """centers and books read back exactly as written, including a book
    with fewer than _PQ_K centroids and doubles that need all 17 digits."""
    import random

    from big_data_computing_final_project_spark.plans.similarity import _PQ_K
    from big_data_computing_final_project_spark.sources.ann_index import (
        read_books,
        read_centers,
        write_books,
        write_centers,
    )

    rnd = random.Random(5)
    centers = [[rnd.uniform(-1, 1) for _ in range(4)] for _ in range(12)]
    centers[3][1] = 5e-324
    write_centers(spark, centers, str(tmp_path / "centers"))
    assert read_centers(spark, str(tmp_path / "centers")) == centers

    books = [
        [[rnd.gauss(0, 1) for _ in range(2)] for _ in range(_PQ_K)],
        [[rnd.gauss(0, 1) for _ in range(2)] for _ in range(3)],
        [[1.0 / 3.0, -0.0]],
    ]
    write_books(spark, books, str(tmp_path / "books"))
    assert read_books(spark, str(tmp_path / "books")) == books


def _drop_stream(spark, sf_dir, src, n):
    """A file stream of the first ``n`` corpus embeddings, in one drop."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).select(
        ["vec_id", "embedding"]
    )
    src.mkdir()
    pq.write_table(tbl.slice(0, n), str(src / "drop_0.parquet"))
    return spark.readStream.schema("vec_id bigint, embedding array<float>").parquet(str(src))


def _rows(df):
    return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect())


def test_live_store_loads_like_its_promoted_index(spark, sf_dir, tmp_path):
    """A live IVF or PQ store loaded directly yields the same (quantizer,
    vectors) pair as the same store promoted to an index and loaded back.
    The frozen quantizers are built from corpus vectors (no fit), with one
    PQ book shorter than the others."""
    from big_data_computing_final_project_spark.plans.similarity import (
        embedding_vectors,
    )
    from big_data_computing_final_project_spark.sources.ann_index import (
        load_ivf_index,
        load_pq_index,
        save_ivf_index_from_store,
        save_pq_index_from_store,
    )
    from big_data_computing_final_project_spark.streaming.events import (
        load_ivf_store,
        load_pq_store,
        run_stream_ivf_assign,
        run_stream_pq_encode,
    )

    seeds = [r["e"] for r in embedding_vectors(spark, sf_dir).orderBy("vec_id").limit(16).collect()]
    centers = seeds[:8]
    books = [[v[m * 8 : m * 8 + 8] for v in seeds] for m in range(len(seeds[0]) // 8)]
    books[2] = books[2][:5]

    ivf_store, pq_store = str(tmp_path / "ivf_store"), str(tmp_path / "pq_store")
    run_stream_ivf_assign(
        _drop_stream(spark, sf_dir, tmp_path / "ivf_src", 120),
        centers,
        ivf_store,
        str(tmp_path / "ivf_ckpt"),
    )
    run_stream_pq_encode(
        _drop_stream(spark, sf_dir, tmp_path / "pq_src", 120),
        books,
        pq_store,
        str(tmp_path / "pq_ckpt"),
    )

    live_centers, live_lists = load_ivf_store(spark, sf_dir, ivf_store)
    save_ivf_index_from_store(spark, sf_dir, ivf_store, str(tmp_path / "ivf_idx"))
    idx_centers, idx_lists = load_ivf_index(spark, str(tmp_path / "ivf_idx"), sf_dir)
    assert live_centers == idx_centers == centers
    cols = ["vec_id", "e", "nc", "cell"]
    assert _rows(live_lists.select(cols)) == _rows(idx_lists.select(cols))
    assert live_lists.count() == 120

    live_books, live_codes = load_pq_store(spark, pq_store)
    save_pq_index_from_store(spark, sf_dir, pq_store, str(tmp_path / "pq_idx"))
    idx_books, idx_codes = load_pq_index(spark, str(tmp_path / "pq_idx"), sf_dir)
    assert live_books == idx_books == books
    cols = ["vec_id", "codes", "nc"]
    assert _rows(live_codes.select(cols)) == _rows(idx_codes.select(cols))
    assert live_codes.count() == 120
