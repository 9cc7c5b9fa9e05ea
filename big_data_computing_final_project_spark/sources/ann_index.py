"""The vector-index format: quantizer files, index meta and persisted ANN
indexes (SURVEY.md §2.1 S3 family).

This module is the one place that knows how a vector index is laid out on
disk. Three sources produce an index, and each yields the same pair:

- the session fit (plans/similarity._ivf_fit / _pq_books);
- a persisted index (``load_ivf_index`` / ``load_pq_index`` below);
- a live ingest store (streaming/events.load_ivf_store / load_pq_store).

For IVF the pair is ``(centers, lists)``: the [nlist][dim] coarse
centroids and the (vec_id, e, nc, cell) inverted lists. For PQ it is
``(books, codes)``: the [m][k][sub_dim] codebooks and the (vec_id, codes,
nc) code store. One writer and one reader per file kind serve every
source:

- ``centers``: ``cell int, centroid array<double>``, one row per cell;
- ``books``: ``m int, k int, centroid array<double>``, one row per
  centroid (a degenerate subspace fit may hold fewer than K);
- ``_index_meta.json``: kind, shape and the source table snapshot.

A persisted index is the fitted model bundle, the analogue of
``joblib.dump(model_package, ...)`` (reference ``Sol_2.ipynb:915``): a
build cluster fits once and serving sessions load it without running
KMeans.

- An IVF index holds ``centers`` plus the lists as parquet PARTITIONED BY
  cell. A probe joins the small query->cell frame against the lists on
  the partition column, so dynamic partition pruning reads only the
  probed cells' files: nprobe/nlist of the corpus.
- A PQ index holds ``books`` plus the code store, the 64x-compressed
  table ADC scans; the float vectors are read for rerank survivors only.

Every save records the source table snapshot (operators/session_cache.
table_snapshot); a load given the source ``sf_dir`` refuses an index
whose source bytes changed, the staleness contract of the session cache.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.session_cache import table_snapshot
from .io import local_frame

_CENTERS = "cell int, centroid array<double>"
_BOOKS = "m int, k int, centroid array<double>"
_LISTS = "vec_id bigint, e array<double>, nc double, cell int"
CODES_SCHEMA = "vec_id bigint, codes array<int>, nc double"
_META = "_index_meta.json"


def centers_frame(spark: SparkSession, centers: list) -> DataFrame:
    """The [nlist][dim] centroids as a (cell, centroid) frame."""
    return local_frame(
        spark, [(i, [float(x) for x in c]) for i, c in enumerate(centers)], _CENTERS
    )


def write_centers(spark: SparkSession, centers: list, path: str) -> None:
    centers_frame(spark, centers).coalesce(1).write.mode("overwrite").parquet(path)


def read_centers(spark: SparkSession, path: str) -> list:
    """The centroids as [nlist][dim] floats, in cell order."""
    rows = spark.read.schema(_CENTERS).parquet(path).orderBy("cell").collect()
    return [[float(x) for x in r["centroid"]] for r in rows]


def write_books(spark: SparkSession, books: list, path: str) -> None:
    rows = [
        (m, k, [float(x) for x in c]) for m, book in enumerate(books) for k, c in enumerate(book)
    ]
    local_frame(spark, rows, _BOOKS).coalesce(1).write.mode("overwrite").parquet(path)


def read_books(spark: SparkSession, path: str) -> list:
    """The codebooks as [m][k][sub_dim] floats; each book keeps its own
    length."""
    by_m: dict = {}
    for r in spark.read.schema(_BOOKS).parquet(path).collect():
        by_m.setdefault(r["m"], {})[r["k"]] = [float(x) for x in r["centroid"]]
    return [[by_m[m][k] for k in sorted(by_m[m])] for m in sorted(by_m)]


def _write_meta(index_dir: str, sf_dir: str, kind: str, **shape: int) -> None:
    meta = {
        "kind": kind,
        **shape,
        "snapshot": [list(t) for t in table_snapshot(sf_dir, "embeddings")],
    }
    tmp = os.path.join(index_dir, _META + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(index_dir, _META))


def _check_meta(index_dir: str, kind: str, sf_dir: str | None) -> None:
    """Refuse an index of another kind, and, if the caller names the
    source sf_dir, one whose recorded table snapshot is not the live one."""
    with open(os.path.join(index_dir, _META)) as fh:
        meta = json.load(fh)
    if meta.get("kind") != kind:
        raise ValueError(f"{index_dir} holds a {meta.get('kind')} index, not {kind}")
    if sf_dir is not None and meta["snapshot"] != [
        list(t) for t in table_snapshot(sf_dir, "embeddings")
    ]:
        raise ValueError(
            f"index at {index_dir} was built from different embedding bytes "
            "than the given sf_dir holds now; rebuild the index"
        )


# ---------------------------------------------------------------------------
# IVF: centroids + cell-partitioned inverted lists
# ---------------------------------------------------------------------------


def _save_ivf(
    spark: SparkSession, sf_dir: str, index_dir: str, centers: list, lists: DataFrame
) -> None:
    write_centers(spark, centers, os.path.join(index_dir, "centers"))
    lists.write.mode("overwrite").partitionBy("cell").parquet(os.path.join(index_dir, "lists"))
    _write_meta(index_dir, sf_dir, "ivf", nlist=len(centers), dim=len(centers[0]))


def save_ivf_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Persist the session's IVF index. The fit rides the session cache,
    so saving from a serving session costs two writes, not a re-fit."""
    from ..plans.similarity import _ivf_fit

    _save_ivf(spark, sf_dir, index_dir, *_ivf_fit(spark, sf_dir))


def save_ivf_index_from_store(
    spark: SparkSession, sf_dir: str, store_dir: str, index_dir: str
) -> None:
    """Promote a live IVF ingest store (streaming/events.
    run_stream_ivf_assign) to the servable partitioned index. No quantizer
    runs: the store's frozen centers are the index's."""
    from ..streaming.events import load_ivf_store

    _save_ivf(spark, sf_dir, index_dir, *load_ivf_store(spark, sf_dir, store_dir))


def load_ivf_index(
    spark: SparkSession, index_dir: str, sf_dir: str | None = None
) -> tuple[list, DataFrame]:
    """(centers, lists). The lists frame is a lazy scan of the partitioned
    parquet: probing it joins on the partition column, so only probed
    cells' files are read."""
    _check_meta(index_dir, "ivf", sf_dir)
    lists_dir = os.path.join(index_dir, "lists")
    lists = spark.read.schema(_LISTS).option("basePath", lists_dir).parquet(lists_dir)
    return read_centers(spark, os.path.join(index_dir, "centers")), lists


def ivf_topk_from_index(
    spark: SparkSession, index_dir: str, sf_dir: str | None = None
) -> DataFrame:
    """q64's ranking served from the persisted index through the session
    fit's probe-and-rerank core, with no fitting."""
    from ..plans.similarity import cos_topk, ivf_probe_scored

    return cos_topk(ivf_probe_scored(spark, *load_ivf_index(spark, index_dir, sf_dir)))


# ---------------------------------------------------------------------------
# PQ: per-subspace codebooks + encoded code store
# ---------------------------------------------------------------------------


def _save_pq(
    spark: SparkSession, sf_dir: str, index_dir: str, books: list, codes: DataFrame
) -> None:
    write_books(spark, books, os.path.join(index_dir, "books"))
    codes.write.mode("overwrite").parquet(os.path.join(index_dir, "codes"))
    _write_meta(index_dir, sf_dir, "pq", m=len(books), dim=len(books) * len(books[0][0]))


def save_pq_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Persist the PQ serving state q200 builds per session: the codebooks
    and the encoded store."""
    from ..plans.similarity import _pq_books, _pq_encode_frame, embedding_vectors

    emb = embedding_vectors(spark, sf_dir)
    books = _pq_books(spark, sf_dir, emb, len(emb.select("e").first()["e"]))
    _save_pq(spark, sf_dir, index_dir, books, _pq_encode_frame(emb, books))


def save_pq_index_from_store(
    spark: SparkSession, sf_dir: str, store_dir: str, index_dir: str
) -> None:
    """Promote a live PQ ingest store (streaming/events.
    run_stream_pq_encode) to the persisted index. No encode runs: the
    store's codes come from the same kernel as a batch rebuild."""
    from ..streaming.events import load_pq_store

    _save_pq(spark, sf_dir, index_dir, *load_pq_store(spark, store_dir))


def load_pq_index(
    spark: SparkSession, index_dir: str, sf_dir: str | None = None
) -> tuple[list, DataFrame]:
    """(books, codes)."""
    _check_meta(index_dir, "pq", sf_dir)
    codes = spark.read.schema(CODES_SCHEMA).parquet(os.path.join(index_dir, "codes"))
    return read_books(spark, os.path.join(index_dir, "books")), codes


def pq_topk_from_index(spark: SparkSession, index_dir: str, sf_dir: str) -> DataFrame:
    """q200's ranking served from the persisted index through q200's
    ADC-shortlist and exact-rerank core."""
    from ..plans.similarity import _pq_adc_rank, embedding_vectors

    books, codes = load_pq_index(spark, index_dir, sf_dir)
    return _pq_adc_rank(spark, embedding_vectors(spark, sf_dir), books, codes)
