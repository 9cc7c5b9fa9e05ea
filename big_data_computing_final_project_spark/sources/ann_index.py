"""Persisted ANN index artifacts (SURVEY.md §2.1 S3 family, round 11).

The serving lifecycle so far keeps its fitted state session-resident (the
operators/session_cache.py contract): the IVF coarse quantizer, the PQ
codebooks, and the per-vector assignments/codes die with the driver and
are re-fit by the next session. That is the right cache, but not a
deployment story — at 100 TB a quantizer is fit ONCE on a build cluster
and served by many short-lived query drivers, none of which should ever
pay (or even be able to run) the KMeans job. These functions make the
fitted index a durable artifact, the `joblib.dump(model_package, ...)`
analogue (reference `Sol_2.ipynb:915`) for the vector-serving family:

- ``save_ivf_index`` writes the coarse centroids plus the assignment
  frame laid out as the physical inverted lists: parquet PARTITIONED BY
  cell. That layout is the point — a probe joins the (tiny, broadcast)
  query->cell frame against the lists on the PARTITION column, so Spark's
  dynamic partition pruning skips every unprobed cell's files at scan
  time. The session-cached frame can never do that; the persisted index
  reads nprobe/nlist of the corpus from disk, which at 100 TB is the
  difference between a 100-TB scan and a ~6-TB one per query batch.
- ``save_pq_index`` writes the per-subspace codebooks and the encoded
  code store (vec_id, 4-bit codes, exact norm) — the 64x-compressed
  serving table q200 builds per session. A query driver reads codes +
  codebooks only; the float store is touched for rerank survivors alone.

Every save records the source table snapshot (operators/session_cache.
table_snapshot) in a meta file; load refuses an index whose source bytes
changed, the same staleness contract the session cache enforces
(ADVICE r10). Loads rebuild NOTHING: pytest pins the loaded-index
rankings row-for-row against the session-fit q64/q200.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.session_cache import table_snapshot
from .io import local_frame

_META = "_index_meta.json"


def _write_meta(index_dir: str, meta: dict) -> None:
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, _META + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(index_dir, _META))


def _read_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, _META)) as fh:
        return json.load(fh)


def _check_snapshot(index_dir: str, meta: dict, sf_dir: str | None) -> None:
    """Refuse a stale index: if the caller names the source sf_dir, the
    live table snapshot must equal the one recorded at save time."""
    if sf_dir is None:
        return
    live = [list(t) for t in table_snapshot(sf_dir, "embeddings")]
    if live != meta["snapshot"]:
        raise ValueError(
            f"index at {index_dir} was built from different embedding bytes "
            "than the given sf_dir holds now; rebuild the index"
        )


# ---------------------------------------------------------------------------
# IVF: centroids + cell-partitioned inverted lists
# ---------------------------------------------------------------------------


def save_ivf_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Persist the session's IVF index (fitting it first if this session
    never has — the fit rides the session cache, so saving from a serving
    session costs two writes, not a re-fit)."""
    from ..plans.similarity import _IVF_NLIST, _ivf_fit

    centers, assigned = _ivf_fit(spark, sf_dir)
    local_frame(
        spark, [(i, c) for i, c in enumerate(centers)], "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(index_dir, "centers"))
    # the inverted-list layout: one parquet partition per cell
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_dir, "lists")
    )
    _write_meta(
        index_dir,
        {
            "kind": "ivf",
            "nlist": _IVF_NLIST,
            "dim": len(centers[0]),
            "snapshot": [list(t) for t in table_snapshot(sf_dir, "embeddings")],
        },
    )


def load_ivf_index(
    spark: SparkSession, index_dir: str, sf_dir: str | None = None
) -> tuple[list, DataFrame]:
    """(centers, lists) in exactly the shape plans/similarity expects:
    centers as [nlist][dim] floats, lists as (vec_id, e, nc, cell). The
    lists frame is a lazy scan of the partitioned parquet — probing it
    joins on the partition column, so only probed cells' files are read."""
    meta = _read_meta(index_dir)
    if meta.get("kind") != "ivf":
        raise ValueError(f"{index_dir} holds a {meta.get('kind')} index, not ivf")
    _check_snapshot(index_dir, meta, sf_dir)
    rows = (
        spark.read.parquet(os.path.join(index_dir, "centers"))
        .orderBy("cell")
        .collect()
    )
    centers = [[float(x) for x in r["centroid"]] for r in rows]
    lists_dir = os.path.join(index_dir, "lists")
    lists = (
        spark.read.schema("vec_id bigint, e array<double>, nc double, cell int")
        .option("basePath", lists_dir)
        .parquet(lists_dir)
    )
    return centers, lists


def ivf_topk_from_index(
    spark: SparkSession, index_dir: str, sf_dir: str | None = None
) -> DataFrame:
    """q64's ranking served from the persisted index — probe and rerank
    through the SAME core as the session-fit path (ivf_probe_scored /
    ivf_topk), with zero fitting: a fresh driver can serve immediately.
    Pinned row-for-row equal to q64 in tests/test_index_persistence.py."""
    from ..plans.similarity import ivf_probe_scored, ivf_topk

    centers, lists = load_ivf_index(spark, index_dir, sf_dir)
    return ivf_topk(ivf_probe_scored(spark, centers, lists))


def save_ivf_index_from_store(
    spark: SparkSession, sf_dir: str, store_dir: str, index_dir: str
) -> None:
    """Promote a live IVF ingest store (streaming/events.
    run_stream_ivf_assign) to the servable partitioned artifact — the
    compaction-to-serving handoff of the index lifecycle: the ingest tier
    maintains (vec_id, cell) deltas and the balance monitor; when the
    index is due to ship, this folds the store, joins the float vectors
    back from the embeddings table ONCE, and writes the cell-partitioned
    inverted lists + centers that ivf_topk_from_index serves with dynamic
    partition pruning. No quantizer runs; the store's frozen centers ARE
    the index's."""
    from ..catalog import load_table
    from ..plans.similarity import as_double, norm

    from ..streaming.events import _IVF, _part

    center_rows = (
        spark.read.schema("cell int, centroid array<double>")
        .parquet(os.path.join(store_dir, "centers"))
        .orderBy("cell")
        .collect()
    )
    assign = _part(_IVF, "assign").fold(spark, store_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    lists = emb.join(assign, "vec_id").select(
        "vec_id", "e", norm(F.col("e")).alias("nc"), "cell"
    )
    local_frame(
        spark,
        [(r["cell"], [float(x) for x in r["centroid"]]) for r in center_rows],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(index_dir, "centers"))
    lists.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_dir, "lists")
    )
    _write_meta(
        index_dir,
        {
            "kind": "ivf",
            "nlist": len(center_rows),
            "dim": len(center_rows[0]["centroid"]),
            "snapshot": [list(t) for t in table_snapshot(sf_dir, "embeddings")],
        },
    )


# ---------------------------------------------------------------------------
# PQ: per-subspace codebooks + encoded code store
# ---------------------------------------------------------------------------


def save_pq_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Persist the PQ serving state q200 builds per session: the
    [m][k][sub_dim] codebooks (kilobytes) and the encoded store
    (vec_id, codes, nc) — the 64x-compressed table ADC scans instead of
    the float corpus."""
    from ..catalog import load_table
    from ..plans.similarity import _pq_books, _pq_encode_frame, as_double

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    dim = len(emb.select("e").first()["e"])
    books = _pq_books(spark, sf_dir, emb, dim)
    local_frame(
        spark,
        [(m, k, c) for m, book in enumerate(books) for k, c in enumerate(book)],
        "m int, k int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(index_dir, "books"))
    _pq_encode_frame(emb, books).write.mode("overwrite").parquet(
        os.path.join(index_dir, "codes")
    )
    _write_meta(
        index_dir,
        {
            "kind": "pq",
            "m": len(books),
            "dim": dim,
            "snapshot": [list(t) for t in table_snapshot(sf_dir, "embeddings")],
        },
    )


def save_pq_index_from_store(
    spark: SparkSession, sf_dir: str, store_dir: str, index_dir: str
) -> None:
    """Promote a live PQ ingest store (streaming/events.
    run_stream_pq_encode) to the persisted serving artifact: fold the
    code deltas, copy the frozen codebooks, record the source snapshot.
    No encode runs — the store's codes are already bit-identical to a
    batch rebuild (the shared _pq_encode_frame kernel), so the promoted
    index serves q200's exact ranking."""
    from ..streaming.events import _PQ, _part

    books = spark.read.schema("m int, k int, centroid array<double>").parquet(
        os.path.join(store_dir, "books")
    )
    codes = _part(_PQ, "codes").fold(spark, store_dir)
    n_m = books.agg(F.countDistinct("m").alias("n")).collect()[0]["n"]
    dim_row = books.orderBy("m", "k").first()
    books.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "books")
    )
    codes.write.mode("overwrite").parquet(os.path.join(index_dir, "codes"))
    _write_meta(
        index_dir,
        {
            "kind": "pq",
            "m": int(n_m),
            "dim": int(n_m) * len(dim_row["centroid"]),
            "snapshot": [list(t) for t in table_snapshot(sf_dir, "embeddings")],
        },
    )


def load_pq_index(
    spark: SparkSession, index_dir: str, sf_dir: str | None = None
) -> tuple[list, DataFrame]:
    """(books, code store) — books as [m][k][sub_dim] floats, store as
    (vec_id, codes, nc)."""
    meta = _read_meta(index_dir)
    if meta.get("kind") != "pq":
        raise ValueError(f"{index_dir} holds a {meta.get('kind')} index, not pq")
    _check_snapshot(index_dir, meta, sf_dir)
    rows = spark.read.parquet(os.path.join(index_dir, "books")).collect()
    by_m: dict = {}
    for r in rows:
        by_m.setdefault(r["m"], {})[r["k"]] = [float(x) for x in r["centroid"]]
    books = [
        [by_m[m][k] for k in sorted(by_m[m])] for m in sorted(by_m)
    ]
    store = spark.read.schema("vec_id bigint, codes array<int>, nc double").parquet(
        os.path.join(index_dir, "codes")
    )
    return books, store


def pq_topk_from_index(
    spark: SparkSession, index_dir: str, sf_dir: str
) -> DataFrame:
    """q200's ranking served from the persisted index: ADC over the
    loaded code store, exact rerank over the float table (rerank I/O is
    O(queries x shortlist), the only float touch). Shares q200's scoring
    core (_pq_adc_rank); pinned row-for-row equal to q200."""
    from ..catalog import load_table
    from ..plans.similarity import _pq_adc_rank, as_double

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    books, store = load_pq_index(spark, index_dir, sf_dir)
    return _pq_adc_rank(spark, emb, books, store)
