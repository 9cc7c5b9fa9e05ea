"""Seeded benchmark inputs, generated into the benchmark's own work directory.

The engine only ever sees the files written here. Two kinds of input:

- the base tables (``customer``, ``orders``, ``embeddings``, ``documents``)
  in the schema of the test data in ``TESTDATA.md``, with its value
  distributions (see ``ROWS``, ``SF01`` and README.md), drawn from a fixed
  generator seed so the ML fits do the same work on every run;
- the per-seed stream corpus: a 10x replica of the first ``STREAM_DOCS``
  base documents (copy ``i`` of doc ``d`` gets ``doc_id = d * 10 + i``;
  copies ``i > 0`` append a seed-chosen tag word, the remap of
  ``tools/sf1x_stress.ensure_data`` with seeded tags), cut into parquet
  drops at seed-chosen split points. Drops stay in ``doc_id`` order, which
  the dup-flow store's contract requires.

Each input lives in a directory keyed by the generator's own source digest
(and the seed, for the stream corpus) and is reused when already present.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

# Row counts: the sf0.01 test data, except ``embeddings`` at
# its sf0.1 count (2,000 rows cost the ML ops little more than 500). At the
# sf0.1 counts of customer and orders (15,000 and 150,000) q49's warm time
# rose by about a quarter, which the run budget has no room for.
ROWS = {"customer": 1_500, "orders": 15_000, "embeddings": 2_000, "documents": 500}
# Shape of the sf0.1 test data (sf0.01 measures the same),
# measured with DuckDB over its parquet files; every table is drawn from it.
SF01 = {
    # documents: words per text uniform on [10, 100] (quartiles 32/54/76),
    # drawn uniformly from the 30-word vocabulary below
    "doc_words": (10, 100),
    # 250 of 5,000 docs are another doc's text plus " dup"; 8 are an exact
    # copy of another doc
    "near_dup_rate": 250 / 5_000,
    "exact_dup_rate": 8 / 5_000,
    # 2,059 of 5,000 docs are "en", the other four languages ~740 each
    "en_share": 2_059 / 5_000,
}
STREAM_DOCS = 100
COPIES = 10
N_DROPS = 2
DIM = 64

_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _snapshot() -> str:
    """Digest of this file: a change to the generator invalidates the cache."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _publish(tmp: str, final: str) -> None:
    """Rename a fully written directory into place; a run killed mid-write
    leaves only a ``.tmp`` directory, which the next run overwrites."""
    if os.path.exists(final):
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _days(rng: np.random.Generator, n: int, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    lo, hi = SF01["doc_words"]
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    orig, pos = [], 0
    for k in lens:
        orig.append(" ".join(_WORDS[w] for w in words[pos : pos + k]))
        pos += k
    out = list(orig)
    # near-dups (another doc's text plus " dup") and exact copies, so the
    # dup-flow store has edges; the source doc may come before or after
    picked = rng.choice(
        n, round(n * SF01["near_dup_rate"]) + round(n * SF01["exact_dup_rate"]), replace=False
    )
    n_near = round(n * SF01["near_dup_rate"])
    for j, i in enumerate(picked):
        src = int(rng.integers(0, n - 1))
        src += src >= i
        out[i] = f"{orig[src]} dup" if j < n_near else orig[src]
    return out


def _base_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_ord, n_vec, n_doc = (
        ROWS[t] for t in ("customer", "orders", "embeddings", "documents")
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    # unit vectors with labels drawn independently of them: the sf0.1 label
    # centroids have norm ~0.07, what 200 random unit vectors give in 64-d
    vecs = rng.normal(0.0, 1.0, (n_vec, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    texts = _doc_texts(rng, n_doc)
    other = (1.0 - SF01["en_share"]) / 4
    langs = rng.choice(len(_LANGS), n_doc, p=[SF01["en_share"]] + [other] * 4)
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in langs],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return {
        "customer": customer,
        "orders": orders,
        "embeddings": embeddings,
        "documents": documents,
    }


def ensure_base(work: str) -> str:
    """The base tables as an sf_dir (one ``<table>.parquet`` per table)."""
    final = os.path.join(work, "inputs", f"base-{_snapshot()}")
    if not os.path.exists(final):
        tmp = _fresh(final + ".tmp")
        for name, table in _base_tables().items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        _publish(tmp, final)
    return final


def ensure_stream(work: str, base_dir: str, seed: int) -> tuple[str, str, int]:
    """The seed's 10x document replica and its drops.

    Returns ``(corpus_dir, drops_dir, n_docs)``: ``corpus_dir`` is an sf_dir
    holding the whole replica as ``documents.parquet`` (the batch twins'
    input) and ``drops_dir`` the same rows cut into ``N_DROPS`` files whose
    mtimes ascend in ``doc_id`` order."""
    final = os.path.join(work, "inputs", f"stream-{_snapshot()}-seed{seed}")
    corpus, drops = os.path.join(final, "corpus"), os.path.join(final, "drops")
    if not os.path.exists(final):
        rng = np.random.default_rng(seed)
        docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
        docs = docs.slice(0, STREAM_DOCS).to_pydict()
        tags = [f"t{v:05x}" for v in rng.integers(0, 1 << 20, COPIES)]
        rows = []
        for d, text, lang, source in zip(
            docs["doc_id"], docs["text"], docs["lang"], docs["source"]
        ):
            for i in range(COPIES):
                t = text if i == 0 else f"{text} {tags[i]}"
                rows.append((d * COPIES + i, t, lang, source, len(t)))
        table = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
                "source": [r[3] for r in rows],
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        )
        tmp = _fresh(final + ".tmp")
        os.makedirs(os.path.join(tmp, "corpus"))
        os.makedirs(os.path.join(tmp, "drops"))
        pq.write_table(table, os.path.join(tmp, "corpus", "documents.parquet"))
        n = table.num_rows
        # split points: each drop holds between 3/4 and 5/4 of its even share
        even = n // N_DROPS
        sizes = rng.integers(even * 3 // 4, even * 5 // 4, N_DROPS - 1)
        cuts = [0, *np.cumsum(sizes).tolist(), n]
        stamp = 1_600_000_000
        for k in range(N_DROPS):
            path = os.path.join(tmp, "drops", f"drop_{k:03d}.parquet")
            pq.write_table(table.slice(cuts[k], cuts[k + 1] - cuts[k]), path)
            os.utime(path, (stamp + 10 * k, stamp + 10 * k))
        _publish(tmp, final)
    n_docs = pq.read_metadata(os.path.join(corpus, "documents.parquet")).num_rows
    return corpus, drops, n_docs
