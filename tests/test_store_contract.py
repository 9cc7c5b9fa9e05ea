"""The staged-store contract, checked once for every declared store.

Each store in streaming/events.py is declared as a _Store: a tuple of parts
(sub-dir, read schema, merge) and a per-batch step. test_store_contract
stages hand-made deltas for every part of every compactable store, compacts,
and checks what the ingests and folds rely on: one delta per part at the max
batch id, a merge that reads the same before and after, the floor marker
inside the store, the raw-id remap above it, and crash healing between the
compaction's two renames — both on read and on the next compaction.
test_declared_step_contract drives every store's step on static frames;
the last tests check the monitor log ids and the upsert sink's swap."""

from __future__ import annotations

import os
import re
from decimal import Decimal
from typing import NamedTuple

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_computing_final_project_spark.streaming import events as E

# store name -> (its public compaction, its declaration)
STORES = {
    "kept": (E.compact_kept_store, E._KEPT),
    "volume": (E.compact_volume_store, E._VOLUME),
    "fert": (E.compact_fert_store, E._FERT),
    "shingles": (E.compact_shingle_store, E._SHINGLES),
    "decode_health": (E.compact_decode_health_store, E._HEALTH),
    "cdc": (E.compact_cdc_store, E._CDC),
    "near_dup_labels": (E.compact_near_dup_labels_store, E._ND_LABELS),
    "counts": (E.compact_counts_store, E._psi_counts([])),
    "counts_by_key": (
        lambda spark, d: E.compact_counts_store(spark, d, ["key"]),
        E._psi_counts(["key"]),
    ),
    "dup_flow": (E.compact_dup_flow_store, E._DUP_FLOW),
    "lsh_dedup": (E.compact_lsh_dedup_store, E._LSH),
    "basket": (E.compact_basket_store, E._BASKET),
    "revenue_monitor": (E.compact_revenue_monitor_store, E._REVENUE),
    "attribution": (E.compact_attribution_store, E._ATTRIBUTION),
    "ivf_assign": (E.compact_ivf_assign_store, E._IVF),
    "pq_code": (E.compact_pq_code_store, E._PQ),
}


def test_every_public_compaction_is_in_the_table():
    public = {n for n in dir(E) if n.startswith("compact_") and n.endswith("_store")}
    covered = {fn.__name__ for fn, _ in STORES.values()} - {"<lambda>"}
    assert public == covered


def _value(dtype, i: int, first: bool):
    """A deterministic cell of ``dtype`` for row ``i``. The first column and
    every string take few distinct values, so key groups span deltas; other
    numbers are unique per row (CDC's seq must be unique per key)."""
    if isinstance(dtype, T.StringType):
        return f"s{i % 2}"
    if isinstance(dtype, (T.IntegerType, T.LongType)):
        return i % 3 if first else i
    if isinstance(dtype, T.DoubleType):
        return i + 0.5
    if isinstance(dtype, T.DecimalType):
        return Decimal(i)
    if isinstance(dtype, T.ArrayType):
        return [_value(dtype.elementType, i, False)]
    assert isinstance(dtype, T.StructType), dtype
    return tuple(_value(f.dataType, i, False) for f in dtype.fields)


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _deltas(path: str) -> list[str]:
    return sorted(d for d in os.listdir(path) if d.startswith("batch_id="))


@pytest.mark.parametrize("name", sorted(STORES))
def test_store_contract(spark, tmp_path, name):
    compact, decl = STORES[name]
    parts = decl.parts
    store = str(tmp_path / name)
    for part in parts:
        fields = spark.createDataFrame([], part.schema).schema.fields
        for d in range(3):
            rows = [
                tuple(_value(f.dataType, 4 * d + r, j == 0) for j, f in enumerate(fields))
                for r in range(4)
            ]
            E._stage(spark.createDataFrame(rows, part.schema), part.path(store), d)
    before = {part.sub: _rows(part.fold(spark, store)) for part in parts}

    compact(spark, store)
    for part in parts:
        assert _deltas(part.path(store)) == ["batch_id=2"], part.sub
        assert _rows(part.fold(spark, store)) == before[part.sub], part.sub
    assert os.path.exists(os.path.join(store, "_compaction_floor"))
    assert E._read_compaction_floor(store) == 2
    assert E._effective_batch_id(store, 0, decl) == 3

    # a compaction that died between its two renames: the live part is
    # gone and `.old` holds its history
    for part in parts:
        live = part.path(store)
        os.rename(live, live + ".old")
        # part.fold reads through _read_store_deltas
        assert _rows(part.fold(spark, store)) == before[part.sub], part.sub
        assert not os.path.exists(live + ".old")
        os.rename(live, live + ".old")
        compact(spark, store)
        assert _deltas(live) == ["batch_id=2"], part.sub
        assert _rows(part.fold(spark, store)) == before[part.sub], part.sub
    assert E._read_compaction_floor(store) == 2


def _write_delta(spark, rows, schema: str, path: str, batch_id: int) -> None:
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(path, f"batch_id={batch_id}")
    )


def test_basket_and_revenue_folds_heal_a_crashed_compaction(spark, tmp_path):
    """basket_rules_from_store and revenue_anomalies_from_store read their
    parts through the healing reader: after a compaction crashed between
    its renames (the live part renamed to `<part>.old`), each fold equals
    the fold before the crash instead of failing or reading empty."""
    basket = str(tmp_path / "basket")
    for d in range(3):
        _write_delta(
            spark,
            [(1, 2, 2 + d), (1, 3, 1), (2, 3, 2)],
            "p1 bigint, p2 bigint, n_both bigint",
            os.path.join(basket, "pairs"),
            d,
        )
        _write_delta(
            spark, [(1, 3), (2, 2 + d), (3, 2)], "p bigint, n_p bigint", os.path.join(basket, "items"), d
        )
        _write_delta(spark, [(4 + d,)], "n_orders bigint", os.path.join(basket, "baskets"), d)
    want = _rows(E.basket_rules_from_store(spark, basket, min_both=1))
    assert len(want) == 6
    for sub in ("pairs", "items", "baskets"):
        live = os.path.join(basket, sub)
        os.rename(live, live + ".old")
        assert _rows(E.basket_rules_from_store(spark, basket, min_both=1)) == want, sub

    revenue = str(tmp_path / "revenue")
    partials = os.path.join(revenue, "partials")
    for d in range(3):
        _write_delta(
            spark,
            [(day, 10_000 * (100 + day % 7 + (900 if day == 35 else 0))) for day in range(d, 40, 3)],
            "day_idx int, u_partial bigint",
            partials,
            d,
        )
    want = _rows(E.revenue_anomalies_from_store(spark, revenue))
    assert want  # the day-35 spike flags
    os.rename(partials, partials + ".old")
    assert _rows(E.revenue_anomalies_from_store(spark, revenue)) == want


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(df) -> list[str]:
    """The shuffle ``Exchange`` nodes of ``df``'s physical plan, with their
    partitioning (BroadcastExchange and ReusedExchange do not match)."""
    return re.findall(r"\bExchange \w+", _plan(df))


def test_small_store_folds_run_on_one_partition(spark, tmp_path):
    """A store below the advisory partition size reads as one partition, so
    its folds plan no shuffle: q146's fold holds no Exchange at all and
    q157's only broadcasts. Past the advisory size the same fold shuffles
    again with the same rows, and the dup-flow step's ``batch_id < N``
    keeper lookup still prunes partitions through the coalesce."""
    flow, volume = str(tmp_path / "flow"), str(tmp_path / "volume")
    deltas = {
        (flow, E._DUP_FLOW.part("keepers")): [
            [("f1", "srcA", 1), ("f2", "srcB", 2)],
            [("f3", "srcA", 5)],
            [("f4", "srcC", 8)],
        ],
        (flow, E._DUP_FLOW.part("edges")): [
            [("f1", "srcA", "srcB", 1)],
            [("f1", "srcA", "srcC", 2), ("f2", "srcB", "srcA", 1)],
            [("f3", "srcA", "srcA", 1)],
        ],
        (volume, E._VOLUME.part()): [
            [("srcA", "en", 2, 20, 100), ("srcB", "de", 1, 7, 40)],
            [("srcA", "en", 3, 30, 150), ("srcC", "en", 2, 9, 60)],
            [("srcB", "de", 2, 11, 70)],
        ],
    }
    for (store, part), batches in deltas.items():
        for d, rows in enumerate(batches):
            E._stage(spark.createDataFrame(rows, part.schema), part.path(store), d)

    matrix = E.dup_flow_matrix_from_store(spark, flow)
    assert "Exchange" not in _plan(matrix)
    assert _shuffles(E.report_card_from_store(spark, volume, flow)) == []
    want = _rows(matrix)

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "1")
    try:
        wide = E.dup_flow_matrix_from_store(spark, flow)
        assert any("hashpartitioning" in s for s in _shuffles(wide))
        assert _rows(wide) == want
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    lookup = E._DUP_FLOW.part("keepers").read(spark, flow).where(F.col("batch_id") < 2)
    plan = _plan(lookup)
    assert "Coalesce" in plan
    assert re.search(r"PartitionFilters: \[[^\]]*batch_id", plan), plan
    assert sorted(r.fp for r in lookup.collect()) == ["f1", "f2", "f3"]


# -- the declared steps, driven through the runner's helper ------------------
#
# Each case runs three static batches through a store's step with
# E._ingest (heal, remap, step) — no streaming query — and checks every
# part's fold: compaction between batches 1 and 2 gives the fold of an
# uncompacted run; reversed arrival gives the same fold (except for the two
# arrival-order stores); and a replay of raw id 0 after the compaction lands
# above the floor, leaving the fold unchanged or, for an additive part,
# counting batch 0 exactly once more (the section's bounded double count).

ND = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong coffee near the old stone bridge"
)
TEXTS = [
    (1, ND, "srcA"),
    (2, ND.upper(), "srcB"),
    (3, ND + " tonight", "srcB"),
    (4, "shared text one", "srcC"),
    (5, ND + " tonight again", "srcC"),
    (6, "Shared Text One", "srcA"),
    (7, "completely unrelated tiny text", "srcA"),
    (8, None, "srcB"),
    (9, "shared text one again", "srcB"),
]


class _Src(tuple):
    """A static stand-in for a streaming source: ((raw_id, frame), ...)."""

    @property
    def sparkSession(self):
        return self[0][1].sparkSession


@pytest.fixture
def static_runner(monkeypatch):
    """Replace foreachBatch with a driver-side loop over a _Src's frames, so
    the public run_stream_* entries run on static frames."""

    def run(src, fn, checkpoint_dir, timeout_sec, label, output_mode=None):
        for batch_id, frame in src:
            fn(frame, batch_id)

    monkeypatch.setattr(E, "_run_foreach_batch", run)


def _thirds(spark, schema: str, rows: list) -> list:
    return [spark.createDataFrame(rows[i::3], schema) for i in range(3)]


def _docs(spark, cols: str):
    """The planted texts as (doc_id, text, source, n_toks, fp) batches,
    projected to ``cols``."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions import text as X

    frames = _thirds(spark, "doc_id bigint, text string, source string", TEXTS)
    return [
        f.select(
            "*",
            X.token_count(F.col("text")).cast("bigint").alias("n_toks"),
            X.fingerprint(F.col("text")).alias("fp"),
        ).select(*cols.split())
        for f in frames
    ]


def _vector_store(spark, kind: str):
    """The IVF or PQ store with its step, as run_stream_ivf_assign and
    run_stream_pq_encode build it."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.plans import similarity as S

    if kind == "ivf":
        centers = [[1.0, 0.0], [0.0, 1.0], [-1.0, -1.0]]
        cell_of = S.ivf_cell_udf(centers)
        args = (
            E._IVF,
            E._IVF_LOG,
            "",
            ("centers", lambda s, path: E.write_centers(s, centers, path)),
            lambda new: new.select("vec_id", cell_of(F.col("e")).alias("cell")),
            [F.col("cell")],
            None,
        )
    else:
        books = [[[1.0], [-1.0]], [[0.5], [-0.5], [0.0]]]
        args = (
            E._PQ,
            E._PQ_LOG,
            "",
            ("books", lambda s, path: E.write_books(s, books, path)),
            lambda new: S._pq_encode_frame(new, books),
            [F.posexplode("codes").alias("m", "code")],
            None,
        )
    return E._vector_ingest(*args)["steps"][0][0]


def _vectors(spark):
    rows = [(i, [float((i * 7) % 5 - 2), float((i * 3) % 4 - 1.5)]) for i in range(12)]
    return _thirds(spark, "vec_id bigint, embedding array<float>", rows)


def _events(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 20)
    rows = [
        (i, t0 + dt.timedelta(hours=9 * i), i % 2, ("click", "view", "purchase")[i % 3],
         float(i), '{"k": %d}' % (i % 4))
        for i in range(18)
    ]
    schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    )
    # time-ordered drops: the attribution store's arrival contract
    return [spark.createDataFrame(rows[6 * i : 6 * i + 6], schema) for i in range(3)]


def _media(spark):
    from _fixtures import planted_media_table

    return [
        spark.createDataFrame(
            planted_media_table([(i, "srcA" if i % 2 else "srcB") for i in r]).to_pandas()
        )
        for r in (range(0, 8), range(8, 16), range(16, 24))
    ]


def _orders(spark):
    import datetime as dt

    rows = [(dt.datetime(2024, 1, 1) + dt.timedelta(days=i % 9), 100.0 + i) for i in range(18)]
    return _thirds(spark, "o_orderdate timestamp_ntz, o_totalprice double", rows)


def _entry_step(entry):
    """A step driven through a public entry (its step is a closure there)."""

    def ingest(batch, batch_id, store_dir):
        entry(_Src([(batch_id, batch)]), store_dir)

    return ingest


class Case(NamedTuple):
    parts: tuple
    ingest: object  # (batch, raw_id, store_dir) -> None
    frames: object  # spark -> three batches
    compact: object = None  # (spark, store_dir) -> None; None: never compacted
    double: frozenset = frozenset()  # subs whose replay counts batch 0 again
    ordered: bool = False  # the fold depends on arrival order


def _by(store):
    return lambda batch, batch_id, store_dir: E._ingest(store, batch, batch_id, store_dir)


def _labels_via_lsh(batch, batch_id, labels_dir):
    from functools import partial

    lsh = E._LSH._replace(step=partial(E._lsh_step, labels_dir=labels_dir))
    E._ingest(lsh, batch, batch_id, labels_dir + "_lsh")


def _cases(spark) -> dict:
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.plans.cdc import CDC_OPS_SCHEMA

    checks = {"neg": F.col("value") < 0, "late": F.col("value") > 10}
    dim = spark.createDataFrame([(i,) for i in range(4)], "pk bigint")
    ck = "unused-checkpoint"
    return {
        "kept": Case(E._KEPT.parts, _by(E._KEPT), lambda s: _docs(s, "source n_toks"),
                     E.compact_kept_store, frozenset({None})),
        "volume": Case(
            E._VOLUME.parts, _by(E._VOLUME),
            lambda s: [d.withColumn("lang", F.lit("en")).withColumn("n_chars", F.col("n_toks") * 5)
                       for d in _docs(s, "source n_toks")],
            E.compact_volume_store, frozenset({None})),
        "fert": Case(E._FERT.parts, _by(E._FERT), lambda s: _docs(s, "source text n_toks"),
                     E.compact_fert_store, frozenset({None})),
        "shingles": Case(E._SHINGLES.parts, _by(E._SHINGLES), lambda s: _docs(s, "source text"),
                         E.compact_shingle_store, frozenset({None})),
        "decode_health": Case(E._HEALTH.parts, _by(E._HEALTH), _media,
                              E.compact_decode_health_store, frozenset({None})),
        "cdc": Case(
            E._CDC.parts, _by(E._CDC),
            lambda s: _thirds(s, CDC_OPS_SCHEMA,
                              [(i % 4, i, "IUD"[i % 3], "OF"[i % 2], float(i)) for i in range(15)]),
            E.compact_cdc_store),
        "near_dup_labels": Case(E._ND_LABELS.parts, _labels_via_lsh,
                                lambda s: _docs(s, "doc_id text source n_toks"),
                                E.compact_near_dup_labels_store),
        "counts": Case(
            E._psi_counts([]).parts, _by(E._psi_counts([])),
            lambda s: _thirds(s, "bin int", [(i % 4,) for i in range(15)]),
            E.compact_counts_store, frozenset({None})),
        "counts_by_key": Case(
            E._psi_counts(["key"]).parts, _by(E._psi_counts(["key"])),
            lambda s: _thirds(s, "key string, bin int", [(f"k{i % 2}", i % 3) for i in range(15)]),
            lambda spark, d: E.compact_counts_store(spark, d, ["key"]), frozenset({None})),
        "dup_flow": Case(E._DUP_FLOW.parts, _by(E._DUP_FLOW), lambda s: _docs(s, "doc_id source fp"),
                         E.compact_dup_flow_store, frozenset({"edges"}), ordered=True),
        "lsh_dedup": Case(E._LSH.parts, _by(E._LSH), lambda s: _docs(s, "doc_id text"),
                          E.compact_lsh_dedup_store),
        "basket": Case(
            E._BASKET.parts, _by(E._BASKET),
            lambda s: _thirds(s, "l_orderkey bigint, l_partkey bigint",
                              [(o, p) for o in range(9) for p in range(o % 3, o % 3 + 3)]),
            E.compact_basket_store, frozenset({"pairs", "items", "baskets"})),
        "revenue_monitor": Case(E._REVENUE.parts, _by(E._REVENUE), _orders,
                                E.compact_revenue_monitor_store, frozenset({"partials"})),
        "attribution": Case(E._ATTRIBUTION.parts, _by(E._ATTRIBUTION), _events,
                            E.compact_attribution_store, frozenset({"revenue"}), ordered=True),
        "ivf_assign": Case(E._IVF.parts, _by(_vector_store(spark, "ivf")), _vectors,
                           E.compact_ivf_assign_store),
        "pq_code": Case(E._PQ.parts, _by(_vector_store(spark, "pq")), _vectors,
                        E.compact_pq_code_store),
        # never compacted: no floor, so every raw id is its own delta
        "tdigest": Case(E._DIGESTS.parts, _by(E._digests("k", "v", 50.0)),
                        lambda s: _thirds(s, "k string, v double",
                                          [(f"k{i % 2}", float(i)) for i in range(15)])),
        "heavy_hitters": Case(
            E._HEAVY_HITTERS.parts,
            _entry_step(lambda src, d: E.run_stream_heavy_hitters(src, "toks", d, ck, capacity=3)),
            lambda s: _thirds(s, "toks array<string>", [([f"t{i % 4}", f"t{i % 5}"],) for i in range(15)])),
        "dq_audit": Case(
            E._DQ.parts, _entry_step(lambda src, d: E.run_stream_dq_audit(src, checks, d, ck)),
            lambda s: _thirds(s, "value double", [(float(i - 3),) for i in range(15)])),
        "integrity": Case(
            E._INTEGRITY.parts,
            _entry_step(lambda src, d: E.run_stream_integrity_audit(src, "fk", dim, "pk", d, ck)),
            lambda s: _thirds(s, "fk bigint", [(i % 6 if i % 4 else None,) for i in range(15)])),
    }


CASES = [
    "kept", "volume", "fert", "shingles", "decode_health", "cdc", "near_dup_labels", "counts",
    "counts_by_key", "dup_flow", "lsh_dedup", "basket", "revenue_monitor", "attribution",
    "ivf_assign", "pq_code", "tdigest", "heavy_hitters", "dq_audit", "integrity",
]


def test_every_declared_store_has_a_step_case(spark):
    cases = _cases(spark)
    assert sorted(cases) == sorted(CASES)
    declared = {id(v.parts) for v in vars(E).values() if isinstance(v, E._Store)}
    assert declared <= {id(c.parts) for c in cases.values()}


@pytest.mark.parametrize("name", CASES)
def test_declared_step_contract(spark, tmp_path, static_runner, name):
    case = _cases(spark)[name]
    batches = case.frames(spark)

    def run(store_dir: str, order, compact_after: int | None = None) -> str:
        for raw_id, batch in enumerate(order):
            case.ingest(batch, raw_id, store_dir)
            if raw_id == compact_after:
                case.compact(spark, store_dir)
        return store_dir

    def folds(store_dir: str) -> dict:
        return {p.sub: _rows(p.fold(spark, store_dir)) for p in case.parts}

    # the uncompacted reference arrives reversed unless the store depends on
    # arrival order; ``first`` is the raw id batch 0 got there
    order = batches if case.ordered else batches[::-1]
    first = order.index(batches[0])
    ref = run(str(tmp_path / "reference"), order)
    want = folds(ref)
    assert any(want.values()), name
    if case.compact is None:
        forward = run(str(tmp_path / "forward"), batches)
        assert folds(forward) == want, "arrival order"
        case.ingest(batches[0], 0, forward)  # no floor: overwrites its own delta
        assert folds(forward) == want, "replay"
        return

    compacted = run(str(tmp_path / "compacted"), batches, compact_after=1)
    assert folds(compacted) == want, "compaction (and arrival order)"
    assert E._read_compaction_floor(compacted) == 1
    case.ingest(batches[0], 0, compacted)  # the folded-id replay, remapped to 2
    assert _deltas(case.parts[0].path(compacted)) == ["batch_id=1", "batch_id=2", "batch_id=4"]
    for part in case.parts:
        got = _rows(part.fold(spark, compacted))
        if part.sub in case.double:
            deltas = part.read(spark, ref)
            again = part.merge(deltas.unionByName(deltas.where(f"batch_id = {first}")))
            assert got == _rows(again), (part.sub, "double count")
        else:
            assert got == want[part.sub], (part.sub, "replay")


# -- the monitor logs ----------------------------------------------------------


def _monitors(spark) -> dict:
    """monitor -> (entry(src, dir), batches, compactions(dir), the log reader)."""
    import pyspark.sql.functions as F

    ck = "unused-checkpoint"
    vals = _thirds(spark, "key string, v double", [(f"k{i % 2}", float(i % 7)) for i in range(15)])
    ref = spark.createDataFrame([(b, 3) for b in range(4)], "bin int, n_ref bigint")
    kref = spark.createDataFrame(
        [(k, b, 3) for k in ("k0", "k1") for b in range(4)], "key string, bin int, n_ref bigint"
    )
    edges = spark.createDataFrame(
        [("k0", 0.0, 2.0), ("k1", 0.0, 2.0)], "key string, lo double, width double"
    )
    docs = [
        d.withColumn("lang", F.lit("en")).withColumn("n_chars", F.length("text"))
        for d in _docs(spark, "doc_id text source")
    ]
    counts = lambda compact, *a: lambda d: compact(spark, os.path.join(d, "counts"), *a)  # noqa: E731
    suite = lambda d: [  # noqa: E731
        fn(spark, os.path.join(d, sub))
        for fn, sub in [
            (E.compact_dup_flow_store, "flow"),
            (E.compact_volume_store, "volume"),
            (E.compact_kept_store, "kept"),
            (E.compact_fert_store, "fert"),
            (E.compact_decode_health_store, "health"),
            (E.compact_shingle_store, "shingles"),
        ]
    ]
    return {
        "drift": (
            lambda src, d: E.run_stream_drift_monitor(src, ref, 0.0, 2.0, 4, d, ck),
            vals, counts(E.compact_counts_store), E.drift_monitor_log,
        ),
        "drift_by_key": (
            lambda src, d: E.run_stream_drift_monitor_by_key(src, edges, kref, d, ck, n_bins=4),
            vals, counts(E.compact_counts_store, ["key"]), E.drift_monitor_log_by_key,
        ),
        "volume": (
            lambda src, d: E.run_stream_volume_monitor(src, ["srcA", "srcB"], d, ck),
            docs, counts(E.compact_volume_store), E.volume_monitor_log,
        ),
        "decode_health": (
            lambda src, d: E.run_stream_decode_health_monitor(src, d, ck),
            _media(spark), counts(E.compact_decode_health_store), E.decode_health_monitor_log,
        ),
        "revenue": (
            lambda src, d: E.run_stream_revenue_monitor(src, d, ck),
            _orders(spark), lambda d: E.compact_revenue_monitor_store(spark, d),
            E.revenue_monitor_log,
        ),
        "ivf": (
            lambda src, d: E.run_stream_ivf_assign(src, [[1.0, 0.0], [0.0, 1.0]], d, ck),
            _vectors(spark), lambda d: E.compact_ivf_assign_store(spark, d), E.ivf_monitor_log,
        ),
        "pq": (
            lambda src, d: E.run_stream_pq_encode(src, [[[1.0], [-1.0]], [[0.5], [0.0]]], d, ck),
            _vectors(spark), lambda d: E.compact_pq_code_store(spark, d), E.pq_monitor_log,
        ),
        # the partials store is never compacted, so it has no floor
        "ks": (
            lambda src, d: E.run_stream_ks_monitor(src, "key", "v", [1.0, 5.0], [1.0, 1.0], d, ck,
                                                    key="k0"),
            vals, lambda d: None, E.ks_monitor_log,
        ),
        # several stores, so the raw id
        "scorecard": (
            lambda src, d: E.run_stream_scorecard_monitor(src, d, ck),
            docs, suite, E.scorecard_monitor_log,
        ),
    }


# the log's id for raw batch 1 after batch 0 was compacted: above the ingest
# store's floor (0 + 1 + 1) when the monitor has one floored store, else raw
LOG_IDS = {
    "drift": 2, "drift_by_key": 2, "volume": 2, "decode_health": 2, "revenue": 2,
    "ivf": 2, "pq": 2, "ks": 1, "scorecard": 1,
}


def test_monitor_log_ids_follow_the_ingest_store(spark, tmp_path, static_runner):
    monitors = _monitors(spark)
    assert sorted(monitors) == sorted(LOG_IDS)
    for name, (entry, batches, compact, read_log) in monitors.items():
        store = str(tmp_path / name)
        entry(_Src([(0, batches[0])]), store)
        compact(store)
        entry(_Src([(1, batches[1])]), store)
        ids = sorted({r.batch_id for r in read_log(spark, store).collect()})
        assert ids == [0, LOG_IDS[name]], name


# -- the upsert sink -----------------------------------------------------------


def test_upsert_keeps_its_table_when_the_swap_crashes(spark, tmp_path, static_runner, monkeypatch):
    """A crash while the new table is being installed must not lose the
    current one: the replayed batch merges into every earlier key."""
    out = str(tmp_path / "upsert")
    data = os.path.join(out, "data")
    schema = "k string, n bigint"
    E.run_stream_upsert(_Src([(0, spark.createDataFrame([("a", 1), ("b", 2)], schema))]),
                        ["k"], out, "unused-checkpoint")

    real_rename, real_replace = os.rename, os.replace

    def crash_into_data(src, dst):
        if os.path.abspath(dst) == data:
            raise OSError("crash while installing the new table")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_into_data)
    monkeypatch.setattr(os, "replace", crash_into_data)
    batch1 = spark.createDataFrame([("b", 20), ("c", 3)], schema)
    with pytest.raises(OSError):
        E.run_stream_upsert(_Src([(1, batch1)]), ["k"], out, "unused-checkpoint")
    monkeypatch.setattr(os, "rename", real_rename)
    monkeypatch.setattr(os, "replace", real_replace)

    E.run_stream_upsert(_Src([(1, batch1)]), ["k"], out, "unused-checkpoint")  # the replay
    got = sorted(tuple(r) for r in spark.read.parquet(data).collect())
    assert got == [("a", 1), ("b", 20), ("c", 3)]
