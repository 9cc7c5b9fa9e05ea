"""The staged-store contract, checked once for every compactable store.

Each store in streaming/events.py is declared as a tuple of parts (sub-dir,
read schema, merge). The parametrized test below stages hand-made deltas
for every part of every declared store, compacts, and checks what the
ingests and folds rely on: one delta per part at the max batch id, a merge
that reads the same before and after, the floor marker inside the store,
the raw-id remap above it, and crash healing between the compaction's two
renames — both on read and on the next compaction."""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
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
    compact, parts = STORES[name]
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
    assert E._effective_batch_id(store, 0, parts) == 3

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
