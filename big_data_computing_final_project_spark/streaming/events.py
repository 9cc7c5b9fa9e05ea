"""Structured Streaming over the events table (SURVEY.md §2.10).

The reference has no streaming; the engine defines the streaming surface as
*the same logical plans as plans/events.py* executed incrementally:

    readStream (file source) → withWatermark → window agg → writeStream

Batch/stream equivalence is the correctness contract: a tumbling-window
aggregation run with an ``availableNow`` trigger over the static events
file must produce exactly the batch result (tests/test_streaming.py), which
itself is DuckDB-oracle-checked (q27). Late-data semantics (watermark) and
stateful dedup (`dropDuplicatesWithinWatermark`) follow Spark's documented
model — SURVEY §4 notes there is no reference behavior to copy.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import _stored_as_nanos, epoch_us, normalize_events_ts
from ..functions.stats import dec_sum
from ..operators.sizing import one_partition_if_small
from ..operators.sketches import _HH_PARTIAL_SCHEMA, _SKETCH_SCHEMA
from ..plans.cdc import CDC_OPS_SCHEMA, latest_cdc_ops
from ..sources.ann_index import (
    CODES_SCHEMA,
    read_books,
    read_centers,
    write_books,
    write_centers,
)
from ..sources.io import local_frame


def stream_events(spark: SparkSession, sf_dir: str, watermark: str = "1 hour") -> DataFrame:
    """File-source stream of the events table with event-time watermark.

    At scale the source would be Kafka/queue; the file source keeps the
    identical downstream plan. The stream schema is taken from a batch read
    of the same file (a footer-only operation), so whichever physical
    timestamp encoding the file uses (nanos-as-long legacy files or native
    micros) flows through the same normalization as the batch catalog.
    """
    if _stored_as_nanos(f"{sf_dir}/events.parquet"):
        # a TIMESTAMP(NANOS) file physically cannot be scanned without this
        # legacy conf; set only when the footer proves it (read-only on
        # session state for the micros files the driver generates today)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    file_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(file_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Watermarks require TimestampType (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
    # rejects TIMESTAMP_NTZ), so the stream path converts the normalized
    # NTZ wall clock to the equivalent UTC instant. timestamp_micros(long)
    # is a zone-free construction — no session-timezone detour — so the
    # stream's window bounds land on the same wall clocks as the NTZ batch
    # plans under a UTC-rendering collect.
    ntz = normalize_events_ts(raw)
    return ntz.withColumn(
        "ts", F.timestamp_micros(epoch_us(F.col("ts")))
    ).withWatermark("ts", watermark)


def tumbling_counts(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """The q27 plan, streaming-ready: incremental stateful window agg."""
    return (
        events.groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def enrich_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join + aggregate (the q83 plan with a streaming fact):
    the static customer dim broadcasts to every micro-batch, so the only
    stateful operator is the final windowless aggregate. At scale the dim
    refreshes by re-resolving the batch side per trigger — Spark re-plans
    stream-static joins each micro-batch."""
    cust = customer.select("c_custkey", "c_mktsegment")
    return (
        events.join(F.broadcast(cust), events.user_id == cust.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum(F.col("value")).alias("total_value"))
    )


def view_click_join_stream(
    views: DataFrame, clicks: DataFrame, window: str = "10 minutes"
) -> DataFrame:
    """Stream-stream interval join (the q84 plan, incremental): clicks
    attribute to a same-user view within (v_ts, v_ts + window]. Both sides
    must carry a watermark; the time bound lets Spark expire view-side
    state once the click watermark passes v_ts + window — bounded state,
    the thing an unconstrained stream-stream join can't promise."""
    v = views.select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    return v.join(
        c,
        F.expr(
            f"user_id = c_user AND c_ts > v_ts AND c_ts <= v_ts + interval {window}"
        ),
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (epoch_us(F.col("c_ts")) - epoch_us(F.col("v_ts"))).alias("gap_us"),
    )


def _drain_available_now(q, timeout_sec: int, label: str) -> None:
    """Wait for an availableNow query to drain its backlog, stop it, and
    RAISE if the timeout lapsed first: a timed-out drain leaves partially
    ingested stores/sinks, and returning silently would let callers fold
    confidently wrong answers out of the missing-tail state."""
    done = q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
    if not done:
        raise TimeoutError(
            f"{label}: streaming backlog did not drain within {timeout_sec}s; "
            "store/sink state is partial"
        )


def _run_foreach_batch(
    src: DataFrame,
    fn,
    checkpoint_dir: str,
    timeout_sec: int,
    label: str,
    output_mode: str | None = None,
) -> None:
    """The shared foreachBatch runner: checkpointed availableNow trigger,
    drained with a hard timeout (see _drain_available_now)."""
    w = src.writeStream.foreachBatch(fn)
    if output_mode is not None:
        w = w.outputMode(output_mode)
    q = (
        w.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _drain_available_now(q, timeout_sec, label)


def run_stream_to_memory(
    result: DataFrame, query_name: str, checkpoint_dir: str, timeout_sec: int = 120
) -> None:
    """Execute a streaming result with trigger(availableNow): process the
    full backlog incrementally, then stop — the batch-equivalence harness."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _drain_available_now(q, timeout_sec, "run_stream_to_memory")


def run_stream_to_parquet(
    result: DataFrame, out_dir: str, checkpoint_dir: str, timeout_sec: int = 120
) -> None:
    """Append-mode parquet file sink with checkpointing — the streaming
    twin of sources/io.write_parquet (S2 for streams). The checkpoint's
    WAL + file-manifest commit protocol gives exactly-once file output
    across restarts; availableNow drains the backlog then stops."""
    q = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain_available_now(q, timeout_sec, "run_stream_to_parquet")


def run_stream_upsert(
    result: DataFrame,
    key_cols: list[str],
    out_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch upsert sink: maintain a keyed parquet table where each
    micro-batch's rows REPLACE prior rows with the same key (the streaming
    materialized-view pattern for update-mode window aggregates, which the
    plain file sink can't express — it only appends).

    Each batch runs merge = (current ∖ batch-keys) ∪ batch as an ordinary
    batch job — a left_anti join against the (small, aggregated) batch keys
    — then atomically swaps the table directory. At warehouse scale the
    swap becomes a Delta/Iceberg MERGE INTO with the identical foreachBatch
    body; plain parquet keeps this container-runnable. foreachBatch may
    re-run a batch on recovery: the merge is idempotent on keys, so
    replays converge (at-least-once in, exactly-once effect). The swap is
    _swap's rename-rename through ``data.old``, healed at the start of the
    next batch, so a crash mid-swap never leaves a replay without its
    current table.
    """
    spark = result.sparkSession

    def upsert(batch: DataFrame, batch_id: int) -> None:
        data_dir = os.path.join(out_dir, "data")
        tmp_dir = os.path.join(out_dir, f"_stage_{batch_id}")
        _recover_compaction(data_dir)
        if os.path.exists(data_dir):
            current = spark.read.parquet(data_dir)
            merged = current.join(
                F.broadcast(batch.select(*key_cols).distinct()), key_cols, "left_anti"
            ).unionByName(batch)
        else:
            merged = batch
        merged.write.mode("overwrite").parquet(tmp_dir)
        _swap(data_dir, tmp_dir)

    _run_foreach_batch(
        result, upsert, checkpoint_dir, timeout_sec, "run_stream_upsert", output_mode="update"
    )


# ---------------------------------------------------------------------------
# Staged stores. Every foreachBatch store below stages one ``batch_id=N``
# delta per micro-batch (per part, for a store with sub-dirs), and its folds
# read the deltas back. Each store is declared ONCE as a _Store: a tuple of
# _Part (a part names its sub-dir — None for a flat store, whose store dir
# IS the partitioned dir — its read schema and its merge) plus the store's
# per-batch step. Compaction, crash healing, the floor remap, the fold reads
# and the ingest all derive from that declaration; each family declares its
# store after its step.
#
# THE RUNNER CONTRACT (_run_stores, _ingest):
# - Per micro-batch the runner projects the batch once (``enrich``), caches
#   it only when more than one step reads it, runs every step and then
#   unpersists.
# - Small frames run on one partition: the runner's raw batch (sized
#   before ``enrich``) and every delta read (_read_store_deltas) go through
#   operators.sizing.one_partition_if_small. Such a frame reports
#   SinglePartition, which satisfies every clustered and ordered
#   distribution, so the steps' and folds' aggregates, windows, sorts and
#   same-side joins plan no Exchange: each staged write or fold collect is
#   one stage instead of a chain of AQE stage jobs. A frame above the
#   advisory partition size keeps its layout. Rows never depend on it:
#   every _summed merge sums integers or decimals, and the dup-flow window
#   orders by the unique doc_id.
# - A step stages under ``batch_id=N`` with an overwrite, so a replayed
#   batch overwrites its own delta: at-least-once in, exactly-once effect.
# - N is the raw micro-batch id remapped above the store's compaction
#   floor (see _effective_batch_id); a store never compacted has no floor,
#   so its N is the raw id.
# - A monitor's evaluation log is staged after the steps, under the N of
#   the monitor's one ingest store; the scorecard monitor feeds several
#   stores and logs under the raw id.
# - A step may hand a frame to a second store (dup-flow keepers to the
#   kept store, LSH pairs to the label store); the hand-off goes through
#   _ingest, so the receiver remaps the raw id above its own floor.
#
# Compaction merges each part's deltas into ONE delta living at the part's
# MAX existing batch_id (see _compact_partitioned) and records the highest
# folded id in the store's floor marker.
#
# CONTRACT: compact only while no stream is writing the store AND the last
# drain completed (all batches committed). A replayed batch overwrites its
# own batch_id dir; compacting an uncommitted batch's delta would
# double-count it on replay, and the dup-flow keeper lookup's
# `batch_id < N` filter would see batch N's own compacted keepers. Between
# availableNow drains — the natural maintenance window — both hazards are
# impossible.
#
# BOUNDED DOUBLE-COUNT CAVEAT: the floor remap trades replay idempotence for
# history safety on exactly ONE pathological schedule — an uncommitted batch
# whose delta was compacted anyway (a violation of the window contract
# above: crash between the delta write and the checkpoint commit,
# compaction run before the stream resumes). The replayed raw id then lands
# ABOVE the floor instead of overwriting its own (now folded) delta, so
# ADDITIVE stores (counts/volume/fert/shingles/basket/attribution-revenue/
# revenue-partials/decode-health/dup-flow edges) count that one batch
# twice; latest-wins folds (CDC), max folds (attribution clicks), min-label
# folds (near-dup labels) and the stores whose step anti-joins what is
# already stored (LSH, IVF, PQ; the dup-flow keepers and the kept mass they
# feed) are unchanged. This schedule cannot manufacture a dup-flow
# SELF-edge (the replayed keeper counted as a dup of itself): the keeper
# store records keeper_doc_id and the ingest drops any dup row whose doc IS
# the stored keeper — only the bounded edge double-count remains. The
# alternative — skipping raw ids at-or-below a folded high-water mark —
# cannot distinguish this replay from a fresh-checkpoint restart (both
# re-present low raw ids) without introspecting the engine's checkpoint,
# and would silently DROP data on the restart path; a bounded duplicate of
# one batch is the better failure. Honoring the maintenance-window
# contract makes the schedule impossible in the first place.
# ---------------------------------------------------------------------------


class _Part(NamedTuple):
    """One staged part of a store: ``batch_id=N`` deltas under ``sub`` (the
    store dir itself when None), read with ``schema``, folded by ``merge``."""

    sub: str | None
    schema: str
    merge: Callable[[DataFrame], DataFrame]

    def path(self, store_dir: str) -> str:
        return store_dir if self.sub is None else os.path.join(store_dir, self.sub)

    def read(self, spark: SparkSession, store_dir: str) -> DataFrame:
        return _read_store_deltas(spark, self.path(store_dir), self.schema)

    def fold(self, spark: SparkSession, store_dir: str) -> DataFrame:
        return self.merge(self.read(spark, store_dir))


# A store's per-batch step: (batch, eff_id, store_dir, raw_id) stages the
# batch's deltas under eff_id; raw_id only feeds a hand-off to _ingest.
_Step = Callable[[DataFrame, int, str, int], None]


class _Store(NamedTuple):
    """A staged store's declaration: its parts and its step. A store whose
    step takes run parameters declares None and gets its step at run time
    (``_replace(step=...)``)."""

    parts: tuple[_Part, ...]
    step: _Step | None = None

    def part(self, sub: str | None = None) -> _Part:
        return next(p for p in self.parts if p.sub == sub)


def _columns(schema: str) -> list[str]:
    return [c.split()[0] for c in schema.split(", ")]


def _summed(sub: str | None, schema: str, *keys: str) -> _Part:
    """A part of additive deltas: the merge sums every non-key column per key."""
    values = [c for c in _columns(schema) if c not in keys]
    return _Part(
        sub, schema, lambda df: df.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in values])
    )


def _rewritten(sub: str | None, schema: str) -> _Part:
    """A part whose rows are unique across deltas: the merge rewrites them."""
    return _Part(sub, schema, lambda df: df.select(*_columns(schema)))


def _log(sub: str, schema: str) -> _Part:
    """A monitor's append-only evaluation log, never compacted: its fold is
    the rows ordered by batch, then by any key column."""
    cols = _columns(schema)
    return _Part(
        sub,
        schema,
        lambda df: df.select("batch_id", *cols).orderBy(
            "batch_id", *[c for c in cols if c in ("key", "source")]
        ),
    )


def _stage(df: DataFrame, delta_root: str, batch_id: int) -> str:
    """Write one micro-batch's delta to ``delta_root/batch_id=N`` and return
    its path."""
    path = os.path.join(delta_root, f"batch_id={batch_id}")
    df.write.mode("overwrite").parquet(path)
    return path


def _read_store_deltas(spark: SparkSession, store_dir: str, schema: str) -> DataFrame:
    """The one staged-store delta reader: heal a crashed compaction, then
    read every ``batch_id=*`` delta with the DECLARED schema plus the
    ``batch_id`` partition column. The explicit schema matters because an
    empty micro-batch stages a part-file-less batch_id dir, and schema
    INFERENCE over zero parquet files raises; the declared schema reads it
    as simply empty. A store that has never been written returns an empty
    frame of the same shape, so every fold's zero-batch contract is
    uniform. A store small enough for one AQE partition reads as one
    partition (see the section contract)."""
    _recover_compaction(store_dir)
    full = schema + ", batch_id bigint"
    if not os.path.exists(store_dir):
        return local_frame(spark, [], full)
    return one_partition_if_small(
        spark.read.schema(full).option("basePath", store_dir).parquet(f"{store_dir}/batch_id=*")
    )


def _ingest(store: _Store, batch: DataFrame, batch_id: int, store_dir: str) -> int:
    """Run one micro-batch through a declared store: heal its parts, remap
    the raw ``batch_id`` above its floor, run its step and return the
    effective id."""
    eff_id = _effective_batch_id(store_dir, batch_id, store)
    store.step(batch, eff_id, store_dir, batch_id)
    return eff_id


def _run_stores(
    src: DataFrame,
    checkpoint_dir: str,
    timeout_sec: int,
    label: str,
    steps: list[tuple[_Store, str]],
    enrich: Callable[[DataFrame], DataFrame] | None = None,
    log: tuple[_Part, str, Callable[[SparkSession, int], DataFrame]] | None = None,
) -> None:
    """The one store runner (see the section contract): every micro-batch of
    ``src``, projected by ``enrich``, goes through each (store, store_dir)
    step; ``log`` = (log part, monitor dir, evaluate) then stages
    ``evaluate(spark, N)`` under the monitor's N."""

    def run(batch: DataFrame, batch_id: int) -> None:
        # sized before enrich: the raw batch's plan is one LogicalRDD leaf,
        # so the estimate optimizes that leaf, not the projection, and
        # enrich's narrow projection keeps the raw batch's partitioning
        batch = one_partition_if_small(batch)
        if enrich is not None:
            batch = enrich(batch)
        shared = len(steps) > 1
        if shared:
            batch = batch.cache()
        try:
            ids = [_ingest(store, batch, batch_id, store_dir) for store, store_dir in steps]
        finally:
            if shared:
                batch.unpersist()
        if log is not None:
            part, monitor_dir, evaluate = log
            eff_id = ids[0] if len(ids) == 1 else batch_id
            _stage(evaluate(batch.sparkSession, eff_id), part.path(monitor_dir), eff_id)

    _run_foreach_batch(src, run, checkpoint_dir, timeout_sec, label)


_FLOOR_MARKER = "_compaction_floor"


def _floor_marker_path(store_dir: str) -> str:
    """Where a store's compaction-floor marker lives: INSIDE the store
    directory, for every store shape. Stores with sub-dirs keep it in the
    stable parent beside the swapped sub-dirs; flat stores keep it beside
    their ``batch_id=*`` partition dirs — the leading underscore makes
    Spark's parquet reader skip it, and _compact_partitioned copies it into
    the rebuilt directory BEFORE the rename-rename swap, so the marker
    always travels with the store (a directory-level copy, move, or backup
    cannot detach the floor from the data it protects)."""
    return os.path.join(store_dir, _FLOOR_MARKER)


def _read_compaction_floor(store_dir: str, flat: bool = False) -> int | None:
    """The highest batch_id folded by the last compaction (None before the
    first compaction). ``flat`` additionally checks the legacy sibling
    location (``<store>._compaction_floor``) that older flat stores carry."""
    try:
        with open(_floor_marker_path(store_dir)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        pass
    if flat:
        try:
            with open(store_dir.rstrip(os.sep) + "." + _FLOOR_MARKER) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            pass
    return None


def _write_compaction_floor(store_dir: str, floor: int) -> None:
    path = _floor_marker_path(store_dir)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(floor))
    os.replace(tmp, path)


def _effective_batch_id(store_dir: str, batch_id: int, store: _Store) -> int:
    """Heal every part of a declared store, then remap a raw micro-batch id
    above the store's compaction floor.

    Compaction folds history into the MAX existing batch_id, so a replay of
    that raw id — crash between the delta write and the checkpoint commit
    with a compaction run before the stream resumes, or a fresh-checkpoint
    restart whose ids begin again at 0 — would otherwise mode('overwrite')
    the single folded delta and silently destroy all prior history. Once a
    floor exists, EVERY raw id maps to floor+1+raw_id: injective and
    strictly monotone, so replayed and continuing batches can never collide
    with each other or with the compacted delta. Before the first
    compaction this is the identity.

    Healing comes first: a compaction that died between its two renames
    leaves a part's live dir missing with `.old` holding all history; an
    ingest that recreated the live dir would make the next
    _recover_compaction delete the backup — silent history loss."""
    for part in store.parts:
        _recover_compaction(part.path(store_dir))
    floor = _read_compaction_floor(store_dir, flat=store.parts[0].sub is None)
    return batch_id if floor is None else floor + 1 + batch_id


def _recover_compaction(store_dir: str) -> None:
    """Heal a swap interrupted between its two renames (see _swap): if the
    live name is missing but the `.old` backup exists, restore the backup
    (and drop a half-promoted compaction build). Called by
    _compact_partitioned, by _effective_batch_id, by _read_store_deltas (so
    by every store fold) and by the upsert sink, so a crashed swap can never
    read as an empty store — at worst the next compaction redoes the
    merge."""
    old = store_dir + ".old"
    if os.path.exists(store_dir):
        if os.path.exists(old):  # completed swap, stale backup
            shutil.rmtree(old, ignore_errors=True)
    elif os.path.exists(old):
        os.rename(old, store_dir)
        shutil.rmtree(store_dir + ".compacting", ignore_errors=True)


def _swap(live: str, built: str) -> None:
    """Install the directory ``built`` as ``live``: rename ``live`` to
    ``live.old``, rename ``built`` to ``live``, drop the backup. A crash
    between the renames leaves every byte of the old ``live`` in `.old`,
    which _recover_compaction restores."""
    old = live + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(live):
        os.rename(live, old)
    os.rename(built, live)
    shutil.rmtree(old, ignore_errors=True)


def _compact_partitioned(spark: SparkSession, store_dir: str, part: _Part) -> int | None:
    """Fold every batch_id delta of one part and swap the part's dir for a
    single-delta copy living at the MAX existing batch_id — not 0, so a
    stream mistakenly restarted on a FRESH checkpoint (ids restart at 0)
    overwrites at most an empty low-id delta instead of the whole
    compacted history (run this in the maintenance window — no concurrent
    readers/writers)."""
    live = part.path(store_dir)
    _recover_compaction(live)
    if not os.path.exists(live):
        return None
    ids = [int(m.group(1)) for d in os.listdir(live) if (m := re.match(r"batch_id=(\d+)$", d))]
    target = max(ids) if ids else 0
    tmp = live + ".compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    _stage(part.fold(spark, store_dir), tmp, target)
    # carry the floor marker into the rebuilt dir BEFORE the swap: a crash
    # between the swap and the caller's _write_compaction_floor must leave
    # the previous floor in place, never strip it (an unfloored store would
    # let a folded-id replay overwrite the compacted delta).
    marker = _floor_marker_path(live)
    if os.path.exists(marker):
        shutil.copyfile(marker, _floor_marker_path(tmp))
    _swap(live, tmp)
    return target


def _compact(spark: SparkSession, store_dir: str, store: _Store) -> None:
    """Compact every part of a declared store (maintenance window only, see
    the section contract), then record the highest folded id as its floor."""
    floors = [
        floor
        for p in store.parts
        if (floor := _compact_partitioned(spark, store_dir, p)) is not None
    ]
    if floors:
        _write_compaction_floor(store_dir, max(floors))


# -- the compactions ----------------------------------------------------------
# Each store's declaration sits after its step, in the store's family below.


def compact_kept_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the kept-mass store (dedup_adjusted_budget_from_store)."""
    _compact(spark, store_dir, _KEPT)


def compact_volume_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the report-card volume store."""
    _compact(spark, store_dir, _VOLUME)


def compact_fert_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the scorecard's fertility store."""
    _compact(spark, store_dir, _FERT)


def compact_shingle_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the shingle-occurrence store — the store that earns
    compaction: its deltas grow with distinct shingles per batch, and the
    fold collapses every shingle's history to one row."""
    _compact(spark, store_dir, _SHINGLES)


def compact_decode_health_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the decode-health counts store."""
    _compact(spark, store_dir, _HEALTH)


def compact_cdc_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the CDC op store to one latest-op-per-key delta."""
    _compact(spark, store_dir, _CDC)


def compact_near_dup_labels_store(spark: SparkSession, labels_dir: str) -> None:
    """Compact the near-dup label store to one row per doc."""
    _compact(spark, labels_dir, _ND_LABELS)


def compact_counts_store(
    spark: SparkSession, store_dir: str, key_cols: list[str] | None = None
) -> None:
    """Compact a (keyed or unkeyed) PSI bin-counts store."""
    _compact(spark, store_dir, _psi_counts(list(key_cols or [])))


def compact_dup_flow_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the dup-flow store (keepers and edges)."""
    _compact(spark, store_dir, _DUP_FLOW)


def compact_lsh_dedup_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the LSH near-dup store (state and pairs)."""
    _compact(spark, store_dir, _LSH)


def compact_basket_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the basket-count store (pairs, items and baskets)."""
    _compact(spark, store_dir, _BASKET)


def compact_revenue_monitor_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the revenue-monitor store's day partials."""
    _compact(spark, store_dir, _REVENUE)


def compact_attribution_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the attribution store (revenue and clicks)."""
    _compact(spark, store_dir, _ATTRIBUTION)


def compact_ivf_assign_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the IVF ingest store (assignments and cell counts)."""
    _compact(spark, store_dir, _IVF)


def compact_pq_code_store(spark: SparkSession, store_dir: str) -> None:
    """Compact the PQ ingest store (codes and code counts)."""
    _compact(spark, store_dir, _PQ)


# -- sketch and audit stores (never compacted, so never floored) --------------

_DIGESTS = _Store((_rewritten(None, _SKETCH_SCHEMA),))
_HEAVY_HITTERS = _Store((_rewritten(None, _HH_PARTIAL_SCHEMA),))
_DQ = _Store(
    (
        _summed(
            None, "constraint string, n_violations bigint, n_checked bigint", "constraint"
        ),
    )
)
_INTEGRITY = _Store(
    (
        _rewritten("counts", "n_rows bigint, n_null_fk bigint"),
        _rewritten("orphans", "fk bigint, n bigint"),
    )
)


def _digests(key_col: str, value_col: str, delta: float) -> _Store:
    """The t-digest partials store with its step: per-key partials of the batch."""
    from ..operators.sketches import tdigest_partials

    return _DIGESTS._replace(
        step=lambda batch, eff_id, store_dir, _: _stage(
            tdigest_partials(batch, key_col, value_col, delta), store_dir, eff_id
        )
    )


def run_stream_tdigest(
    events: DataFrame,
    key_col: str,
    value_col: str,
    store_dir: str,
    checkpoint_dir: str,
    delta: float = 200.0,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch incremental sketching: every micro-batch appends its
    t-digest PARTIALS (key, means[], weights[]) to a parquet store; any
    later reader answers quantile queries from the store alone via
    ``sketch_store_quantiles`` — no raw event is ever revisited.

    This is the streaming face of the mergeable-summary property
    (operators/sketches): partial states are associative, so
    batch-at-a-time appends commute with one big batch build. The store
    grows O(batches × keys × δ) rows; a periodic compaction (read store →
    merge per key → overwrite) would bound it, same shape as the upsert
    sink above.
    """
    steps = [(_digests(key_col, value_col, delta), store_dir)]
    _run_stores(events, checkpoint_dir, timeout_sec, "run_stream_tdigest", steps)


def sketch_store_quantiles(
    spark: SparkSession, store_dir: str, probs: list[float], delta: float = 200.0
) -> DataFrame:
    """Answer per-key quantiles from an incremental sketch store (KBs),
    merging all appended partials — the 100 TB corpus itself is not read."""
    from ..operators.sketches import tdigest_finalize

    partials = _DIGESTS.part().read(spark, store_dir).select("key", "means", "weights")
    return tdigest_finalize(partials, probs, delta)


def run_stream_heavy_hitters(
    stream: DataFrame,
    items_col: str,
    store_dir: str,
    checkpoint_dir: str,
    capacity: int = 4096,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch incremental heavy hitters: each micro-batch appends its
    SpaceSaving partials (pid, item, cnt, dmax) to a parquet store under
    ``batch_id=N``; ``hh_store_topk`` answers certified top-k from the
    store alone. Partial ids become (batch_id, pid) so every partial's
    truncation mass counts exactly once in the merged bounds."""
    from ..operators.sketches import heavy_hitters_partials

    def step(batch: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
        _stage(heavy_hitters_partials(batch, items_col, capacity), store_dir, eff_id)

    steps = [(_HEAVY_HITTERS._replace(step=step), store_dir)]
    _run_stores(stream, checkpoint_dir, timeout_sec, "run_stream_heavy_hitters", steps)


def hh_store_topk(spark: SparkSession, store_dir: str, k: int = 20) -> DataFrame:
    """Certified top-k from an incremental heavy-hitters store: merges all
    appended truncated-counter partials; batch_id comes back as a partition
    column from the ``batch_id=N`` directory layout."""
    from ..operators.sketches import heavy_hitters_finalize

    partials = _HEAVY_HITTERS.part().read(spark, store_dir)
    return heavy_hitters_finalize(partials, k, partial_id_cols=("batch_id", "pid"))


def rate_stream(spark: SparkSession, rows_per_batch: int = 1000) -> DataFrame:
    """Deterministic synthetic stream (``rate-micro-batch`` source):
    exactly ``rows_per_batch`` (timestamp, value) rows per trigger, no
    external infra — the soak/throughput harness for streaming operators.
    Shaped into the events contract (ts, user_id, event_type, value) so
    every downstream streaming plan accepts it unchanged."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    return raw.select(
        F.col("timestamp").alias("ts"),
        (F.col("value") % 97).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("value") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 1000).cast("double").alias("value"),
    ).withWatermark("ts", "10 seconds")


def run_stream_dq_audit(
    events: DataFrame,
    checks: dict,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch streaming data-quality audit: every micro-batch runs
    the one-pass predicate audit (operators/quality.check_predicates) and
    writes its report under ``store_dir/batch_id=N``. Violation counts are
    additive, so the store's per-constraint sum equals the batch audit of
    everything ingested — the ingest-gate invariant, maintained
    incrementally with no raw-row retention.
    """
    from ..operators.quality import check_predicates

    def step(batch: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
        _stage(check_predicates(batch, checks), store_dir, eff_id)

    steps = [(_DQ._replace(step=step), store_dir)]
    _run_stores(events, checkpoint_dir, timeout_sec, "run_stream_dq_audit", steps)


def run_stream_integrity_audit(
    facts: DataFrame,
    fk_col: str,
    dim: DataFrame,
    pk_col: str,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch referential-integrity monitor — q206's FK audit AT
    INGEST: every micro-batch of ``facts`` is anti-joined against the
    (static/broadcastable) ``dim`` key; per-batch row/null-FK totals and
    per-key orphan counts are staged under batch_id=N. Counts are additive
    across batches and orphan
    keys fold by distinct at read, so the store report equals the batch
    audit of everything ingested — no raw-row retention, state linear in
    ORPHANS (rare by construction), not rows.

    At 100 TB the dim side is the same estimate-guarded broadcast the
    batch audit uses; a dim too big to broadcast shuffles per batch on
    the key — still bounded by batch size, never history.
    """
    from ..operators.sizing import broadcast_if_small

    def step(batch: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
        counts = batch.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col(fk_col).isNull(), 1)).alias("n_null_fk"),
        )
        _stage(counts, _INTEGRITY.part("counts").path(store_dir), eff_id)
        orphans = (
            batch.filter(F.col(fk_col).isNotNull())
            .join(
                broadcast_if_small(dim.select(F.col(pk_col).alias("__pk"))),
                F.col(fk_col) == F.col("__pk"),
                "left_anti",
            )
            .groupBy(F.col(fk_col).alias("fk"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        _stage(orphans, _INTEGRITY.part("orphans").path(store_dir), eff_id)

    steps = [(_INTEGRITY._replace(step=step), store_dir)]
    _run_stores(facts, checkpoint_dir, timeout_sec, "run_stream_integrity_audit", steps)


def integrity_report_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """One-row fold of the integrity store: total rows, null FKs, orphan
    rows, distinct orphan keys — reads only the staged partials (counts
    are 1 row/batch; orphans are linear in actual violations). Orphan keys
    are read as bigint: every q206 star-schema FK is an integer key, and
    int keys widen on read."""
    counts = _INTEGRITY.part("counts").read(spark, store_dir).agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("n_null_fk").cast("bigint").alias("n_null_fk"),
    )
    orph = _INTEGRITY.part("orphans").read(spark, store_dir).agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_orphans"),
        F.countDistinct("fk").cast("bigint").alias("n_orphan_keys"),
    )
    return counts.crossJoin(F.broadcast(orph))


def dq_store_report(spark: SparkSession, store_dir: str) -> DataFrame:
    """Fold the per-batch audit store into one report (sum of additive
    violation counts per constraint)."""
    return _DQ.part().fold(spark, store_dir).orderBy("constraint")


def mixture_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """q134's per-window mixture shares derived from an upsert store of
    streamed tumbling counts (run_stream_upsert over tumbling_counts keyed
    by (window_start, event_type)) — the ingest-drift monitor: the store
    is updated per micro-batch, and once the backlog drains this report
    equals the batch q134 exactly (pytest-pinned). The share division runs
    over the kilobyte-sized store, never the event stream."""
    data_dir = os.path.join(store_dir, "data")
    _recover_compaction(data_dir)
    c = spark.read.parquet(data_dir).select(
        "window_start", "event_type", F.col("n_events").cast("bigint").alias("n_events")
    )
    ww = Window.partitionBy("window_start")
    return (
        c.withColumn(
            "share",
            F.col("n_events").cast("double") / F.sum("n_events").over(ww).cast("double"),
        )
        .orderBy("window_start", "event_type")
    )


def _kept_step(keepers: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
    """One batch's per-source (kept_docs, kept_tokens) partial over the new
    keepers the dup-flow step hands over (with their ``n_toks``). Kept mass
    is additive across batches (each fp group's keeper is new exactly
    once), which is what lets dedup_adjusted_budget_from_store re-plan the
    token budget incrementally without ever re-reading the corpus."""
    _stage(
        keepers.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("kept_docs"),
            F.sum("n_toks").cast("bigint").alias("kept_tokens"),
        ),
        store_dir,
        eff_id,
    )


_KEPT = _Store(
    (_summed(None, "source string, kept_docs bigint, kept_tokens bigint", "source"),),
    _kept_step,
)


def _dup_flow_step(
    batch: DataFrame, eff_id: int, store_dir: str, raw_id: int, kept_dir: str | None = None
) -> None:
    """One micro-batch of the dup-flow store (see run_stream_dup_flow):
    rank the batch within fp, look up the keeper store for batches < this
    one, stage this batch's new keepers and duplicate-flow edges.

    ``kept_dir`` (the ingest-suite path): additionally hand the new keepers
    to the kept store there — the batch must then carry ``n_toks``."""
    spark = batch.sparkSession
    w = Window.partitionBy("fp").orderBy("doc_id")
    cols = ["doc_id", "source", "fp"] + (["n_toks"] if kept_dir is not None else [])
    ranked = batch.select(*cols).withColumn(
        "rn", F.row_number().over(w)
    )
    # keeper_doc_id: which document created the keeper entry — read as null
    # from deltas written before the column existed (explicit schema over
    # parquet missing the column), which simply disables the self-edge
    # guard for that row
    prior = (
        _DUP_FLOW.part("keepers")
        .read(spark, store_dir)
        .where(F.col("batch_id") < eff_id)
        .select(
            "fp",
            F.col("keeper_source").alias("store_keeper"),
            F.col("keeper_doc_id").alias("store_keeper_doc"),
        )
    )
    # cached: both writes below consume it, and recomputation would scan
    # the (ever-growing) keeper store and re-run the rn window twice per
    # batch. The prior read filters batch_id < this batch, so the edges
    # action seeing the store AFTER the keeper write is still consistent.
    hit = ranked.join(prior, "fp", "left").cache()
    try:
        new_keeper_rows = hit.where(
            F.col("store_keeper").isNull() & (F.col("rn") == 1)
        )
        _stage(
            new_keeper_rows.select(
                "fp",
                F.col("source").alias("keeper_source"),
                F.col("doc_id").alias("keeper_doc_id"),
            ),
            _DUP_FLOW.part("keepers").path(store_dir),
            eff_id,
        )
        if kept_dir is not None:
            _ingest(_KEPT, new_keeper_rows, raw_id, kept_dir)
        # within-batch keeper source per fp (the rn==1 row's source)
        batch_first = hit.where(F.col("rn") == 1).select(
            "fp", F.col("source").alias("batch_keeper")
        )
        dup_rows = (
            hit.join(batch_first, "fp")
            .where(F.col("store_keeper").isNotNull() | (F.col("rn") > 1))
            # self-edge guard: a document can never be a duplicate of
            # ITSELF. The only way doc_id equals the store keeper's doc id
            # is the bounded-double-count replay schedule (this batch's
            # keeper delta was compacted before its commit, so the replay
            # sees its OWN keeper entry below the floor) — drop exactly
            # those rows, so the accepted one-batch edge double-count can
            # never also manufacture a self-edge. A null store_keeper_doc
            # (a delta without the column) keeps every row.
            .where(
                F.col("store_keeper_doc").isNull()
                | (F.col("doc_id") != F.col("store_keeper_doc"))
            )
            .select(
                "fp",
                F.coalesce("store_keeper", "batch_keeper").alias("keeper_source"),
                F.col("source").alias("dup_source"),
            )
        )
        edges = dup_rows.groupBy("fp", "keeper_source", "dup_source").agg(
            F.count(F.lit(1)).alias("n_docs")
        )
        _stage(edges, _DUP_FLOW.part("edges").path(store_dir), eff_id)
    finally:
        hit.unpersist()


# keepers: fp is unique across deltas by construction
_DUP_FLOW = _Store(
    (
        _rewritten("keepers", "fp string, keeper_source string, keeper_doc_id long"),
        _summed(
            "edges",
            "fp string, keeper_source string, dup_source string, n_docs bigint",
            "fp",
            "keeper_source",
            "dup_source",
        ),
    ),
    _dup_flow_step,
)


def run_stream_dup_flow(
    docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch incremental duplication-flow store: the streaming twin
    of batch q146 (plans/dedup.py) over the incremental-ingest dedup shape
    (q87) — dedup AT INGEST, per crawl drop, instead of batch-only.

    ``docs`` is a streaming frame of (doc_id, source, fp). Two append-only
    parquet tables, both staged per batch_id:

      keepers/batch_id=N/  (fp, keeper_source, keeper_doc_id) — fps FIRST
                           kept by batch N (within-batch min doc_id, not
                           already kept by any batch < N; the lookup
                           filters batch_id < N, so a replay never sees
                           its own earlier write). keeper_doc_id feeds
                           the self-edge guard: a folded-id replay that
                           sees its OWN compacted keeper entry is
                           recognized by doc identity and never emits
                           itself as a duplicate.
      edges/batch_id=N/    (fp, keeper_source, dup_source, n_docs) — batch
                           N's duplicate flows: every row whose fp was
                           already kept (by the store, or by an earlier
                           doc_id in this batch) adds one to the edge
                           keeper_source -> its own source.

    ``dup_flow_matrix_from_store`` folds the edge deltas into the q146
    matrix. Equals batch q146 exactly whenever arrival order respects
    doc_id order (the ingest contract: crawl drops arrive in id order);
    under out-of-order arrival the attribution is first-ARRIVAL wins —
    the only semantics a store that never revisits raw docs can offer.

    Scale shape: every shuffle is keyed on fp (the natural dedup key);
    the keeper-store lookup is an fp-equi join whose store side holds one
    row per distinct kept fingerprint — at 100 TB that store lives
    bucketed on fp so the per-batch join co-locates without a full-store
    shuffle, and the per-batch_id deltas get periodically compacted
    (compact_dup_flow_store).
    """
    _run_stores(docs, checkpoint_dir, timeout_sec, "run_stream_dup_flow", [(_DUP_FLOW, store_dir)])


def dup_flow_matrix_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """q146's (keeper_source, dup_source, n_docs, n_groups) matrix from an
    incremental dup-flow store — read only the edge deltas (linear in
    duplicates), never the corpus."""
    return (
        _DUP_FLOW.part("edges")
        .read(spark, store_dir)
        .groupBy("keeper_source", "dup_source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.countDistinct("fp").alias("n_groups"),
        )
        .orderBy("keeper_source", "dup_source")
    )


# ---------------------------------------------------------------------------
# PSI-store core shared by the unkeyed (q151) and keyed (q160) twins: the
# unkeyed case IS the keyed case with key_cols=[] — one implementation so
# a store-contract fix cannot apply to one twin and miss the other.
# ---------------------------------------------------------------------------


def _psi_counts(key_cols: list[str]) -> _Store:
    """The (keyed or unkeyed) PSI bin-counts store: additive per bin; its
    step counts a binned batch (the runner's ``enrich`` bins it)."""
    schema = ", ".join([f"{k} string" for k in key_cols] + ["bin int", "n bigint"])

    def step(binned: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
        counts = binned.groupBy(*key_cols, "bin").agg(F.count(F.lit(1)).alias("n"))
        _stage(counts, store_dir, eff_id)

    return _Store((_summed(None, schema, *key_cols, "bin"),), step)


def _psi_log(key_cols: list[str]) -> _Part:
    """The drift monitors' log: one row per key, one total row unkeyed."""
    keys = [f"{k} string" for k in key_cols]
    return _log("log", ", ".join(keys + ["psi_total double, n_cur bigint, alert boolean"]))


def _psi_fold(
    spark: SparkSession,
    store_dir: str,
    ref_counts: DataFrame,
    key_cols: list[str],
    eps: float,
) -> DataFrame:
    """Per-(key..., bin) PSI terms of the accumulated store vs the frozen
    reference histograms. Two hardening contracts beyond the happy path:

    - EXPLICIT read schema: an empty micro-batch (or a keyed edges join
      that dropped every row) stages a part-file-less batch_id dir, and
      schema INFERENCE over zero parquet files raises — the declared
      schema reads it as simply empty instead of crashing the monitor.
    - ZERO-TOTAL guard: a population with tr=0 or tc=0 (vanished segment,
      key unseen at training time) would make n/0 shares NaN, and NaN
      poisons psi_total while `NaN >= alert` is False — the most extreme
      drift would never alert. Shares are 0.0 when their total is 0, so
      the eps floor turns total loss into the LARGEST signal instead.
    """
    from ..plans.drift import psi_term_expr, with_split_totals

    # zero micro-batches processed: empty fold -> ref-only bins, n_cur = 0
    # via the full_outer + fill below (uniform empty-store contract)
    cur = (
        _psi_counts(key_cols)
        .part()
        .read(spark, store_dir)
        .groupBy(*key_cols, "bin")
        .agg(F.sum("n").alias("n_cur"))
    )
    joined = (
        ref_counts.select(*key_cols, "bin", "n_ref")
        .join(cur, [*key_cols, "bin"], "full_outer")
        .na.fill(0, ["n_ref", "n_cur"])
    )
    with_tot = with_split_totals(joined, key_cols)
    ref_share = F.when(
        F.col("tr") > 0, F.col("n_ref").cast("double") / F.col("tr")
    ).otherwise(F.lit(0.0))
    cur_share = F.when(
        F.col("tc") > 0, F.col("n_cur").cast("double") / F.col("tc")
    ).otherwise(F.lit(0.0))
    return (
        with_tot.select(
            *key_cols,
            "bin",
            "n_ref",
            "n_cur",
            ref_share.alias("ref_share"),
            cur_share.alias("cur_share"),
            F.round(psi_term_expr(ref_share, cur_share, eps), 12).alias("psi_term"),
        )
        .orderBy(*key_cols, "bin")
    )


def _psi_evaluate(
    counts_dir: str, ref_counts: DataFrame, key_cols: list[str], psi_alert: float
) -> Callable[[SparkSession, int], DataFrame]:
    """The drift monitors' log rows: one per key (one total row when
    unkeyed) from the cumulative counts store vs ``ref_counts``."""

    def evaluate(spark: SparkSession, eff_id: int) -> DataFrame:
        per: dict[tuple, list[float]] = {} if key_cols else {(): [0.0, 0]}
        for r in _psi_fold(spark, counts_dir, ref_counts, key_cols, 1e-9).collect():
            acc = per.setdefault(tuple(r[k] for k in key_cols), [0.0, 0])
            acc[0] += r["psi_term"]
            acc[1] += r["n_cur"]
        out = [
            (*k, float(psi), int(n), float(psi) >= psi_alert)
            for k, (psi, n) in sorted(per.items())
        ]
        return local_frame(spark, out, _psi_log(key_cols).schema)

    return evaluate


def _binner(lo: float, width: float, n_bins: int) -> Callable[[DataFrame], DataFrame]:
    """v batch -> bin rows against frozen edges (lo, width, n_bins)."""
    from ..plans.drift import bin_expr

    return lambda batch: batch.select(
        bin_expr(F.col("v"), F.lit(lo), F.lit(width), n_bins).alias("bin")
    )


def _keyed_binner(ref_edges: DataFrame, n_bins: int):
    """(key, v) batch -> (key, bin) rows against per-key frozen edges
    (``ref_edges``: key, lo, width). Rows whose key has no reference
    edges are dropped — the same contract as q160's inner edges join (a
    segment never seen at training time has no frozen bins to count
    into); ``n_bins`` must match the frozen reference histograms."""
    from ..plans.drift import bin_expr

    edges = ref_edges.select("key", "lo", "width")

    def binner(batch: DataFrame) -> DataFrame:
        return batch.join(F.broadcast(edges), "key").select(
            "key",
            bin_expr(F.col("v"), F.col("lo"), F.col("width"), n_bins).alias("bin"),
        )

    return binner


def run_stream_psi_counts(
    values: DataFrame,
    lo: float,
    width: float,
    n_bins: int,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch drift-monitor ingestion: bin a numeric stream (column
    ``v``) with FROZEN reference bin edges — the deployed-model monitor
    contract of batch q151 (plans/drift.py): edges are fixed when the
    reference window is frozen, never re-derived from live data — and
    append per-batch bin counts under ``batch_id=N``. The store is
    O(batches x bins) rows of pure additive state; ``psi_from_store``
    answers the drift question from kilobytes."""
    steps, binner = [(_psi_counts([]), store_dir)], _binner(lo, width, n_bins)
    _run_stores(values, checkpoint_dir, timeout_sec, "run_stream_psi_counts", steps, binner)


def psi_from_store(
    spark: SparkSession,
    store_dir: str,
    ref_counts: DataFrame,
    eps: float = 1e-9,
) -> DataFrame:
    """Per-bin PSI terms of the streamed current population vs a frozen
    reference histogram (``ref_counts``: bin, n_ref). Bin counts are
    additive across micro-batches, so once the backlog drains this equals
    batch q151 on the same split/edges exactly (pytest-pinned); the term
    math is IMPORTED from plans/drift (bin_expr there too), so the twins
    cannot drift apart by construction."""
    return _psi_fold(spark, store_dir, ref_counts, [], eps)


def ks_from_digest_store(
    spark: SparkSession,
    store_dir: str,
    ref_means,
    ref_weights,
    key: str | None = None,
    delta: float = 200.0,
) -> tuple[float, int]:
    """Approximate two-sample KS of a STREAMED population against a FROZEN
    reference t-digest — the streaming face of q156 (plans/drift.py), and
    the drift monitor q152's scale story ends at: the reference digest is
    built once (training time) and persisted as kilobytes; the live
    population accumulates through run_stream_tdigest's per-batch partial
    appends; answering "did the input move?" reads ONLY sketch rows —
    no raw event is ever revisited, at any corpus size.

    ``key`` selects ONE population from a keyed store
    (run_stream_tdigest sketches per key). Omitting it requires the store
    to hold exactly one key — merging several keys' centroids would
    silently answer for a population nobody asked about, so a multi-key
    store without ``key`` raises instead.

    Returns (ks_stat_approx, n_current). Empty store/key (zero
    micro-batches) -> (nan, 0)."""
    import numpy as np

    from ..operators.sketches import ks_from_digests, merge_partial_rows

    store = _DIGESTS.part().read(spark, store_dir)
    if not os.path.exists(store_dir):
        return float("nan"), 0
    if key is not None:
        store = store.where(F.col("key") == key)
    else:
        keys = [r["key"] for r in store.select("key").distinct().collect()]
        if len(keys) > 1:
            raise ValueError(
                f"digest store {store_dir} holds keys {sorted(keys)}; pass "
                "key=... to select the population to compare"
            )
    rows = store.select("means", "weights").collect()
    if not rows:
        return float("nan"), 0
    cur_m, cur_w = merge_partial_rows(rows, delta)
    ref_m = np.asarray(ref_means, dtype=np.float64)
    ref_w = np.asarray(ref_weights, dtype=np.float64)
    return (
        float(ks_from_digests(ref_m, ref_w, cur_m, cur_w)),
        int(round(float(cur_w.sum()))),
    )


def run_stream_drift_monitor(
    values: DataFrame,
    ref_counts: DataFrame,
    lo: float,
    width: float,
    n_bins: int,
    store_dir: str,
    checkpoint_dir: str,
    psi_alert: float = 0.2,
    timeout_sec: int = 120,
) -> None:
    """Operational endpoint of the drift family: per micro-batch, append
    the frozen-edge bin counts (the run_stream_psi_counts store) AND an
    evaluation-log row (batch_id, psi_total, n_cur_total, alert) computed
    from the store's cumulative counts vs the frozen reference histogram.
    The alert fires when total PSI crosses ``psi_alert`` (0.2 is the
    standard "significant shift" reading on the PSI scale).

    The psi_total here is a driver-side float sum over n_bins rounded
    terms — an operational signal, deliberately NOT an oracle-checked
    quantity (the per-bin terms, which ARE oracle-paired via q151, stay
    in the store for exact auditing). The log is an append-only audit
    trail of what the monitor saw after each drop."""
    counts_dir = os.path.join(store_dir, "counts")
    steps, binner = [(_psi_counts([]), counts_dir)], _binner(lo, width, n_bins)
    log = (_psi_log([]), store_dir, _psi_evaluate(counts_dir, ref_counts, [], psi_alert))
    _run_stores(values, checkpoint_dir, timeout_sec, "run_stream_drift_monitor", steps, binner, log)


def drift_monitor_log(spark: SparkSession, store_dir: str) -> DataFrame:
    """The monitor's append-only evaluation log, ordered by batch."""
    return _psi_log([]).fold(spark, store_dir)


def _volume_step(batch: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
    """One micro-batch of the volume store (see run_stream_volume_counts):
    per-(source, lang) additive partials."""
    _stage(
        batch.groupBy("source", "lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        ),
        store_dir,
        eff_id,
    )


_VOLUME = _Store(
    (
        _summed(
            None,
            "source string, lang string, n_docs bigint, n_tokens bigint, n_chars bigint",
            "source",
            "lang",
        ),
    ),
    _volume_step,
)


def run_stream_volume_counts(
    docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """Per-batch corpus-volume partials: the streaming half of q157's
    report card (plans/curation.py) that the dup-flow store doesn't carry.
    ``docs`` is a streaming frame of (source, lang, n_chars, n_toks); each
    micro-batch appends one (source, lang, n_docs, n_tokens, n_chars) row
    group under ``batch_id=N``. All five measures are additive, so
    the fold is a plain sum; lang is kept as a key (NOT count-distincted
    here) because distinct-language counts are the one non-additive
    report-card column — the store holds (source, lang) cells and
    ``report_card_from_store`` distinct-counts at read time.

    Scale: per batch one narrow map + one tiny groupBy; store growth is
    O(batches x sources x langs) rows of pure additive state."""
    steps = [(_VOLUME, store_dir)]
    _run_stores(docs, checkpoint_dir, timeout_sec, "run_stream_volume_counts", steps)


_VOLUME_LOG = _log(
    "log",
    "source string, n_docs bigint, share double, quiet boolean, quiet_streak int, alert boolean",
)


def run_stream_volume_monitor(
    docs: DataFrame,
    known_sources: list[str],
    store_dir: str,
    checkpoint_dir: str,
    min_share: float = 0.01,
    k: int = 3,
    timeout_sec: int = 120,
) -> None:
    """Volume-QUIET alert monitor — the report-card
    volume store's operational twin, mirroring the decode-health monitor:
    per micro-batch, ingest the batch's (source, lang) volume partials
    into ``store_dir/counts`` (the exact staged-delta contract of
    run_stream_volume_counts — ``report_card_from_store`` reads the counts
    dir directly) AND append one evaluation-log row PER KNOWN SOURCE: the
    source's doc count and share OF THIS BATCH, whether the source went
    quiet (share below ``min_share`` — the PSI zero-mass idiom: a feed's
    total silence is the strongest drift signal, so share is 0.0 when the
    source is absent or the batch is empty, never a skipped term), the
    consecutive-quiet streak carried forward from the log itself, and
    ``alert = quiet_streak >= k``. A crawl feed whose upstream died — the
    collapse q157's batch report card only surfaces at audit time —
    alerts on exactly the k-th quiet drop.

    Scale shape: per batch one tiny groupBy over the batch, one read of
    the batch's own just-staged partial rows (O(sources x langs), never
    the corpus), one read of the log's latest row per source (O(batches x
    sources) additive-log rows until compaction of counts; the log itself
    is the monitor's state, the q165 EWMA-carry idiom). A replayed batch's
    streak is derived from strictly earlier log rows only."""
    from ..functions import text as X

    counts_dir = os.path.join(store_dir, "counts")

    def evaluate(spark: SparkSession, eff_id: int) -> DataFrame:
        # this batch's per-source totals from its own just-staged partials
        own = (
            _VOLUME.part()
            .read(spark, counts_dir)
            .where(F.col("batch_id") == eff_id)
            .groupBy("source")
            .agg(F.sum("n_docs").cast("bigint").alias("n_docs"))
        )
        known = local_frame(spark, [(s,) for s in known_sources], "source string")
        total = own.agg(F.sum("n_docs").alias("__total"))
        # latest streak per source from strictly earlier log rows
        prev = (
            _VOLUME_LOG.read(spark, store_dir)
            .where(F.col("batch_id") < eff_id)
            .groupBy("source")
            .agg(F.max_by("quiet_streak", "batch_id").alias("prev_streak"))
        )
        share = F.when(
            F.coalesce(F.col("__total"), F.lit(0)) > 0,
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("double") / F.col("__total"),
        ).otherwise(F.lit(0.0))
        quiet = F.col("share") < F.lit(min_share)
        streak = F.when(
            F.col("quiet"), F.coalesce(F.col("prev_streak"), F.lit(0)) + F.lit(1)
        ).otherwise(F.lit(0))
        return (
            known.join(own, "source", "left")
            .crossJoin(F.broadcast(total))
            .join(prev, "source", "left")
            .select(
                "source",
                F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
                share.alias("share"),
                "prev_streak",
            )
            .withColumn("quiet", quiet)
            .withColumn("quiet_streak", streak.cast("int"))
            .withColumn("alert", F.col("quiet_streak") >= F.lit(k))
            .select("source", "n_docs", "share", "quiet", "quiet_streak", "alert")
        )

    def enrich(batch: DataFrame) -> DataFrame:
        # raw documents schema in (the run_stream_ingest_suite contract);
        # token counts derived once per batch, same as the suite
        n_toks = X.token_count(F.col("text")).cast("bigint").alias("n_toks")
        return batch.select("source", "lang", "n_chars", n_toks)

    steps, log = [(_VOLUME, counts_dir)], (_VOLUME_LOG, store_dir, evaluate)
    _run_stores(docs, checkpoint_dir, timeout_sec, "run_stream_volume_monitor", steps, enrich, log)


def volume_monitor_log(spark: SparkSession, store_dir: str) -> DataFrame:
    """The volume-quiet monitor's append-only evaluation log, ordered by
    (batch, source)."""
    return _VOLUME_LOG.fold(spark, store_dir)


def report_card_from_store(
    spark: SparkSession, vol_store_dir: str, flow_store_dir: str
) -> DataFrame:
    """q157's per-source report card folded from two ingest stores — the
    volume partials (run_stream_volume_counts) and the dup-flow store
    (run_stream_dup_flow) run over the SAME document stream — reading
    only store rows, never the corpus.

    Dup exposure is recovered from the flow edges: a doc sits in a
    multi-copy group iff it is either a recorded duplicate (one edge row
    per dup, attributed to dup_source) or the keeper of a group that has
    at least one edge (one distinct fp per keeper_source). Unlike q146's
    keeper ATTRIBUTION, this per-source total is arrival-order-INDEPENDENT:
    whoever arrives first, each member of a multi-copy group is counted
    exactly once for its own source — so the fold equals batch q157 under
    any arrival order, not just id-ordered drops (pytest pins both)."""
    agg = _VOLUME.part().read(spark, vol_store_dir).groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )
    edges = _DUP_FLOW.part("edges").read(spark, flow_store_dir)
    dup_side = edges.groupBy(F.col("dup_source").alias("source")).agg(
        F.sum("n_docs").cast("bigint").alias("n_dup")
    )
    keeper_side = edges.groupBy(F.col("keeper_source").alias("source")).agg(
        F.countDistinct("fp").alias("n_keep")
    )
    exposure = (
        dup_side.join(keeper_side, "source", "full_outer")
        .na.fill(0, ["n_dup", "n_keep"])
        .select("source", (F.col("n_dup") + F.col("n_keep")).alias("dup_docs"))
    )
    return (
        agg.join(exposure, "source", "left")
        .na.fill(0, ["dup_docs"])
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("sum_chars").cast("double") / F.col("n_docs")).alias("avg_chars"),
            "n_langs",
            F.col("dup_docs").cast("bigint").alias("dup_docs"),
            (F.col("dup_docs").cast("double") / F.col("n_docs")).alias("dup_rate"),
        )
        .orderBy("source")
    )


def dedup_adjusted_budget_from_store(
    spark: SparkSession,
    vol_store_dir: str,
    kept_store_dir: str,
    budget_tokens: int | None = None,
) -> DataFrame:
    """The incremental twin of the dedup-adjusted token-budget plan
    (q226's exact-dedup sibling, over stores only): per source — raw
    token mass from the volume partials, EFFECTIVE mass from the kept
    store (each exact-fp group's tokens counted once, at its
    first-arrival keeper's source — the dup-flow store's keeper
    contract), the dup discount, and q147's sqrt-temperature plan re-run
    on the effective mass. Reads O(batches × sources) additive rows,
    never the corpus: the budget re-plans after every crawl drop for the
    cost of two tiny folds.

    Matches the batch computation (min-doc_id keeper per fingerprint)
    whenever arrival order respects doc_id order — the same contract as
    q146's flow matrix (pytest-pinned). Sources whose every document
    duplicates an earlier arrival keep a row with eff 0 / weight 0."""
    if budget_tokens is None:
        from ..plans.curation import _BUDGET_TOKENS as budget_tokens
    raw = (
        _VOLUME.part()
        .read(spark, vol_store_dir)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("raw_tokens"),
        )
    )
    eff = (
        _KEPT.part()
        .read(spark, kept_store_dir)
        .groupBy("source")
        .agg(F.sum("kept_tokens").cast("bigint").alias("eff_tokens"))
    )
    from ..plans.curation import budget_plan_columns

    j = raw.join(eff, "source", "left").na.fill(0, ["eff_tokens"])
    return budget_plan_columns(j, budget_tokens)


def run_stream_ingest_suite(
    docs: DataFrame,
    root_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
    near_dup: bool = False,
    scorecard: bool = False,
) -> tuple[str, ...]:
    """ONE pass over the raw document stream feeding the corpus-health
    stores — the deployment shape for dedup-at-ingest: a crawl drop is
    read once, fingerprint and token count are computed once per batch,
    and the same cached micro-batch drives the dup-flow ingest (keepers +
    edges) and the volume ingest (per-(source, lang) partials). Running
    the two stores as separate streams re-reads and re-tokenizes every
    drop; here the normalize/tokenize map runs once for all consumers.

    ``docs`` is the raw documents schema (doc_id, text, lang, source,
    n_chars). Stores land under ``root_dir/flow``, ``root_dir/volume``
    and ``root_dir/kept`` — exactly the layouts
    dup_flow_matrix_from_store, report_card_from_store and
    dedup_adjusted_budget_from_store read. Returns (flow_dir, volume_dir,
    kept_dir).

    ``near_dup=True`` widens the same single pass to the
    near-dup stores: the cached batch additionally drives the LSH ingest
    (``root_dir/lsh``) and the cluster-label store (``root_dir/labels``)
    — shingling and banding run once per drop alongside the fingerprint
    stores, so EVERY corpus-health fold (flow matrix, report card,
    exact-fp budget, NEAR-dup budget) maintains itself from one read of
    the crawl. Returns two extra dirs in that case.

    ``scorecard=True`` further widens the pass to the three
    stores the live curation scorecard needs beyond flow+volume —
    fertility sums (``root_dir/fert``), decode-health counts
    (``root_dir/health``) and shingle-occurrence counts
    (``root_dir/shingles``) — so curation_scorecard_from_stores can
    re-derive batch q232's exact table after every drop without ever
    re-reading the corpus. Returns those dirs appended."""
    _run_suite(
        docs, root_dir, checkpoint_dir, timeout_sec, "run_stream_ingest_suite", near_dup, scorecard
    )
    names = ["flow", "volume", "kept"]
    names += ["lsh", "labels"] if near_dup else []
    names += ["fert", "health", "shingles"] if scorecard else []
    return tuple(os.path.join(root_dir, name) for name in names)


def _run_suite(
    docs: DataFrame,
    root_dir: str,
    checkpoint_dir: str,
    timeout_sec: int,
    label: str,
    near_dup: bool,
    scorecard: bool,
    log: tuple[_Part, str, Callable[[SparkSession, int], DataFrame]] | None = None,
) -> None:
    """The document suite's stores under ``root_dir``, fed by one cached
    projection of each batch. The projection carries the fingerprint and
    the token count every store reads, plus the text for the steps that
    read it: the shingle steps (LSH, the scorecard's shingle counts) each
    stage the tokens in their own projection and shingle that column, and
    the media-health step plants and classifies its blobs in one Arrow
    pass."""
    from ..functions import text as X

    path = lambda name: os.path.join(root_dir, name)  # noqa: E731
    flow = _DUP_FLOW._replace(step=partial(_dup_flow_step, kept_dir=path("kept")))
    steps = [(flow, path("flow")), (_VOLUME, path("volume"))]
    if near_dup:
        lsh = _LSH._replace(step=partial(_lsh_step, labels_dir=path("labels")))
        steps.append((lsh, path("lsh")))
    if scorecard:
        steps += [
            (_FERT, path("fert")),
            (_MEDIA_HEALTH, path("health")),
            (_SHINGLES, path("shingles")),
        ]

    def enrich(batch: DataFrame) -> DataFrame:
        # fingerprint + token count computed once per micro-batch for every
        # store; the shingle steps and the fert step read the text
        return batch.select(
            "doc_id",
            *(["text"] if near_dup or scorecard else []),
            "source",
            "lang",
            "n_chars",
            X.fingerprint(F.col("text")).alias("fp"),
            X.token_count(F.col("text")).cast("bigint").alias("n_toks"),
        )

    _run_stores(docs, checkpoint_dir, timeout_sec, label, steps, enrich, log)


# The scorecard stores (the q232 signals flow + volume don't already
# carry). All three stage additive rows, so the folds commute with arrival
# order.


def _fert_step(batch: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
    """Per-source additive (n_docs, normalized chars, whitespace words) over
    non-null text — q210's fertility numerator/denominator."""
    from ..functions import text as X

    _stage(
        batch.filter(F.col("text").isNotNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.length(X.normalize(F.col("text"))).cast("bigint"))
            .cast("bigint")
            .alias("norm_chars"),
            # the suite already tokenized once per doc (token_count ==
            # size(tokens) on non-null text) — reuse its n_toks column
            # instead of a second tokenize pass
            F.sum("n_toks").cast("bigint").alias("n_words"),
        ),
        store_dir,
        eff_id,
    )


def _shingles_step(batch: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
    """Per (shingle-hash, source) occurrence counts over non-null text —
    q225's posting-list masses, additive across batches. The key is
    xxhash64 of the 3-shingle, not the string: 8 bytes/row instead of the
    shingle text. A 64-bit collision merges two shingles' df (novelty reads
    marginally LOW, never high); at test corpus sizes collision probability
    is ~1e-8, and at 10^12 corpus shingles the expected handful of
    collisions moves a share ratio in the 12th decimal — the honest trade
    for a 3-5x smaller store."""
    from ..functions import text as X

    _stage(
        batch.filter(F.col("text").isNotNull())
        .select("source", X.tokens(F.col("text")).alias("toks"))
        .select("source", F.explode_outer(X.shingles_of_tokens(F.col("toks"), 3)).alias("s"))
        .groupBy(F.xxhash64("s").alias("sh"), "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")),
        store_dir,
        eff_id,
    )


_FERT = _Store(
    (_summed(None, "source string, n_docs bigint, norm_chars bigint, n_words bigint", "source"),),
    _fert_step,
)
_SHINGLES = _Store(
    (_summed(None, "sh bigint, source string, cnt bigint", "sh", "source"),), _shingles_step
)


def curation_scorecard_from_stores(spark: SparkSession, root_dir: str) -> DataFrame:
    """Batch q232's per-source curation scorecard folded ENTIRELY from the
    ingest-suite stores — the one table a data lead reads, maintained
    live: after any crawl drop the fold re-derives dup exposure (flow +
    volume stores), tokenizer fertility (fert store), media decode health
    (health store) and n-gram novelty (shingle store), then applies the
    SAME scorecard_columns formula as the batch plan. Reads O(batches x
    sources) additive rows everywhere except the shingle fold, which is
    one hash aggregate over O(distinct shingles) store rows — the store
    IS the posting-list df table, so novelty costs a groupBy, not a
    corpus re-tokenize.

    Tuple-exact equal to batch q232 after full ingest (pinned fwd +
    reversed arrival + mid-stream compaction in tests/test_streaming.py);
    novelty's only divergence channel is a 64-bit shingle-hash collision
    (see _shingles_step)."""
    from ..plans.curation import scorecard_columns

    rep = report_card_from_store(
        spark, os.path.join(root_dir, "volume"), os.path.join(root_dir, "flow")
    ).select("source", "n_docs", "n_tokens", "dup_rate")
    fert = (
        _FERT.part()
        .read(spark, os.path.join(root_dir, "fert"))
        .groupBy("source")
        .agg(
            (
                F.sum("norm_chars").cast("double") / F.sum("n_words")
            ).alias("chars_per_word")
        )
    )
    health = _HEALTH.part().read(spark, os.path.join(root_dir, "health"))
    med = health.groupBy("source").agg(
        (
            F.sum(F.when(F.col("status") != "ok", F.col("n_docs")).otherwise(0))
            .cast("double")
            / F.sum("n_docs")
        ).alias("malformed_share")
    )
    sh = _SHINGLES.part().fold(spark, os.path.join(root_dir, "shingles"))
    df_tab = sh.groupBy("sh").agg(F.sum("cnt").alias("df"))
    nov = (
        sh.join(df_tab, "sh")
        .groupBy("source")
        .agg(
            (
                F.sum(F.when(F.col("df") == 1, F.col("cnt")).otherwise(0))
                .cast("double")
                / F.sum("cnt")
            ).alias("novelty_share")
        )
    )
    j = (
        rep.join(fert, "source", "left")
        .join(med, "source", "left")
        .join(nov, "source", "left")
    )
    return scorecard_columns(j)


_SCORECARD_LOG = _log(
    "log", "source string, n_flags int, recommendation string, degraded boolean"
)


def _rec_rank() -> F.Column:
    """renew < review < reduce as an ordinal (built lazily — Column
    construction needs a live SparkContext, so no module-level exprs)."""
    return (
        F.when(F.col("recommendation") == "renew", 0)
        .when(F.col("recommendation") == "review", 1)
        .otherwise(2)
    )


def run_stream_scorecard_monitor(
    docs: DataFrame,
    root_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """Operational endpoint of the live scorecard: the same one-pass
    scorecard-store ingest as run_stream_ingest_suite(scorecard=True),
    plus one evaluation-log row PER SOURCE after every drop — the current
    flag count and recommendation, and ``degraded``: did this drop push
    the source's recommendation strictly WORSE (renew→review→reduce) than
    its last logged verdict? A crawl source that starts flooding
    duplicates or broken media pages the data lead on the drop that
    crossed the threshold, months before the renewal review reads q232.

    Scale shape: per batch the suite's staged ingests (additive rows) +
    the scorecard fold (store rows only, the shingle fold's hash
    aggregate dominating — O(distinct shingles), so a paging cadence at
    large corpus scale wants compact_shingle_store run on a maintenance
    schedule to keep the fold at one row per shingle) + an O(sources)
    log row set. The log (never compacted) stages by raw batch id, the
    degraded flag computed against strictly-earlier rows only."""

    def evaluate(spark: SparkSession, batch_id: int) -> DataFrame:
        sc = curation_scorecard_from_stores(spark, root_dir).select(
            "source", "n_flags", "recommendation", _rec_rank().alias("rk")
        )
        prev = (
            _SCORECARD_LOG.read(spark, root_dir)
            .where(F.col("batch_id") < batch_id)
            .groupBy("source")
            .agg(F.max_by("recommendation", "batch_id").alias("recommendation"))
            .select("source", _rec_rank().alias("prev_rk"))
        )
        return sc.join(prev, "source", "left").select(
            "source",
            "n_flags",
            "recommendation",
            # first sighting of a source is a baseline, not a downgrade
            (F.col("rk") > F.coalesce(F.col("prev_rk"), F.col("rk"))).alias("degraded"),
        )

    _run_suite(
        docs,
        root_dir,
        checkpoint_dir,
        timeout_sec,
        "run_stream_scorecard_monitor",
        near_dup=False,
        scorecard=True,
        log=(_SCORECARD_LOG, root_dir, evaluate),
    )


def scorecard_monitor_log(spark: SparkSession, root_dir: str) -> DataFrame:
    """The scorecard monitor's append-only evaluation log, ordered by
    (batch, source)."""
    return _SCORECARD_LOG.fold(spark, root_dir)


def run_stream_psi_counts_by_key(
    values: DataFrame,
    ref_edges: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    n_bins: int = 10,
    timeout_sec: int = 120,
) -> None:
    """Keyed drift-monitor ingestion — the streaming twin of batch q160
    (plans/drift.py): bin a (key, v) stream against PER-KEY frozen
    reference edges (``ref_edges``: key, lo, width — computed once when
    the per-segment reference windows froze) and append per-batch
    (key, bin) counts under batch_id=N. Rows whose key has no reference
    edges are dropped — the
    same contract as q160's inner edges join (a segment never seen at
    training time has no frozen bins to count into).

    Scale: the edges side is O(segments) rows (broadcast per batch); the
    store grows O(batches x segments x bins) of additive state."""
    steps, binner = [(_psi_counts(["key"]), store_dir)], _keyed_binner(ref_edges, n_bins)
    _run_stores(values, checkpoint_dir, timeout_sec, "run_stream_psi_counts_by_key", steps, binner)


def psi_by_key_from_store(
    spark: SparkSession,
    store_dir: str,
    ref_counts: DataFrame,
    eps: float = 1e-9,
) -> DataFrame:
    """Per-(key, bin) PSI terms of the streamed populations vs per-key
    frozen reference histograms (``ref_counts``: key, bin, n_ref). Counts
    are additive across micro-batches, so once the backlog drains this
    equals batch q160 on the same splits/edges exactly (pytest-pinned);
    bin and term math are IMPORTED from plans/drift, so the twins cannot
    drift apart by construction."""
    return _psi_fold(spark, store_dir, ref_counts, ["key"], eps)


def run_stream_drift_monitor_by_key(
    values: DataFrame,
    ref_edges: DataFrame,
    ref_counts: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    n_bins: int = 10,
    psi_alert: float = 0.2,
    timeout_sec: int = 120,
) -> None:
    """Keyed operational drift monitor — run_stream_drift_monitor's
    multi-population face (q160's deployment): per micro-batch, append
    the per-key frozen-edge bin counts (the run_stream_psi_counts_by_key
    store) AND one evaluation-log row PER KEY (batch_id, key, psi_total,
    n_cur, alert) computed from the cumulative store vs the per-key
    reference histograms. One segment crossing ``psi_alert`` raises its
    own flag without the quiet segments' mass diluting it — the
    localization a corpus-level monitor can't give.

    Like the unkeyed monitor, psi_total is a driver-side float sum of the
    per-(key, bin) rounded terms — an operational signal; the per-bin
    terms (oracle-paired via q160) stay in the store for exact auditing."""
    counts_dir = os.path.join(store_dir, "counts")
    steps, binner = [(_psi_counts(["key"]), counts_dir)], _keyed_binner(ref_edges, n_bins)
    log = (_psi_log(["key"]), store_dir, _psi_evaluate(counts_dir, ref_counts, ["key"], psi_alert))
    label = "run_stream_drift_monitor_by_key"
    _run_stores(values, checkpoint_dir, timeout_sec, label, steps, binner, log)


def drift_monitor_log_by_key(spark: SparkSession, store_dir: str) -> DataFrame:
    """The keyed monitor's append-only evaluation log, ordered by
    (batch, key)."""
    return _psi_log(["key"]).fold(spark, store_dir)


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH near-dup detection at ingest: the streaming twin
# of batch q36 (plans/dedup.py lsh_jaccard_pairs). The q87/q146
# fingerprint stores catch EXACT duplicates at ingest; a 100-TB
# pipeline also near-dups at ingest — each arriving crawl drop's docs must
# be checked against every previously ingested doc without rescanning the
# corpus. Band buckets make that an equi-join against stored band keys.
# ---------------------------------------------------------------------------

def _lsh_step(
    batch: DataFrame, eff_id: int, store_dir: str, raw_id: int, labels_dir: str | None = None
) -> None:
    """One micro-batch of the LSH near-dup store: shingle + band the batch,
    find candidates within the batch AND against the stored band keys of
    batches < this one, exact-Jaccard-verify candidates only, stage the
    batch's new pairs and its state rows (the state lookup filters
    batch_id < N so a replay never joins its own earlier write).

    A replay of a folded id lands above the compacted delta, its state
    filter still sees the compacted history, and already-ingested doc_ids
    are dropped by the anti-join — a no-op instead of a double-ingest.
    Across compactions the floor only grows and the maintenance-window
    contract folds every existing delta first, so no live partition ever
    sits above a newer floor's remap range.

    ``labels_dir`` (the ingest-suite path): hand the completed pairs to the
    near-dup label store there — the batch must then carry (source,
    n_toks)."""
    from ..functions import text as X
    from ..operators.banding import bucket_pairs, explode_bands
    from ..plans.dedup import _verify_candidate_pairs, band_key_structs

    spark = batch.sparkSession
    # null-shingle docs (null text) can never verify; drop like batch q36
    cur = (
        batch.select("doc_id", X.tokens(F.col("text")).alias("toks"))
        .select("doc_id", X.shingles_of_tokens(F.col("toks"), 3).alias("sh"))
        .where(F.col("sh").isNotNull())
        .withColumn("bands", F.array(*band_key_structs(F.col("sh"))))
    )
    state = (
        _LSH.part("state")
        .read(spark, store_dir)
        .where(F.col("batch_id") < eff_id)
        .drop("batch_id")
    )
    # idempotence across compaction: a doc whose id is already in state
    # (its batch was folded into the compacted delta) must not re-ingest
    cur = cur.join(state.select("doc_id"), "doc_id", "left_anti")
    cur = cur.localCheckpoint(eager=True)  # four consumers; shingling is the cost

    # postings of the batch feed both legs of the within-batch join and
    # the batch-vs-store join; the store's own pairs were emitted by the
    # batch that completed them, so only pairs with a new side are sought
    new = explode_bands(cur, "doc_id", F.col("bands")).localCheckpoint(eager=True)
    old = explode_bands(state, "doc_id", F.col("bands"))
    candidates = bucket_pairs(new, against=old).withColumnsRenamed(
        {"a": "doc_a", "b": "doc_b"}
    )
    # exact verify on candidates only (the q36 contract): shingle lookup
    # spans this batch plus the stored state
    sh_all = cur.select("doc_id", "sh").unionByName(state.select("doc_id", "sh"))
    pairs = _verify_candidate_pairs(sh_all, candidates, sort=False)
    pairs_part = _LSH.part("pairs")
    pairs_delta = _stage(pairs, pairs_part.path(store_dir), eff_id)
    _stage(cur.select("doc_id", "sh", "bands"), _LSH.part("state").path(store_dir), eff_id)
    if labels_dir is not None:
        # pairs are read BACK from the staged delta — already
        # materialized, so the candidate join never recomputes, and a
        # folded-id replay (empty cur ⇒ empty delta) makes the label
        # update a no-op by construction
        pairs_back = spark.read.schema(pairs_part.schema).parquet(pairs_delta)
        labels = _ND_LABELS._replace(step=partial(_near_dup_label_step, pairs=pairs_back))
        _ingest(labels, batch.select("doc_id", "source", "n_toks"), raw_id, labels_dir)


# state: one row per ingested doc; pairs: each unordered pair lives in the
# one delta of the batch that completed it
_LSH = _Store(
    (
        _rewritten(
            "state", "doc_id bigint, sh array<string>, bands array<struct<band:int,key:bigint>>"
        ),
        _rewritten("pairs", "doc_a bigint, doc_b bigint, jac double"),
    ),
    _lsh_step,
)


def run_stream_lsh_dedup(
    docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch incremental MinHash-LSH near-dup store — near-dup
    detection AT INGEST. ``docs`` is a streaming frame of (doc_id, text);
    two staged-delta parquet tables:

      state/batch_id=N/ (doc_id, sh, bands) — shingle sets + band keys of
                        batch N's docs (the lookup side for later batches).
      pairs/batch_id=N/ (doc_a, doc_b, jac) — near-dup pairs COMPLETED by
                        batch N: both docs in N, or one in N and one in an
                        earlier batch (oriented least/greatest, so each
                        unordered pair is staged exactly once — by the
                        batch that sees its second member).

    ``near_dup_pairs_from_store`` folds the deltas into batch q36's exact
    output, and the fold is arrival-order-independent (each pair is
    emitted once with a content-determined jac), pinned for in-order AND
    reversed drops in tests/test_streaming.py.

    Scale shape: per batch, candidate generation is an equi-join on
    (band, key) between the batch's exploded band keys and the store's —
    never an all-pairs pass; verification touches candidates only. The
    state read grows with store size until compaction
    (compact_lsh_dedup_store) folds the deltas; at 100 TB the state lives
    bucketed on (band, key) so the per-batch join co-locates without a
    full-store shuffle. Unlike batch q36 there is no exact-dup collapse:
    a batch is one crawl drop, and the irreducible output of a planted
    everyone-identical corpus (quadratic pairs) dominates the candidate
    work anyway."""
    _run_stores(docs, checkpoint_dir, timeout_sec, "run_stream_lsh_dedup", [(_LSH, store_dir)])


def near_dup_pairs_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Batch q36's (doc_a, doc_b, jac) folded from the LSH ingest store —
    reads only the pair deltas (linear in near-dups), never the corpus."""
    return (
        _LSH.part("pairs")
        .read(spark, store_dir)
        .select("doc_a", "doc_b", "jac")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Incremental NEAR-dup cluster labels + kept-mass accounting: the exact-fp
# kept store nets out only byte-identical
# duplication, so its budget OVERSTATES each source's effective tokens vs
# batch q226 (which nets near-dup clusters via connected components). The
# LSH ingest already completes every near-dup pair at ingest; this store
# maintains CLUSTER-STABLE incremental keepers on top of it.
#
# Invariant that makes it fold-simple: a cluster's label is its min
# doc_id, and min-label propagation only ever DECREASES a doc's label —
# so the store stages (doc_id, source, nt, label) rows where the CURRENT
# label of a doc is the MIN over its staged rows. The fold is a
# commutative, idempotent min — replaying a batch (even the folded-id
# schedule that double-counts additive stores) re-stages rows whose min
# is unchanged, so this store has NO bounded-double-count caveat. A doc
# is its cluster's keeper iff label == doc_id, which is exactly batch
# q226's min-doc_id keeper — making the budget fold two tiny aggregates.
#
# Per batch, the merge works on the LABEL-CONTRACTED graph: each new pair
# connects its endpoints' CURRENT labels; connected components over that
# (tiny — bounded by 2x the batch's new pairs) yield the label remap, and
# every doc whose current label was remapped gets one update row. A label
# value, once remapped away, is never current again, so update rows are
# found by a broadcast join of the staged rows against the remap — no
# corpus-wide fold per batch.
# ---------------------------------------------------------------------------

def _near_dup_label_step(
    meta: DataFrame, eff_id: int, labels_dir: str, _: int, pairs: DataFrame
) -> None:
    """One micro-batch of the near-dup label store. ``meta`` is the
    batch's (doc_id, source, n_toks); ``pairs`` the near-dup pairs this
    batch COMPLETED (the LSH step's staged delta — both docs in this
    batch, or one here and one stored)."""
    spark = meta.sparkSession
    prior_rows = (
        _ND_LABELS.part()
        .read(spark, labels_dir)
        .where(F.col("batch_id") < eff_id)
        .drop("batch_id")
    )
    # docs new to the store start self-labeled (their own singleton
    # cluster); a folded-id replay finds them all already present
    new_docs = (
        meta.join(prior_rows.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            "source",
            F.col("n_toks").cast("bigint").alias("nt"),
            F.col("doc_id").alias("label"),
        )
        .localCheckpoint(eager=True)  # consumed by endpoint lookup + delta
    )
    all_rows = prior_rows.unionByName(new_docs)
    if pairs.isEmpty():
        _stage(new_docs, labels_dir, eff_id)
        return
    # current labels of the pairs' endpoints (tiny set): min over a doc's
    # staged rows IS its current label
    ep_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    ep = (
        all_rows.join(F.broadcast(ep_ids), "doc_id")
        .groupBy("doc_id")
        .agg(F.min("label").alias("label"))
    )
    la = ep.select(F.col("doc_id").alias("doc_a"), F.col("label").alias("src"))
    lb = ep.select(F.col("doc_id").alias("doc_b"), F.col("label").alias("dst"))
    label_edges = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)  # consumed by the guard + CC rounds
    )
    if label_edges.isEmpty():
        # every pair lies within an existing cluster — no merges; the
        # steady-state fast path once clusters have formed
        _stage(new_docs, labels_dir, eff_id)
        return
    verts = (
        label_edges.select(F.col("src").alias("id"))
        .unionByName(label_edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    from ..operators.graph import connected_components

    comp = connected_components(verts, label_edges)
    remap = comp.where(F.col("id") != F.col("component"))
    # one update row per doc whose CURRENT label was merged away; stale
    # rows never match (a remapped-away label is never current again)
    changed = (
        all_rows.join(F.broadcast(remap), all_rows["label"] == remap["id"])
        .select("doc_id", "source", "nt", F.col("component").alias("label"))
    )
    _stage(new_docs.unionByName(changed), labels_dir, eff_id)


# one row per doc at its current (min) label: an idempotent min/max fold,
# exact under any schedule (no double-count caveat); the step gets its
# pairs from the LSH step's hand-off
_ND_LABELS = _Store(
    (
        _Part(
            None,
            "doc_id bigint, source string, nt bigint, label bigint",
            lambda df: df.groupBy("doc_id").agg(
                F.max("source").alias("source"),
                F.max("nt").alias("nt"),
                F.min("label").alias("label"),
            ),
        ),
    )
)


def dedup_adjusted_budget_from_labels_store(
    spark: SparkSession, labels_dir: str, budget_tokens: int | None = None
) -> DataFrame:
    """Batch q226 folded from the near-dup label store: current labels
    are the min per doc over the staged rows; keepers are docs whose
    label is their own id (batch q226's min-doc_id keeper, by the CC
    label convention); effective mass counts each CLUSTER once at its
    keeper's source. Equals batch q226 exactly after the backlog drains —
    arrival-order-independent, because the pair set is (pinned) and the
    min-label fold is commutative. Reads O(docs + updates) narrow store
    rows, never the corpus."""
    if budget_tokens is None:
        from ..plans.curation import _BUDGET_TOKENS as budget_tokens
    from ..plans.curation import budget_plan_columns

    cur = _ND_LABELS.part().fold(spark, labels_dir)
    raw = cur.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("bigint").alias("raw_tokens"),
    )
    eff = (
        cur.where(F.col("doc_id") == F.col("label"))
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("eff_tokens"))
    )
    j = raw.join(eff, "source", "left").na.fill(0, ["eff_tokens"])
    return budget_plan_columns(j, budget_tokens)


def cluster_sizes_from_labels_store(
    spark: SparkSession, labels_dir: str
) -> DataFrame:
    """Batch q234's cluster-size histogram folded from the near-dup label
    store: current labels are the min per doc over the staged rows (the
    idempotent fold), then q234's own histogram math
    (plans/dedup.cluster_size_distribution) — the live answer to "did
    this drop grow a mega-template?" without re-running LSH or CC.
    Equals batch q234 exactly after the backlog drains, for the same
    reason the budget fold equals q226 (converged min labels ARE the
    component labels, pinned)."""
    from ..plans.dedup import cluster_size_distribution

    cur = (
        _ND_LABELS.part()
        .read(spark, labels_dir)
        .groupBy("doc_id")
        .agg(F.min("label").alias("label"))
    )
    return cluster_size_distribution(cur, label_col="label")


_KS_LOG = _log("log", "ks_stat double, n_cur bigint, alert boolean")


def run_stream_ks_monitor(
    events: DataFrame,
    key_col: str,
    value_col: str,
    ref_means,
    ref_weights,
    store_dir: str,
    checkpoint_dir: str,
    key: str | None = None,
    ks_alert: float = 0.1,
    delta: float = 200.0,
    timeout_sec: int = 120,
) -> None:
    """Operational KS monitor — the t-digest counterpart of
    run_stream_drift_monitor, closing the drift family's last
    evaluate-at-ingest gap: per micro-batch, append the batch's t-digest
    partials (the run_stream_tdigest store) AND one evaluation-log row
    (batch_id, ks_stat, n_cur, alert) from the CUMULATIVE store vs the
    frozen reference digest (``ref_means``/``ref_weights``, the
    training-time artifact). No raw event is ever revisited: each
    evaluation merges O(batches x delta) centroid rows.

    Alert contract: fires when the approximate KS crosses ``ks_alert``,
    AND when the monitored population has zero accumulated mass while a
    reference exists (n_cur = 0 -> ks is NaN, and ``NaN >= x`` is False —
    the same silent-never-alert trap the PSI store's zero-total guard
    closes; total loss of an expected population is the loudest drift)."""
    partials_dir = os.path.join(store_dir, "partials")

    def evaluate(spark: SparkSession, eff_id: int) -> DataFrame:
        ks, n_cur = ks_from_digest_store(
            spark, partials_dir, ref_means, ref_weights, key=key, delta=delta
        )
        alert = bool(ks >= ks_alert) or n_cur == 0
        return local_frame(spark, [(float(ks), int(n_cur), alert)], _KS_LOG.schema)

    steps = [(_digests(key_col, value_col, delta), partials_dir)]
    log = (_KS_LOG, store_dir, evaluate)
    _run_stores(events, checkpoint_dir, timeout_sec, "run_stream_ks_monitor", steps, log=log)


def ks_monitor_log(spark: SparkSession, store_dir: str) -> DataFrame:
    """The KS monitor's append-only evaluation log, ordered by batch."""
    return _KS_LOG.fold(spark, store_dir)


# ---------------------------------------------------------------------------
# CDC-at-ingest: the streaming twin of batch q164 (plans/cdc.py). The op
# log arrives as micro-batches; the store keeps latest-op-per-key deltas;
# the fold applies them to a base snapshot with the SAME apply/fingerprint
# code the batch query uses (imported — batch==stream cannot drift apart).
# ---------------------------------------------------------------------------


def run_stream_cdc_ops(
    ops: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch latest-wins op store: each micro-batch of CDC op rows
    (``plans.cdc.CDC_OPS_SCHEMA``: k, seq unique per key, op I/U/D,
    payload) is pre-collapsed to its own latest-op-per-key and staged
    under ``batch_id=N``. The fold re-merges deltas by max seq, so
    out-of-order arrival
    ACROSS batches is also correct (latest-wins is associative under the
    unique-seq contract) — strictly stronger than the arrival-order
    contract the dup-flow store needs.

    Scale shape: per-batch work is one keyed hash aggregate over the
    batch (map-side combinable), O(batch) writes, and NO read of the
    existing store — unlike a swap-per-batch upsert, ingest cost never
    grows with state size; the store is bounded by distinct touched keys
    after compact_cdc_store."""
    _run_stores(ops, checkpoint_dir, timeout_sec, "run_stream_cdc_ops", [(_CDC, store_dir)])


# latest op per key: associative under the unique-seq contract
_CDC = _Store(
    (_Part(None, CDC_OPS_SCHEMA, latest_cdc_ops),),
    lambda batch, eff_id, store_dir, _: _stage(latest_cdc_ops(batch), store_dir, eff_id),
)


def cdc_snapshot_from_store(
    spark: SparkSession, base: DataFrame, store_dir: str
) -> DataFrame:
    """Batch q164's post-apply per-status fingerprint, computed from the
    accumulated op store instead of a one-shot log: merge the deltas
    (max seq per key), then the shared apply + fingerprint. With zero
    micro-batches processed this is the fingerprint of the unchanged
    base (empty-store contract, as dup_flow_matrix_from_store)."""
    from ..plans.cdc import apply_cdc_ops, cdc_status_fingerprint

    return cdc_status_fingerprint(
        apply_cdc_ops(base, _CDC.part().fold(spark, store_dir))
    )


# ---------------------------------------------------------------------------
# Last-touch attribution at ingest: the streaming twin of batch q179
# (plans/customer.py). Two staged parts:
#
#   clicks/batch_id=N/   (user_id, click_key) — batch N's per-user BEST
#                        packed click key (attribution_click_key: ts, id,
#                        campaign in one decimal; max = latest click).
#   revenue/batch_id=N/  (campaign, n_purchases, rev_units) — batch N's
#                        purchases attributed against (store clicks from
#                        batches < N) ∪ (same-batch clicks strictly before
#                        the purchase, the q179 window applied within the
#                        batch). Revenue in exact 1e-4 int units.
#
# The packed key makes the store lookup pure range algebra: a click is
# eligible for a purchase at ts_p iff click_key ∈ [(ts_p - 7d)·1e9,
# ts_p·1e9) — strictly-before and the 7-day lookback in one decimal range,
# no timestamp column needed. Because eligibility is enforced by the key
# range (not by arrival order), a store click "from the future" of some
# replayed purchase can never win; the only contract is the usual one:
# a click must not ARRIVE in a later batch than a purchase it should have
# attributed (time-ordered drops), same as the dup-flow store.
# ---------------------------------------------------------------------------


def _attribution_step(batch: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
    from ..plans.customer import (
        ATTR_WINDOW_US,
        attribution_campaign_expr,
        attribution_click_key,
    )

    spark = batch.sparkSession
    ts_us = epoch_us(F.col("ts"))
    ck = F.when(
        F.col("event_type") == "click",
        attribution_click_key(
            ts_us, F.col("event_id"), attribution_campaign_expr("props")
        ),
    )
    enriched = batch.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        ts_us.alias("ts_us"),
        ck.alias("click_key"),
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-ATTR_WINDOW_US, -1)
    )
    # cached: consumed by the clicks write AND the purchase attribution
    wb = enriched.withColumn("batch_best", F.max("click_key").over(fr)).cache()
    try:
        _stage(
            wb.where(F.col("click_key").isNotNull())
            .groupBy("user_id")
            .agg(F.max("click_key").alias("click_key")),
            _ATTRIBUTION.part("clicks").path(store_dir),
            eff_id,
        )

        purch = wb.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts_us", "value", "batch_best"
        )
        # prior clicks from batches before this one (an empty prior — the
        # first-ever batch — left-joins to null store_best)
        prior = (
            _ATTRIBUTION.part("clicks")
            .read(spark, store_dir)
            .where(F.col("batch_id") < eff_id)
            .select("user_id", F.col("click_key").alias("store_key"))
        )
        from ..plans.customer import ATTR_KEY_UNITS_PER_US

        lo = (F.col("ts_us") - F.lit(ATTR_WINDOW_US)).cast(
            "decimal(16,0)"
        ) * F.lit(ATTR_KEY_UNITS_PER_US)
        hi = F.col("ts_us").cast("decimal(16,0)") * F.lit(ATTR_KEY_UNITS_PER_US)
        store_best = (
            purch.join(prior, "user_id")
            .where((F.col("store_key") >= lo) & (F.col("store_key") < hi))
            .groupBy("event_id")
            .agg(F.max("store_key").alias("store_best"))
        )
        purch = purch.join(store_best, "event_id", "left")

        best = F.greatest("batch_best", "store_best")
        out = (
            purch.groupBy(
                F.coalesce(best % 100, F.lit(-1)).cast("bigint").alias("campaign")
            )
            .agg(
                F.count(F.lit(1)).alias("n_purchases"),
                F.sum(F.round(F.col("value") * F.lit(1e4)).cast("long")).alias(
                    "rev_units"
                ),
            )
        )
        _stage(out, _ATTRIBUTION.part("revenue").path(store_dir), eff_id)
    finally:
        wb.unpersist()


# clicks keep the per-user MAX key, which suffices under the time-ordered
# contract: keys grow with ts, so a user's newest click is the only one any
# FUTURE purchase's [lo, hi) range can pick — if the newest is older than
# lo, every discarded older click was too
_ATTRIBUTION = _Store(
    (
        _summed("revenue", "campaign bigint, n_purchases bigint, rev_units bigint", "campaign"),
        _Part(
            "clicks",
            "user_id bigint, click_key decimal(38,0)",
            lambda df: df.groupBy("user_id").agg(F.max("click_key").alias("click_key")),
        ),
    ),
    _attribution_step,
)


def run_stream_attribution(
    events: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch incremental last-touch attribution (see the block
    comment above). ``events`` is a streaming frame with the events-table
    schema. Equals batch q179 exactly whenever drops arrive in event-time
    order per user."""
    steps = [(_ATTRIBUTION, store_dir)]
    _run_stores(events, checkpoint_dir, timeout_sec, "run_stream_attribution", steps)


def attribution_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Fold the revenue deltas into q179's (campaign, n_purchases,
    attributed_revenue) — reads only the per-batch aggregates, never the
    event stream. The unit recombination mirrors dec_sum exactly (decimal
    total × 10^-4, one correctly-rounded cast), so the doubles match the
    batch query bit-for-bit."""
    from decimal import Decimal

    rows = _ATTRIBUTION.part("revenue").read(spark, store_dir)
    return (
        rows.groupBy("campaign")
        .agg(
            F.sum("n_purchases").cast("bigint").alias("n_purchases"),
            (
                F.sum("rev_units").cast("decimal(38,0)")
                * F.lit(Decimal(1).scaleb(-4))
            )
            .cast("double")
            .alias("attributed_revenue"),
        )
        .orderBy("campaign")
    )


# ---------------------------------------------------------------------------
# Revenue anomaly monitor at ingest: the streaming twin of batch q169
# (plans/timeseries.py). Per micro-batch of orders:
#
#   partials/batch_id=N/  (day_idx, u_partial) — the batch's per-day
#                         revenue in exact 1e-4 integer units (additive,
#                         order-free).
#   monitor/batch_id=N/   one evaluation row: the folded daily series
#                         scored with q169's trailing-28d rule — how many
#                         days currently flag, the loudest |z|, and its
#                         day — the ops signal per drop.
#
# The fold reconstructs q169's (day_idx, revenue, u) EXACTLY: summed units
# are the same integers the batch query derives from its decimal sums, and
# revenue re-emerges via one decimal-scaled correctly-rounded cast — so
# revenue_anomalies_from_store == batch q169, tuple for tuple, no matter
# how the orders were split into batches (day partials are commutative;
# this store is arrival-order-INDEPENDENT, unlike the attribution store).
# ---------------------------------------------------------------------------


def _daily_units(batch: DataFrame):
    from ..plans.timeseries import order_epoch_day

    # exact decimal -> integer units (same derivation as batch q169): the
    # per-batch decimal sum has scale 4, so *1e4 is integral and the product
    # stays inside 38 digits — no double round-trip, hence no 2^53 magnitude
    # precondition on the batch==stream tuple-exact fold.
    return batch.groupBy(order_epoch_day().alias("day_idx")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(38,4)")) * F.lit(10000))
        .cast("decimal(38,0)")
        .cast("long")
        .alias("u_partial")
    )


def _fold_daily_series(spark: SparkSession, store_dir: str) -> DataFrame:
    from decimal import Decimal

    return _REVENUE.part("partials").read(spark, store_dir).groupBy("day_idx").agg(
        (F.sum("u_partial").cast("decimal(38,0)") * F.lit(Decimal(1).scaleb(-4)))
        .cast("double")
        .alias("revenue"),
        F.sum("u_partial").cast("long").alias("u"),
    )


# the monitor/ evaluation log is never compacted; the partials' floor keeps
# later log ids clear of existing rows
_REVENUE = _Store(
    (_summed("partials", "day_idx int, u_partial bigint", "day_idx"),),
    lambda batch, eff_id, store_dir, _: _stage(
        _daily_units(batch), _REVENUE.part("partials").path(store_dir), eff_id
    ),
)
# each row also carries its batch_id in the data; the partition value is
# the one read
_REVENUE_LOG = _log("monitor", "n_anomalies bigint, max_abs_z double, max_z_day bigint")


def run_stream_revenue_monitor(
    orders: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch revenue-anomaly monitor (see block comment). ``orders``
    is a streaming frame with at least (o_orderdate, o_totalprice)."""
    from ..plans.timeseries import score_daily_anomalies

    def evaluate(spark: SparkSession, eff_id: int) -> DataFrame:
        flagged = score_daily_anomalies(_fold_daily_series(spark, store_dir)).cache()
        try:
            row = flagged.orderBy(F.abs(F.col("zscore")).desc(), "day_idx").limit(1).collect()
            n = flagged.count()
        finally:
            flagged.unpersist()
        z, day = (float(row[0].zscore), int(row[0].day_idx)) if row else (None, None)
        return local_frame(
            spark, [(eff_id, n, z, day)], "batch_id bigint, " + _REVENUE_LOG.schema
        )

    steps, log = [(_REVENUE, store_dir)], (_REVENUE_LOG, store_dir, evaluate)
    _run_stores(orders, checkpoint_dir, timeout_sec, "run_stream_revenue_monitor", steps, log=log)


def revenue_anomalies_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Fold the partials into the daily series and score with q169's rule —
    equals batch q169 tuple-for-tuple under any batch split."""
    from ..plans.timeseries import score_daily_anomalies

    daily = _fold_daily_series(spark, store_dir)  # heals a crashed compaction
    if not os.path.exists(os.path.join(store_dir, "partials")):
        return local_frame(
            spark,
            [],
            "day_idx bigint, revenue double, n_prior bigint, "
            "mean_28 double, sd_28 double, zscore double",
        )
    return score_daily_anomalies(daily)


def revenue_monitor_log(spark: SparkSession, store_dir: str) -> DataFrame:
    """The revenue monitor's append-only evaluation log, ordered by batch."""
    return _REVENUE_LOG.fold(spark, store_dir)


# ---------------------------------------------------------------------------
# Market-basket mining at ingest: the streaming twin of batch q178. The
# ingest contract is the natural one — a basket (order) arrives WHOLE in
# one micro-batch and never repeats — under which every q178 input is a
# plain additive count: per-batch partials
#
#   pairs/batch_id=N/    (p1, p2, n_both)   distinct co-occurrence counts
#   items/batch_id=N/    (p, n_p)           per-item basket counts
#   baskets/batch_id=N/  (n_orders)         basket count
#
# fold by SUM, and the folded rules equal batch q178 exactly under ANY
# arrival order (unlike the dup-flow/attribution stores, nothing here is
# order-sensitive). Pair work per batch is bounded by basket size, same
# as batch; the store grows with distinct pairs, and the same compaction
# helpers apply.
# ---------------------------------------------------------------------------


def _basket_step(batch: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
    li = batch.select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    # cached: three partial writes share the batch's projection
    li = li.cache()
    try:
        pairs = (
            a.join(b, "l_orderkey")
            .filter(F.col("p1") < F.col("p2"))
            .groupBy("p1", "p2")
            .agg(F.countDistinct("l_orderkey").alias("n_both"))
        )
        items = li.groupBy(F.col("l_partkey").alias("p")).agg(
            F.countDistinct("l_orderkey").alias("n_p")
        )
        baskets = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
        for part, df in zip(_BASKET.parts, (pairs, items, baskets)):
            _stage(df, part.path(store_dir), eff_id)
    finally:
        li.unpersist()


_BASKET = _Store(
    (
        _summed("pairs", "p1 bigint, p2 bigint, n_both bigint", "p1", "p2"),
        _summed("items", "p bigint, n_p bigint", "p"),
        _summed("baskets", "n_orders bigint"),
    ),
    _basket_step,
)


def run_stream_basket_counts(
    lineitems: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch basket-count partials (see block comment). ``lineitems``
    is a streaming frame with (l_orderkey, l_partkey)."""
    steps = [(_BASKET, store_dir)]
    _run_stores(lineitems, checkpoint_dir, timeout_sec, "run_stream_basket_counts", steps)


def basket_rules_from_store(
    spark: SparkSession, store_dir: str, min_both: int = 3, topk: int = 50
) -> DataFrame:
    """Fold the partials into q178's rule table (same thresholds, same
    deterministic (lift, antecedent, consequent) top-k)."""
    from ..plans.customer import basket_rules

    pairs, items, baskets = (p.fold(spark, store_dir) for p in _BASKET.parts)
    return basket_rules(pairs, items, baskets, min_both, topk)


# ---------------------------------------------------------------------------
# Decode-health-at-ingest: the streaming twin of batch q220
# (plans/multimodal_queries.py). A multimodal pipeline wants decode error
# rates PER ARRIVING DROP, not just in a batch audit — a crawl source
# whose malformed-blob rate spikes mid-ingest should alert before the
# corpus lands. Like the volume store: additive (source, fmt, status)
# counts per batch_id, plain-sum fold.
# ---------------------------------------------------------------------------

def _stage_health(health: DataFrame, store_dir: str, eff_id: int) -> None:
    """Stage the additive (source, fmt, status) counts of classified blobs."""
    _stage(
        health.groupBy("source", "fmt", "status").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        ),
        store_dir,
        eff_id,
    )


def _decode_health_step(batch: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
    """One micro-batch of the decode-health store: classify every blob
    through the real header decoders (operators/multimodal.decode_health —
    per-blob rejection becomes a row, never a failed batch) and stage the
    additive (source, fmt, status) counts."""
    from ..operators.multimodal import decode_health

    _stage_health(decode_health(batch.select("doc_id", "source", "content")), store_dir, eff_id)


def _media_health_step(batch: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
    """Decode-health counts of the batch's media (q220's contract): the
    media mix is planted per doc and classified in one Arrow pass
    (operators/multimodal.media_health), so the blobs never leave the
    Python worker."""
    from ..operators.multimodal import media_health

    _stage_health(media_health(batch), store_dir, eff_id)


_HEALTH = _Store(
    (
        _summed(
            None,
            "source string, fmt string, status string, n_docs bigint",
            "source",
            "fmt",
            "status",
        ),
    ),
    _decode_health_step,
)
# the scorecard suite's health store: the same parts, fed the media mix
_MEDIA_HEALTH = _HEALTH._replace(step=_media_health_step)


def run_stream_decode_health(
    media: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch decode-health partials over a streaming frame of
    (doc_id, source, content). Scale: per batch one Arrow decode pass +
    one tiny groupBy; store growth is O(batches x sources x 6 formats x
    status classes) rows of additive counts."""
    steps = [(_HEALTH, store_dir)]
    _run_stores(media, checkpoint_dir, timeout_sec, "run_stream_decode_health", steps)


def decode_health_report_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Fold the staged deltas into q220's report shape: (source, fmt,
    status, n_docs, share_of_fmt). Counts are additive across batches, so
    the fold is a plain sum; the share window runs over the aggregated
    frame only. Arrival-order-independent (counts commute) — pinned for
    forward AND reversed drops in tests/test_streaming.py."""
    counts = _HEALTH.part().fold(spark, store_dir)
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


_HEALTH_LOG = _log(
    "log", "source string, n_docs bigint, n_malformed bigint, malformed_share double, alert boolean"
)


def run_stream_decode_health_monitor(
    media: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    alert_share: float = 0.2,
    timeout_sec: int = 120,
) -> None:
    """Operational decode-health ALERT monitor — the
    drift-monitor twin of run_stream_decode_health: per micro-batch,
    ingest the batch's (source, fmt, status) counts into
    ``store_dir/counts`` (the same staged-delta contract as the plain
    store; ``decode_health_report_from_store`` reads the counts dir
    directly) AND append one evaluation-log row PER SOURCE computed from
    the CUMULATIVE store: total docs seen, malformed docs (any status
    other than 'ok' — planted-format rejections and magic-less garbage
    alike), the malformed share, and whether it crossed ``alert_share``.
    A crawl source whose blob corruption spikes mid-ingest alerts on the
    very drop that crossed the line, before the corpus lands.

    Scale shape: per batch one Arrow decode pass over the batch plus a
    fold of O(batches x sources x formats x statuses) additive count rows
    — never the blobs again; the log row set is O(sources)."""
    counts_dir = os.path.join(store_dir, "counts")

    def evaluate(spark: SparkSession, eff_id: int) -> DataFrame:
        bad = F.sum(F.when(F.col("status") != "ok", F.col("n_docs")).otherwise(F.lit(0)))
        return (
            _HEALTH.part()
            .read(spark, counts_dir)
            .groupBy("source")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                bad.cast("bigint").alias("n_malformed"),
            )
            .select(
                "source",
                "n_docs",
                "n_malformed",
                (F.col("n_malformed").cast("double") / F.col("n_docs")).alias(
                    "malformed_share"
                ),
                (
                    F.col("n_malformed").cast("double")
                    >= F.lit(alert_share) * F.col("n_docs")
                ).alias("alert"),
            )
        )

    steps, log = [(_HEALTH, counts_dir)], (_HEALTH_LOG, store_dir, evaluate)
    label = "run_stream_decode_health_monitor"
    _run_stores(media, checkpoint_dir, timeout_sec, label, steps, log=log)


def decode_health_monitor_log(spark: SparkSession, store_dir: str) -> DataFrame:
    """The decode-health monitor's append-only evaluation log, ordered by
    (batch, source)."""
    return _HEALTH_LOG.fold(spark, store_dir)


# ---------------------------------------------------------------------------
# Vector-index maintenance at ingest: new vectors enter an IVF or a PQ index
# without a re-fit. Each arriving embedding is encoded against the FROZEN
# quantizer (the only state an ingest tier ships), staged as a delta, and
# served through the same cores as the session fit. Both stores run one
# new-vector step (_vector_ingest); they differ in the encode, the count
# keys and the log row. The monitors use q222's cell_balance_from_counts,
# so a live monitor and the batch audit cannot drift on thresholds.
#
# Store layout (the quantizer files are written by the first batch in
# sources/ann_index's format, which makes a store a self-contained servable
# index):
#   IVF  centers/           the frozen coarse centroids.
#        assign/batch_id=N/ (vec_id, cell): batch N's NEW vectors (an
#                           anti-join drops ids already indexed, so a
#                           folded-id replay is a no-op), assigned by the
#                           numpy-GEMM Arrow kernel ivf_cell_udf.
#        counts/batch_id=N/ (cell, n_vecs): additive per-cell partials.
#        log/batch_id=N/    one row: cumulative n_vecs, imbalance_factor,
#                           empty_cell_rate, alert.
#   PQ   books/             the frozen per-subspace codebooks.
#        codes/batch_id=N/  (vec_id, codes, nc): batch N's new vectors,
#                           encoded by q200's _pq_encode_frame kernel, so
#                           codes are bit-identical to a batch rebuild.
#        counts/batch_id=N/ (m, code, n_vecs): additive code-usage partials.
#        log/batch_id=N/    one row: cumulative n_vecs, worst per-subspace
#                           imbalance factor, alert. A hot code means a
#                           degenerate subspace codebook, the PQ analogue
#                           of a hot IVF cell.
# ---------------------------------------------------------------------------

# assign/codes: one row per vec_id (the anti-join ingest contract); the
# log/ evaluation record is kept as written
_IVF = _Store(
    (
        _rewritten("assign", "vec_id bigint, cell int"),
        _summed("counts", "cell int, n_vecs bigint", "cell"),
    )
)
_PQ = _Store(
    (
        _rewritten("codes", CODES_SCHEMA),
        _summed("counts", "m int, code int, n_vecs bigint", "m", "code"),
    )
)
_IVF_LOG = _log(
    "log", "n_vecs bigint, imbalance_factor double, empty_cell_rate double, alert boolean"
)
_PQ_LOG = _log("log", "n_vecs bigint, imbalance_factor double, alert boolean")


def _vector_ingest(
    store: _Store,
    log: _Part,
    store_dir: str,
    quantizer: tuple[str, Callable[[SparkSession, str], None]],
    encode: Callable[[DataFrame], DataFrame],
    keys: list,
    log_row: Callable[[DataFrame], DataFrame],
) -> dict:
    """The runner's ``steps`` and ``log`` for a vector-index store. The
    step writes the frozen quantizer once (``quantizer`` is its sub-dir and
    writer), anti-joins ids already indexed, ``encode``s the (vec_id, e)
    rest, stages it, and stages the counts of the staged delta per ``keys``
    (column expressions over the delta naming the counts part's keys); the
    log row is ``log_row`` of the cumulative counts."""
    from ..plans.similarity import as_double

    vecs, counts = store.parts

    def step(batch: DataFrame, eff_id: int, store_dir: str, _: int) -> None:
        spark = batch.sparkSession
        quantizer_dir = os.path.join(store_dir, quantizer[0])
        if not os.path.exists(quantizer_dir):
            quantizer[1](spark, quantizer_dir)
        prior = vecs.read(spark, store_dir).where(F.col("batch_id") < eff_id).select("vec_id")
        new = encode(
            batch.join(prior, "vec_id", "left_anti").select(
                "vec_id", as_double(F.col("embedding")).alias("e")
            )
        )
        # counts from the just-staged delta: the encode never recomputes
        own = spark.read.schema(vecs.schema).parquet(_stage(new, vecs.path(store_dir), eff_id))
        _stage(
            own.select(*keys)
            .groupBy(*_columns(counts.schema)[:-1])
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs")),
            counts.path(store_dir),
            eff_id,
        )

    def evaluate(spark: SparkSession, eff_id: int) -> DataFrame:
        cum = counts.read(spark, store_dir).where(F.col("batch_id") <= eff_id)
        return log_row(counts.merge(cum))

    return {"steps": [(store._replace(step=step), store_dir)], "log": (log, store_dir, evaluate)}


def _balance_summary(balance, *cols: str) -> DataFrame:
    """One row per group of q222 balance rows (``balance`` is a frame or a
    grouped frame): total n_vecs, the max of each of ``cols``, and whether
    any row recommends a rebalance."""
    return balance.agg(
        F.sum("n_vecs").cast("bigint").alias("n_vecs"),
        *[F.max(c).alias(c) for c in cols],
        F.max((F.col("recommendation") == "rebalance").cast("boolean")).alias("alert"),
    )


def _pq_code_balance(counts: DataFrame, sizes: list[int]) -> DataFrame:
    """q222's balance rows per PQ subspace over (m, code, n_vecs) counts:
    subspace m is audited over its ``sizes[m]`` codes, as (m, cell, ...)."""
    from functools import reduce

    from ..plans.similarity import cell_balance_from_counts

    return reduce(
        DataFrame.unionByName,
        [
            cell_balance_from_counts(
                counts.where(F.col("m") == m).select(F.col("code").alias("cell"), "n_vecs"), k
            ).select(F.lit(m).alias("m"), "*")
            for m, k in enumerate(sizes)
        ],
    )


def run_stream_ivf_assign(
    vectors: DataFrame,
    centers: list,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch incremental IVF maintenance: ``vectors`` is a
    streaming frame of (vec_id, embedding); ``centers`` the [nlist][dim]
    frozen coarse centroids (from plans/similarity._ivf_fit, or any
    quantizer with the same shape)."""
    from ..plans.similarity import cell_balance_from_counts, ivf_cell_udf

    cell_of = ivf_cell_udf(centers)
    _run_stores(
        vectors,
        checkpoint_dir,
        timeout_sec,
        "run_stream_ivf_assign",
        **_vector_ingest(
            _IVF,
            _IVF_LOG,
            store_dir,
            ("centers", lambda spark, path: write_centers(spark, centers, path)),
            lambda new: new.select("vec_id", cell_of(F.col("e")).alias("cell")),
            [F.col("cell")],
            lambda cum: _balance_summary(
                cell_balance_from_counts(cum, len(centers)), "imbalance_factor", "empty_cell_rate"
            ),
        ),
    )


def run_stream_pq_encode(
    vectors: DataFrame,
    books: list,
    store_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch incremental PQ maintenance: ``vectors`` is a streaming
    frame of (vec_id, embedding); ``books`` the [m][k][sub_dim] frozen
    codebooks (from plans/similarity._pq_books, or a loaded index)."""
    from ..plans.similarity import _pq_encode_frame

    sizes = [len(book) for book in books]
    _run_stores(
        vectors,
        checkpoint_dir,
        timeout_sec,
        "run_stream_pq_encode",
        **_vector_ingest(
            _PQ,
            _PQ_LOG,
            store_dir,
            ("books", lambda spark, path: write_books(spark, books, path)),
            lambda new: _pq_encode_frame(new, books),
            [F.posexplode("codes").alias("m", "code")],
            # the worst subspace's balance
            lambda cum: _balance_summary(
                _pq_code_balance(cum, sizes).groupBy("m"), "imbalance_factor"
            ).agg(*[F.max(c).alias(c) for c in ("n_vecs", "imbalance_factor", "alert")]),
        ),
    )


def load_ivf_store(
    spark: SparkSession, sf_dir: str, store_dir: str
) -> tuple[list, DataFrame]:
    """(centers, lists) of a live IVF store, the pair a session fit and a
    persisted index yield: the frozen centers, and the folded assignments
    with the float vectors and norms joined back from the embeddings table
    (the store keeps cells, not floats)."""
    from ..plans.similarity import embedding_vectors, norm

    lists = (
        embedding_vectors(spark, sf_dir)
        .join(_IVF.part("assign").fold(spark, store_dir), "vec_id")
        .select("vec_id", "e", norm(F.col("e")).alias("nc"), "cell")
    )
    return read_centers(spark, os.path.join(store_dir, "centers")), lists


def load_pq_store(spark: SparkSession, store_dir: str) -> tuple[list, DataFrame]:
    """(books, codes) of a live PQ store: the frozen codebooks and the
    folded code deltas."""
    books = read_books(spark, os.path.join(store_dir, "books"))
    return books, _PQ.part("codes").fold(spark, store_dir)


def ivf_balance_from_store(spark: SparkSession, store_dir: str, nlist: int) -> DataFrame:
    """Batch q222's audit frame folded from the IVF store's count
    partials: equals q222 on the same corpus and quantizer exactly (the
    assignment kernel ties to KMeans.transform), reading O(batches x
    nlist) additive rows, never the vectors."""
    from ..plans.similarity import cell_balance_from_counts

    return cell_balance_from_counts(_IVF.part("counts").fold(spark, store_dir), nlist)


def ivf_monitor_log(spark: SparkSession, store_dir: str) -> DataFrame:
    """The live cell-balance evaluation log, one row per drained batch."""
    return _IVF_LOG.fold(spark, store_dir)


def ivf_topk_from_store(
    spark: SparkSession, sf_dir: str, store_dir: str, nprobe: int | None = None
) -> DataFrame:
    """q64's probe-and-rerank over the store-built index, through the
    session fit's core (plans/similarity.ivf_probe_scored / cos_topk), so
    recall can only differ through the assignment itself."""
    from ..plans.similarity import _IVF_NPROBE, cos_topk, ivf_probe_scored

    centers, lists = load_ivf_store(spark, sf_dir, store_dir)
    return cos_topk(
        ivf_probe_scored(spark, centers, lists, _IVF_NPROBE if nprobe is None else nprobe)
    )


def ivf_retrieval_metrics_from_store(
    spark: SparkSession, sf_dir: str, store_dir: str
) -> DataFrame:
    """q229's ranking-quality eval over the store-built index: nDCG@k and
    capped recall@k of ivf_topk_from_store's ranking, scored by the same
    core as the exact baseline."""
    from ..plans.similarity import label_metrics

    return label_metrics(spark, sf_dir, ivf_topk_from_store(spark, sf_dir, store_dir))


def pq_code_balance_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Per-(subspace, code) usage audit folded from the count partials:
    q222's balance columns per subspace, reading O(batches x M x K)
    additive rows, never the vectors. A 'rebalance' row means that
    subspace's codebook no longer fits the data: the refit signal."""
    sizes = [len(book) for book in read_books(spark, os.path.join(store_dir, "books"))]
    counts = _PQ.part("counts").fold(spark, store_dir)
    return _pq_code_balance(counts, sizes).orderBy("m", "cell")


def pq_monitor_log(spark: SparkSession, store_dir: str) -> DataFrame:
    """The codebook-health evaluation log, one row per drained batch."""
    return _PQ_LOG.fold(spark, store_dir)


def pq_topk_from_store(spark: SparkSession, sf_dir: str, store_dir: str) -> DataFrame:
    """q200's ADC-shortlist and exact-rerank ranking over the store-built
    code table, through q200's core (_pq_adc_rank), so the incrementally
    maintained index ranks row-for-row like the session-built one."""
    from ..plans.similarity import _pq_adc_rank, embedding_vectors

    books, codes = load_pq_store(spark, store_dir)
    return _pq_adc_rank(spark, embedding_vectors(spark, sf_dir), books, codes)
