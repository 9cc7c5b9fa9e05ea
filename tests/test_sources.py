"""Sources/sinks round-trips (SURVEY §2.1 S1-S4)."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_computing_final_project_spark.sources import (
    load_pipeline_model,
    read_csv,
    read_jsonl,
    read_orc,
    read_parquet,
    save_pipeline_model,
    write_csv,
    write_jsonl,
    write_orc,
    write_parquet,
    write_submission,
)


def test_jsonl_round_trip_with_schema(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="jsonl_rt_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        write_jsonl(docs, f"{tmp}/docs_jsonl")
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("source", T.StringType()),
                T.StructField("n_chars", T.LongType()),
            ]
        )
        back = read_jsonl(spark, f"{tmp}/docs_jsonl", schema=schema).select(*docs.columns)
        assert {tuple(r) for r in back.collect()} == {tuple(r) for r in docs.collect()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_csv_round_trip_with_schema(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="csv_rt_")
    try:
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        write_csv(nation, f"{tmp}/nation_csv")
        schema = T.StructType(
            [
                T.StructField("n_nationkey", T.IntegerType()),
                T.StructField("n_name", T.StringType()),
                T.StructField("n_regionkey", T.IntegerType()),
            ]
        )
        back = read_csv(spark, f"{tmp}/nation_csv", schema=schema)
        assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_parquet_round_trip_partitioned(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="pq_rt_")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_parquet(orders, f"{tmp}/orders_pq", partition_by=["o_orderstatus"])
        back = read_parquet(spark, f"{tmp}/orders_pq")
        assert back.count() == orders.count()
        # partition pruning: reading one status must scan fewer rows
        one = back.filter(F.col("o_orderstatus") == "F")
        assert 0 < one.count() < orders.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_orc_round_trip_with_pushdown(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="orc_rt_")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_orc(orders, f"{tmp}/orders_orc", partition_by=["o_orderstatus"])
        back = read_orc(spark, f"{tmp}/orders_orc")
        assert back.count() == orders.count()
        assert sorted(back.columns) == sorted(orders.columns)
        # partition pruning applies to ORC exactly as to parquet
        one = back.filter(F.col("o_orderstatus") == "F")
        assert 0 < one.count() < orders.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_submission_sink_key_based(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="sub_")
    try:
        pred = spark.range(100).select(
            F.col("id"), (F.col("id") % 2).cast("double").alias("prediction")
        )
        write_submission(pred, f"{tmp}/submission")
        back = spark.read.option("header", "true").csv(f"{tmp}/submission")
        assert back.columns == ["id", "label"]
        assert back.count() == 100
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_pipeline_model_persistence(spark, sf_dir):
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import StringIndexer

    tmp = tempfile.mkdtemp(prefix="model_")
    try:
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        pipe = Pipeline(
            stages=[StringIndexer(inputCol="c_mktsegment", outputCol="seg_idx", handleInvalid="keep")]
        )
        model = pipe.fit(cust)
        save_pipeline_model(model, f"{tmp}/m")
        back = load_pipeline_model(f"{tmp}/m")
        a = {tuple(r) for r in model.transform(cust).select("c_custkey", "seg_idx").collect()}
        b = {tuple(r) for r in back.transform(cust).select("c_custkey", "seg_idx").collect()}
        assert a == b
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """orders ⋈ lineitem both bucketed on orderkey: the join plan must
    contain NO Exchange — the whole point of paying the shuffle at write
    time. Also checks result parity against the plain join."""
    import io as _io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.sources.io import write_bucketed

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], 8, str(tmp_path / "ob"))
    write_bucketed(li, "t_lineitem_b", ["l_orderkey"], 8, str(tmp_path / "lb"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so the exchange-elision is observable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob, lb = spark.table("t_orders_b"), spark.table("t_lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        buf = _io.StringIO()
        with redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        n_bucketed = joined.count()
        n_plain = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
        assert n_bucketed == n_plain > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_binary_dir_ingest_feeds_decode(spark, sf_dir, tmp_path):
    """S5: write synthetic media blobs as loose binary files, re-ingest via
    the binaryFile source, and run the standard decode over them — the
    decoded dims must match the metadata the generator embedded."""
    import pathlib

    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.operators.multimodal import (
        attach_synthetic_media,
        decode_media,
    )
    from big_data_computing_final_project_spark.sources.io import read_binary_dir

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = attach_synthetic_media(docs)
    out = pathlib.Path(tmp_path) / "blobs"
    out.mkdir()
    expected = {}
    for r in media.collect():
        (out / f"{r.doc_id}.bin").write_bytes(bytes(r.content))
        expected[r.doc_id] = (r.media_meta.width, r.media_meta.height)
    (out / "ignore.txt").write_text("not media")

    blobs = read_binary_dir(spark, str(out), glob="*.bin")
    assert blobs.count() == len(expected)  # glob pruned the .txt
    as_media = blobs.select(
        F.regexp_extract("file_name", r"(\d+)\.bin", 1).cast("long").alias("doc_id"),
        "content",
    )
    decoded = {r.doc_id: (r.width, r.height) for r in decode_media(as_media).collect()}
    assert decoded == expected


def test_rate_stream_flows_through_event_plans(spark):
    """rate-micro-batch soak source: deterministic rows per trigger, shaped
    to the events contract; one availableNow batch must flow through a
    standard streaming aggregation."""
    import shutil
    import tempfile

    from big_data_computing_final_project_spark.streaming.events import (
        rate_stream,
        tumbling_counts,
    )

    agg = tumbling_counts(rate_stream(spark, rows_per_batch=500), "1 minute")
    ckpt = tempfile.mkdtemp(prefix="ckpt_rate_")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName("rate_smoke")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    rows = spark.sql("SELECT sum(n_events) AS n FROM rate_smoke").collect()
    assert rows[0].n == 500


def test_dq_constraint_checkers_count_injected_violations(spark):
    """quality.* checkers must count exactly the violations we inject."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.operators.quality import (
        check_predicates,
        combine_reports,
        referential_orphans,
        uniqueness_violations,
    )

    child = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (2, 3.0), (9, None)], "fk long, v double"
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    report = {
        r.constraint: (r.n_violations, r.n_checked)
        for r in combine_reports(
            check_predicates(
                child,
                {
                    "positive_v": F.col("v").isNull() | (F.col("v") <= 0),
                    "null_fk": F.col("fk").isNull(),
                },
            ),
            uniqueness_violations(child, "fk"),
            referential_orphans(child, parent, "fk", "pk"),
        ).collect()
    }
    assert report == {
        "positive_v": (2, 4),
        "null_fk": (0, 4),
        "unique(fk)": (1, 4),
        "fk->pk": (1, 4),
    }


def test_submission_format_matches_reference_contract(spark, sf_dir):
    """EP1 end-to-end certificate (reference `sol_2/sample_submission.csv`,
    checkpoint cell ca6b923d): a fitted pipeline's predictions written
    through write_submission must reproduce the reference's submission
    contract on the RAW file text — header exactly ``id,label``, one
    ``<int id>,<0|1>`` row per test id, ids ascending, no pandas index
    column. (Values can't match — different data — the contract can.)"""
    import glob
    import re

    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("f1"),
        (F.col("o_custkey") % 7).cast("double").alias("f2"),
        (F.col("o_totalprice") > 100000).cast("double").alias("label"),
    )
    train, test = base.randomSplit([0.8, 0.2], seed=7)
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["f1", "f2"], outputCol="features"),
            LogisticRegression(maxIter=5),
        ]
    )
    pred = pipe.fit(train).transform(test)
    tmp = tempfile.mkdtemp(prefix="sub_contract_")
    try:
        write_submission(pred, f"{tmp}/submission", id_col="id", pred_col="prediction")
        part = glob.glob(f"{tmp}/submission/part-*.csv")
        assert len(part) == 1  # single file, like the reference artifact
        lines = open(part[0]).read().splitlines()
        assert lines[0] == "id,label"  # exact reference header
        assert len(lines) == 1 + test.count()
        row_re = re.compile(r"^\d+,[01]$")
        ids = []
        for ln in lines[1:]:
            assert row_re.match(ln), ln
            ids.append(int(ln.split(",")[0]))
        assert ids == sorted(ids)
        assert sorted(ids) == sorted(r.id for r in test.select("id").collect())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_partitioned_write_prunes_partitions_on_read(spark, sf_dir, tmp_path):
    """Hive-partitioned parquet sink: a reader filtering on the partition
    column must prune at the PLAN level (PartitionFilters, not a post-scan
    filter) — at 100 TB this is the difference between listing one
    directory and scanning the corpus."""
    from big_data_computing_final_project_spark.sources.io import write_parquet

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    write_parquet(ev, str(tmp_path / "ev"), partition_by=["event_type"])
    back = spark.read.parquet(str(tmp_path / "ev"))
    one_type = back.filter(F.col("event_type") == "click")
    plan = one_type._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(event_type" in plan or "event_type" in plan.split("PartitionFilters:")[1][:120]
    # the pruned read returns exactly the filtered rows
    assert one_type.count() == ev.filter(F.col("event_type") == "click").count()
    assert one_type.count() > 0


def test_decode_media_real_png_and_jpeg_headers(spark):
    """VERDICT r6 item 5: real-format multimodal decode. A COMPLETE valid
    PNG (signature/IHDR/IDAT/IEND with correct CRCs) and a structurally
    faithful JPEG (SOI, APP0-JFIF, DQT, SOF0) must decode to their true
    dimensions through the same mapInPandas stage as the synthetic codec;
    garbage still raises NotImplementedError. Blobs come from the shared
    mediakit builders (VERDICT r8 item 7 — one byte-layout definition for
    the planting substrate and the fixtures)."""
    import pytest

    from big_data_computing_final_project_spark.operators import mediakit as mk
    from big_data_computing_final_project_spark.operators.multimodal import (
        decode_media,
    )

    def png(w, h):
        raw = b"".join(b"\x00" + b"\x10\x20\x30" * w for _ in range(h))
        return mk.build_png(w, h, idat_raw=raw)

    def jpeg(w, h):
        return mk.build_jpeg(w, h, dqt=True)

    rows = [(1, png(5, 3)), (2, jpeg(640, 480)), (3, png(1, 1))]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r.doc_id: r for r in decode_media(df).collect()}
    assert (got[1].width, got[1].height) == (5, 3)
    assert (got[2].width, got[2].height) == (640, 480)
    assert (got[3].width, got[3].height) == (1, 1)
    assert got[1].n_payload_bytes == len(rows[0][1])
    import hashlib as _h

    assert got[2].content_md5 == _h.md5(rows[1][1]).hexdigest()

    bad = spark.createDataFrame([(9, b"\x00\x01garbage!")], "doc_id long, content binary")
    with pytest.raises(Exception, match="NotImplementedError|unsupported media"):
        decode_media(bad).collect()


def test_decode_media_gif_and_decode_audio_wav(spark):
    """GIF logical-screen dims through decode_media, and a GENUINE stdlib-
    `wave`-written WAV through decode_audio (channels/rate/bits/duration
    all recovered from the RIFF chunks, no audio library)."""
    import io
    import wave

    import pytest

    from big_data_computing_final_project_spark.operators import mediakit as mk
    from big_data_computing_final_project_spark.operators.multimodal import (
        decode_audio,
        decode_media,
    )

    gif = mk.build_gif(320, 200, screen_desc=b"\xf7\x00\x00")
    out = decode_media(
        spark.createDataFrame([(1, gif)], "doc_id long, content binary")
    ).collect()[0]
    assert (out.width, out.height, out.n_payload_bytes) == (320, 200, len(gif))

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)       # 16-bit
        w.setframerate(16000)
        w.writeframes(b"\x00\x01" * 2 * 8000)  # 0.5 s of stereo frames
    wav = buf.getvalue()
    a = decode_audio(
        spark.createDataFrame([(7, wav)], "doc_id long, content binary")
    ).collect()[0]
    assert (a.n_channels, a.sample_rate, a.bits_per_sample) == (2, 16000, 16)
    assert abs(a.duration_sec - 0.5) < 1e-9

    bad = spark.createDataFrame([(9, b"RIFFxxxxAVI LIST")], "doc_id long, content binary")
    with pytest.raises(Exception, match="NotImplementedError|RIFF/WAVE"):
        decode_audio(bad).collect()


def test_decode_health_classifies_planted_mix(spark):
    """q220's operator surface: every (doc_id % 5, doc_id % 7) cell of the
    planted real-format mix classifies to the expected (fmt, status) —
    one good and one bad doc per format — and an unrecognized magic folds
    to ('unknown', ...) instead of failing the job."""
    from _fixtures import attach_media_mix

    from big_data_computing_final_project_spark.operators.multimodal import (
        _mix_blob,
        decode_health,
    )

    # doc_ids picked so each format gets one good (id % 7 != 0) and one
    # planted-bad (id % 7 == 0) instance: id % 5 selects the format
    ids = {
        "png": (5, 35), "jpeg": (6, 21), "gif": (2, 7),
        "wav": (3, 28), "mp4": (4, 14),
    }
    rows = [(i, "src") for fmt_ids in ids.values() for i in fmt_ids]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    got = {
        r.doc_id: (r.fmt, r.status)
        for r in decode_health(attach_media_mix(docs)).collect()
    }
    want_bad = {
        "png": "malformed PNG: zero or out-of-range dims",
        "jpeg": "malformed JPEG: no SOF marker before EOF",
        "gif": "malformed GIF: zero dims",
        "wav": "unsupported WAVE: 4-bit samples",
        "mp4": "malformed ISO-BMFF: no moov/mvhd",
    }
    for fmt, (good_id, bad_id) in ids.items():
        assert got[good_id] == (fmt, "ok"), (fmt, got[good_id])
        assert got[bad_id] == (fmt, want_bad[fmt]), (fmt, got[bad_id])
    # unknown magic never raises — it reports; and the planted garbage
    # blobs (doc_id % 11 == 0, precedence over format/bad rules) classify
    # as unknown end-to-end
    from big_data_computing_final_project_spark.operators.multimodal import _health_one

    assert _health_one(b"\x00\x01garbage-blob")[0] == "unknown"
    garbage = spark.createDataFrame([(0, "src"), (22, "src")], "doc_id long, source string")
    gout = {r.doc_id: (r.fmt, r.status) for r in decode_health(attach_media_mix(garbage)).collect()}
    assert gout == {
        0: ("unknown", "unsupported media format: unrecognized magic"),
        22: ("unknown", "unsupported media format: unrecognized magic"),
    }
    # and the planted blobs are genuinely parseable by the strict decoders
    from big_data_computing_final_project_spark.operators.multimodal import (
        _png_dims,
        wav_meta,
    )

    assert _png_dims(_mix_blob(5)) == (5 % 640 + 1, 5 % 480 + 1)
    assert wav_meta(_mix_blob(3))[:3] == (1, 8000, 16)


def test_media_health_equals_two_pass_chain(spark):
    """media_health plants and classifies in one mapInPandas pass; its rows
    equal the two-pass decode_health(attach_media_mix(docs)) row for row
    over doc ids 0-80: all five formats, the % 7 malformed blobs, the % 11
    garbage blobs and doc 0."""
    from _fixtures import attach_media_mix

    from big_data_computing_final_project_spark.operators.multimodal import (
        decode_health,
        media_health,
    )

    docs = spark.createDataFrame(
        [(i, "srcA" if i % 2 else "srcB") for i in range(81)], "doc_id long, source string"
    )
    fused = media_health(docs)
    assert fused.schema == decode_health(attach_media_mix(docs)).schema
    got = sorted(tuple(r) for r in fused.collect())
    want = sorted(tuple(r) for r in decode_health(attach_media_mix(docs)).collect())
    assert got == want
    assert [r[0] for r in got] == list(range(81))
    fmts = {r[2] for r in got}
    assert fmts == {"png", "jpeg", "gif", "wav", "mp4", "unknown"}, fmts
    assert {r[2] for r in got if r[3] != "ok"} == fmts
    assert "MapInPandas" in fused._jdf.queryExecution().optimizedPlan().toString()
    assert fused._jdf.queryExecution().optimizedPlan().toString().count("MapInPandas") == 1


def test_wav_meta_adpcm_and_truncated_fmt_raise_not_implemented(spark):
    """ADVICE r7 guards: a valid-but-compressed 4-bit ADPCM WAVE must raise
    NotImplementedError (not ZeroDivisionError from bits//8 == 0), and an
    fmt chunk whose declared size is < 16 must be rejected instead of
    reading the following chunk's bytes as format fields."""
    import struct

    import pytest

    from big_data_computing_final_project_spark.operators import mediakit as mk
    from big_data_computing_final_project_spark.operators.multimodal import wav_meta

    # IMA ADPCM: format tag 0x0011, 4 bits per sample — structurally valid
    adpcm = mk.riff_wave(
        mk.wav_chunk(b"fmt ", mk.wav_fmt_payload(0x0011, 1, 8000, 4055, 256, 4)),
        mk.wav_chunk(b"data", b"\x00" * 64),
    )
    with pytest.raises(NotImplementedError, match="4-bit"):
        wav_meta(adpcm)

    # fmt chunk declares 8 bytes: the rate/bits fields would be read from
    # whatever follows — must be rejected as truncated
    short = mk.riff_wave(
        mk.wav_chunk(b"fmt ", struct.pack("<HHI", 1, 2, 16000)),
        mk.wav_chunk(b"data", b"\x00" * 64),
    )
    with pytest.raises(NotImplementedError, match="truncated fmt"):
        wav_meta(short)

    # the guards must not break a genuine PCM file
    ok = mk.build_wav(channels=1, rate=8000, bits=16, n_data_bytes=16000)
    assert wav_meta(ok) == (1, 8000, 16, 1.0)


def test_decode_video_mp4_box_walk(spark):
    """ISO-BMFF metadata through decode_video: a structurally faithful MP4
    (ftyp + moov{mvhd v0, 2x trak} + mdat) yields timescale/duration/track
    count; a version-1 mvhd (64-bit duration) parses too; non-MP4 raises."""
    import pytest

    from big_data_computing_final_project_spark.operators import mediakit as mk
    from big_data_computing_final_project_spark.operators.multimodal import (
        decode_video,
    )

    box = mk.mp4_box

    def mp4_v0(timescale, duration):
        trak = box(b"trak", b"\x00" * 16)
        moov = box(b"moov", mk.build_mvhd(timescale, duration) + trak + trak)
        return (
            box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
            + moov
            + box(b"mdat", b"\x00" * 32)
        )

    def mp4_v1(timescale, duration):
        moov = box(
            b"moov",
            mk.build_mvhd(timescale, duration, version=1) + box(b"trak", b"\x00" * 8),
        )
        return box(b"ftyp", b"isom\x00\x00\x02\x00isom") + moov

    rows = [(1, mp4_v0(1000, 2500)), (2, mp4_v1(90000, 90000 * 7))]
    got = {r.doc_id: r for r in decode_video(
        spark.createDataFrame(rows, "doc_id long, content binary")
    ).collect()}
    assert (got[1].timescale, got[1].duration_sec, got[1].n_tracks) == (1000, 2.5, 2)
    assert (got[2].timescale, got[2].duration_sec, got[2].n_tracks) == (90000, 7.0, 1)

    bad = spark.createDataFrame([(9, b"\x00\x00\x00\x08free")], "doc_id long, content binary")
    with pytest.raises(Exception, match="NotImplementedError|ISO-BMFF"):
        decode_video(bad).collect()


def test_q227_decode_quality_matrix_planted(spark, tmp_path):
    """q227 on a planted corpus: malformed media (doc_id % 7 == 0 / % 11
    == 0 under the deterministic mix) lands in chosen quality bands —
    srcA is all-poor text with one malformed blob, srcB's good band
    carries its only malformed blob — so the matrix separates
    quality-correlated media problems from random ones."""
    from _fixtures import write_planted_corpus

    from big_data_computing_final_project_spark.plans import all_queries

    good = ("the and of to in a is it for on " * 20).strip()  # long, stopword-rich
    poor = "zxq"
    corpus = write_planted_corpus(
        tmp_path / "dqm",
        [
            (7, poor, "en", "srcA"),   # poor band, malformed (7 % 7 == 0)
            (1, poor, "en", "srcA"),   # poor band, decodes ok
            (14, good, "en", "srcB"),  # good band, malformed
            (2, good, "en", "srcB"),   # good band, ok
            (3, poor, "en", "srcB"),   # poor band, ok
        ],
    )
    rows = {
        (r.source, r.quality_band): r
        for r in all_queries()["q227_decode_quality_matrix"](spark, corpus).collect()
    }
    assert set(rows) == {("srcA", "poor"), ("srcB", "good"), ("srcB", "poor")}
    ap = rows[("srcA", "poor")]
    assert (ap.n_docs, ap.n_malformed, ap.malformed_share, ap.band_share) == (
        2, 1, 0.5, 1.0,
    )
    bg = rows[("srcB", "good")]
    assert (bg.n_docs, bg.n_malformed, bg.malformed_share) == (2, 1, 0.5)
    bp = rows[("srcB", "poor")]
    assert (bp.n_docs, bp.n_malformed, bp.malformed_share) == (1, 0, 0.0)
    assert abs(bg.band_share - 2 / 3) < 1e-12 and abs(bp.band_share - 1 / 3) < 1e-12
    assert bg.source_malformed == bp.source_malformed == 1


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _local_frame_cases():
    """(schema, rows) of every local_frame site: the ML result frames, the
    monitor and index frames, and the empty frame of every staged-store
    read (each declared part, each log and sketch schema, plus
    ``batch_id``)."""
    from decimal import Decimal

    from big_data_computing_final_project_spark.operators import sketches as S
    from big_data_computing_final_project_spark.streaming import events as E

    cases = [
        ("metric string, value double", [("n_train", 12.0), ("accuracy", None)]),
        ("candidate int, params string, cv_macro_f1 double", [(0, "depth=2", 0.5)]),
        ("feature_idx int, importance double", [(3, 0.25), (7, 0.0)]),
        ("line_no int, rule string", [(0, "If (feature 1 <= 0.5)")]),
        ("feature string, abs_coef double, selected boolean", [("x0", 0.3, True)]),
        ("n_ref bigint, n_cur bigint, ks_stat_approx double", [(10, 0, float("nan"))]),
        ("column_name string", [("c_acctbal",), ("o_totalprice",)]),
        ("vec_a long, vec_b long", []),
        ("cell int, centroid array<double>", [(0, [0.5, -1.0]), (1, [])]),
        ("m int, k int, centroid array<double>", [(0, 1, [2.0, 3.0])]),
        ("source string", [("src0",)]),
        ("psi_total double, n_cur bigint, alert boolean", [(0.1, 5, False)]),
        ("key string, psi_total double, n_cur bigint, alert boolean", [("a", 0.3, 2, True)]),
        ("ks_stat double, n_cur bigint, alert boolean", [(0.0, 0, True)]),
        (
            "batch_id bigint, n_anomalies bigint, max_abs_z double, max_z_day bigint",
            [(3, 0, None, None)],
        ),
        (
            "day_idx bigint, revenue double, n_prior bigint, "
            "mean_28 double, sd_28 double, zscore double",
            [],
        ),
        (
            "doc_id bigint, sh array<string>, bands array<struct<band:int,key:bigint>>",
            [(1, ["a b c"], [(0, 7), (1, -2)]), (2, [], [])],
        ),
        ("user_id bigint, click_key decimal(38,0)", [(1, Decimal("12345678901234567890123"))]),
    ]
    stores = [E._psi_counts(["key"])] + [v for v in vars(E).values() if isinstance(v, E._Store)]
    schemas = {p.schema for store in stores for p in store.parts}
    # the monitor logs
    logs = [E._psi_log(["key"])] + [v for v in vars(E).values() if isinstance(v, E._Part)]
    schemas |= {log.schema for log in logs}
    schemas |= {v for k, v in vars(E).items() if k.endswith("_SCHEMA") and isinstance(v, str)}
    schemas |= {S._SKETCH_SCHEMA, S._HH_PARTIAL_SCHEMA}
    cases += [(s + ", batch_id bigint", []) for s in sorted(schemas)]
    return cases


def test_local_frame_round_trip_plans_as_local_table(spark):
    """local_frame must give exactly what createDataFrame(list) gives —
    schema and rows, empty frames of nested and decimal stores included —
    while planning as a LocalTableScan with no pickled Python RDD."""
    from big_data_computing_final_project_spark.sources import local_frame

    cases = _local_frame_cases()
    schemas = " ".join(s for s, _ in cases)
    assert "array<struct<" in schemas and "decimal(38,0)" in schemas
    assert "array<double>" in schemas
    for schema, rows in cases:
        want = spark.createDataFrame(rows, schema)
        got = local_frame(spark, rows, schema)
        assert got.schema == want.schema, schema
        assert repr(got.collect()) == repr(want.collect()), schema
        assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()
        assert "applySchemaToPythonRDD" not in _lineage(got), schema
        if rows:
            # the check can tell the two paths apart
            assert "applySchemaToPythonRDD" in _lineage(want), schema


def test_load_table_memoizes_schema_until_rewrite(spark, tmp_path):
    """A second load_table of a path reads with the memoized schema and
    runs no job; rewriting the table re-infers its schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from _fixtures import run_in_job_group

    from big_data_computing_final_project_spark.catalog import load_table

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([1, 2], pa.int32())}), path)
    first, jobs = run_in_job_group(spark, "load-1", lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs  # schema inference
    again, jobs = run_in_job_group(spark, "load-2", lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs == []
    assert again.schema == first.schema
    assert again.collect() == first.collect()

    path.unlink()
    pq.write_table(
        pa.table({"r_regionkey": pa.array([3], pa.int32()), "r_name": pa.array(["x"])}), path
    )
    rewritten = load_table(spark, str(tmp_path), "region")
    assert rewritten.columns == ["r_regionkey", "r_name"]
    assert [tuple(r) for r in rewritten.collect()] == [(3, "x")]
