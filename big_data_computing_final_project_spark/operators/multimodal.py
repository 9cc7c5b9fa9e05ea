"""Multimodal (image/audio/video) column plumbing (north-star extension).

Design for 100 TB: media payloads are opaque `binary` columns with typed
metadata alongside; decode / feature-extraction / resize / frame-sampling
run as **mapInPandas** stages — Arrow-batched, one Python worker per
partition, schema declared up front so Catalyst can prune around them.
Partitioning guidance: media tables should be written with
`spark.sql.files.maxPartitionBytes` sized so one batch of payloads fits
executor memory (payloads dominate row width).

Header decode is REAL for PNG (IHDR), JPEG (SOFn), GIF (logical screen)
and RIFF/WAVE audio (fmt/data chunks -> channels/rate/bits/duration) —
pure-struct parses of the public specs, no codec library — plus the
deterministic synthetic codec produced by `attach_synthetic_media` (the
oracle-paired path, since DuckDB can recompute it). Pixel/sample decode
and resampling would need a real codec library (absent in this
container) and raise `NotImplementedError`. The Spark-side plumbing —
schema, batching, UDF signature — is real and oracle-tested end-to-end
(plans/multimodal.py q51).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Synthetic header: 8 ASCII chars = %04d width + %04d height, then payload.
_HEADER_LEN = 8

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_payload_bytes", T.LongType()),
        T.StructField("content_md5", T.StringType()),
    ]
)


def attach_synthetic_media(docs: DataFrame) -> DataFrame:
    """Add a deterministic fake media column to the documents table:
    content = ascii header (width, height derived from doc_id) + utf-8 text.
    Pure Column expressions — the binary is born distributed."""
    width = (F.col("doc_id") * 37 % 640 + 16).cast("int")
    height = (F.col("doc_id") * 53 % 480 + 16).cast("int")
    header = F.format_string("%04d%04d", width, height)
    return docs.select(
        "doc_id",
        F.encode(F.concat(header, F.col("text")), "utf-8").alias("content"),
        F.struct(
            width.alias("width"), height.alias("height"), F.lit("synthetic/v1").alias("codec")
        ).alias("media_meta"),
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_dims(content: bytes) -> tuple[int, int]:
    """PNG IHDR dimensions — pure-struct parse, no codec library. The
    first chunk after the 8-byte signature MUST be IHDR (PNG spec §11.2.2);
    width/height are big-endian u32 at its data offsets 0/4."""
    if len(content) < 24 or content[12:16] != b"IHDR":
        raise NotImplementedError("malformed PNG: missing IHDR")
    w = int.from_bytes(content[16:20], "big")
    h = int.from_bytes(content[20:24], "big")
    if not (0 < w <= 2**31 - 1 and 0 < h <= 2**31 - 1):
        raise NotImplementedError("malformed PNG: zero or out-of-range dims")
    return w, h


def _jpeg_dims(content: bytes) -> tuple[int, int]:
    """JPEG SOFn dimensions — walk the marker segments from SOI until a
    start-of-frame marker (SOF0-15 except DHT/JPG/DAC), then read the
    big-endian height/width at frame-header offsets 3/5 (ITU T.81 §B.2.2)."""
    i, n = 2, len(content)
    while i + 9 <= n:
        if content[i] != 0xFF:
            raise NotImplementedError("malformed JPEG: lost marker sync")
        marker = content[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if 0xD0 <= marker <= 0xD9:  # RSTn/SOI/EOI: no length field
            i += 2
            continue
        seg_len = int.from_bytes(content[i + 2 : i + 4], "big")
        if seg_len < 2:
            raise NotImplementedError("malformed JPEG: bad segment length")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h = int.from_bytes(content[i + 5 : i + 7], "big")
            w = int.from_bytes(content[i + 7 : i + 9], "big")
            if w == 0 or h == 0:
                raise NotImplementedError("malformed JPEG: zero dims in SOF")
            return w, h
        i += 2 + seg_len
    raise NotImplementedError("malformed JPEG: no SOF marker before EOF")


def _gif_dims(content: bytes) -> tuple[int, int]:
    """GIF logical-screen dimensions — little-endian u16 pair right after
    the 6-byte GIF87a/GIF89a signature (GIF spec §18)."""
    if len(content) < 10:
        raise NotImplementedError("malformed GIF: truncated header")
    w = int.from_bytes(content[6:8], "little")
    h = int.from_bytes(content[8:10], "little")
    if w == 0 or h == 0:
        raise NotImplementedError("malformed GIF: zero dims")
    return w, h


def wav_meta(content: bytes) -> tuple[int, int, int, float]:
    """(channels, sample_rate, bits_per_sample, duration_sec) from a
    RIFF/WAVE file — walk the chunk list to `fmt ` for the format fields
    and `data` for the payload size (RIFF spec; all little-endian).
    Pure-struct: no audio library, no sample decode."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE file")
    i, n = 12, len(content)
    channels = rate = bits = data_len = None
    while i + 8 <= n:
        tag = content[i : i + 4]
        size = int.from_bytes(content[i + 4 : i + 8], "little")
        if tag == b"fmt ":
            # the PCM fmt chunk is >= 16 bytes; a shorter declared size
            # means the fields below would read into the NEXT chunk
            if size < 16 or i + 24 > n:
                raise NotImplementedError("malformed WAVE: truncated fmt chunk")
            channels = int.from_bytes(content[i + 10 : i + 12], "little")
            rate = int.from_bytes(content[i + 12 : i + 16], "little")
            bits = int.from_bytes(content[i + 22 : i + 24], "little")
        elif tag == b"data":
            data_len = size
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if not (channels and rate and bits) or data_len is None:
        raise NotImplementedError("malformed WAVE: missing fmt/data chunk")
    if bits < 8:
        # valid-but-compressed WAVE (e.g. 4-bit ADPCM): sub-byte samples
        # need a codec, not struct math — out of scope like pixel decode
        raise NotImplementedError(f"unsupported WAVE: {bits}-bit samples")
    return channels, rate, bits, data_len / (rate * channels * (bits // 8))


def decode_media(media: DataFrame) -> DataFrame:
    """mapInPandas decode: binary -> (dims, payload size, content hash).

    Four real image header codecs, all pure-struct public-spec parsing (no
    external libraries): PNG (IHDR), JPEG (SOFn scan), GIF (logical
    screen), and the synthetic test codec; audio gets its own typed path
    (:func:`decode_audio` over RIFF/WAVE). Pixel decode / resampling would need a codec library and
    stays stubbed; dimension+size metadata is what the curation pipeline
    actually filters on. For real formats the whole file is the payload
    (n_payload_bytes = len(content)); the synthetic codec excludes its
    8-byte header."""

    def _decode_one(content: bytes) -> tuple[int, int, int, str]:
        md5 = hashlib.md5(content).hexdigest()
        if content[: len(_PNG_SIG)] == _PNG_SIG:
            w, h = _png_dims(content)
            return w, h, len(content), md5
        if content[:3] == b"\xff\xd8\xff":
            w, h = _jpeg_dims(content)
            return w, h, len(content), md5
        if content[:6] in (b"GIF87a", b"GIF89a"):
            w, h = _gif_dims(content)
            return w, h, len(content), md5
        if len(content) < _HEADER_LEN:
            raise NotImplementedError(
                "unsupported media format: not PNG/JPEG/synthetic-v1"
            )
        try:
            width = int(content[:4].decode("ascii"))
            height = int(content[4:8].decode("ascii"))
        except (UnicodeDecodeError, ValueError) as e:
            raise NotImplementedError(f"unsupported media format: {e}") from e
        return width, height, len(content) - _HEADER_LEN, md5

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [_decode_one(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_payload_bytes": [d[2] for d in decoded],
                    "content_md5": [d[3] for d in decoded],
                }
            )

    return media.mapInPandas(_batches, DECODED_SCHEMA)


def mp4_meta(content: bytes) -> tuple[int, float, int]:
    """(timescale, duration_sec, n_tracks) from an ISO-BMFF (MP4/MOV)
    container — walk the top-level box list to `moov`, then its children:
    `mvhd` carries timescale+duration (version 0: u32 pair at offset 12;
    version 1: u64 duration after a u32 timescale at offset 20), `trak`
    boxes count tracks (ISO/IEC 14496-12 §8.2). Pure-struct: no codec,
    no sample parse — exactly the metadata a curation filter needs
    (clip length, track presence)."""
    n = len(content)
    if n < 12 or content[4:8] != b"ftyp":
        raise NotImplementedError("not an ISO-BMFF container (no ftyp)")

    def walk(lo: int, hi: int):
        i = lo
        while i + 8 <= hi:
            size = int.from_bytes(content[i : i + 4], "big")
            tag = content[i + 4 : i + 8]
            body = i + 8
            if size == 1:  # 64-bit largesize
                size = int.from_bytes(content[i + 8 : i + 16], "big")
                body = i + 16
            elif size == 0:  # box extends to end of enclosing scope
                size = hi - i
            if size < 8 or i + size > hi:
                raise NotImplementedError("malformed ISO-BMFF: bad box size")
            yield tag, body, i + size
            i += size

    timescale = duration = None
    n_tracks = 0
    for tag, body, end in walk(0, n):
        if tag != b"moov":
            continue
        for t2, b2, _ in walk(body, end):
            if t2 == b"mvhd":
                version = content[b2]
                if version == 1:
                    timescale = int.from_bytes(content[b2 + 20 : b2 + 24], "big")
                    duration = int.from_bytes(content[b2 + 24 : b2 + 32], "big")
                else:
                    timescale = int.from_bytes(content[b2 + 12 : b2 + 16], "big")
                    duration = int.from_bytes(content[b2 + 16 : b2 + 20], "big")
            elif t2 == b"trak":
                n_tracks += 1
    if not timescale:
        raise NotImplementedError("malformed ISO-BMFF: no moov/mvhd")
    return timescale, duration / timescale, n_tracks


VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("timescale", T.IntegerType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("content_md5", T.StringType()),
    ]
)


def decode_video(media: DataFrame) -> DataFrame:
    """mapInPandas video-container metadata decode over ISO-BMFF payloads
    — completes the image (decode_media) / audio (decode_audio) / video
    triple. Frame extraction / sampling composes downstream exactly like
    q52's frame-sample stage."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                ts, dur, trk = mp4_meta(content)
                rows.append(
                    (doc_id, ts, dur, trk, hashlib.md5(content).hexdigest())
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "timescale", "duration_sec", "n_tracks", "content_md5",
                ],
            )

    return media.mapInPandas(_batches, VIDEO_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("content_md5", T.StringType()),
    ]
)


def decode_audio(media: DataFrame) -> DataFrame:
    """mapInPandas audio-metadata decode over RIFF/WAVE payloads: the
    audio twin of :func:`decode_media` (same batch shape, its own typed
    schema). Sample decode / feature extraction (mel, MFCC) would slot in
    behind the same signature with an audio library present."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                ch, rate, bits, dur = wav_meta(content)
                rows.append(
                    (doc_id, ch, rate, bits, dur, hashlib.md5(content).hexdigest())
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_channels",
                    "sample_rate",
                    "bits_per_sample",
                    "duration_sec",
                    "content_md5",
                ],
            )

    return media.mapInPandas(_batches, AUDIO_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 64, max_frames: int = 8) -> DataFrame:
    """'Video frame sampling' over the synthetic payload: take a byte every
    `every_n_bytes` as a stand-in frame grab — exercises the
    one-row-to-many-rows (UDTF-shaped) mapInPandas pattern."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_byte", T.IntegerType()),
        ]
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, vals = [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                payload = content[_HEADER_LEN:]
                for k in range(min(max_frames, max(len(payload) // every_n_bytes, 0))):
                    ids.append(doc_id)
                    idxs.append(k)
                    vals.append(payload[k * every_n_bytes])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_byte": vals})

    return media.mapInPandas(_batches, out_schema)


# ---------------------------------------------------------------------------
# Decode-health audit: the decoders above REJECT
# malformed blobs, but a multimodal pipeline's first operational question
# is "what fraction of each source's media fails decode, and how?". The
# two pieces below plant a deterministic real-format mix (good + malformed
# per a (doc_id % 5, doc_id % 7) rule the oracle can restate) and classify
# every blob through the REAL header decoders without failing the job.
# ---------------------------------------------------------------------------

_MIX_FMTS = ("png", "jpeg", "gif", "wav", "mp4")
_MIX_BAD_MOD = 7  # doc_id % 7 == 0 -> planted-malformed blob
_MIX_GARBAGE_MOD = 11  # doc_id % 11 == 0 -> magic-less garbage (truncated crawl)


def _mix_blob(doc_id: int) -> bytes:
    """Deterministic real-format blob for ``doc_id``: format cycles through
    png/jpeg/gif/wav/mp4 (doc_id % 5); every 7th doc is malformed in a
    format-specific way that exercises a distinct decoder guard; every
    11th doc (taking precedence) is magic-less garbage — the truncated /
    interrupted-download blob a real crawl sees most often.

    ``doc_id`` must be non-negative: the planting rule is restated in
    q220's oracle SQL, and Python's ``%`` and SQL's ``%`` disagree on
    negatives (-3 % 5 = 2 vs -3), while ``struct.pack('>Q', doc_id)``
    would raise outright — guard the load-bearing assumption explicitly.

    Byte layouts come from :mod:`mediakit` — the single builder module
    shared with the decoder test fixtures, pinned
    byte-identical to the pre-consolidation blobs in test_sources.py."""
    import struct

    from . import mediakit as mk

    if doc_id < 0:
        raise ValueError(f"_mix_blob requires doc_id >= 0, got {doc_id}")
    if doc_id % _MIX_GARBAGE_MOD == 0:
        return b"\x00\x01" + struct.pack(">Q", doc_id) + b"garbage"
    fmt = _MIX_FMTS[doc_id % 5]
    bad = doc_id % _MIX_BAD_MOD == 0
    if fmt == "png":
        # bad: zero width (the _png_dims out-of-range guard)
        return mk.build_png(0 if bad else doc_id % 640 + 1, doc_id % 480 + 1)
    if fmt == "jpeg":
        # bad: APP0 but no SOF frame header before EOI
        return mk.build_jpeg(doc_id % 640 + 1, doc_id % 480 + 1, sof=not bad)
    if fmt == "gif":
        w, h = (0, 0) if bad else (doc_id % 320 + 1, doc_id % 200 + 1)
        return mk.build_gif(w, h)
    if fmt == "wav":
        if bad:  # IMA ADPCM, 4-bit samples (valid file, unsupported encoding)
            return mk.riff_wave(
                mk.wav_chunk(
                    b"fmt ", mk.wav_fmt_payload(0x0011, 1, 8000, 4055, 256, 4)
                ),
                mk.wav_chunk(b"data", b"\x00" * 64),
            )
        return mk.build_wav(channels=1, rate=8000, bits=16, n_data_bytes=64)
    # mp4; bad: container with no moov/mvhd (and no mdat)
    if bad:
        return mk.build_mp4(with_moov=False, with_mdat=False)
    return mk.build_mp4(1000, doc_id % 9000 + 1000, n_traks=1)


def _plant(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch of (doc_id, source) -> (doc_id, source, content)."""
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].values,
            "source": pdf["source"].values,
            "content": [_mix_blob(int(d)) for d in pdf["doc_id"]],
        }
    )


HEALTH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("status", T.StringType()),
    ]
)


def _health_one(content: bytes) -> tuple[str, str]:
    """Sniff the container magic, run the matching REAL header decoder,
    and fold its verdict to ('fmt', 'ok' | NotImplementedError message) —
    per-blob rejection becomes a row, never a failed job."""
    if content[: len(_PNG_SIG)] == _PNG_SIG:
        fmt, dec = "png", _png_dims
    elif content[:3] == b"\xff\xd8\xff":
        fmt, dec = "jpeg", _jpeg_dims
    elif content[:6] in (b"GIF87a", b"GIF89a"):
        fmt, dec = "gif", _gif_dims
    elif content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        fmt, dec = "wav", wav_meta
    elif len(content) >= 12 and content[4:8] == b"ftyp":
        fmt, dec = "mp4", mp4_meta
    else:
        return "unknown", "unsupported media format: unrecognized magic"
    try:
        dec(content)
        return fmt, "ok"
    except NotImplementedError as e:
        return fmt, str(e)


def _classify(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch of (doc_id, source, content) -> (doc_id, source,
    fmt, status) through :func:`_health_one`."""
    verdicts = [_health_one(c) for c in pdf["content"]]
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].values,
            "source": pdf["source"].values,
            "fmt": [v[0] for v in verdicts],
            "status": [v[1] for v in verdicts],
        }
    )


def decode_health(media: DataFrame) -> DataFrame:
    """mapInPandas decode-health classification: every (doc_id, source,
    content) row becomes (doc_id, source, fmt, status) through
    :func:`_health_one` — the corpus-quality audit the strict decoders
    can't provide (they raise; this reports)."""
    return media.mapInPandas(lambda it: map(_classify, it), HEALTH_SCHEMA)


def media_health(docs: DataFrame) -> DataFrame:
    """(doc_id, source) -> (doc_id, source, fmt, status): plant each doc's
    blob of the deterministic real-format mix (:func:`_mix_blob`) and
    classify it (:func:`decode_health`'s rows) in ONE mapInPandas pass.
    Each Arrow batch is planted and classified in the same Python worker,
    so a partition pays one Arrow round trip and the blobs never cross to
    the JVM."""
    return docs.select("doc_id", "source").mapInPandas(
        lambda it: (_classify(_plant(pdf)) for pdf in it), HEALTH_SCHEMA
    )
