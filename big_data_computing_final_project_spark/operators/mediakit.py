"""Minimal real-format media blob builders — the SINGLE definition of the
PNG/JPEG/GIF/WAV/MP4 byte layouts used by the q220 planting substrate
(:func:`multimodal._mix_blob`) and by the decoder test fixtures in
tests/test_sources.py and tests/test_streaming.py, so a decoder contract
change edits one module.

Builders emit STRUCTURALLY FAITHFUL headers (correct magics, chunk
lengths, CRCs, box sizes) with deliberately minimal payloads — enough for
the header decoders in :mod:`multimodal` to parse for real, small enough
to plant one per document at test scale. Malformed variants are expressed
through the same builders (zero dims, missing SOF/moov) so a guard change
can't silently diverge from what the tests plant.

Reference parity note: the reference project has no media handling; this
module exists for the north-star multimodal surface (BASELINE.json) only.
"""

from __future__ import annotations

import struct
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def png_chunk(tag: bytes, data: bytes) -> bytes:
    """One PNG chunk: length + tag + data + CRC32(tag+data)."""
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def build_png(
    w: int, h: int, idat_raw: bytes | None = None, bit_depth: int = 8, color: int = 2
) -> bytes:
    """PNG with a real IHDR (and optional zlib-compressed IDAT scanlines).
    ``w == 0`` or ``h == 0`` builds the planted-malformed variant the
    _png_dims guard rejects."""
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color, 0, 0, 0)
    body = PNG_SIG + png_chunk(b"IHDR", ihdr)
    if idat_raw is not None:
        body += png_chunk(b"IDAT", zlib.compress(idat_raw))
    return body + png_chunk(b"IEND", b"")


def build_jpeg(w: int, h: int, sof: bool = True, dqt: bool = False) -> bytes:
    """JPEG skeleton: SOI + APP0-JFIF (+ optional DQT) + SOF0 + EOI.
    ``sof=False`` builds the planted-malformed variant (no frame header
    before EOI, the _jpeg_dims guard)."""
    app0 = (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x02\x00"
        + struct.pack(">HH", 72, 72)
        + b"\x00\x00"
    )
    out = b"\xff\xd8" + app0
    if dqt:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(64)
    if sof:
        out += (
            b"\xff\xc0"
            + struct.pack(">H", 11)
            + b"\x08"
            + struct.pack(">HH", h, w)
            + b"\x01\x01\x11\x00"
        )
    return out + b"\xff\xd9"


def build_gif(w: int, h: int, screen_desc: bytes = b"") -> bytes:
    """GIF89a logical screen header (+ optional descriptor bytes) +
    trailer. Zero dims build the planted-malformed variant."""
    return b"GIF89a" + struct.pack("<HH", w, h) + screen_desc + b"\x3b"


def wav_chunk(tag: bytes, payload: bytes, pad: bool = True) -> bytes:
    """One RIFF sub-chunk; RIFF requires word alignment, so odd payloads
    get a pad byte (``pad=False`` for deliberately sloppy writers)."""
    out = tag + struct.pack("<I", len(payload)) + payload
    if pad and len(payload) & 1:
        out += b"\x00"
    return out


def riff_wave(*chunks: bytes) -> bytes:
    """RIFF/WAVE container around already-built sub-chunks."""
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_fmt_payload(
    fmt_tag: int, channels: int, rate: int, byte_rate: int, align: int, bits: int
) -> bytes:
    """The 16-byte canonical fmt payload; fmt_tag 1 = PCM, anything else
    (e.g. 0x0011 IMA ADPCM) exercises the unsupported-encoding guard."""
    return struct.pack("<HHIIHH", fmt_tag, channels, rate, byte_rate, align, bits)


def build_wav(
    channels: int = 1,
    rate: int = 8000,
    bits: int = 16,
    n_data_bytes: int = 64,
    fmt_tag: int = 1,
) -> bytes:
    """PCM WAV with a canonical fmt chunk and a zeroed data chunk."""
    byte_rate = rate * channels * max(bits // 8, 1)
    align = channels * max(bits // 8, 1)
    return riff_wave(
        wav_chunk(b"fmt ", wav_fmt_payload(fmt_tag, channels, rate, byte_rate, align, bits)),
        wav_chunk(b"data", b"\x00" * n_data_bytes),
    )


def mp4_box(tag: bytes, payload: bytes) -> bytes:
    """One ISO-BMFF box: 32-bit size + tag + payload."""
    return struct.pack(">I", 8 + len(payload)) + tag + payload


def build_mvhd(timescale: int, duration: int, version: int = 0) -> bytes:
    """mvhd box, version 0 (32-bit duration) or 1 (64-bit)."""
    if version == 1:
        payload = (
            b"\x01\x00\x00\x00"
            + b"\x00" * 16
            + struct.pack(">IQ", timescale, duration)
            + b"\x00" * 80
        )
    else:
        payload = (
            b"\x00" * 12 + struct.pack(">II", timescale, duration) + b"\x00" * 80
        )
    return mp4_box(b"mvhd", payload)


def build_mp4(
    timescale: int = 1000,
    duration: int = 1000,
    n_traks: int = 1,
    version: int = 0,
    with_moov: bool = True,
    with_mdat: bool = True,
    brand: bytes = b"isom\x00\x00\x02\x00isom",
) -> bytes:
    """ftyp (+ moov{mvhd, n traks}) (+ mdat). ``with_moov=False`` builds
    the planted-malformed variant (no mvhd, the mp4_meta guard)."""
    out = mp4_box(b"ftyp", brand)
    if with_moov:
        traks = b"".join(mp4_box(b"trak", b"\x00" * 16) for _ in range(n_traks))
        out += mp4_box(b"moov", build_mvhd(timescale, duration, version) + traks)
    else:
        out += mp4_box(b"free", b"\x00" * 8)
    if with_mdat:
        out += mp4_box(b"mdat", b"\x00" * 16)
    return out
