"""Real header decoding in operators/multimodal.py: stdlib-parseable
containers yield TRUE metadata; unknown payloads keep the deterministic
fallback the driver battery pins."""

from __future__ import annotations

import struct

from hrdp_variant_load_pipeline_spark.operators.multimodal import (
    _fake_decode,
    _header_decode,
    _wav_probe,
    decode_audio_features,
    decode_image_features,
)


def _png(w, h, color_type=2):
    ihdr = struct.pack(">II", w, h) + bytes([8, color_type, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00\x00\x00\x00"
    )


def _jpeg(w, h, comps=3):
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 8 + 3 * comps) + b"\x08"
        + struct.pack(">HH", h, w) + bytes([comps])
    )
    return b"\xff\xd8" + app0 + sof0 + b"\x00" * 12


def _bmp(w, h, bpp=24):
    return (
        b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h)
        + b"\x01\x00" + struct.pack("<H", bpp) + b"\x00" * 24
    )


def _gif(w, h):
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 8


def _wav(rate, channels, bits, n_samples):
    block = channels * bits // 8
    data = b"\x00" * (n_samples * block)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_header_decode_real_formats():
    assert _header_decode(_png(320, 240)) == (320, 240, 3)
    assert _header_decode(_png(64, 64, color_type=6)) == (64, 64, 4)
    assert _header_decode(_jpeg(1920, 1080)) == (1920, 1080, 3)
    assert _header_decode(_bmp(17, 13)) == (17, 13, 3)
    assert _header_decode(_bmp(17, -13, bpp=32)) == (17, 13, 4)  # top-down
    assert _header_decode(_gif(13, 11)) == (13, 11, 3)
    assert _header_decode(b"P6\n# c\n320 240\n255\n\x00\x01") == (320, 240, 3)
    assert _header_decode(b"P5 7 9 255 ") == (7, 9, 1)
    # unknown / truncated payloads fall back (never raise)
    assert _header_decode(b"some text bytes") is None
    assert _header_decode(b"\x89PNG\r\n\x1a\nIH") is None
    assert _header_decode(b"\xff\xd8\xff") is None
    assert _header_decode(b"") is None


def test_jpeg_fill_bytes_before_marker():
    """ITU T.81 B.1.1.2: markers may be preceded by any number of 0xFF
    fill bytes. A scanner that treats the fill byte as the marker reads
    marker+length bytes as a garbage segment length (ADVICE r10)."""
    base = _jpeg(1920, 1080)
    # inject fill runs before BOTH segments (APP0: 18 bytes at offset 2,
    # SOF0: 10 bytes after)
    app0 = base[2:20]
    sof = base[20:30]
    padded = b"\xff\xd8" + b"\xff" * 3 + app0 + b"\xff" * 5 + sof + b"\x00" * 12
    assert _header_decode(padded) == (1920, 1080, 3)
    # fill bytes clipped by end-of-payload still fall back, never raise
    assert _header_decode(b"\xff\xd8" + b"\xff" * 20) is None


def test_wav_probe_real_and_fallback():
    assert _wav_probe(_wav(44100, 2, 16, 44100)) == (44100, 44100, 1000)
    assert _wav_probe(_wav(16000, 1, 16, 8000)) == (16000, 8000, 500)
    assert _wav_probe(b"RIFFxxxxJUNK") is None
    assert _wav_probe(b"not audio") is None


def test_decode_operators_mix_real_and_fallback(spark):
    rows = [
        (1, bytearray(_png(320, 240))),
        (2, bytearray(b"plain text payload")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_image_features(df).collect()}
    assert (got[1].width, got[1].height, got[1].channels) == (320, 240, 3)
    fw, fh, fc = _fake_decode(b"plain text payload")
    assert (got[2].width, got[2].height, got[2].channels) == (fw, fh, fc)

    arows = [
        (1, bytearray(_wav(16000, 1, 16, 8000))),
        (2, bytearray(b"plain text payload")),
    ]
    adf = spark.createDataFrame(arows, "doc_id long, payload binary")
    agot = {r.doc_id: r for r in decode_audio_features(adf).collect()}
    assert (agot[1].sample_rate, agot[1].n_samples, agot[1].duration_ms) == (
        16000, 8000, 500,
    )
    assert agot[2].sample_rate in range(8000, 40001, 8000)  # fake path
