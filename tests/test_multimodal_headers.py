"""Container-header readers (functions/multimodal.py): PNG, GIF,
WAV parsing from raw bytes — the codec-free half of multimodal decode."""

from __future__ import annotations

import struct

from pyspark.sql import Row
from pyspark.sql import functions as F

from big_data_streaming_spark.functions.multimodal import (
    parse_audio_headers,
    parse_image_headers,
    synth_png_payload,
    synth_wav_payload,
)


def _png(w: int, h: int) -> bytes:
    return (
        bytes.fromhex("89504E470D0A1A0A")
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", w, h)
        + bytes.fromhex("0806000000")
    )


def _gif(w: int, h: int, version: bytes = b"89a") -> bytes:
    return b"GIF" + version + struct.pack("<HH", w, h) + b"\x00\x00\x00"


def _wav(rate: int, channels: int, bits: int, data_size: int) -> bytes:
    """A 44-byte RIFF/WAVE header with the given fmt fields."""
    block = channels * bits // 8
    return (
        b"RIFF"
        + struct.pack("<I", (36 + data_size) % 2**32)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, rate, rate * block, block, bits)
        + b"data"
        + struct.pack("<I", data_size)
    )


def test_parse_mixed_image_formats_and_garbage(spark):
    rows = [
        Row(doc_id=1, payload=_png(640, 480)),
        Row(doc_id=2, payload=_gif(320, 200)),
        Row(doc_id=3, payload=b"not an image at all"),
        Row(doc_id=4, payload=None),
        Row(doc_id=5, payload=_gif(12, 34, b"87a")),
        Row(doc_id=6, payload=_png(640, 480)[:20]),  # IHDR cut inside width
        Row(doc_id=7, payload=_png(0xFFFFFFFF, 1)),  # u32 max: no sign wrap
        Row(doc_id=8, payload=_gif(65535, 65535)),
        Row(doc_id=9, payload=b""),
        Row(doc_id=10, payload=_png(3, 4)[:24]),  # IHDR dims end the payload
        Row(doc_id=11, payload=_gif(5, 6)[:10]),  # GIF dims end the payload
        Row(doc_id=12, payload=_gif(5, 6)[:9]),  # GIF height cut short
        Row(doc_id=13, payload=b"GIF90a" + bytes(7)),  # unknown GIF version
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in parse_image_headers(df).collect()}
    dims = {k: (r.mime, r.width, r.height, r.n_bytes) for k, r in got.items()}
    assert dims == {
        1: ("image/png", 640, 480, 29),
        2: ("image/gif", 320, 200, 13),
        3: (None, None, None, 19),
        4: (None, None, None, 0),
        5: ("image/gif", 12, 34, 13),
        6: (None, None, None, 20),
        7: ("image/png", 0xFFFFFFFF, 1, 29),
        8: ("image/gif", 65535, 65535, 13),
        9: (None, None, None, 0),
        10: ("image/png", 3, 4, 24),
        11: ("image/gif", 5, 6, 10),
        12: (None, None, None, 9),
        13: (None, None, None, 13),
    }


def test_synth_png_is_spec_valid_and_roundtrips(spark):
    df = spark.range(5).select(
        F.col("id").alias("doc_id"),
        synth_png_payload(F.lit(100) + F.col("id"), F.lit(7) * (F.col("id") + 1)).alias(
            "payload"
        ),
    )
    # the JVM-built bytes equal the reference Python construction
    raw = {r.doc_id: bytes(r.payload) for r in df.collect()}
    for i in range(5):
        assert raw[i] == _png(100 + i, 7 * (i + 1))
    got = {r.doc_id: r for r in parse_image_headers(df).collect()}
    for i in range(5):
        assert (got[i].width, got[i].height) == (100 + i, 7 * (i + 1))


def test_synth_wav_roundtrips_and_rejects_garbage(spark):
    df = spark.range(3).select(
        F.col("id").alias("doc_id"),
        synth_wav_payload(F.lit(16000), F.lit(8000) + F.col("id")).alias("payload"),
    )
    got = {r.doc_id: r for r in parse_audio_headers(df).collect()}
    for i in range(3):
        r = got[i]
        assert (r.mime, r.sample_rate, r.channels) == ("audio/wav", 16000, 1)
        assert r.n_samples == 8000 + i
        assert r.duration_ms == (8000 + i) * 1000 // 16000
    bad = spark.createDataFrame(
        [Row(doc_id=9, payload=b"RIFFxxxx not wav")], "doc_id long, payload binary"
    )
    assert parse_audio_headers(bad).first().mime is None

    edge = spark.createDataFrame(
        [
            Row(doc_id=0, payload=_wav(16000, 1, 16, 200)[:43]),  # one byte short
            Row(doc_id=1, payload=_wav(16000, 0, 16, 200)),  # zero channels
            Row(doc_id=2, payload=_wav(16000, 1, 0, 200)),  # zero bits
            Row(doc_id=3, payload=_wav(0, 1, 16, 200)),  # zero rate
            Row(doc_id=4, payload=_wav(22050, 2, 8, 1001)),  # stereo 8-bit, odd size
            Row(doc_id=5, payload=_wav(1, 1, 16, 0xFFFFFFFF)),  # u32 max data size
            Row(doc_id=6, payload=_wav(0xFFFFFFFF, 1, 8, 7)),  # u32 max rate
            Row(doc_id=7, payload=b""),
            Row(doc_id=8, payload=None),
        ],
        "doc_id long, payload binary",
    )
    fields = {
        r.doc_id: (r.mime, r.sample_rate, r.channels, r.n_samples, r.duration_ms)
        for r in parse_audio_headers(edge).collect()
    }
    nulls = (None,) * 5
    assert fields == {
        0: nulls,
        1: nulls,
        2: nulls,
        3: nulls,
        4: ("audio/wav", 22050, 2, 500, 500 * 1000 // 22050),
        5: ("audio/wav", 1, 1, 2147483647, 2147483647000),
        6: ("audio/wav", 0xFFFFFFFF, 1, 7, 0),
        7: nulls,
        8: nulls,
    }


def test_resize_raster_nearest_neighbor_exact(spark):
    """NN resize is pure index math — assert exact pixel selection on a
    known gradient, identity at same size, and corrupt-row filtering."""
    import numpy as np

    from big_data_streaming_spark.functions.multimodal import resize_raster

    grad = bytes(range(16))  # 4x4 row-major: [[0..3],[4..7],[8..11],[12..15]]
    rows = [
        (1, 4, 4, bytearray(grad)),
        (2, 4, 4, bytearray(b"\x00" * 7)),  # corrupt: wrong length → dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, width int, height int, payload binary")

    out = {r["doc_id"]: bytes(r["payload"]) for r in resize_raster(df, 2, 2).collect()}
    assert set(out) == {1}
    # source rows/cols picked at floor(i*4/2) = 0, 2 → pixels (0,0),(0,2),(2,0),(2,2)
    assert np.frombuffer(out[1], np.uint8).tolist() == [0, 2, 8, 10]

    same = {r["doc_id"]: bytes(r["payload"]) for r in resize_raster(df, 4, 4).collect()}
    assert same[1] == grad  # identity at the original size

    up = resize_raster(df, 8, 8).collect()
    assert len(up[0]["payload"]) == 64  # upsampling works too


def test_dhash_drops_rasters_over_64_bits(spark):
    """dhash_raster packs (w-1)*h bits into one uint64; a raster wider
    than that contract would shift numpy uint64 by >=64 — undefined
    behavior that silently wraps. Oversized rasters must be DROPPED
    like corrupt ones, and the 9x8 contract raster must still hash."""
    from big_data_streaming_spark.functions.multimodal import dhash_raster

    rows = [
        (1, 9, 8, bytearray(bytes(range(72)))),        # contract 9x8 → 64 bits
        (2, 17, 8, bytearray(bytes(128))),             # (17-1)*8 = 128 bits → drop
        (3, 65, 1, bytearray(bytes(range(65)))),       # boundary: exactly 64 → keep
        (4, 66, 1, bytearray(bytes(66))),              # 65 bits → drop
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, width int, height int, payload binary"
    )
    got = {r["doc_id"]: (r["dhash_hi"], r["dhash_lo"]) for r in dhash_raster(df).collect()}
    assert set(got) == {1, 3}
    # the monotone gradient row hashes to all-ones in the low 63... each
    # adjacent pair increases, so every bit is set: (w-1)*h = 64 ones
    assert got[3] == (0xFFFFFFFF, 0xFFFFFFFF)
