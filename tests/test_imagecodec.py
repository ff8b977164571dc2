"""Real image codec (functions/imagecodec.py) + the real multimodal decode
path (round 5): spec conformance, round trips over all PNG filter types,
BMP padding/row-order, golden bytes, and end-to-end pixel-stat parity
between the Spark pipeline and the closed-form generator model."""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pytest

from rdfcmap_spark.functions.imagecodec import (
    PNG_MAGIC,
    decode_image,
    encode_bmp,
    encode_png,
)


def test_png_roundtrip_all_filters_and_channels():
    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (1, 17), (9, 4), (7, 13), (5, 5)]:
        for ch in (1, 3, 4):
            px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
            arr = px[:, :, 0] if ch == 1 else px
            for seed in range(5):  # every row-filter rotation
                kind, back = decode_image(encode_png(arr, filter_seed=seed))
                assert kind == "png"
                want = arr[:, :, None] if ch == 1 else arr
                assert np.array_equal(back, want), (h, w, ch, seed)


def test_png_filter_bytes_actually_vary():
    """The encoder must really emit Sub/Up/Average/Paeth rows (not five
    aliases of None) — otherwise the round trip proves nothing about the
    decoder's un-filter branches. Check the per-row filter tags in the
    decompressed stream."""
    arr = np.arange(8 * 8, dtype=np.uint8).reshape(8, 8)
    payload = encode_png(arr, filter_seed=0)
    # IDAT body: skip magic + IHDR chunk (8 + 12+13), read IDAT
    idat_len = struct.unpack(">I", payload[33:37])[0]
    raw = zlib.decompress(payload[41 : 41 + idat_len])
    tags = [raw[r * 9] for r in range(8)]
    assert tags == [0, 1, 2, 3, 4, 0, 1, 2]


def test_png_crc_validated():
    arr = np.zeros((3, 3), dtype=np.uint8)
    payload = bytearray(encode_png(arr))
    payload[40] ^= 0xFF  # corrupt one IDAT byte; CRC must catch it
    with pytest.raises(ValueError, match="CRC"):
        decode_image(bytes(payload))


def test_png_truncated_chunk_raises_value_error():
    """A payload cut inside a chunk (no CRC bytes left) is a typed
    ValueError, not the struct.error of the CRC read."""
    payload = encode_png(np.zeros((3, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="corrupt PNG"):
        decode_image(payload[:45])


def test_png_truncated_idat_stream_raises_value_error():
    """A CRC-valid IDAT holding a truncated zlib stream is a typed
    ValueError, not zlib.error."""
    raw = zlib.compress(bytes(4 * 4), 6)[:-3]
    ihdr = struct.pack(">IIBBBBB", 3, 4, 8, 0, 0, 0, 0)

    def chunk(tag, body):
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    payload = PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", raw) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="corrupt PNG"):
        decode_image(payload)


def test_bmp_truncated_header_raises_value_error():
    payload = encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="corrupt BMP"):
        decode_image(payload[:20])


def test_bmp_roundtrip_padding_and_order():
    rng = np.random.default_rng(5)
    # widths spanning all four padding cases (3w % 4 = 0..3)
    for w in (4, 5, 6, 7):
        px = rng.integers(0, 256, size=(3, w, 3), dtype=np.uint8)
        kind, back = decode_image(encode_bmp(px))
        assert kind == "bmp" and np.array_equal(back, px), w


def test_bmp_is_bottom_up_bgr_on_the_wire():
    """Pin the spec layout: first stored pixel = bottom-left, bytes BGR."""
    px = np.zeros((2, 1, 3), dtype=np.uint8)
    px[0, 0] = (1, 2, 3)  # top row RGB
    px[1, 0] = (9, 8, 7)  # bottom row RGB
    payload = encode_bmp(px)
    (off,) = struct.unpack_from("<I", payload, 10)
    assert payload[off : off + 3] == bytes([7, 8, 9])  # bottom row, BGR


def test_golden_1x1_gray_png_bytes():
    """Bit-level golden: a 1x1 zero-pixel grayscale PNG. Pinning exact
    bytes guards the header/CRC writer against silent drift."""
    payload = encode_png(np.zeros((1, 1), dtype=np.uint8))
    assert payload[:8] == PNG_MAGIC
    # IHDR: 1x1, depth 8, color type 0
    assert payload[8:29] == struct.pack(">I", 13) + b"IHDR" + struct.pack(
        ">IIBBBBB", 1, 1, 8, 0, 0, 0, 0
    )
    assert len(payload) == 67
    assert hashlib.md5(payload).hexdigest() == "17b3e19593efeb4c09a755092de9d245"
    kind, px = decode_image(payload)
    assert kind == "png" and px.shape == (1, 1, 1) and int(px[0, 0, 0]) == 0


def test_unsupported_formats_raise():
    with pytest.raises(ValueError, match="unrecognized"):
        decode_image(b"GIF89a....")
    # 16-bit PNG refused loudly
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    chunk = struct.pack(">I", 13) + b"IHDR" + ihdr + struct.pack(
        ">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_image(PNG_MAGIC + chunk)


# ---------------------------------------------------------------------------
# end-to-end: the Spark real-decode pipeline
# ---------------------------------------------------------------------------


def test_real_image_features_measures_decoded_pixels(spark):
    """Pipeline parity with the closed-form model for hand-picked ids:
    the stats must come from DECODED bytes, so this exercises synth ->
    encode -> Spark binary column -> decode -> numpy stats end-to-end."""
    from rdfcmap_spark.operators import multimodal

    ids = [0, 1, 2, 7, 12, 25]  # both parities, several dim classes
    docs = spark.createDataFrame([(i, "x") for i in ids], "doc_id long, text string")
    got = {r["doc_id"]: r for r in multimodal.real_image_features(docs).collect()}
    for d in ids:
        w, h = 4 + d % 13, 3 + d % 7
        n = w * h
        v = (d * 7 + np.arange(n)) % 256
        r = got[d]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, n)
        if d % 2 == 0:
            assert r["media_type"] == "image/png" and r["channels"] == 1
            assert r["px_sum"] == r["r_sum"] == int(v.sum())
            assert r["px_min"] == int(v.min()) and r["px_max"] == int(v.max())
        else:
            g, b = (v + 85) % 256, (v + 170) % 256
            assert r["media_type"] == "image/bmp" and r["channels"] == 3
            assert r["px_sum"] == int(v.sum() + g.sum() + b.sum())
            assert r["r_sum"] == int(v.sum())
            assert r["px_min"] == int(min(v.min(), g.min(), b.min()))
            assert r["px_max"] == int(max(v.max(), g.max(), b.max()))


def test_extract_features_real_decode_routes_through_codec(spark):
    """The old NotImplementedError seam is closed: real_decode=True decodes
    actual payload bytes (dims from headers) and degrades corrupt payloads
    to (0, 0, 0) instead of crashing the task."""
    from pyspark.sql import functions as F

    from rdfcmap_spark.operators import multimodal

    good = encode_png(np.zeros((5, 9), dtype=np.uint8))
    media = spark.createDataFrame(
        [(1, "image/png", bytearray(good)), (2, "junk", bytearray(b"not an image"))],
        "doc_id long, media_type string, payload binary",
    ).select(
        "doc_id",
        "media_type",
        "payload",
        F.length("payload").cast("bigint").alias("n_bytes"),
        F.md5("payload").alias("checksum"),
    )
    got = {r["doc_id"]: r for r in multimodal.extract_features(media, real_decode=True).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["n_frames"]) == (9, 5, 1)
    assert (got[2]["width"], got[2]["height"], got[2]["n_frames"]) == (0, 0, 0)


def test_synth_images_are_spec_conformant_files(spark):
    """Every generated payload carries the right magic and its metadata
    matches the actual bytes (n_bytes/checksum computed from payload)."""
    import hashlib as _hashlib

    from rdfcmap_spark.operators import multimodal

    docs = spark.createDataFrame([(i, "x") for i in range(10)], "doc_id long, text string")
    for r in multimodal.synth_images(docs).collect():
        payload = bytes(r["payload"])
        assert r["n_bytes"] == len(payload)
        assert r["checksum"] == _hashlib.md5(payload).hexdigest()
        if r["doc_id"] % 2 == 0:
            assert payload[:8] == PNG_MAGIC and r["media_type"] == "image/png"
        else:
            assert payload[:2] == b"BM" and r["media_type"] == "image/bmp"


# ---------------------------------------------------------------------------
# audio codec (round 5): WAV RIFF/PCM
# ---------------------------------------------------------------------------


def test_wav_roundtrip_mono_stereo_rates():
    from rdfcmap_spark.functions.audiocodec import decode_wav, encode_wav

    rng = np.random.default_rng(3)
    for n, ch, rate in [(1, 1, 8000), (17, 2, 16000), (800, 1, 24000), (999, 2, 44100)]:
        s = rng.integers(-32768, 32768, size=(n, ch), dtype=np.int16)
        r2, back = decode_wav(encode_wav(s, rate))
        assert r2 == rate and np.array_equal(back, s), (n, ch, rate)


def test_wav_chunk_walk_skips_unknown_chunks():
    """RIFF spec: unknown chunks (e.g. LIST metadata) are skipped with
    word alignment — an odd-sized chunk before data must not break the
    parse."""
    from rdfcmap_spark.functions.audiocodec import decode_wav, encode_wav

    payload = encode_wav(np.arange(10, dtype=np.int16), 8000)
    fmt_chunk = payload[12:36]
    data_chunk = payload[36:]
    lst = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"  # odd + pad
    body = b"WAVE" + fmt_chunk + lst + data_chunk
    crafted = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, s = decode_wav(crafted)
    assert rate == 8000 and np.array_equal(s.reshape(-1), np.arange(10))


def test_wav_rejects_non_pcm_and_garbage():
    from rdfcmap_spark.functions.audiocodec import decode_wav, encode_wav

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS....")
    payload = bytearray(encode_wav(np.zeros(4, dtype=np.int16)))
    payload[20] = 3  # format tag -> IEEE float
    with pytest.raises(ValueError, match="unsupported WAV"):
        decode_wav(bytes(payload))


def test_wav_truncated_data_chunk_raises_value_error():
    from rdfcmap_spark.functions.audiocodec import decode_wav, encode_wav

    payload = encode_wav(np.arange(10, dtype=np.int16))
    with pytest.raises(ValueError, match="data chunk truncated"):
        decode_wav(payload[:-4])


def test_wav_short_fmt_chunk_raises_value_error():
    from rdfcmap_spark.functions.audiocodec import decode_wav

    fmt = struct.pack("<HHI", 1, 1, 8000)  # 8 of the 16 required bytes
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 2) + b"\x00\x00"
    with pytest.raises(ValueError, match="under 16"):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_real_audio_features_measures_decoded_samples(spark):
    """End-to-end: synth WAV bytes -> Spark binary column -> codec decode
    -> exact-integer stats, against the closed-form waveform model."""
    from rdfcmap_spark.operators import multimodal

    ids = [0, 1, 2, 5, 7]
    docs = spark.createDataFrame([(i, "x") for i in ids], "doc_id long, text string")
    got = {r["doc_id"]: r for r in multimodal.real_audio_features(docs).collect()}
    for d in ids:
        n = 800 + d % 800
        rate = 8000 * (1 + d % 3)
        v = (d * 31 + np.arange(n, dtype=np.int64) * 7) % 65536 - 32768
        r = got[d]
        assert (r["sample_rate"], r["n_frames"]) == (rate, n)
        assert r["duration_us"] == n * 1_000_000 // rate
        assert r["c0_sum"] == int(v.sum())
        if d % 2 == 0:
            assert r["n_channels"] == 1
            assert r["sum_abs"] == int(np.abs(v).sum())
            assert r["peak"] == int(np.abs(v).max())
        else:
            w = (d * 31 + np.arange(n, dtype=np.int64) * 7 + 1000) % 65536 - 32768
            assert r["n_channels"] == 2
            assert r["sum_abs"] == int(np.abs(v).sum() + np.abs(w).sum())
            assert r["peak"] == int(max(np.abs(v).max(), np.abs(w).max()))
