"""Real in-sandbox audio codec: WAV (RIFF PCM, 16-bit) encode/decode.

Round 5 extends the closed multimodal decode seam from images
(:mod:`rdfcmap_spark.functions.imagecodec`) to audio: a spec-correct
RIFF/WAVE parser on the stdlib (``struct``) + numpy — no librosa/soundfile
in this container — so the audio feature pipeline measures REAL decoded
samples end-to-end, with the same closed-form-oracle verification story
as the image path.

Format support (raises ``ValueError`` outside it — loud, not lossy):

* RIFF/WAVE container with proper chunk walking (unknown chunks skipped,
  word-aligned per the RIFF spec — a ``LIST`` metadata chunk before
  ``data`` must not break the parse);
* ``fmt `` PCM (format tag 1), 16-bit signed little-endian, any channel
  count / sample rate; interleaved frames -> (n_frames, n_channels)
  int16 array;
* a truncated ``data`` chunk or a ``fmt `` chunk under 16 bytes raises
  ``ValueError``.

Scale posture: identical to the image codec — decode is per-payload
Python inside Arrow ``mapInPandas`` batches; swapping in a C-accelerated
library on a production cluster is a one-line change at the call site.
"""

from __future__ import annotations

import struct

import numpy as np


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """16-bit PCM WAV from ``samples``: (n,) mono or (n, ch) interleaved.
    Writes the canonical 44-byte header (RIFF + fmt + data)."""
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.reshape(-1).tobytes()  # interleaved frames, LE int16
    byte_rate = sample_rate * ch * 2
    block_align = ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, block_align, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes -> (sample_rate, (n_frames, n_channels) int16 array).
    Walks RIFF chunks per spec (word-aligned, unknown chunks skipped);
    requires PCM 16-bit."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = ch = bits = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            if len(body) < 16:
                raise ValueError(f"WAV fmt chunk is {len(body)} bytes, under 16")
            fmt_tag, ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if fmt_tag != 1 or bits != 16 or ch == 0:
                raise ValueError(f"unsupported WAV: format={fmt_tag} bits={bits} channels={ch}")
        elif tag == b"data":
            if len(body) < size:
                raise ValueError(f"WAV data chunk truncated: {len(body)} of {size} bytes")
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    frames = np.frombuffer(data, dtype="<i2")
    if len(frames) % ch:
        raise ValueError("WAV data length not a multiple of the frame size")
    return rate, frames.reshape(-1, ch)
