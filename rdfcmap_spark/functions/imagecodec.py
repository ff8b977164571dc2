"""Real in-sandbox image codecs: PNG (8-bit gray/RGB/RGBA) + BMP (24-bit).

Round 5 closes the multimodal decode seam (`operators/multimodal.py` r4
review: "the decode seam raises NotImplementedError"): this module is an
actual spec-correct decoder built on the stdlib (``zlib``/``struct``) +
numpy — no PIL/imageio in this container — so the multimodal feature
pipeline measures REAL pixels end-to-end.

Encoders exist to synthesize deterministic test corpora (the generator in
:mod:`rdfcmap_spark.operators.multimodal`); the PNG encoder deliberately
cycles through all five scanline filter types so a corpus round trip
exercises every un-filter branch of the decoder, and the BMP encoder
writes the spec's bottom-up rows with 4-byte padding.

Format support (raises ``ValueError`` outside it — loud, not lossy —
including truncated or corrupt payloads):

* PNG: bit depth 8, color types 0 (grayscale), 2 (RGB), 6 (RGBA);
  all five filter types (None/Sub/Up/Average/Paeth, RFC 2083 §6);
  multiple IDAT chunks; CRC-validated.
* BMP: BITMAPINFOHEADER, 24 bpp, BI_RGB (uncompressed), bottom-up or
  top-down (negative height); row stride padded to 4 bytes; pixel byte
  order BGR -> returned as RGB.

Scale posture: decode is per-image Python inside Arrow ``mapInPandas``
batches — the standard shape for codec work on a cluster (the per-image
cost is the codec's, not the engine's; swapping in a C-accelerated
library is a one-line change at the call site in multimodal.py).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # color type -> samples per pixel


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
    a + b - c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, filter_seed: int = 0) -> bytes:
    """8-bit PNG from ``pixels``: (h, w) -> grayscale, (h, w, 3) -> RGB,
    (h, w, 4) -> RGBA. Row r is written with filter type
    ``(filter_seed + r) % 5``, so any multi-row image exercises several
    un-filter branches and a 5+-row image all of them."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    ctype = {1: 0, 3: 2, 4: 6}[ch]
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for r in range(h):
        row = px[r].reshape(-1).astype(np.int32)
        ft = (filter_seed + r) % 5
        left = np.concatenate([np.zeros(ch, dtype=np.int32), row[:-ch]])
        upleft = np.concatenate([np.zeros(ch, dtype=np.int32), prev[:-ch]])
        if ft == 0:
            out = row
        elif ft == 1:
            out = row - left
        elif ft == 2:
            out = row - prev
        elif ft == 3:
            out = row - (left + prev) // 2
        else:  # Paeth — per-byte predictor (branchy; rows are short)
            out = np.array(
                [row[i] - _paeth(int(left[i]), int(prev[i]), int(upleft[i])) for i in range(w * ch)],
                dtype=np.int32,
            )
        raw.append(ft)
        raw.extend((out % 256).astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def _decode_png(payload: bytes) -> np.ndarray:
    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    w = h = depth = ctype = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG: depth={depth} color_type={ctype}")
            if comp != 0 or filt != 0 or interlace != 0:
                raise ValueError("unsupported PNG compression/filter/interlace method")
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("PNG missing IHDR")
    ch = _PNG_CHANNELS[ctype]
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        ft = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).astype(np.int32)
        if ft == 0:
            rec = line
        elif ft == 2:
            rec = (line + prev) % 256
        elif ft in (1, 3, 4):
            # left-referencing filters are a sequential recurrence in x
            rec = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = rec[i - ch] if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    pred = _paeth(a, b, c)
                rec[i] = (line[i] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[r] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(h, w, ch)


# ---------------------------------------------------------------------------
# BMP (24-bit BI_RGB)
# ---------------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """24-bit uncompressed BMP from (h, w, 3) RGB pixels: BGR byte order,
    bottom-up rows, stride padded to 4 bytes — the spec's default layout."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, ch = px.shape
    if ch != 3:
        raise ValueError("encode_bmp wants (h, w, 3) RGB")
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        body.extend(px[r, :, ::-1].tobytes())  # RGB -> BGR
        body.extend(b"\x00" * pad)
    pixel_off = 14 + 40
    file_size = pixel_off + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, pixel_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + bytes(body)


def _decode_bmp(payload: bytes) -> np.ndarray:
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    (pixel_off,) = struct.unpack_from("<I", payload, 10)
    (hdr_size, w, h_signed, planes, bpp, comp) = struct.unpack_from("<IiiHHI", payload, 14)
    if hdr_size < 40 or bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP: header={hdr_size} bpp={bpp} compression={comp}")
    h = abs(h_signed)
    top_down = h_signed < 0
    row_bytes = w * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    out = np.zeros((h, w, 3), dtype=np.uint8)
    for i in range(h):
        off = pixel_off + i * stride
        row = np.frombuffer(payload, dtype=np.uint8, count=row_bytes, offset=off)
        r = i if top_down else h - 1 - i
        out[r] = row.reshape(w, 3)[:, ::-1]  # BGR -> RGB
    return out


def decode_image(payload: bytes) -> tuple[str, np.ndarray]:
    """Sniff + decode: returns ``(kind, pixels)`` with kind ``'png'`` or
    ``'bmp'`` and pixels an (h, w, channels) uint8 array (channels 1/3/4).
    Raises ``ValueError`` on anything else — corrupt payloads surface as
    per-row nulls at the call site, never silent garbage (a truncated
    header or compressed stream raises ``ValueError`` too, not the
    ``struct``/``zlib`` error underneath)."""
    for kind, magic, decode in (("png", PNG_MAGIC, _decode_png), ("bmp", b"BM", _decode_bmp)):
        if payload[: len(magic)] == magic:
            try:
                return kind, decode(payload)
            except (struct.error, zlib.error) as e:
                raise ValueError(f"corrupt {kind.upper()} payload: {e}") from e
    raise ValueError("unrecognized image payload")
