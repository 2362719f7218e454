"""Pure-stdlib PNG codec (zlib + struct + numpy) — a REAL image decode
path with no external image libraries.

Covers the PNG feature set a training-data pipeline actually meets in
practice for thumbnails/fixtures: 8-bit depth, color types 0 (gray),
2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA), no interlace, all five
scanline filters (None/Sub/Up/Average/Paeth) on decode.  The encoder
writes filter-0 scanlines (always valid PNG; optimal compression is a
non-goal for a feature-extraction pipeline).

Sub-filter rows devectorize to a grouped cumsum; Average/Paeth rows are
inherently sequential per byte (each output depends on the previous
reconstructed byte) and run as per-row Python loops, which is the
accepted cost of those filters without a C codec.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CTYPE_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, C) uint8 array (C in 1/2/3/4; palette expands
    to RGB)."""
    if data[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat: list[bytes] = []
    while pos + 8 <= len(data):
        (ln,), typ = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        pos += 8
        chunk = data[pos : pos + ln]
        pos += ln + 4  # payload + CRC
        if typ == b"IHDR":
            ihdr = chunk
        elif typ == b"PLTE":
            plte = chunk
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8:
        raise ValueError(f"unsupported bit depth {depth} (8 only)")
    if interlace != 0:
        raise ValueError("interlaced PNG unsupported")
    if ctype not in _CTYPE_CHANNELS:
        raise ValueError(f"unsupported color type {ctype}")
    channels = _CTYPE_CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT size mismatch")

    img = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    off = 0
    for y in range(h):
        f = raw[off]
        off += 1
        line = np.frombuffer(raw, np.uint8, count=stride, offset=off).copy()
        off += stride
        if f == 0:
            pass
        elif f == 1:  # Sub: grouped cumsum per channel offset (mod 256)
            line = (
                np.cumsum(line.reshape(w, channels), axis=0, dtype=np.uint32)
                % 256
            ).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up: uint8 addition wraps mod 256 by itself
            line += prev
        elif f == 3:  # Average: sequential (depends on reconstructed left)
            out = line.astype(np.int32)
            pv = prev.astype(np.int32)
            for x in range(stride):
                left = out[x - channels] if x >= channels else 0
                out[x] = (out[x] + ((left + pv[x]) >> 1)) & 0xFF
            line = out.astype(np.uint8)
        elif f == 4:  # Paeth: sequential
            out = line.astype(np.int32)
            pv = prev.astype(np.int32)
            for x in range(stride):
                a = int(out[x - channels]) if x >= channels else 0
                c = int(pv[x - channels]) if x >= channels else 0
                out[x] = (out[x] + _paeth(a, int(pv[x]), c)) & 0xFF
            line = out.astype(np.uint8)
        else:
            raise ValueError(f"bad filter byte {f}")
        img[y] = line
        prev = line

    if ctype == 3:
        if plte is None:
            raise ValueError("palette image without PLTE")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        return pal[img.reshape(h, w)]
    return img.reshape(h, w, channels)


def _chunk(typ: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + typ
        + payload
        + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, compress_level: int = 6) -> bytes:
    """(H, W[, C]) uint8 array -> PNG bytes (filter 0 scanlines)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if ctype is None:
        raise ValueError(f"unsupported channel count {c}")
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, compress_level))
        + _chunk(b"IEND", b"")
    )

