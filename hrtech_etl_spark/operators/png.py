"""Pure-stdlib+numpy PNG codec (RFC 2083 / ISO 15948).

A standalone lossless image codec: this environment has no
Pillow/libpng, but PNG needs only DEFLATE — which is ``zlib`` in the
standard library — so the container, filters, and CRCs are implemented
from the public spec directly. No operator or registry entry calls it;
the media column in ``operators/multimodal.py`` never decodes its
payload.

Decoder (``decode_png``): 8-bit greyscale (color type 0), truecolor
(2), indexed/PLTE (3), grey+alpha (4) and RGBA (6); all five scanline
filters (None/Sub/Up/Average/Paeth); multi-IDAT streams; chunk CRC
verification. 16-bit depth and Adam7 interlace raise
``NotImplementedError`` with a clear message; corrupt streams raise
``ValueError``.

Encoder (``encode_png``): 8-bit grey / RGB / RGBA, per-row filter
choice ``none``/``sub``/``up``/``paeth`` or ``adaptive`` (the spec's
minimum-sum-of-absolute-differences heuristic — deterministic).

PNG is lossless: ``decode_png(encode_png(img)) == img`` exactly. The
encoder's byte counts depend on the zlib version; decoded pixels are a
pure function of the input. Filtering and unfiltering are vectorized
per row (Sub via per-channel cumsum mod 256; only Average/Paeth walk
pixels).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: color type → samples per pixel
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (spec §6.6): nearest of left/up/up-left to
    a + b − c, ties preferring a, then b."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG byte stream → uint8 array of shape (h, w) for
    greyscale or (h, w, channels) otherwise. Palette images expand to
    RGB (or RGBA when a tRNS chunk is present)."""
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG stream (bad signature)")
    pos = 8
    ihdr = None
    plte: bytes | None = None
    trns: bytes | None = None
    idat = bytearray()
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError(f"truncated {ctype!r} chunk")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = bytes(body)
        elif ctype == b"tRNS":
            trns = bytes(body)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8:
        raise NotImplementedError(f"bit depth {depth} (only 8 supported)")
    if interlace:
        raise NotImplementedError("Adam7 interlace not supported")
    if comp != 0 or filt != 0:
        raise ValueError("unknown compression/filter method")
    if color not in _CHANNELS:
        raise ValueError(f"bad color type {color}")
    ch = _CHANNELS[color]
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT size does not match dimensions")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, line = row[0], np.frombuffer(row[1:], dtype=np.uint8).copy()
        if ftype == 0:
            recon = line
        elif ftype == 1:  # Sub: per-channel cumsum mod 256
            recon = (
                np.cumsum(
                    line.reshape(w, ch).astype(np.int64), axis=0
                )
                % 256
            ).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up
            recon = line + prev
        elif ftype == 3:  # Average
            recon = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(recon[x - ch]) if x >= ch else 0
                recon[x] = (int(line[x]) + (left + int(prev[x])) // 2) % 256
        elif ftype == 4:  # Paeth
            recon = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(recon[x - ch]) if x >= ch else 0
                c = int(prev[x - ch]) if x >= ch else 0
                recon[x] = (int(line[x]) + _paeth(a, int(prev[x]), c)) % 256
        else:
            raise ValueError(f"bad filter type {ftype} on row {y}")
        out[y] = recon
        prev = out[y]
    if color == 3:
        if plte is None:
            raise ValueError("indexed image without PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = out.reshape(h, w)
        rgb = pal[idx]
        if trns is not None:
            alpha = np.full(len(pal), 255, dtype=np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return np.dstack([rgb, alpha[idx]])
        return rgb
    img = out.reshape(h, w, ch)
    return img[:, :, 0] if ch == 1 else img


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _filter_row(
    ftype: int, line: np.ndarray, prev: np.ndarray, ch: int
) -> np.ndarray:
    x = line.astype(np.int16)
    if ftype == 0:
        return line
    if ftype == 1:  # Sub
        left = np.zeros_like(x)
        left[ch:] = x[:-ch]
        return ((x - left) % 256).astype(np.uint8)
    if ftype == 2:  # Up
        return ((x - prev.astype(np.int16)) % 256).astype(np.uint8)
    if ftype == 4:  # Paeth
        out = np.zeros(len(line), dtype=np.uint8)
        for i in range(len(line)):
            a = int(line[i - ch]) if i >= ch else 0
            c = int(prev[i - ch]) if i >= ch else 0
            out[i] = (int(line[i]) - _paeth(a, int(prev[i]), c)) % 256
        return out
    raise ValueError(f"unsupported filter {ftype}")


def encode_png(
    img: np.ndarray, *, filter_type: str = "adaptive", level: int = 9
) -> bytes:
    """Encode a uint8 array — (h, w) grey, (h, w, 3) RGB, or
    (h, w, 4) RGBA — into a PNG byte stream. ``filter_type`` is
    ``none``/``sub``/``up``/``paeth`` or ``adaptive`` (per-row minimum
    sum of absolute differences over those four — deterministic)."""
    if img.dtype != np.uint8:
        raise ValueError(f"expected uint8 image, got {img.dtype}")
    if img.ndim == 2:
        color, ch = 0, 1
        flat = img
    elif img.ndim == 3 and img.shape[2] == 3:
        color, ch = 2, 3
        flat = img.reshape(img.shape[0], -1)
    elif img.ndim == 3 and img.shape[2] == 4:
        color, ch = 6, 4
        flat = img.reshape(img.shape[0], -1)
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    h, w = img.shape[0], img.shape[1]
    named = {"none": 0, "sub": 1, "up": 2, "paeth": 4}
    raw = bytearray()
    prev = np.zeros(flat.shape[1], dtype=np.uint8)
    for y in range(h):
        line = flat[y]
        if filter_type == "adaptive":
            best_f, best = None, None
            for f in (0, 1, 2, 4):
                cand = _filter_row(f, line, prev, ch)
                # spec heuristic: signed sum of absolute differences
                score = int(
                    np.minimum(cand.astype(np.int16), 256 - cand).sum()
                )
                if best is None or score < best:
                    best_f, best, best_row = f, score, cand
            raw.append(best_f)
            raw.extend(best_row.tobytes())
        else:
            f = named[filter_type]
            raw.append(f)
            raw.extend(_filter_row(f, line, prev, ch).tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), level))
        + _chunk(b"IEND", b"")
    )
