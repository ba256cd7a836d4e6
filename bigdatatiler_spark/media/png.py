"""Minimal PNG codec on the standard library (zlib + struct).

Why this exists: the multimodal operators treat images as opaque binary
columns and decode them inside Arrow-batched ``mapInPandas`` stages
(operators/multimodal.py). PNG needs nothing beyond DEFLATE — which is
``zlib`` in the standard library — so the common subset (8-bit depth,
grayscale / RGB / RGBA, non-interlaced) is implemented here for real,
with no imaging library. Every image the queries decode is this
module's own ``encode_png`` output.

Scope (raises ValueError outside it): bit depth 8, color types 0
(gray), 2 (RGB), 6 (RGBA); interlace 0. Palette (3), 1/2/4/16-bit
depths, and Adam7 interlacing raise — the honest boundary of a
dependency-free decoder.

Format reference: the public PNG specification (RFC 2083 / ISO 15948):
signature, length-type-data-CRC chunks, IHDR layout, per-row filter
types 0-4 (None/Sub/Up/Average/Paeth).
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: color type -> samples per pixel (supported subset)
_CHANNELS = {0: 1, 2: 3, 6: 4}


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    filter_type: int = 0,
) -> bytes:
    """Encode raw 8-bit pixels (row-major, ``width*height*channels``
    bytes) as a valid PNG. ``filter_type`` applies the same PNG filter to
    every row — 0 (None) for normal use; 1-4 exist so tests can exercise
    every unfilter branch of :func:`decode_png` with real filtered data."""
    if channels not in (1, 3, 4):
        raise ValueError(f"channels must be 1, 3, or 4, got {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, expected "
            f"{width * height * channels}"
        )
    if not 0 <= filter_type <= 4:
        raise ValueError(f"filter_type must be 0-4, got {filter_type}")
    color_type = {1: 0, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)

    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        raw.append(filter_type)
        if filter_type == 0:
            raw += row
        else:
            for x in range(stride):
                a = row[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                if filter_type == 1:
                    pred = a
                elif filter_type == 2:
                    pred = b
                elif filter_type == 3:
                    pred = (a + b) >> 1
                else:
                    pred = _paeth(a, b, c)
                raw.append((row[x] - pred) & 0xFF)
        prev = row
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG into ``(width, height, channels, pixels)`` with
    8-bit row-major pixels. Supports the encode_png subset (depth 8,
    gray/RGB/RGBA, non-interlaced); raises ValueError otherwise."""
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = channels = -1
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError(f"truncated {tag!r} chunk")
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth} (only 8)")
            if color_type not in _CHANNELS:
                raise ValueError(
                    f"unsupported color type {color_type} (only 0/2/6)"
                )
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard compression/filter method")
            channels = _CHANNELS[color_type]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length  # len + tag + data + crc
    if width < 0:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError(
            f"decompressed size {len(raw)} != expected {(stride + 1) * height}"
        )
    out = bytearray(stride * height)
    prev = bytes(stride)
    for y in range(height):
        ft = raw[y * (stride + 1)]
        row = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ft == 0:
            pass
        elif ft == 1:
            for x in range(channels, stride):
                row[x] = (row[x] + row[x - channels]) & 0xFF
        elif ft == 2:
            for x in range(stride):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ft == 3:
            for x in range(stride):
                a = row[x - channels] if x >= channels else 0
                row[x] = (row[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ft == 4:
            for x in range(stride):
                a = row[x - channels] if x >= channels else 0
                c = prev[x - channels] if x >= channels else 0
                row[x] = (row[x] + _paeth(a, prev[x], c)) & 0xFF
        else:
            raise ValueError(f"bad filter type {ft} on row {y}")
        out[y * stride : (y + 1) * stride] = row
        prev = bytes(row)
    return width, height, channels, bytes(out)


def resize_nearest(
    width: int, height: int, channels: int, pixels: bytes, tw: int, th: int
) -> bytes:
    """Nearest-neighbor resample of an 8-bit row-major pixel buffer —
    the real resize kernel behind the multimodal resize stage (PIL-free).
    Index map: source = (target * src_dim) // target_dim, the standard
    floor mapping; deterministic and engine-independent."""
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    import numpy as np

    src = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels)
    sy = (np.arange(th, dtype=np.int64) * height) // th
    sx = (np.arange(tw, dtype=np.int64) * width) // tw
    return src[sy][:, sx].tobytes()


def ahash64(width: int, height: int, channels: int, pixels: bytes) -> int:
    """64-bit average hash over real pixels: downsample luminance to 8x8
    (block means), set bit i when block i's mean exceeds the global mean.
    Integer-exact: comparisons use cross-products (sum*N > total*n), no
    division — the same discipline as the SQL aHash in multimodal.py."""
    import numpy as np

    # luminance via integer Rec.601-ish weights (77R + 150G + 29B) >> 8
    px = np.frombuffer(pixels, dtype=np.uint8).astype(np.int64)
    if channels == 1:
        luma = px
    else:
        px = px.reshape(-1, channels)
        luma = (77 * px[:, 0] + 150 * px[:, 1] + 29 * px[:, 2]) >> 8
    luma = luma.reshape(height, width)
    bx = (np.arange(width, dtype=np.int64) * 8) // width
    by = (np.arange(height, dtype=np.int64) * 8) // height
    block = (by[:, None] * 8 + bx[None, :]).ravel()
    # int64 scatter-adds (np.add.at), not bincount-with-weights: weighted
    # bincount accumulates in float64, which would break integer exactness
    # on pathologically large images — the same cross-product discipline
    # as the SQL aHash
    sums = np.zeros(64, dtype=np.int64)
    np.add.at(sums, block, luma.ravel())
    counts = np.bincount(block, minlength=64)
    total = int(sums.sum())
    n = width * height
    code = 0
    for i in range(64):
        if counts[i] and int(sums[i]) * n > total * int(counts[i]):
            code |= 1 << i
    return code
