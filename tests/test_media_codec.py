"""Tests for the dependency-free PNG codec (media/png.py) and the WAV
codec (media/wav.py), and the registered queries built on them.

The codec is exercised both pure-Python (round trips across every
channel count x every PNG filter type, so all five unfilter branches
run on real filtered data) and end-to-end through the registered
mapInPandas queries on real PNG bytes.
"""

from __future__ import annotations

import pytest

from bigdatatiler_spark.media.png import (
    ahash64,
    decode_png,
    encode_png,
    resize_nearest,
)


def _pattern(w: int, h: int, ch: int, seed: int = 0) -> bytes:
    return bytes((seed * 31 + i * 7) % 256 for i in range(w * h * ch))


@pytest.mark.parametrize("channels", [1, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_filters(channels, filter_type):
    w, h = 13, 7  # non-square, stride not a power of two
    px = _pattern(w, h, channels, seed=channels)
    blob = encode_png(w, h, channels, px, filter_type=filter_type)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    rw, rh, rch, out = decode_png(blob)
    assert (rw, rh, rch) == (w, h, channels)
    assert out == px


def test_png_decode_rejects_garbage_and_unsupported():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")
    # 16-bit depth is outside the supported subset: patch IHDR depth byte
    blob = bytearray(encode_png(2, 2, 1, bytes(4)))
    depth_off = 8 + 8 + 8  # sig + len/type + w/h
    blob[depth_off] = 16
    with pytest.raises(ValueError, match="depth|CRC|chunk"):
        decode_png(bytes(blob))


def test_resize_nearest_identity_and_downscale():
    w, h, ch = 8, 8, 3
    px = _pattern(w, h, ch, seed=1)
    assert resize_nearest(w, h, ch, px, w, h) == px  # identity mapping
    small = resize_nearest(w, h, ch, px, 2, 2)
    assert len(small) == 2 * 2 * ch
    # nearest with floor map picks pixels (0,0),(0,4),(4,0),(4,4)
    stride = w * ch
    expect = b"".join(
        px[y * stride + x * ch : y * stride + x * ch + ch]
        for y in (0, 4)
        for x in (0, 4)
    )
    assert small == expect


def test_ahash64_invariances():
    w, h = 32, 32
    px = _pattern(w, h, 1, seed=5)
    code = ahash64(w, h, 1, px)
    assert code == ahash64(w, h, 1, px)  # deterministic
    # uniform brightness shift keeps every mean comparison's sign
    brighter = bytes(min(b + 10, 255) for b in px)
    shifted = ahash64(w, h, 1, brighter)
    assert bin(code ^ shifted).count("1") <= 6
    # constant image: no block exceeds the global mean -> code 0
    assert ahash64(w, h, 1, bytes([128]) * (w * h)) == 0


def test_png_decode_stats_query_runs(spark):
    """The registered end-to-end round-trip query (oracle-checked by the
    harness) sanity-checks here: stats must equal the generator formula."""
    from bigdatatiler_spark.operators.multimodal import (
        PNG_H,
        PNG_W,
        multimodal_png_decode_stats,
    )

    out = multimodal_png_decode_stats(spark, "/root/testdata/sf0.001")
    row = out.orderBy("doc_id").first()
    d = row["doc_id"]
    expect = [(d * 31 + i * 7) % 256 for i in range(PNG_W * PNG_H)]
    assert row["px_sum"] == sum(expect)
    assert row["px_min"] == min(expect)
    assert row["px_max"] == max(expect)
    assert (row["width"], row["height"], row["channels"]) == (PNG_W, PNG_H, 1)


# --- WAV codec ------------------------------------------------------------


def test_wav_roundtrip_and_stats():
    from bigdatatiler_spark.media.wav import audio_stats, decode_wav, encode_wav

    samples = [((7 + j * 13) % 4096) - 2048 for j in range(300)]
    blob = encode_wav(16000, 2, samples)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    rate, ch, out = decode_wav(blob)
    assert (rate, ch) == (16000, 2)
    assert out == samples
    sum_abs, peak, zc = audio_stats([0, 5, -3, -1, 2])
    assert sum_abs == 11 and peak == 5
    assert zc == 2  # 5->-3 and -1->2 (0 counts as non-negative)


def test_wav_rejects_malformed_and_unsupported():
    from bigdatatiler_spark.media.wav import decode_wav, encode_wav

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"definitely not audio")
    with pytest.raises(ValueError, match="int16"):
        encode_wav(8000, 1, [99999])
    # 8-bit depth is outside the subset: patch the fmt chunk's bit field
    blob = bytearray(encode_wav(8000, 1, [1, 2, 3, 4]))
    bits_off = 12 + 8 + 14  # RIFF/WAVE + fmt hdr + through block_align
    blob[bits_off : bits_off + 2] = (8).to_bytes(2, "little")
    with pytest.raises(ValueError, match="bit depth"):
        decode_wav(bytes(blob))


def test_wav_decode_stats_query_runs(spark):
    from bigdatatiler_spark.operators.multimodal import (
        WAV_N,
        WAV_RATE,
        multimodal_wav_decode_stats,
    )

    out = multimodal_wav_decode_stats(spark, "/root/testdata/sf0.001")
    row = out.orderBy("doc_id").first()
    d = row["doc_id"]
    expect = [((d * 7 + j * 13) % 4096) - 2048 for j in range(WAV_N)]
    assert row["sum_abs"] == sum(abs(s) for s in expect)
    assert row["peak_abs"] == max(abs(s) for s in expect)
    assert row["sample_rate"] == WAV_RATE
    assert row["n_samples"] == WAV_N


def test_png_one_pixel_and_degenerate_resize():
    """Fuzz round 7: 1x1 images and degenerate resize targets — the
    smallest media payloads a crawler actually ships (tracking pixels)."""
    from bigdatatiler_spark.media.png import (
        ahash64,
        decode_png,
        encode_png,
        resize_nearest,
    )

    one = encode_png(1, 1, 3, b"\x10\x20\x30")
    assert decode_png(one) == (1, 1, 3, b"\x10\x20\x30")
    # 1x1 -> NxM upscale replicates the single pixel
    up = resize_nearest(1, 1, 3, b"\x10\x20\x30", 4, 2)
    assert up == b"\x10\x20\x30" * 8
    # NxM -> 1x1 downscale picks the floor-mapped source pixel
    src = bytes(range(4 * 2 * 1))
    assert resize_nearest(4, 2, 1, src, 1, 1) == bytes([src[0]])
    # aHash of a constant 1x1 image is defined (no div-by-zero on the
    # 8x8 grid mapping) and equals the all-zero hash for a flat image
    assert ahash64(1, 1, 1, b"\x80") == 0
    # zero-length pixel buffer must be rejected, not silently encoded
    import pytest as _pytest

    with _pytest.raises(ValueError):
        encode_png(1, 1, 3, b"")


def test_wav_single_sample_and_empty():
    """Fuzz round 7: single-sample and zero-sample WAV bodies — the
    zero-crossing and RMS framing kernels must not assume length >= 2."""
    from bigdatatiler_spark.media.wav import audio_stats, decode_wav, encode_wav

    blob = encode_wav(8000, 1, [-7])
    assert decode_wav(blob) == (8000, 1, [-7])
    assert audio_stats([-7]) == (7, 7, 0)  # no pair -> no crossings
    empty = encode_wav(8000, 1, [])
    assert decode_wav(empty) == (8000, 1, [])
    assert audio_stats([]) == (0, 0, 0)


# --- fuzz round 13 (d): WELL-FORMED files outside the supported subset ----
# The earlier boundary tests byte-patch a valid blob (so the error could in
# principle come from structural damage rather than the documented subset
# check). These construct fully VALID PNG containers — correct signature,
# chunk layout, CRCs, and a decompressible IDAT — whose IHDR declares a
# format the codec does not support: the decode must fail LOUDLY at the
# subset check (error parity), never fall through to silently-wrong pixels.


def _valid_png(width, height, depth, color_type, interlace, raw_rows, extra=b""):
    import struct
    import zlib

    from bigdatatiler_spark.media.png import _chunk

    ihdr = struct.pack(
        ">IIBBBBB", width, height, depth, color_type, 0, 0, interlace
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + extra
        + _chunk(b"IDAT", zlib.compress(raw_rows))
        + _chunk(b"IEND", b"")
    )


def test_png_palette_well_formed_rejected():
    from bigdatatiler_spark.media.png import _chunk

    # 2x2 palette image: PLTE with 2 entries, 1 index byte/px + filter 0
    plte = _chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0]))
    blob = _valid_png(2, 2, 8, 3, 0, b"\x00\x00\x01" * 2, extra=plte)
    with pytest.raises(ValueError, match="color type 3"):
        decode_png(blob)


def test_png_16bit_well_formed_rejected():
    # 2x1 grayscale, 16-bit: 2 bytes/px, valid CRCs and IDAT
    blob = _valid_png(2, 1, 16, 0, 0, b"\x00" + b"\x12\x34\x56\x78")
    with pytest.raises(ValueError, match="bit depth 16"):
        decode_png(blob)


def test_png_gray_alpha_well_formed_rejected():
    # color type 4 (gray+alpha) is outside the {0, 2, 6} subset
    blob = _valid_png(1, 1, 8, 4, 0, b"\x00\x80\xff")
    with pytest.raises(ValueError, match="color type 4"):
        decode_png(blob)


def test_png_interlaced_well_formed_rejected():
    blob = _valid_png(1, 1, 8, 0, 1, b"\x00\x42")
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(blob)


def test_fpk1_mixed_channel_frames_error_loudly():
    """A container whose frames change channel count mid-stream: the
    scene-cut differencing contract requires equal-shape buffers, so the
    pairwise diff must raise (shape mismatch), never broadcast or
    silently compare prefixes."""
    import numpy as np

    from bigdatatiler_spark.media.framepack import iter_frames, pack_frames

    gray = encode_png(4, 4, 1, _pattern(4, 4, 1))
    rgb = encode_png(4, 4, 3, _pattern(4, 4, 3))
    blob = pack_frames([gray, rgb])
    decoded = [
        np.frombuffer(decode_png(fr)[3], dtype=np.uint8).astype(np.int16)
        for _i, fr in iter_frames(blob, 1)
    ]
    with pytest.raises(ValueError):
        np.abs(decoded[1] - decoded[0])
