"""Multimodal query semantics on controlled data: perceptual-hash
near-dups, the audio quality gate and video scene cuts."""

from __future__ import annotations


def test_phash_finds_perturbed_payloads_not_strangers(spark):
    """Semantics on controlled data: a lightly perturbed copy (a few
    characters changed — every sha/exact hash breaks) stays within the
    Hamming threshold of its original; an unrelated document does not."""
    from bigdatatiler_spark.operators.multimodal import PHASH_THRESH, ahash_bands

    base = "the quick brown fox jumps over the lazy dog and keeps running " * 8
    perturbed = "The quick brown fox jumps over the lazy dog and keeps running " + \
        "the quick brown fox Jumps over the lazy dog and keeps running " * 7
    stranger = "completely different content about spark shuffles and parquet " * 8
    df = spark.createDataFrame(
        [(0, base), (1, perturbed), (2, stranger)], "doc_id long, text string"
    )
    bands = {r.doc_id: r.bands for r in ahash_bands(df).collect()}

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(bands[a], bands[b]))

    assert ham(0, 1) <= PHASH_THRESH, f"perturbed pair at {ham(0,1)}"
    assert ham(0, 2) > PHASH_THRESH, f"stranger pair at {ham(0,2)}"


def test_audio_quality_gate_thresholds(spark, sf_dir):
    """Gate arithmetic is exact: flags recompute from the emitted counts,
    and the counts match a pure-Python replay of the decoded samples."""
    from bigdatatiler_spark.operators.multimodal import (
        AUDIO_CLIP_ABS,
        AUDIO_MAX_CLIP_E6,
        AUDIO_MAX_SILENCE_E6,
        AUDIO_SILENCE_ABS,
        WAV_N,
        multimodal_audio_quality_gate,
    )

    rows = multimodal_audio_quality_gate(spark, sf_dir).collect()
    assert rows
    for r in rows[:50]:
        d = r["doc_id"]
        samples = [((d * 7 + j * 13) % 4096) - 2048 for j in range(WAV_N)]
        n_clip = sum(1 for x in samples if abs(x) >= AUDIO_CLIP_ABS)
        n_sil = sum(1 for x in samples if abs(x) <= AUDIO_SILENCE_ABS)
        assert (r["n_clipped"], r["n_silent"]) == (n_clip, n_sil)
        expect_pass = int(
            r["clip_e6"] < AUDIO_MAX_CLIP_E6
            and r["silence_e6"] < AUDIO_MAX_SILENCE_E6
        )
        assert r["gate_pass"] == expect_pass


def test_video_scene_cuts_match_replay(spark, sf_dir):
    """Every adjacent-frame L1 distance matches a pure-Python replay of
    the generator formula, the pair fan-out is exactly n_frames - 1 per
    document, and the cut gate recomputes from the emitted distance."""
    from bigdatatiler_spark.operators.multimodal import (
        PNG_H,
        PNG_W,
        SCENE_CUT_L1,
        VIDEO_N_FRAMES,
        multimodal_video_scene_cuts,
    )

    rows = multimodal_video_scene_cuts(spark, sf_dir).collect()
    assert rows
    per_doc: dict[int, int] = {}
    npx = PNG_W * PNG_H
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
        d, f = r["doc_id"], r["frame_from"]
        expect = sum(
            abs(
                (d * 31 + (f + 1) * 101 + 3 * i * i) % 256
                - (d * 31 + f * 101 + 3 * i * i) % 256
            )
            for i in range(npx)
        )
        assert r["l1_diff"] == expect, (d, f)
        assert r["is_cut"] == int(r["l1_diff"] > SCENE_CUT_L1)
    assert set(per_doc.values()) == {VIDEO_N_FRAMES - 1}
    # both branches of the gate occur on the fixture
    cuts = {r["is_cut"] for r in rows}
    assert cuts == {0, 1}
