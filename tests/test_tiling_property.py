"""Property-based round-trip check for tile/reassemble: randomized
payloads (unicode, any length) and chunk sizes — the reference invariant
CombineSplitLogs(loadXmlFile(x)) == x (LogChange.cs:95-98) must hold for
ALL payloads, not just the hand-picked boundary cases in test_tiling.

One Spark job per hypothesis example is too slow, so each example is a
*batch* of payloads round-tripped in a single job.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from bigdatatiler_spark.logstore.tile import reassemble, tile

payload_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)),  # any non-surrogate
    max_size=500,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    payloads=st.lists(payload_st, min_size=1, max_size=8),
    chunk=st.integers(min_value=1, max_value=64),
)
def test_roundtrip_property(spark, payloads, chunk):
    df = spark.createDataFrame(
        list(enumerate(payloads)), ["rec_id", "payload"]
    )
    got = {
        r["record_id"]: r["payload"]
        for r in reassemble(
            tile(df, "payload", "rec_id", chunk), id_col="rec_id"
        ).collect()
    }
    assert got == dict(enumerate(payloads))


# O26 byte-cap tiling: payloads engineered to straddle the compressed
# cap — highly compressible runs (whole-record zip fits far under cap),
# borderline text, and incompressible pseudo-random text whose first-pass
# ratio estimate overshoots so the validate → shrink → re-split recursion
# must actually engage (LogChange.cs:214-257), under a depth bound of 1, 2
# or the default 8 validations.


def _pseudo_random_text(seed: int, n: int) -> str:
    import hashlib

    out = []
    i = 0
    while sum(len(s) for s in out) < n:
        out.append(hashlib.sha256(f"{seed}|{i}".encode()).hexdigest())
        i += 1
    return "".join(out)[:n]


def _spans(tiled):
    """{(rec_id, char offset, chunk): zip_bytes} of a tile_bytecap frame."""
    out, rec, start = {}, None, 0
    for r in sorted(tiled.select("rec_id", "split_index", "chunk", "zip_bytes").collect()):
        if r["rec_id"] != rec:
            rec, start = r["rec_id"], 0
        out[(rec, start, r["chunk"])] = r["zip_bytes"]
        start += len(r["chunk"])
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=4000), min_size=1, max_size=6),
    cap=st.integers(min_value=180, max_value=500),
    compressible=st.booleans(),
    max_rounds=st.sampled_from([1, 2, 8]),
)
# a depth bound that stops re-splitting must still emit every chunk
@example(sizes=[3000, 4000], cap=180, compressible=False, max_rounds=1)
def test_bytecap_roundtrip_and_cap_property(spark, sizes, cap, compressible, max_rounds):
    from bigdatatiler_spark.logstore.tile import MAX_RESPLIT_ROUNDS, tile_bytecap
    from pyspark.sql import functions as F

    payloads = {
        i: ("ab" * n)[:n] if compressible else _pseudo_random_text(i, n)
        for i, n in enumerate(sizes)
    }
    df = spark.createDataFrame(list(payloads.items()), ["rec_id", "payload"])

    def tiles(rounds):
        return tile_bytecap(
            df, "payload", "rec_id", max_zip_bytes=cap, first_floor=40,
            resplit_floor=8, max_rounds=rounds,
        )

    tiled = tiles(max_rounds).persist()

    # 1. round-trip invariant (the reference's LogChange.cs:95-98 contract)
    got = {
        r["record_id"]: r["payload"]
        for r in reassemble(tiled, id_col="rec_id").collect()
    }
    assert got == payloads

    # 2. byte-cap guarantee: every shrinkable archive obeys the cap.
    #    Chunks at the floor may exceed it (the reference bottoms out its
    #    recursion the same way), and so may chunks the depth bound
    #    stopped: those are exactly the ones the default bound splits
    #    further, so they are not leaves of its output.
    over = {k for k, z in _spans(tiled).items() if z > cap and len(k[2]) > 8}
    if max_rounds < MAX_RESPLIT_ROUNDS:
        over &= _spans(tiles(MAX_RESPLIT_ROUNDS)).keys()
    assert not over, f"{len(over)} shrinkable chunks exceed the cap"

    # 3. dense 0..n-1 split indices per record
    for r in (
        tiled.groupBy("rec_id")
        .agg(
            F.collect_list("split_index").alias("idx"),
            F.max("total_splits").alias("tot"),
        )
        .collect()
    ):
        assert sorted(r["idx"]) == list(range(r["tot"]))
    tiled.unpersist()
