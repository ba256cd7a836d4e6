"""10× scaling study: measure how headline plans scale with data volume.

The correctness gates prove the engine RIGHT at small SF; this tool
measures whether the plans SCALE — the 100 TB question. It synthesizes a
10× replica of the sf0.1 fixture (10 copies of each fact table with
disjoint key ranges, so cardinalities, group counts, and join fan-outs
scale honestly; dimensions stay fixed like a real star schema), then
times a representative query slice at 1× and 10× on the same session
and reports the scaling factor per query.

Reading the factors: a scan/map/agg plan should scale ≤ ~10× (sublinear
when fixed overheads amortize); a factor ≫ 10× exposes a super-linear
stage (an accidental all-pairs, a driver bottleneck, a skew collapse)
that small-SF benches can't see.

``--disjoint`` (r12, VERDICT item 2): the plain replica mode keeps each
copy's TEXT identical, so every document gains ``copies-1`` exact
near-dups and each LSH band bucket's occupancy multiplies by ``copies``
— candidate pairs grow QUADRATICALLY in the copy count, and a dedup
query's factor measures duplicate-multiplicity blowup at least as much
as plan scaling. Disjoint-content mode applies a per-copy token
bijection to ``documents.text`` (every token prefixed with the copy
tag), which preserves the intra-copy shingle/Jaccard structure exactly
(a bijection on tokens is a bijection on 3-shingles) while making
copies mutually dissimilar — so near-dup density per copy matches 1×
and the factor measures the PLAN. (Texts with runs of whitespace gain a
few bare-tag tokens — a negligible approximation on this corpus.)

Usage: python tools/scale_study.py [--rebuild] [--disjoint] [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
DEST = "/tmp/scale10"
COPIES = 10

#: fact tables replicated with shifted keys; everything else copies as-is
_FACT_KEYS: dict[str, tuple[str, ...]] = {
    # (key columns whose value space must stay DISJOINT per copy)
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "orders": ("o_orderkey",),  # o_custkey stays — dims are fixed
    "lineitem": ("l_orderkey",),  # l_partkey/l_suppkey stay
}

#: representative slice: scan+agg, join+topk, window, dedup (banded),
#: media (map-only), rollup, graph (bounded-iteration), ANN (bucketed)
QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "events_hourly_rollup",
    "events_funnel_windowed",
    "dedup_exact",
    "dedup_minhash_lsh",
    "doc_bpe_token_counts",
    "multimodal_video_scene_cuts",
    "events_rolling_7d_active_users",
    "doc_tile_chunks",
    # round 10: the new distributed rank/prefix kernels (the exact shapes
    # the old global windows would have serialized at 10×) + DSIR's
    # two-pass profile score
    "pack_training_sequences",
    "customer_rfm_segments",
    "dsir_importance_weights",
    # round 11: the loss-masking span explode and the bucket-capped LSH
    # guard (the factor that must stay flat when dup density scales)
    "pack_span_manifest",
    "dedup_minhash_lsh_capped",
)


def build(
    src: str = SRC,
    dest: str = DEST,
    copies: int = COPIES,
    disjoint: bool = False,
) -> None:
    os.makedirs(dest, exist_ok=True)
    for fname in sorted(os.listdir(src)):
        if not fname.endswith(".parquet"):
            continue
        name = fname[: -len(".parquet")]
        tbl = pq.read_table(os.path.join(src, fname))
        out = os.path.join(dest, fname)
        keys = _FACT_KEYS.get(name)
        if not keys:
            pq.write_table(tbl, out)
            print(f"copied {name}: {tbl.num_rows} rows")
            continue
        # shift each copy's key space by copy_i * stride (stride > max key
        # so copies never collide); ts columns are left as-is so the time
        # axis gains DENSITY, matching how a real corpus grows
        strides = {
            k: int(pc.max(pc.abs(tbl[k])).as_py() or 0) + 1 for k in keys
        }
        parts = []
        for i in range(copies):
            if i == 0:
                parts.append(tbl)
                continue
            cols = {}
            for cname in tbl.column_names:
                if cname in keys:
                    base = tbl[cname]
                    cols[cname] = pc.add(base, i * strides[cname])
                elif disjoint and name == "documents" and cname == "text":
                    # per-copy token bijection (see module docstring):
                    # prefix every token with the copy tag so intra-copy
                    # similarity structure is preserved exactly and
                    # cross-copy similarity drops to ~0
                    tag = f"c{i}·"
                    # normalize ALL whitespace classes _norm_col splits on
                    # to plain spaces first (r12 ADVICE): a tab/newline-
                    # separated token would otherwise escape the tag and
                    # leak shared content across copies. Tokenization is
                    # unchanged (the tokenizer splits on every one of
                    # these), so intra-copy structure is preserved.
                    txt = tbl[cname]
                    for ws in ("\t", "\n", "\r", "\x0b", "\f"):
                        txt = pc.replace_substring(txt, ws, " ")
                    cols[cname] = pc.binary_join_element_wise(
                        tag,
                        pc.replace_substring(txt, " ", f" {tag}"),
                        "",
                        null_handling="emit_null",
                    )
                else:
                    cols[cname] = tbl[cname]
            parts.append(pa.table(cols, schema=tbl.schema))
        big = pa.concat_tables(parts)
        pq.write_table(big, out, row_group_size=200_000)
        print(f"replicated {name}: {tbl.num_rows} -> {big.num_rows} rows")


def main() -> int:
    out_path = next(
        (a for a in sys.argv[1:] if not a.startswith("--")), "/tmp/scale10.json"
    )
    disjoint = "--disjoint" in sys.argv
    global DEST
    if disjoint:
        DEST = DEST + "_disjoint"
    if "--rebuild" in sys.argv or not os.path.exists(
        os.path.join(DEST, "events.parquet")
    ):
        build(dest=DEST, disjoint=disjoint)

    from bench import _clear, _run
    from bigdatatiler_spark.registry import load_all
    from bigdatatiler_spark.session import get_spark

    spark = get_spark(
        "scale-study", extra_conf={"spark.driver.memory": "16g"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    def run(name: str, sf_dir: str) -> float:
        _clear(spark)
        t0 = time.time()
        _run(specs[name].fn(spark, sf_dir))
        return round(time.time() - t0, 3)

    # warmup (JVM + python workers)
    run("events_filtered_topk", SRC)

    report = {}
    for name in QUERIES:
        t1 = run(name, SRC)
        t10 = run(name, DEST)
        report[name] = {
            "t_1x_sec": t1,
            "t_10x_sec": t10,
            "factor": round(t10 / t1, 2) if t1 > 0 else None,
        }
        print(f"{name}: 1x={t1}s 10x={t10}s factor={report[name]['factor']}")

    with open(out_path, "w") as f:
        json.dump(
            {"copies": COPIES, "disjoint": disjoint, "queries": report},
            f,
            indent=1,
        )
        f.write("\n")
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
