"""Seeded generators for the benchmark's input tables.

The tables follow the column names, types and value domains of the
fixture set the package's queries are written against (FIXTURES.md):
a TPC-H-shaped star schema, the ``events`` stream, ``documents`` text and
``embeddings`` vectors. Sizes scale with ``sf`` the same way
(``events`` = 1,000,000 x sf rows over 15,000 x sf users, and so on), so
``sf=0.1`` gives the 100k-record, 1,500-user events table. The same seed
always gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "es", "fr", "zh", "de")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)

_US_PER_DAY = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "us")


def _day(s: str) -> int:
    return int((np.datetime64(s, "us") - _EPOCH) // np.timedelta64(1, "D"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def users_for(sf: float) -> int:
    return max(1, int(round(15_000 * sf)))


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Event stream: ids ascend with time over 2024-01-01 .. 2024-01-31."""
    start = _day("2024-01-01") * _US_PER_DAY
    gaps = rng.uniform(0, 2 * 30 * _US_PER_DAY / max(n, 1), n)
    ts = start + np.minimum(np.cumsum(gaps), 30 * _US_PER_DAY - 1).astype("int64")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype="int64")),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(np.maximum(rng.exponential(50.0, n), 0.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """10-100 word texts over a 31-word vocabulary; ~2% are near copies of
    an earlier document (one word replaced) so the dedup queries find
    clusters."""
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.02:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    ids = np.arange(n, dtype="int64")
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """64-dimensional unit vectors around ten label centroids."""
    dim = 64
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(0, 0.8, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v.astype("float32")), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    color = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(seg[rng.integers(0, 5, n_cust)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(color[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(ptype[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1)),
    })
    d0, d1 = _day("1995-01-01"), _day("2001-08-01")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype="int64")),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord) * _US_PER_DAY),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)]),
    })
    s0, s1 = _day("1995-01-02"), _day("2001-11-04")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, n_li) * _US_PER_DAY),
    })
    t["events"] = events_table(rng, n_ev, users_for(sf))
    t["documents"] = documents_table(rng, n_doc)
    t["embeddings"] = embeddings_table(rng, n_emb)
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the seeded tables as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in build_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
