"""Measurement-only synthetic data generator (optimization guide §1).

The driver's round-end MEASUREMENT may run `bench.py` at a scale factor
larger than the shipped /root/testdata/sf0.1 (BENCH_r05.json records
sf=1.0).  The driver's generator is not shipped, so for isolated A/B
timing at that scale this tool synthesizes a dataset with the same
schemas, rowcount ratios, and value distributions as the shipped sf dirs
(profiled from /root/testdata/sf0.1; 10x rowcounts at scale=1.0:
50k documents / 1M events / 6M lineitem / 1.5M orders ...).

It is NOT the driver's generator and its outputs are never used as
oracle inputs or cached results — purely a local timing corpus, written
OUTSIDE the repo (default /root/sfbig).  Deterministic (fixed seeds).

Usage:  python tools/gen_bigsf.py [out_dir] [scale]
        python tools/gen_bigsf.py /root/sfbig 1.0
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
])

LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])


def gen_documents(n: int, rng: np.random.Generator) -> pa.Table:
    n_words = rng.integers(10, 101, size=n)
    texts = []
    for i in range(n):
        words = VOCAB[rng.integers(0, len(VOCAB), size=n_words[i])]
        texts.append(" ".join(words))
    # exact-dup structure (~0.16% at sf0.1) + near-dups (~1%) so the dedup
    # operators see work comparable to the shipped corpora
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.0016:
            texts[i] = texts[rng.integers(0, i)]
        elif i > 10 and r < 0.0116:
            src = texts[rng.integers(0, i)].split()
            for _ in range(max(1, len(src) // 30)):
                src[rng.integers(0, len(src))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts[i] = " ".join(src)
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    source = np.array([f"src{i % 20}" for i in range(n)])
    n_chars = np.array([len(t) for t in texts], dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(lang, type=pa.string()),
        "source": pa.array(source, type=pa.string()),
        "n_chars": pa.array(n_chars),
    })


def gen_embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    # matched to the shipped sf0.1 embeddings (profiled): per-label center
    # norm ~0.07 over 64 dims, within-label per-dim std ~0.125 — i.e. sign
    # bits are ~uniform, so sign-LSH bucket sizes (and the candidate-pair
    # volume of embedding_near_dup) scale like the driver's data. A first
    # draft with tight clusters produced 680x the driver's pair volume and
    # would have mis-ranked that operator's cost.
    dim = 64
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centers = rng.normal(0, 0.009, size=(10, dim)).astype(np.float32)
    vecs = centers[labels] + rng.normal(0, 0.125, size=(n, dim)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })


def gen_events(n: int, n_users: int, rng: np.random.Generator) -> pa.Table:
    base = np.datetime64("2024-01-01T00:00:00", "us")
    span = np.int64(30 * 24 * 3600 * 1_000_000)
    ts = base + (rng.random(n) * span).astype("timedelta64[us]")
    types = np.array(["view", "click", "purchase", "signup", "error"])
    value = np.round(rng.exponential(50.0, size=n), 2)
    k = rng.integers(0, 100, size=n)
    props = np.array([f'{{"k": {v}}}' for v in k])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(1, n_users + 1, size=n)),
        "event_type": pa.array(types[rng.integers(0, 5, size=n)], type=pa.string()),
        "value": pa.array(value),
        "props": pa.array(props, type=pa.string()),
    })


def gen_tpch(n_orders: int, n_cust: int, n_part: int, n_supp: int,
             lines_per_order: float, rng: np.random.Generator):
    n_li = int(n_orders * lines_per_order)
    okeys = rng.integers(0, n_orders, size=n_li)
    okeys.sort()
    # position within each run of equal order keys (0-based): index
    # minus the index where the run started
    same = np.concatenate([[False], okeys[1:] == okeys[:-1]])
    idx = np.arange(n_li)
    run = idx - np.maximum.accumulate(np.where(~same, idx, 0))
    linenum = (run % 7 + 1).astype(np.int32)
    ship_base = np.datetime64("1995-01-01", "us")
    ship_span = np.int64(2500) * 24 * 3600 * 1_000_000
    lineitem = pa.table({
        "l_orderkey": pa.array(okeys.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li)),
        "l_linenumber": pa.array(linenum),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(900 + rng.random(n_li) * 104100, 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=n_li) * 0.01, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=n_li) * 0.01, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_li)], type=pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, size=n_li)], type=pa.string()),
        "l_shipdate": pa.array(ship_base + (rng.random(n_li) * ship_span).astype("timedelta64[us]")),
    })
    od_base = np.datetime64("1995-01-01", "us")
    od_span = np.int64(2400) * 24 * 3600 * 1_000_000
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_orders)),
        "o_orderstatus": pa.array(np.array(["P", "O", "F"])[rng.integers(0, 3, size=n_orders)], type=pa.string()),
        "o_totalprice": pa.array(np.round(1000 + rng.random(n_orders) * 499000, 2)),
        "o_orderdate": pa.array(od_base + (rng.random(n_orders) * od_span).astype("timedelta64[us]")),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, size=n_orders)], type=pa.string()),
    })
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], type=pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(-1000 + rng.random(n_cust) * 11000, 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, size=n_cust)], type=pa.string()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], type=pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(-1000 + rng.random(n_supp) * 11000, 2)),
    })
    adjs = np.array(["large", "small", "shiny", "dim", "round", "flat"])
    nouns = np.array(["ring", "bolt", "gear", "cap", "rod", "pin"])
    types_a = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{adjs[rng.integers(0, 6)]} {nouns[rng.integers(0, 6)]}" for _ in range(n_part)], type=pa.string()),
        "p_brand": pa.array([f"Brand#{rng.integers(1, 26)}" for _ in range(n_part)], type=pa.string()),
        "p_type": pa.array(types_a[rng.integers(0, 6, size=n_part)], type=pa.string()),
        "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.random(n_part) * 100, 2)),
    })
    return lineitem, orders, customer, supplier, part


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else "/root/sfbig"
    scale = float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
    # multiplier over the shipped sf0.1 rowcounts; rounded so that
    # e.g. 0.3 gives 3.0, not 2.9999999999999996
    m = round(scale / 0.1, 9)
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(20260822)
    sizes = dict(documents=int(5000 * m), embeddings=int(2000 * m),
                 events=int(100_000 * m), orders=int(150_000 * m),
                 customer=int(15_000 * m), supplier=int(1000 * m),
                 part=int(20_000 * m))
    pq.write_table(gen_documents(sizes["documents"], rng), f"{out}/documents.parquet")
    pq.write_table(gen_embeddings(sizes["embeddings"], rng), f"{out}/embeddings.parquet")
    pq.write_table(gen_events(sizes["events"], int(1500 * m), rng), f"{out}/events.parquet")
    li, o, c, s, p = gen_tpch(sizes["orders"], sizes["customer"],
                              sizes["part"], sizes["supplier"], 4.0, rng)
    pq.write_table(li, f"{out}/lineitem.parquet")
    pq.write_table(o, f"{out}/orders.parquet")
    pq.write_table(c, f"{out}/customer.parquet")
    pq.write_table(s, f"{out}/supplier.parquet")
    pq.write_table(p, f"{out}/part.parquet")
    # dimension tables: byte-copy the shipped ones (tiny, scale-invariant)
    for t in ("nation", "region"):
        src = pq.read_table(f"/root/testdata/sf0.1/{t}.parquet")
        pq.write_table(src, f"{out}/{t}.parquet")
    open(f"{out}/_DONE", "w").close()
    print(json.dumps({"out": out, "scale": scale,
                      "lineitem": li.num_rows, **sizes}))


if __name__ == "__main__":
    main()
