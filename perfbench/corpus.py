"""Seeded generator of the pipeline corpus.

Writes the ten parquet tables `graft.Tables.registerAll` expects, in the
shapes of the sf0.1 test corpus: `documents` (5,000 short texts over a
31-word vocabulary, with injected near-duplicates) and `events`
(100,000 click-stream rows over January 2024) at full size, the other
eight as small stand-ins (no pipeline query reads them).

    python3 perfbench/corpus.py --seed 1 --out corpus-1
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark value key group sort fast slow table stream "
         "window join scan query filter order hash line row column part "
         "batch merge small big customer vector agg index").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
DOCS = 5000
EVENTS = 100000
USERS = 1500


def documents(rng, scale):
    docs = int(DOCS * scale)
    texts = []
    for i in range(docs):
        if i > 50 and rng.random() < 0.12:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(0, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            n = int(rng.integers(8, 100))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, docs, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng, scale):
    n = int(EVENTS * scale)
    start_us = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    value = np.round(rng.gamma(2.0, 50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def stand_ins(rng):
    n = 10
    ids = pa.array(np.arange(n), pa.int64())
    i32 = pa.array(np.arange(n), pa.int32())
    names = pa.array([f"n{i}" for i in range(n)], pa.string())
    dbl = pa.array(np.round(rng.random(n) * 100, 2), pa.float64())
    day = pa.array(np.full(n, 1704067200 * 1_000_000), pa.timestamp("us"))
    return {
        "region": pa.table({"r_regionkey": i32, "r_name": names}),
        "nation": pa.table({"n_nationkey": i32, "n_name": names, "n_regionkey": i32}),
        "customer": pa.table({"c_custkey": ids, "c_name": names, "c_nationkey": i32,
                              "c_acctbal": dbl, "c_mktsegment": names}),
        "supplier": pa.table({"s_suppkey": ids, "s_name": names, "s_nationkey": i32,
                              "s_acctbal": dbl}),
        "part": pa.table({"p_partkey": ids, "p_name": names, "p_brand": names,
                          "p_type": names, "p_size": i32, "p_retailprice": dbl}),
        "orders": pa.table({"o_orderkey": ids, "o_custkey": ids, "o_orderstatus": names,
                            "o_totalprice": dbl, "o_orderdate": day,
                            "o_orderpriority": names}),
        "lineitem": pa.table({"l_orderkey": ids, "l_partkey": ids, "l_suppkey": ids,
                              "l_linenumber": i32, "l_quantity": dbl,
                              "l_extendedprice": dbl, "l_discount": dbl, "l_tax": dbl,
                              "l_returnflag": names, "l_linestatus": names,
                              "l_shipdate": day}),
        "embeddings": pa.table({
            "vec_id": ids,
            "embedding": pa.array([rng.random(8).astype(np.float32).tolist()
                                   for _ in range(n)], pa.list_(pa.float32())),
            "label": i32}),
    }


def generate(seed, out, scale=1.0):
    """Write the corpus for `seed` into `out`; `scale` shrinks the two
    measured tables (a small copy warms the JVM up)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    docs, evs = documents(rng, scale), events(rng, scale)
    tables = {"documents": docs, "events": evs, **stand_ins(rng)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {"documents": docs.num_rows, "events": evs.num_rows}


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.seed, a.out))
