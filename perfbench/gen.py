"""Seeded input tables for the benchmark, in the engine's sf0.1 test-data shape.

Writes one single-row-group parquet file per table (the layout the engine's
readers are tuned for) plus `model.json`, the expected-count model the
lakehouse workload checks its catalog tables against.  The same seed always
gives byte-identical inputs.

    python3 perfbench/gen.py --seed 7 --out <dir> [--tables documents,lineitem]
"""

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# sf0.1 row counts
N_DOCS, N_EMB = 5000, 2000
N_CUST, N_SUPP, N_PART, N_ORD, N_LINE = 15000, 1000, 20000, 150000, 600000


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, name + ".parquet"),
                   row_group_size=max(1, table.num_rows))


def day_range(rng, n, first, last):
    base = np.datetime64(first, "us")
    days = (np.datetime64(last) - np.datetime64(first)).astype(int)
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]")


def documents(rng, out):
    """Random texts over a 30-word vocabulary; 5% are near-duplicates of an
    earlier document (its text plus a marker word), some of those exact
    copies of another near-duplicate, so the dedup and component operators
    find real clusters that cross the history/batch split."""
    lengths = rng.integers(10, 101, N_DOCS)
    words = rng.integers(0, len(VOCAB), lengths.sum())
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    dups = np.sort(rng.choice(np.arange(20, N_DOCS), N_DOCS // 20, replace=False))
    marked = []
    for i in dups:
        if marked and rng.random() < 0.04:
            texts[i] = texts[marked[rng.integers(0, len(marked))]]
        else:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        marked.append(i)
    ids = np.arange(N_DOCS, dtype=np.int64)
    write(out, "documents", {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": ["src%d" % (i % 20) for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # the lakehouse model: the point-delete queue takes the first 64 ids
    # with id % 37 == 0 in file order, every MERGE inserts the id % 50 == 2
    # rows under fresh ids
    return {
        "docs": N_DOCS,
        "delete_ids": [int(i) for i in ids[ids % 37 == 0][:64]],
        "merge_inserts": int((ids % 50 == 2).sum()),
    }


def embeddings(rng, out):
    e = rng.normal(size=(N_EMB, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(e), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMB).astype(np.int32),
    })


def tpch(rng, out):
    write(out, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                          "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    write(out, "nation", {"n_nationkey": nk,
                          "n_name": ["NATION_%d" % i for i in nk],
                          "n_regionkey": (nk % 5).astype(np.int32)})
    ck = np.arange(N_CUST, dtype=np.int64)
    write(out, "customer", {
        "c_custkey": ck,
        "c_name": ["Customer#%09d" % i for i in ck],
        "c_nationkey": rng.integers(0, 25, N_CUST).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, N_CUST)],
    })
    sk = np.arange(N_SUPP, dtype=np.int64)
    write(out, "supplier", {
        "s_suppkey": sk,
        "s_name": ["Supplier#%09d" % i for i in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPP).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPP), 2),
    })
    pk = np.arange(N_PART, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": ["%s %s" % (PART_ADJ[a], PART_NOUN[b]) for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": ["Brand#%d" % k for k in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    write(out, "orders", {
        "o_orderkey": np.arange(N_ORD, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ORD).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, N_ORD)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORD), 2),
        "o_orderdate": day_range(rng, N_ORD, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORD)],
    })
    flags = np.array([("A", "O"), ("N", "F"), ("N", "O"), ("A", "F"),
                      ("R", "F"), ("R", "O")])[rng.integers(0, 6, N_LINE)]
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORD, N_LINE).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINE).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPP, N_LINE).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINE).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINE).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, N_LINE), 2),
        "l_discount": rng.integers(0, 11, N_LINE) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINE) / 100.0,
        "l_returnflag": flags[:, 0],
        "l_linestatus": flags[:, 1],
        "l_shipdate": day_range(rng, N_LINE, "1995-01-02", "2001-11-04"),
    })


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tables", default="documents,embeddings,tpch",
                    help="comma list of: documents, embeddings, tpch")
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    wanted = set(a.tables.split(","))
    # one independent stream per table family: adding a family never
    # changes another family's rows
    streams = np.random.SeedSequence(a.seed).spawn(3)
    model = {}
    if "documents" in wanted:
        model = documents(np.random.default_rng(streams[0]), a.out)
    if "embeddings" in wanted:
        embeddings(np.random.default_rng(streams[1]), a.out)
    if "tpch" in wanted:
        tpch(np.random.default_rng(streams[2]), a.out)
    with open(os.path.join(a.out, "model.json"), "w") as f:
        json.dump(model, f)


if __name__ == "__main__":
    main()
