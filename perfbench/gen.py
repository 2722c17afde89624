"""Seeded input generator for the benchmark.

Writes the tables a workload reads as one parquet file each, with the
same schemas (and parquet physical types) as the catalog's testdata:
TPC-H-like customer/orders/lineitem, the token corpus `documents` and
64-dim unit `embeddings` in ten clusters. The same seed and size give
byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark stream batch table column row key value data query "
         "scan filter join group agg sort hash merge window vector order "
         "customer part line small big fast slow").split()
LANGS = ["en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
SPAN_DAYS = 2404                     # through 2001-08-01

# rows per table at each size; "sf0.01" and "sf0.001" follow the
# catalog's testdata row counts, "stream" keeps sf0.1's ten orders per
# customer at a third of its customers
SIZES = {
    "stream": dict(customer=5000, orders=50000),
    "sf0.01": dict(customer=1500, orders=15000, part=2000, supplier=100,
                   documents=500, embeddings=500),
    "sf0.001": dict(customer=150, orders=1500, part=200, supplier=10,
                    documents=500, embeddings=500),
}


def _write(table, out_dir, name):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts(days):
    return pa.array(EPOCH_1995_US + days.astype(np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def orders(rng, n, n_cust):
    # o_totalprice is unique per order (a random cent offset inside a
    # per-order slot), so a risk event's score identifies its order
    slot = 330
    cents = 100_191 + np.arange(n, dtype=np.int64) * slot + rng.integers(0, slot, n)
    cents = rng.permutation(cents)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": cents / 100.0,
        "o_orderdate": _ts(rng.integers(0, SPAN_DAYS, n)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


def lineitem(rng, n_orders, n_part, n_supp):
    lines = 1 + rng.binomial(12, 0.25, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineno = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    m = len(okey)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, m).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, m).astype(np.int64),
        "l_linenumber": lineno,
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _ts(rng.integers(0, SPAN_DAYS, m)),
    })


def documents(rng, n):
    """Random token documents; one in twenty is a near-copy of an
    earlier document with one trailing `dup` token."""
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64, clusters=10):
    centers = rng.normal(size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    v = centers[label] + rng.normal(scale=0.12, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label, type=pa.int32()),
    })


DUP_OFFSET = 1_000_000_000_000      # same-shard exact copies
RECRAWL_OFFSET = 10_000_000_000      # times (epoch + 1): re-crawls of the previous shard
PROBE_OFFSET = 2_000_000_000_000     # exact copies in the probe set


def ingest(out_dir, docs, epochs):
    """Admission-loop inputs: `epochs` shards of the documents and a
    held-out probe set. Shard e holds the documents with
    doc_id % epochs == e, every 7th of them again under a new id
    (same-shard exact duplicates) and, from the second shard on, every
    5th document of the previous shard again under a new id
    (cross-shard re-crawls). Documents with doc_id % 20 == 19 are held
    out of every shard; they and exact copies of every 50th document
    form the probe set. All ids are distinct."""
    ids = docs.column("doc_id").to_numpy()
    text = np.array(docs.column("text").to_pylist(), dtype=object)
    held = ids % 20 == 19
    for e in range(epochs):
        own = (ids % epochs == e) & ~held
        dup = own & (ids % 7 == 0)
        parts = [(ids[own], text[own]), (ids[dup] + DUP_OFFSET, text[dup])]
        if e > 0:
            re = (ids % epochs == e - 1) & ~held & (ids % 5 == 0)
            parts.append((ids[re] + (e + 1) * RECRAWL_OFFSET, text[re]))
        sid = np.concatenate([p[0] for p in parts])
        stext = np.concatenate([p[1] for p in parts])
        _write(pa.table({"epoch": np.full(len(sid), e, dtype=np.int64),
                         "doc_id": sid.astype(np.int64), "text": list(stext)}),
               out_dir, f"shard_{e:02d}")
    copies = ids % 50 == 0
    _write(pa.table({
        "doc_id": np.concatenate([ids[held], ids[copies] + PROBE_OFFSET]).astype(np.int64),
        "text": list(np.concatenate([text[held], text[copies]])),
    }), out_dir, "probe")


def generate(out_dir, seed, size, tables, epochs=0):
    """Write `tables` of the given size under out_dir. Each table draws
    from its own stream of the seed, so a table's content does not
    depend on which other tables are requested."""
    os.makedirs(out_dir, exist_ok=True)
    n = SIZES[size]
    names = ["customer", "orders", "lineitem", "documents", "embeddings"]
    rngs = dict(zip(names, (np.random.default_rng([seed, i]) for i in range(len(names)))))
    if "customer" in tables:
        _write(customer(rngs["customer"], n["customer"]), out_dir, "customer")
    if "orders" in tables:
        _write(orders(rngs["orders"], n["orders"], n["customer"]), out_dir, "orders")
    if "lineitem" in tables:
        _write(lineitem(rngs["lineitem"], n["orders"], n["part"], n["supplier"]),
               out_dir, "lineitem")
    if "documents" in tables:
        docs = documents(rngs["documents"], n["documents"])
        _write(docs, out_dir, "documents")
        if epochs:
            ingest(out_dir, docs, epochs)
    if "embeddings" in tables:
        _write(embeddings(rngs["embeddings"], n["embeddings"]), out_dir, "embeddings")
