"""Deterministic source corpus for the benchmark.

Writes the five tables the workloads read (lineitem, orders, documents,
embeddings, events) as one-file, one-row-group parquet tables with the
schemas of the project's corpus. The corpus is a function of GEN_SEED
only; a run's --seed picks offsets, lineage instants and operation order
over this fixed corpus, never the data.

Every distribution below was measured on the project's corpus with
corpus_stats.py (README.md, "Corpus"): the tables the heavy queries read
(documents, embeddings, events) have the row counts of the corpus `Bench`
runs on (sf0.1); the ingest tables have those of its sf0.01 corpus, with
keys scaled the same way.
"""
import collections
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20240101

ROWS = {
    "lineitem": 60_000,
    "orders": 15_000,
    "documents": 5_000,
    "embeddings": 2_000,
    "events": 100_000,
}
PARTS, SUPPLIERS, CUSTOMERS = 2_000, 100, 1_500
USERS = 1_500

# 30 words drawn uniformly (measured frequencies 0.0326-0.0339 each);
# a document holds 10-99 of them
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line table data agg value key stream window spark a "
         "group part big sort query fast the").split()
DOC_TOKENS = (10, 100)
# 5.1% of documents are an earlier one with " dup" appended (one "dup"
# token per 1,060 tokens), so a copy of a copy ends in "dup dup";
# documents are then shuffled
DUP_SHARE = 0.051
LANGS = {"en": 0.412, "de": 0.14, "es": 0.149, "fr": 0.148, "zh": 0.151}
LANG_P = np.array(list(LANGS.values())) / sum(LANGS.values())
SOURCES = 20
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_VALUE_MEAN = 50.0  # exponential: measured mean 49.9, median 34.8
PROPS_KEYS = 100
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# unit vectors in random directions; the 10 labels are independent of
# them (measured mean label-centroid norm 0.071 = 1/sqrt(rows per label))
DIM, LABELS = 64, 10
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def lineitem(rng, n, n_orders):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(0, 2_500, n) * DAY_US),
    })


def orders(rng, n):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n), 2)),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2_400, n) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def kneser_ney_defined(texts):
    """Whether every level of t97's modified Kneser-Ney (4-gram counts,
    continuation counts of (w2, w3, w4) and of (w3, w4)) has types counted
    exactly twice and exactly three times, as on the project corpus. Over
    30 uniform words the (w3, w4) counts are that small only for pairs with
    a "dup" token, so a draw can miss them."""
    grams = collections.Counter(
        g for t in texts for w in [t.split()] for g in zip(w, w[1:], w[2:], w[3:]))
    cc234 = collections.Counter(g[1:] for g in grams)
    cc34 = collections.Counter(g[1:] for g in cc234)
    return all({2, 3} <= set(c.values()) for c in (grams, cc234, cc34))


def documents(rng, n):
    texts = []
    while not kneser_ney_defined(texts):
        texts = []
        for i in range(n):
            if i > 0 and rng.random() < DUP_SHARE:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                texts.append(" ".join(rng.choice(WORDS, int(rng.integers(*DOC_TOKENS)))))
    texts = [texts[i] for i in rng.permutation(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(list(LANGS), n, p=LANG_P)),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n):
    vecs = rng.normal(size=(n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array([row.astype(np.float32) for row in vecs],
                   pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, LABELS, n), pa.int32()),
    })


def events(rng, n):
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, USERS, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(EVENT_VALUE_MEAN, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, PROPS_KEYS, n)]),
    })


def generate(out_dir):
    """Write every table under out_dir; returns {table: (rows, bytes)}."""
    rng = np.random.default_rng(GEN_SEED)
    tables = {
        "lineitem": lineitem(rng, ROWS["lineitem"], ROWS["orders"]),
        "orders": orders(rng, ROWS["orders"]),
        "documents": documents(rng, ROWS["documents"]),
        "embeddings": embeddings(rng, ROWS["embeddings"]),
        "events": events(rng, ROWS["events"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy",
                       row_group_size=tbl.num_rows)
        sizes[name] = (tbl.num_rows, os.path.getsize(path))
    return sizes
