#!/usr/bin/env python3
"""Statistics of a source corpus, the ones the benchmark's generator
(gen_data.py) takes its parameters from.

    python3 perfbench/corpus_stats.py DIR [DIR ...]

DIR holds the corpus tables as <table>.parquet. With several
directories the statistics are printed side by side, so the generated
corpus (.bench_build/data-*) can be compared with the project's own.
"""
import collections
import json
import sys

import numpy as np
import pyarrow.parquet as pq


def _q(xs, qs=(0, 50, 100)):
    return [round(float(v), 3) for v in np.percentile(xs, qs)]


def _shares(xs):
    c = collections.Counter(xs)
    return {k: round(v / len(xs), 3) for k, v in sorted(c.items())}


def near_duplicates(toks):
    """Pairs of documents whose 3-token shingle sets have a Jaccard
    similarity of at least 0.5, and how the later one differs from the
    earlier one (token-count change; for equal lengths, changed tokens)."""
    sh = [set(zip(t, t[1:], t[2:])) for t in toks]
    docs_of = collections.defaultdict(list)
    for i, s in enumerate(sh):
        for g in s:
            docs_of[g].append(i)
    shared = collections.Counter()
    for ds in docs_of.values():
        for a in range(len(ds)):
            for b in range(a + 1, len(ds)):
                shared[ds[a], ds[b]] += 1
    pairs = [(a, b) for (a, b), v in shared.items()
             if v / (len(sh[a]) + len(sh[b]) - v) >= 0.5]
    edits = collections.Counter()
    for a, b in pairs:
        x, y = toks[a], toks[b]
        if len(x) != len(y):
            edits[f"{len(y) - len(x):+d} token"] += 1
        else:
            edits[f"{sum(p != q for p, q in zip(x, y))} changed"] += 1
    return {"docs_with_near_duplicate": round(len({b for _, b in pairs}) / len(toks), 4),
            "pair_edits": dict(edits.most_common(4))}


def documents(t):
    texts = t["text"]
    toks = [x.split() for x in texts]
    lens = [len(x) for x in toks]
    freq = collections.Counter(w for x in toks for w in x)
    f = np.array(sorted(freq.values(), reverse=True), dtype=float)
    return {
        "rows": len(texts),
        "vocabulary": len(freq),
        "rank_frequency_slope": round(float(np.polyfit(
            np.log(np.arange(1, len(f) + 1)), np.log(f), 1)[0]), 3),
        "top_to_bottom_frequency": round(float(f[0] / f[-1]), 3),
        "tokens_per_doc_min_median_max": _q(lens),
        "tokens_per_doc_mean": round(float(np.mean(lens)), 2),
        "exact_duplicate_texts": len(texts) - len(set(texts)),
        **near_duplicates(toks),
        "lang": _shares(t["lang"]),
        "sources": len(set(t["source"])),
    }


def embeddings(t):
    e = np.array(t["embedding"], dtype=np.float64)
    lab = np.array(t["label"])
    n = e / np.linalg.norm(e, axis=1, keepdims=True)
    cos = n[:500] @ n[:500].T
    labels = sorted(set(lab.tolist()))
    return {
        "rows": len(e),
        "dimension": e.shape[1],
        "norm_min_median_max": _q(np.linalg.norm(e, axis=1)),
        "labels": len(labels),
        # a label's centroid has norm ~1/sqrt(rows per label) when labels
        # are independent of the vectors, and approaches 1 for tight clusters
        "mean_label_centroid_norm": round(float(np.mean(
            [np.linalg.norm(n[lab == k].mean(0)) for k in labels])), 4),
        "cosine_mean_p99": [round(float(cos[np.triu_indices(len(cos), 1)].mean()), 4),
                            round(float(np.percentile(cos[np.triu_indices(len(cos), 1)], 99)), 4)],
    }


def events(t):
    users = collections.Counter(t["user_id"])
    ts = np.array(t["ts"], dtype="datetime64[us]").astype(np.int64)
    v = np.array(t["value"])
    return {
        "rows": len(ts),
        "users": len(users),
        "events_per_user_min_median_max": _q(list(users.values())),
        "event_type": _shares(t["event_type"]),
        "ts_span_days": round(float((ts.max() - ts.min()) / 86_400e6), 2),
        "ts_ascending_by_event_id": bool(np.all(np.diff(ts[np.argsort(t["event_id"])]) >= 0)),
        "value_mean": round(float(v.mean()), 2),
        "value_q25_median_q75_max": _q(v, (25, 50, 75, 100)),
        "props_distinct": len(set(t["props"])),
    }


def orders(t):
    keys = np.array(t["o_orderkey"])
    return {
        "rows": len(keys),
        "orderkey_range": [int(keys.min()), int(keys.max())],
        "orderkey_ascending": bool(np.all(np.diff(keys) > 0)),
        "custkey_distinct": len(set(t["o_custkey"])),
        "orderstatus": _shares(t["o_orderstatus"]),
        "orderpriority_values": len(set(t["o_orderpriority"])),
        "totalprice_min_median_max": _q(t["o_totalprice"]),
        "orderdate_days": len(set(t["o_orderdate"])),
    }


def lineitem(t):
    per_order = collections.Counter(t["l_orderkey"])
    return {
        "rows": len(t["l_orderkey"]),
        "orders_with_lines": len(per_order),
        "lines_per_order_mean": round(len(t["l_orderkey"]) / len(per_order), 3),
        "partkey_distinct": len(set(t["l_partkey"])),
        "suppkey_distinct": len(set(t["l_suppkey"])),
        "linenumber_range": _q(t["l_linenumber"], (0, 100)),
        "quantity_min_median_max": _q(t["l_quantity"]),
        "extendedprice_min_median_max": _q(t["l_extendedprice"]),
        "discount_values": len(set(t["l_discount"])),
        "tax_values": len(set(t["l_tax"])),
        "returnflag_linestatus": _shares([a + b for a, b in zip(t["l_returnflag"], t["l_linestatus"])]),
        "shipdate_days": len(set(t["l_shipdate"])),
    }


TABLES = {"documents": documents, "embeddings": embeddings, "events": events,
          "orders": orders, "lineitem": lineitem}


def stats(d):
    out = {}
    for name, f in TABLES.items():
        path = f"{d}/{name}.parquet"
        meta = pq.ParquetFile(path).metadata
        s = f(pq.read_table(path).to_pydict())
        s["row_groups"] = meta.num_row_groups
        out[name] = s
    return out


def main():
    dirs = sys.argv[1:]
    if not dirs:
        sys.exit(__doc__)
    all_stats = [stats(d) for d in dirs]
    for table in TABLES:
        print(f"== {table}")
        for key in all_stats[0][table]:
            vals = [json.dumps(s[table].get(key)) for s in all_stats]
            print(f"  {key:34s} " + "  |  ".join(vals))


if __name__ == "__main__":
    main()
