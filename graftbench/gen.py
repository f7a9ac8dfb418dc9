"""Seeded input generators for the graft benchmark.

Each generator writes parquet tables plus a `meta.json` holding the row
counts and the planted truth the output checks use. The same seed gives
byte-identical tables. Generation happens before the benchmark's JVM
starts, so its time is in no metric.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. They are recorded in every artifact's host block, so runs
# at different sizes are never compared.
RANK_SESSION = {"orders": 15_000, "parts": 2_000, "suppliers": 100}
DEDUP = {"docs": 10_000, "doc_tokens": 200, "vocab": 50_000, "zipf_s": 0.9,
         "exact_dups": 150, "near_clusters": 100, "near_variants": 2,
         "near_edit_share": 0.02, "bench_docs": 100, "bench_tokens": 60,
         "contaminated": 60, "contam_fresh_tokens": 30, "dims": 64,
         "queries": 32, "neighbour_noise": 0.05}

# Row groups per table: enough that the scan splits across 4-8 cores.
ROW_GROUPS = 8


def _write(table, path):
    rows = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rows, compression="snappy")


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def rank_session(seed, out):
    """TPC-H-shaped lineitem table: graft derives its page graph from
    consecutive lineitems of one order (graft.graph.WebGraph)."""
    c = RANK_SESSION
    rng = _rng(seed, 2)
    lines = rng.integers(1, 8, c["orders"])
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(1, c["orders"] + 1, dtype=np.int64) * 4, lines)
    linenumber = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, n), 2)
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    ship = day0 + (rng.integers(0, 2400, n) * 86_400_000_000).astype("timedelta64[us]")
    flags = np.array(["A", "N", "R"], dtype=object)
    table = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, c["parts"], n, dtype=np.int64),
        "l_suppkey": rng.integers(0, c["suppliers"], n, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n)], pa.string()),
        "l_linestatus": pa.array(flags[rng.integers(1, 2, n)], pa.string()),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    _write(table, os.path.join(out, "lineitem.parquet"))
    return {"lineitem_rows": n, "orders": c["orders"], "parts": c["parts"]}


def dedup(seed, out):
    """Zipf-vocabulary corpus with planted exact duplicates, near-duplicate
    clusters, benchmark contamination and near-neighbour embeddings."""
    c = DEDUP
    rng = _rng(seed, 3)
    V, T = c["vocab"], c["doc_tokens"]
    vw = 1.0 / np.arange(1, V + 1) ** c["zipf_s"]
    vp = vw / vw.sum()
    words = np.array([f"w{i}" for i in range(V)], dtype=object)

    def tokens(k):
        return rng.choice(V, k, p=vp)

    n_orig = c["docs"] - c["exact_dups"] - c["near_clusters"] * c["near_variants"] - c["contaminated"]
    lengths = rng.integers(T - 50, T + 51, n_orig)
    docs = np.split(tokens(int(lengths.sum())), np.cumsum(lengths)[:-1])
    picks = rng.permutation(n_orig)
    exact_src = picks[:c["exact_dups"]]
    near_src = picks[c["exact_dups"]:c["exact_dups"] + c["near_clusters"]]
    groups = []  # planted near-duplicate clusters, as indices into docs
    for i in exact_src:
        docs.append(docs[i].copy())
    for i in near_src:
        members = [int(i)]
        for _ in range(c["near_variants"]):
            v = docs[i].copy()
            at = rng.choice(len(v), max(1, int(len(v) * c["near_edit_share"])), replace=False)
            v[at] = rng.integers(0, V, len(at)) + V  # words outside the vocabulary
            members.append(len(docs))
            docs.append(v)
        groups.append(members)
    bench = [tokens(c["bench_tokens"]) for _ in range(c["bench_docs"])]
    contaminated = []
    for b in rng.choice(c["bench_docs"], c["contaminated"], replace=False):
        contaminated.append(len(docs))
        docs.append(np.concatenate([bench[b], tokens(c["contam_fresh_tokens"])]))

    allwords = np.concatenate([words, np.array([f"x{i}" for i in range(V)], dtype=object)])
    text = [" ".join(allwords[d]) for d in docs]
    ids = rng.permutation(len(docs)).astype(np.int64) * 7 + 3  # ids unrelated to plant order
    _write(pa.table({"doc_id": ids, "text": pa.array(text, pa.string())}),
           os.path.join(out, "docs.parquet"))
    _write(pa.table({"text": pa.array([" ".join(words[b]) for b in bench], pa.string())}),
           os.path.join(out, "bench.parquet"))

    D = c["dims"]
    vec = rng.standard_normal((len(docs), D))
    qsel = rng.choice(n_orig, 2 * c["queries"], replace=False)
    queries, partners = qsel[:c["queries"]], qsel[c["queries"]:]
    vec[partners] = vec[queries] + c["neighbour_noise"] * rng.standard_normal((len(queries), D))
    _write(pa.table({"doc_id": ids, "v": pa.array(list(vec), pa.list_(pa.float64()))}),
           os.path.join(out, "emb.parquet"))
    _write(pa.table({"qid": ids[queries]}), os.path.join(out, "queries.parquet"))

    exact_pairs = [[int(ids[i]), int(ids[n_orig + k])] for k, i in enumerate(exact_src)]
    near_groups = [[int(ids[m]) for m in g] for g in groups]
    return {"docs": len(docs), "bench_docs": c["bench_docs"], "queries": c["queries"],
            "dims": D,
            "planted": {"exact_dups": len(exact_src), "exact_pairs": exact_pairs,
                        "near_groups": near_groups,
                        "contaminated": [int(ids[i]) for i in contaminated],
                        "neighbours": {str(int(ids[q])): int(ids[p])
                                       for q, p in zip(queries, partners)}}}


GENERATORS = {"rank-session": rank_session, "dedup-pipeline": dedup}
SIZES = {"rank-session": RANK_SESSION, "dedup-pipeline": DEDUP}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` into `out` once; later calls
    with the same arguments reuse them."""
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    os.makedirs(out, exist_ok=True)
    meta = GENERATORS[workload](seed, out)
    meta["seed"] = seed
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, meta_path)
    return meta
