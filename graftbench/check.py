"""Output checks for the graft benchmark.

The first job's outputs are compared with an independent answer: graft's
own DuckDB oracle SQL for rank-session, and the planted truth plus an
independent SimHash for dedup-pipeline. Every later job must then
reproduce the first job's digest, so a wrong answer counts as a failed
job, never as a fast one. Oracle answers depend only on the inputs and the SQL text, so they
are computed once per seed and kept beside the inputs.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# Scores are compared within this absolute distance: graft's oracle grid
# is 1e-6, and summation order may move a value by one grid step.
TOLERANCE = 2e-6
# A MinHash pair is a confirmed near duplicate at this estimated Jaccard.
CONFIRM_JACCARD = 0.5

# DuckDB views the oracle SQL reads, over the generated tables
VIEWS = {"lineitem": "lineitem.parquet"}


def read_outputs(directory):
    return {os.path.basename(p)[:-4]: pd.read_csv(p, sep="\t", keep_default_na=False,
                                                  na_values=[""], dtype=str)
            for p in glob.glob(os.path.join(directory, "*.tsv"))}


def oracle_answer(data, name, sql):
    path = os.path.join(data, "oracle",
                        f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(data, 'oracle', 'duckdb_tmp')}'")
        for view, f in VIEWS.items():
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{os.path.join(data, f)}')")
        df = con.execute(sql).df()
        con.close()
        df.to_parquet(path + ".tmp", index=False)
        os.replace(path + ".tmp", path)
    return pd.read_parquet(path)


def compare(got, want):
    """None when `got` (strings from the TSV dump) matches `want`, else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    floats = [c for c in want.columns if pd.api.types.is_float_dtype(want[c])]
    keys = [c for c in sorted(want.columns) if c not in floats]
    g, w = got.copy(), want.copy()
    for c in floats:
        g[c] = g[c].astype(float)
    for c in keys:
        w[c] = w[c].map(lambda v: "" if v is None or v != v else
                        str(v).lower() if isinstance(v, bool) else str(v))
        g[c] = g[c].fillna("")
    order = keys + floats
    g = g.sort_values(order).reset_index(drop=True)
    w = w.sort_values(order).reset_index(drop=True)
    for c in keys:
        bad = g[c] != w[c]
        if bad.any():
            i = bad.idxmax()
            return f"{c} differs at row {i}: {g[c][i]!r} != {w[c][i]!r}"
    for c in floats:
        diff = (g[c] - w[c].astype(float)).abs()
        if (diff > TOLERANCE).any() or g[c].isna().ne(w[c].isna()).any():
            i = diff.fillna(float("inf")).idxmax()
            return f"{c} differs at row {i}: {g[c][i]} != {w[c][i]}"
    return None


def verify(workload, data, meta, oracle, outputs):
    """Problems with the first job's outputs; empty when they are right."""
    if workload == "dedup-pipeline":
        return verify_dedup(data, meta, outputs)
    problems = []
    for name, sql in sorted(oracle.items()):
        if name not in outputs:
            problems.append(f"{name}: no output")
            continue
        why = compare(outputs[name], oracle_answer(data, name, sql))
        if why:
            problems.append(f"{name}: {why}")
    return problems


def simhash_duplicates(data):
    """{doc_id: canonical_id} for every document whose 64-bit SimHash
    equals that of a document with a smaller id: an independent
    implementation of graft's SimHash (one MD5 per space-separated token,
    the first 8 digest bytes vote on the bits) and of dedupExact's rule.
    Near duplicates a few tokens apart can share a SimHash, so this is
    a superset of the planted exact copies."""
    path = os.path.join(data, "oracle", "simhash_duplicates.json")
    if os.path.exists(path):
        with open(path) as f:
            return {int(k): v for k, v in json.load(f).items()}
    docs = pq.read_table(os.path.join(data, "docs.parquet")).to_pandas()
    tokens = [t.split(" ") for t in docs["text"]]
    words, inverse = np.unique(np.concatenate(tokens), return_inverse=True)
    digests = [hashlib.md5(w.encode()).digest() for w in words]
    # bits 0-31 from digest bytes 0-3, bits 32-63 from bytes 4-7, big-endian
    hashes = np.array([int.from_bytes(d[0:4], "big") | int.from_bytes(d[4:8], "big") << 32
                       for d in digests], dtype=np.uint64)
    votes = (((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1))
             .astype(np.int16) * 2 - 1)
    bounds = np.cumsum([0] + [len(t) for t in tokens])
    signature = {}
    for start in range(0, len(tokens), 1000):
        stop = min(start + 1000, len(tokens))
        part = votes[inverse[bounds[start]:bounds[stop]]]
        sums = np.add.reduceat(part, bounds[start:stop] - bounds[start], axis=0)
        for i, row in enumerate(sums >= 0):
            signature.setdefault(np.packbits(row).tobytes(), []).append(int(docs["doc_id"][start + i]))
    dups = {d: min(ids) for ids in signature.values() for d in ids if d != min(ids)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(dups, f)
    os.replace(path + ".tmp", path)
    return dups


def verify_dedup(data, meta, outputs):
    missing = [n for n in ("exact", "pairs", "contaminated", "knn") if n not in outputs]
    if missing:
        return [f"no output {n}" for n in missing]
    planted = meta["planted"]
    problems = []
    exact = outputs["exact"]
    canonical = dict(zip(exact["doc_id"].astype(int), exact["canonical_id"].astype(int)))
    if canonical != simhash_duplicates(data):
        problems.append(f"exact: {len(canonical)} duplicates flagged, the SimHash oracle "
                        f"finds {len(simhash_duplicates(data))}")
    for a, b in planted["exact_pairs"]:
        if canonical.get(max(a, b)) != min(a, b):
            problems.append(f"exact: planted copy {max(a, b)} not mapped to {min(a, b)}")
            break
    pairs = outputs["pairs"]
    est = dict(zip(zip(pairs["da"].astype(int), pairs["db"].astype(int)),
                   pairs["est_jaccard"].astype(float)))
    if (pairs["da"].astype(int) >= pairs["db"].astype(int)).any():
        problems.append("pairs: a pair is not ordered da < db")
    for a, b in planted["exact_pairs"]:
        if est.get((min(a, b), max(a, b))) != 1.0:
            problems.append(f"pairs: identical documents {a}, {b} not paired at Jaccard 1")
            break
    flagged = set(outputs["contaminated"]["doc_id"].astype(int))
    unflagged = [d for d in planted["contaminated"] if d not in flagged]
    if unflagged:
        problems.append(f"contaminated: {len(unflagged)} planted documents not flagged")
    knn = outputs["knn"]
    top = knn[knn["rank"].astype(int) == 1]
    nearest = dict(zip(top["qid"].astype(int).astype(str), top["neighbor"].astype(int)))
    wrong = [q for q, p in planted["neighbours"].items() if nearest.get(q) != p]
    if wrong:
        problems.append(f"knn: {len(wrong)} queries miss their planted neighbour")
    return problems


def dedup_counts(outputs, meta):
    """Pair counts of the verified MinHash output, and the share of the
    planted near-duplicate pairs it confirms."""
    pairs = outputs["pairs"]
    confirmed = pairs[pairs["est_jaccard"].astype(float) >= CONFIRM_JACCARD]
    found = set(zip(confirmed["da"].astype(int), confirmed["db"].astype(int)))
    planted = [(min(a, b), max(a, b)) for g in meta["planted"]["near_groups"]
               for i, a in enumerate(g) for b in g[i + 1:]]
    return {
        "dedup.candidate_pairs": len(pairs),
        "dedup.confirmed_pairs": len(confirmed),
        "dedup.candidate_yield": len(confirmed) / len(pairs) if len(pairs) else 0,
        "dedup.planted_recall": sum(p in found for p in planted) / len(planted) if planted else 0,
    }
