"""Seeded input generator for the benchmark workloads.

Writes the ten source tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet file
each, the schemas of `FIXTURES.md` section B) plus the per-workload inputs:

  base/         the ten tables at scale factor `SF`
  ingest/       `events` cut into landing batches; every batch after the
                first re-delivers a share of earlier event ids and carries
                late (out-of-order) rows held back from the batch before
  curation/     `documents` + `embeddings` with planted near-duplicates

The same seed always produces byte-identical files: every value comes
from one `numpy.random.default_rng([seed, table])` stream and the parquet
writer is pinned (one row group, fixed codec, no schema metadata).

Usage: python3 perfbench/gen.py <out_dir> --seed N
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ["row", "the", "query", "stream", "value", "hash", "batch", "sort",
         "data", "big", "filter", "dup", "fast", "spark", "line", "small",
         "customer", "group", "key", "agg", "scan", "slow", "table", "part",
         "a", "merge", "window", "order", "column", "join", "vector"]
DIM = 64
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")

# Scale factor of every generated input. The calls are dominated by per-job
# fixed cost at every small scale (sf0.01 adds about 13 s per
# warehouse_reports run on 4 cores for the same ranking), and a run must fit
# the benchmark's per-run time budget.
SF = 0.001

# ingest cut: batches per round, redelivered share, late share
INGEST_BATCHES = 12
REDELIVER_SHARE = 0.10
LATE_SHARE = 0.05
LATE_WINDOW_US = 12 * 3600 * 1_000_000  # late rows stay inside the 1-day watermark
# curation: share of corpus rows that get a planted near-duplicate
NEAR_DUP_SHARE = 0.15


def sizes(sf=SF):
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write(table, path):
    """One row group, no pandas metadata: same table -> same bytes."""
    pq.write_table(table.replace_schema_metadata(None), path,
                   row_group_size=max(1, table.num_rows),
                   compression="snappy", use_dictionary=True,
                   write_statistics=True)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed):
    n = sizes()
    rng = lambda salt: np.random.default_rng([seed, salt])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = rng(1)
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, c)].tolist()})
    r = rng(2)
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, s)})
    r = rng(3)
    p = n["part"]
    keys = np.arange(p)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, p), r.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, p)],
        "p_type": np.array(PTYPES)[r.integers(0, 6, p)].tolist(),
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0})
    r = rng(4)
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, c, o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, o)].tolist(),
        "o_totalprice": money(r, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(EPOCH_1995 + r.integers(0, 2405, o) * US_PER_DAY,
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, o)].tolist()})
    r = rng(5)
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": r.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(r, 900.0, 105000.0, li),
        "l_discount": money(r, 0.0, 0.1, li),
        "l_tax": money(r, 0.0, 0.08, li),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, li)].tolist(),
        "l_shipdate": pa.array(
            EPOCH_1995 + (1 + r.integers(0, 2499, li)) * US_PER_DAY,
            pa.timestamp("us"))})
    t["events"] = events_table(rng(6), n["events"])
    t["documents"] = documents_table(rng(7), n["documents"])
    t["embeddings"] = embeddings_table(rng(8), n["embeddings"])
    return t


def events_table(r, e):
    ts = np.sort(r.integers(0, 30 * US_PER_DAY, e))
    return pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(15, int(e * 0.015)), e), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, e)].tolist(),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)]})


def doc_text(r):
    return " ".join(np.array(WORDS)[r.integers(0, len(WORDS), r.integers(10, 100))])


def documents_table(r, d, texts=None):
    texts = texts if texts is not None else [doc_text(r) for _ in range(d)]
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, len(texts), p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def unit_rows(m):
    return (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)


def embeddings_table(r, n, vecs=None):
    vecs = vecs if vecs is not None else unit_rows(r.standard_normal((n, DIM)))
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, len(vecs)), pa.int32())})


def ingest_batches(seed, events):
    """Cut `events` (ts-ordered) into landing batches.

    Batch k (k >= 1) re-delivers REDELIVER_SHARE of its size as exact copies
    of rows from earlier batches, and LATE_SHARE of batch k's rows from its
    last LATE_WINDOW_US of event time are held back and landed with batch
    k + 1. Every held-back row stays within the stage stream's one-day
    watermark, so the distinct union of all landed rows is exactly what the
    staged feed must hold.
    """
    r = np.random.default_rng([seed, 9])
    n = events.num_rows
    ts = events.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    bounds = np.linspace(0, n, INGEST_BATCHES + 1).astype(int)
    chunks = [np.arange(bounds[k], bounds[k + 1]) for k in range(INGEST_BATCHES)]
    held = [np.array([], dtype=int)] * INGEST_BATCHES
    for k in range(INGEST_BATCHES - 1):
        idx = chunks[k]
        tail = idx[ts[idx] >= ts[idx].max() - LATE_WINDOW_US]
        take = r.choice(tail, min(len(tail), int(LATE_SHARE * len(idx))),
                        replace=False)
        held[k] = np.sort(take)
    out = []
    for k in range(INGEST_BATCHES):
        own = np.setdiff1d(chunks[k], held[k])
        late = held[k - 1] if k > 0 else np.array([], dtype=int)
        rows = np.concatenate([own, late])
        if k > 0:
            earlier = np.concatenate([np.setdiff1d(chunks[j], held[j])
                                      for j in range(k)])
            again = r.choice(earlier, int(REDELIVER_SHARE * len(chunks[k])),
                             replace=False)
            rows = np.concatenate([rows, np.sort(again)])
        out.append(events.take(pa.array(rows)))
    return out


def curation_corpus(seed, docs, embs):
    """Corpus with planted near-duplicates: NEAR_DUP_SHARE of the documents
    get an appended copy with a few words edited, and the same share of
    vectors an appended copy with small gaussian noise (re-normalised)."""
    r = np.random.default_rng([seed, 10])
    texts = docs.column("text").to_pylist()
    picks = r.choice(len(texts), int(NEAR_DUP_SHARE * len(texts)), replace=False)
    dups = []
    for i in np.sort(picks):
        w = texts[i].split(" ")
        for j in r.choice(len(w), max(1, len(w) // 20), replace=False):
            w[j] = WORDS[r.integers(0, len(WORDS))]
        dups.append(" ".join(w))
    documents = documents_table(r, 0, texts + dups)
    vecs = np.stack(embs.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    picks = np.sort(r.choice(len(vecs), int(NEAR_DUP_SHARE * len(vecs)), replace=False))
    noisy = unit_rows(vecs[picks] + 0.05 * r.standard_normal((len(picks), DIM)) / np.sqrt(DIM))
    embeddings = embeddings_table(r, 0, np.concatenate([vecs.astype(np.float32), noisy]))
    return documents, embeddings


def file_stats(path):
    with open(path, "rb") as f:
        data = f.read()
    return len(data), hashlib.sha256(data).hexdigest()


def generate(out_dir, seed):
    """Write every input under out_dir; return the manifest (rows, bytes and
    sha256 per file). Skips work when a manifest for (seed, SF) exists."""
    man_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
        if man.get("seed") == seed and man.get("sf") == SF:
            return man
    files = {}

    def put(rel, table):
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write(table, path)
        nbytes, digest = file_stats(path)
        files[rel] = {"rows": table.num_rows, "bytes": nbytes, "sha256": digest}

    t = base_tables(seed)
    for name, table in t.items():
        put(f"base/{name}.parquet", table)
    for k, b in enumerate(ingest_batches(seed, t["events"])):
        put(f"ingest/batch_{k:04d}.parquet", b)
    docs, embs = curation_corpus(seed, t["documents"], t["embeddings"])
    put("curation/documents.parquet", docs)
    put("curation/embeddings.parquet", embs)
    man = {"seed": seed, "sf": SF, "files": files}
    with open(man_path, "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    return man


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    man = generate(a.out_dir, a.seed)
    print(json.dumps({k: v["rows"] for k, v in man["files"].items()}))


if __name__ == "__main__":
    main()
