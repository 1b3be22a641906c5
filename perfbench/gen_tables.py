#!/usr/bin/env python3
"""Generate the registry's input tables: a TPC-H-like star schema plus the
`events`, `documents` and `embeddings` tables the LLM-data queries read.

The shapes, sizes and value ranges follow the repo's sf0.001/sf0.01/sf0.1
test tables (one parquet file per table, one row group). The generator seed
is fixed, so the tables, and with them the recorded per-query expected row
counts and digests, do not depend on the benchmark's --seed.

  python3 perfbench/gen_tables.py <outdir> [sf]     # sf defaults to 0.1

`drops` lands the documents as seeded id-range drops (one parquet file per
drop, file times in drop order) for the streaming workload.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def write(outdir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(outdir, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)) for k in lengths]
    # 5% near-duplicates (a copy of another document plus one token) and a
    # few exact duplicates; each base is used once, so no duplicate chains
    ids = rng.permutation(n)
    n_near, n_exact = n // 20, max(2, n // 600)
    dups, bases = ids[:n_near + n_exact], ids[n_near + n_exact:2 * (n_near + n_exact)]
    for i, (d, b) in enumerate(zip(dups, bases)):
        texts[d] = texts[b] + " dup" if i < n_near else texts[b]
    lang = rng.choice(LANGS, n, p=LANG_P)
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n)
    centers = rng.normal(0, 0.01, (labels, dim))
    v = centers[label] + rng.normal(0, 0.125, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


DOMAIN_DOCS = 20  # consecutive doc ids per URL domain


def drops(docs_path, outdir, seed, n_drops):
    """Splits the documents into `n_drops` contiguous id ranges of seeded
    sizes, cut only between URL domains, so each domain lives in one drop
    and the streamed verdicts equal batch curateV3's for any seed."""
    docs = pq.read_table(docs_path).sort_by("doc_id")
    n = docs.num_rows
    w = np.random.default_rng(seed).uniform(0.7, 1.3, n_drops)
    blocks = np.floor(np.cumsum(w / w.sum())[:-1] * n / DOMAIN_DOCS).astype(int)
    cuts = np.concatenate([[0], blocks * DOMAIN_DOCS, [n]])
    os.makedirs(outdir, exist_ok=True)
    t0 = 1700000000
    for d in range(n_drops):
        part = docs.slice(cuts[d], cuts[d + 1] - cuts[d])
        ids = part.column("doc_id").to_numpy()
        url = [f"https://www.b{i // DOMAIN_DOCS}-a.com/{i}" for i in ids]
        path = os.path.join(outdir, f"drop_{d:03d}.parquet")
        pq.write_table(part.select(["doc_id", "text", "lang"]).append_column("url", pa.array(url)),
                       path)
        os.utime(path, (t0 + d, t0 + d))


def main(outdir, sf, llm_only=False):
    """Writes every table, or with `llm_only` the documents and embeddings."""
    os.makedirs(outdir, exist_ok=True)
    n_docs, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    write(outdir, "documents", documents(np.random.default_rng(SEED), n_docs))
    write(outdir, "embeddings", embeddings(np.random.default_rng(SEED + 1), n_emb))
    if llm_only:
        return
    rng = np.random.default_rng(SEED + 2)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    write(outdir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(outdir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(outdir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    write(outdir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    write(outdir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    write(outdir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    write(outdir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days(rng, n_line, "1995-01-02", "2001-11-04")})
    gaps = rng.exponential(26.0, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        np.cumsum(gaps * 1e6).astype("timedelta64[us]")
    write(outdir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
