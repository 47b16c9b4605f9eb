#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes a snapshot (one parquet per table, the layout `graft.sources.Snapshot`
reads) shaped like the TPC-H-ish test snapshots: same tables, columns, types
and value ranges. With `--corpus-docs N` it also writes `corpus.parquet`, the
documents table amplified to N rows with planted exact duplicates, near
duplicates and low-quality documents, and `truth.json` naming every planted
document.

The same seed gives byte-identical inputs. Run it as its own process so the
benchmark's JVM starts cold:

    python3 perfbench/gen.py --seed 7 --sf 0.1 --out snap_dir [--corpus-docs 10000]
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "red", "green", "large", "small", "hot", "cold", "shiny",
         "steel", "brass", "light", "heavy", "smooth"]
P_NOUN = ["bolt", "gear", "ring", "widget", "anvil"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
STOPWORDS = ["the", "a", "is", "of", "and"]
# 195 topic words: random documents then share almost no word 3-shingles,
# so the only near duplicates in a corpus are the planted ones
TOPIC = [f"{a}{b}" for a in ["spark", "scan", "join", "sort", "hash", "agg", "row",
                             "key", "data", "part", "line", "order", "query",
                             "table", "value"]
         for b in ["", "er", "ing", "ed", "s", "al", "ic", "ist", "ure", "ion",
                   "ment", "ness", "ity"]]
JUNK = ["!!!", "###", "$$$", "%%", "&&", "***", "@@", "~~", "^^", "::"]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def table(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, lo, hi, n):
    """Midnight timestamps, `lo`..`hi` days after 1995-01-01."""
    return EPOCH_1995 + rng.integers(lo, hi, n).astype("int64") * DAY_US


def doc_text(rng, n_words):
    words = rng.choice(TOPIC, n_words)
    stop = rng.random(n_words) < rng.uniform(0.15, 0.3)
    words[stop] = rng.choice(STOPWORDS, int(stop.sum()))
    return words


def snapshot(rng, sf, out):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)

    table(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    table(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})
    table(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    table(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    partkey = np.arange(n_part, dtype="int64")
    retail = np.round(900.0 + (partkey % 1000) / 10.0, 2)
    table(out, "part", {
        "p_partkey": partkey,
        "p_name": np.char.add(np.char.add(rng.choice(P_ADJ, n_part), " "),
                              rng.choice(P_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": retail})
    table(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(rng, 0, 2404, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    table(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.02, 2.33, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days(rng, 1, 2499, n_line)})
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * DAY_US, n_ev).astype("int64"))
    table(out, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(doc_text(rng, int(n))) for n in rng.integers(8, 100, n_docs)]
    table(out, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    table(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32")})


def corpus(rng, n_docs, out, exact_rate=0.05, near_rate=0.05, junk_rate=0.08):
    """`n_docs` documents: base docs, then planted copies. Each planted copy
    gets a higher id than its source, so keep-lowest-id dedup removes exactly
    the copies."""
    n_exact, n_near, n_junk = (int(n_docs * r) for r in (exact_rate, near_rate, junk_rate))
    n_base = n_docs - n_exact - n_near - n_junk
    words = [doc_text(rng, int(n)) for n in rng.integers(30, 140, n_base)]
    texts = [" ".join(w) for w in words]
    quality = ["ok"] * n_base
    # near copies: one word of a >= 60-word doc replaced — word 3-shingle
    # Jaccard >= 0.9, far above the 0.5 verify threshold and the LSH knee
    long_docs = np.flatnonzero(np.array([len(w) for w in words]) >= 60)
    near_src = rng.choice(long_docs, n_near)
    for s in near_src:
        w = list(words[s])
        i = int(rng.integers(0, len(w)))
        w[i] = "planted" + str(int(rng.integers(0, 10**6)))
        texts.append(" ".join(w))
        quality.append("ok")
    # low quality: too few words, or punctuation-heavy (quality score far
    # below the 0.25 threshold)
    for j in range(n_junk):
        if j % 2 == 0:
            texts.append(" ".join(doc_text(rng, int(rng.integers(5, 10)))))
        else:
            texts.append(" ".join(rng.choice(JUNK, int(rng.integers(15, 25)))))
        quality.append("junk")
    # exact copies of base or junk docs: identical text
    exact_src = rng.integers(0, len(texts), n_exact)
    for s in exact_src:
        texts.append(texts[s])
        quality.append(quality[s])
    ids = np.arange(n_docs, dtype="int64")
    table(out, "corpus", {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str))})
    first_exact = n_base + n_near + n_junk
    truth = {
        "n_docs": n_docs,
        "exact_copies": list(range(first_exact, n_docs)),
        "near_copies": list(range(n_base, n_base + n_near)),
        "junk": [i for i, q in enumerate(quality) if q == "junk"],
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--corpus-docs", type=int, default=0)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    rng = np.random.default_rng(a.seed)
    snapshot(rng, a.sf, a.out)
    if a.corpus_docs:
        corpus(np.random.default_rng([a.seed, 1]), a.corpus_docs, a.out)


if __name__ == "__main__":
    main()
