#!/usr/bin/env python3
"""Seeded corpus generator for the corpus_mix workload.

An adapted copy of tools/gen_sf.py: the same tables, schemas and
distribution shapes (TPC-H-like star schema, a TIMESTAMP_NS events
stream, Zipfian documents with near-duplicate families, 64-dim
embeddings), with the seed taken from the command line instead of the
fixed 42, and the clustered-embedding option dropped. The same seed and
scale give byte-identical parquet files.

Usage: python3 gen_corpus.py --seed 1 --sf 0.02 --out /path/to/corpus
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ap = argparse.ArgumentParser()
ap.add_argument("--seed", type=int, required=True)
ap.add_argument("--sf", type=float, required=True)
ap.add_argument("--out", required=True)
args = ap.parse_args()
sf, out = args.sf, args.out
os.makedirs(out, exist_ok=True)
rng = np.random.default_rng(args.seed)

DAY_US = 86_400_000_000


def write(name, table):
    pq.write_table(table, f"{out}/{name}.parquet")


# ---- fixed dims (identical content at every sf, like the testdata's) ----
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
write("region", pa.table({
    "r_regionkey": pa.array(range(5), pa.int32()),
    "r_name": REGIONS}))
write("nation", pa.table({
    "n_nationkey": pa.array(range(25), pa.int32()),
    "n_name": [f"NATION_{i}" for i in range(25)],
    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

# ---------------------------------------------------------- customer
n_cust = int(150_000 * sf)
write("customer", pa.table({
    "c_custkey": pa.array(range(n_cust), pa.int64()),
    "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
    "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
    "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
    "c_mktsegment": pa.array(np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )[rng.integers(0, 5, n_cust)])}))

# ---------------------------------------------------------- supplier
n_supp = int(10_000 * sf)
write("supplier", pa.table({
    "s_suppkey": pa.array(range(n_supp), pa.int64()),
    "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
    "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
    "s_acctbal": np.round(rng.uniform(0, 10000, n_supp), 2)}))

# ---------------------------------------------------------- part
n_part = int(200_000 * sf)
adjs = np.array(["large", "hot", "blue", "red", "small", "dark", "light",
                 "green", "cold", "plain"])
nouns = np.array(["ring", "bolt", "nut", "washer", "gear", "cog", "pin",
                  "rod", "cap", "plug"])
write("part", pa.table({
    "p_partkey": pa.array(range(n_part), pa.int64()),
    "p_name": [f"{a} {b}" for a, b in zip(
        adjs[rng.integers(0, 10, n_part)], nouns[rng.integers(0, 10, n_part)])],
    "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
    "p_type": pa.array(np.array(
        ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    )[rng.integers(0, 6, n_part)]),
    "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
    "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2)}))

# ---------------------------------------------------------- orders
n_ord = int(1_500_000 * sf)
d0 = np.datetime64("1995-01-01").astype("datetime64[us]").astype(np.int64)
span_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")) \
    .astype(np.int64)
write("orders", pa.table({
    "o_orderkey": pa.array(range(n_ord), pa.int64()),
    "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
    "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
    "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
    "o_orderdate": pa.array(
        d0 + rng.integers(0, span_days, n_ord) * DAY_US, pa.timestamp("us")),
    "o_orderpriority": pa.array(np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )[rng.integers(0, 5, n_ord)])}))

# ---------------------------------------------------------- lineitem
n_li = int(6_000_000 * sf)
li_ship_span = (np.datetime64("2001-11-05") - np.datetime64("1995-01-02")) \
    .astype(np.int64)
d1 = np.datetime64("1995-01-02").astype("datetime64[us]").astype(np.int64)
write("lineitem", pa.table({
    "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
    "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
    "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
    "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
    "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
    "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
    "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
    "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
    "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
    "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
    "l_shipdate": pa.array(
        d1 + rng.integers(0, li_ship_span, n_li) * DAY_US, pa.timestamp("us"))}))

# ---------------------------------------------------------- events
# ts is TIMESTAMP_NS on purpose — the testdata's events.parquet is nanos
# and the engine's nanosAsLong read path must be exercised at this sf
n_ev = int(1_000_000 * sf)
n_users = int(15_000 * sf)
ev0 = np.datetime64("2024-01-01").astype("datetime64[ns]").astype(np.int64)
ev_span = 30 * 86_400_000_000_000  # 30 days of ns
write("events", pa.table({
    "event_id": pa.array(range(n_ev), pa.int64()),
    "ts": pa.array(ev0 + np.sort(rng.integers(0, ev_span, n_ev)), pa.timestamp("ns")),
    "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
    "event_type": pa.array(np.array(
        ["click", "error", "purchase", "signup", "view"]
    )[rng.integers(0, 5, n_ev)]),
    "value": np.round(rng.exponential(70.0, n_ev), 2),
    "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]}))

# ---------------------------------------------------------- documents
# Zipfian ~50k-word vocabulary (round-6 change): the original 30-word
# vocab made the 3-shingle space FIXED, so per-shingle df grew linearly
# with corpus size — adversarial for dd04's pair aggregate and
# unrealistically easy for the hashing dedup family. Real corpora are
# Zipfian: a small head of very common words plus a long tail, so the
# shingle space GROWS with the corpus and per-shingle df saturates.
# The 30 original words stay as the Zipf head (ranks 0-29), keeping the
# testdata's stopword overlap and the 'dup' marker semantics; the tail is
# 50k syllable-composed words drawn with p ~ 1/rank^1.05. Doc shapes
# (8-90 word bags) and the near-dup FAMILY mechanics are unchanged:
# ~1% of docs are family bases, variants perturb 2 words and splice in
# 'dup', half the families carry one EXACT dup — so dd01/dd03/dd04/dd08
# pair counts still scale linearly with sf.
HEAD = """spark window merge table column vector stream value data
small join filter big group hash customer sort order slow line part fast the
row agg key query a scan batch""".split()
SYL = ["ba", "do", "ke", "mi", "ra", "su", "ten", "vol", "zen", "lo",
       "par", "qui", "nos", "tel", "gam", "hul", "dri", "fex", "mon", "cav"]
V = 50_000


def tail_word(i):
    # deterministic syllable composition; 3+ syllables so tail words
    # can never collide with the short head words
    s, n = [], i
    while n > 0 or len(s) < 3:
        s.append(SYL[n % len(SYL)])
        n //= len(SYL)
    return "".join(s)


VOCAB = np.array(HEAD + [tail_word(i) for i in range(V - len(HEAD))])
assert len(set(VOCAB)) == V, "vocab collision"
zipf_p = 1.0 / np.power(np.arange(1, V + 1), 1.05)
zipf_p /= zipf_p.sum()
n_doc = int(50_000 * sf)
langs = np.array(["en", "zh", "es", "fr", "de"])
lang_p = np.array([0.40, 0.15, 0.15, 0.15, 0.15])

doc_lens = rng.integers(8, 91, n_doc)
all_idx = rng.choice(V, int(doc_lens.sum()), p=zipf_p)
offs = np.concatenate([[0], np.cumsum(doc_lens)])
texts = [" ".join(VOCAB[all_idx[offs[i]:offs[i + 1]]]) for i in range(n_doc)]
fam = max(1, n_doc // 100)  # 1% of docs are family BASES
for f in range(fam):
    base_id = int(rng.integers(0, n_doc))
    var_id = (base_id + 1 + int(rng.integers(0, n_doc - 1))) % n_doc
    if f % 2 == 0:
        texts[var_id] = texts[base_id]          # exact duplicate
    else:
        words = texts[base_id].split()
        for _ in range(2):
            words[int(rng.integers(0, len(words)))] = "dup"
        texts[var_id] = " ".join(words)          # near duplicate
write("documents", pa.table({
    "doc_id": pa.array(range(n_doc), pa.int64()),
    "text": texts,
    "lang": pa.array(langs[rng.choice(5, n_doc, p=lang_p)]),
    "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
    "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

# ---------------------------------------------------------- embeddings
n_emb = int(20_000 * sf)
vecs = rng.normal(0, 0.1, (n_emb, 64)).astype(np.float32)
labels = rng.integers(0, 10, n_emb).astype(np.int32)
write("embeddings", pa.table({
    "vec_id": pa.array(range(n_emb), pa.int64()),
    "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    "label": pa.array(labels, pa.int32())}))

