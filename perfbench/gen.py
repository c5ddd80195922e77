#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Usage: python3 perfbench/gen.py <workload> <seed> <outDir> [--tiny]

Writes the fixture-shaped parquet tables the engine's query packs read
(region nation customer supplier part orders lineitem events documents
embeddings, schemas as in the fixture set) plus the workload's own side
inputs, and a `sizes.json` describing row counts and the stated shares.
The same (workload, seed) always yields byte-identical tables; the engine
only ever sees these files.

Shapes:
  - star schema + events: one base slice replicated `copies` times with
    every key shifted by i * 10^8 per copy (the scale-up recipe of the
    repo's scaling generator), so joins stay copy-local;
  - documents: word salad over the fixture vocabulary with a stated
    exact-duplicate share and near-duplicate share (one word swapped);
  - embeddings: Gaussian parents plus seeded noisy copies (no exact
    clones), labels 0..9;
  - ANN requests: query vectors, each a noisy copy of a corpus vector;
  - ingest: base documents with vectors, then fixed-size drops of adds
    (a stated share near-duplicates of base documents) and deletes (a
    stated share).
Every workload gets all of these, so a traced run can time every layer on
its own inputs.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OFF = 10 ** 8
DIM = 64
VOCAB = ("a the query row stream spark line small fast group customer batch "
         "sort value hash filter big data part column order scan slow agg key "
         "window table merge vector join").split()
LANGS = ["en", "en", "de", "zh", "fr", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["signup", "click", "view", "purchase", "error"]

# Per-workload sizes. `sf` sizes the star-schema base slice (fixture
# ratios: lineitem = 6e6 * sf), `copies` replicates it with key offsets.
# Every workload also gets ANN requests and ingest drops, so a traced run
# can time the serving and ingest layers on its own inputs.
COMMON = dict(sf=0.001, copies=1, docs=500, dup=0.0, near=0.0, parents=200,
              vcopies=2, requests=4, per_request=8, base=200, drops=2, drop=40,
              drop_near=0.25, drop_del=0.10)
SIZES = {
    "etl_scan": dict(COMMON, sf=0.01, copies=2),
    "curation": dict(COMMON, docs=3000, dup=0.10, near=0.10),
    "vector_serve": dict(COMMON, requests=24, base=300),
    "ingest_cdc": dict(COMMON, base=600, drops=6),
}
TINY = dict(sf=0.001, copies=1, docs=200, parents=100, requests=6, base=120,
            drops=2, drop=16)


def ts_ms(days):
    return pa.array((days * 86400000).astype("int64"), pa.timestamp("ms"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_slice(rng, sf):
    n_cust, n_supp = max(int(150000 * sf), 50), max(int(10000 * sf), 10)
    n_part, n_ord = max(int(200000 * sf), 50), max(int(1500000 * sf), 200)
    n_line, n_ev = n_ord * 4, max(int(1000000 * sf), 200)
    base = np.datetime64("1995-01-01", "D").astype("int64")
    t = {}
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    odays = base + rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_ms(odays),
        "o_orderpriority": np.array(PRIORITY)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts_ms(base + 1 + rng.integers(0, 2499, n_line))})
    ev0 = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(ev0 + rng.integers(0, 30 * 86400 * 10 ** 6, n_ev))
    et = rng.integers(0, 5, n_ev)
    val = np.round(rng.exponential(20.0, n_ev) + np.where(et == 3, 150.0, 0.0), 2)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_cust // 10, 10), n_ev).astype("int64"),
        "event_type": np.array(ETYPES)[et],
        "value": val,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t


KEYS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}


def replicate(tbl, keys, copies):
    parts = []
    for i in range(copies):
        t = tbl
        for c in keys:
            j = t.schema.get_field_index(c)
            t = t.set_column(j, t.schema.field(j),
                             pa.array(t.column(c).to_numpy() + i * OFF))
        parts.append(t)
    return pa.concat_tables(parts)


def salad(rng, n_words):
    return " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)])


def near_copy(rng, text):
    """Swap one word: 3-shingle Jaccard stays far above the 0.5 cut."""
    w = text.split(" ")
    i = int(rng.integers(0, len(w)))
    w[i] = VOCAB[(VOCAB.index(w[i]) + 1 + int(rng.integers(0, len(VOCAB) - 1)))
                 % len(VOCAB)]
    return " ".join(w)


def corpus(rng, n, dup, near):
    """n texts: (1 - dup - near) fresh, then exact and near copies of fresh
    ones, shuffled. Returns texts and per-doc kind (0 fresh, 1 exact, 2 near)."""
    n_dup, n_near = int(round(n * dup)), int(round(n * near))
    n_fresh = n - n_dup - n_near
    texts = [salad(rng, int(rng.integers(20, 101))) for _ in range(n_fresh)]
    kind = [0] * n_fresh
    src = rng.integers(0, n_fresh, n_dup + n_near)
    texts += [texts[s] for s in src[:n_dup]]
    texts += [near_copy(rng, texts[s]) for s in src[n_dup:]]
    kind += [1] * n_dup + [2] * n_near
    order = rng.permutation(n)
    return [texts[i] for i in order], [kind[i] for i in order]


def doc_table(rng, ids, texts):
    n = len(texts)
    return pa.table({
        "doc_id": np.asarray(ids, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})


def vectors(rng, parents, copies, sigma=0.03):
    """Gaussian parents (fixture-like N(0, 0.125)) plus `copies - 1` noisy
    copies each; rows shuffled so copies are not id-adjacent."""
    p = rng.normal(0.0, 0.125, (parents, DIM))
    allv = [p] + [p + rng.normal(0.0, sigma, p.shape) for _ in range(copies - 1)]
    v = np.concatenate(allv)[rng.permutation(parents * copies)]
    return v.astype("float32"), rng.integers(0, 10, len(v)).astype("int32")


def emb_table(ids, v, labels):
    flat = pa.array(v.reshape(-1), pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(v) * DIM + 1, DIM, dtype="int32")), flat)
    return pa.table({"vec_id": np.asarray(ids, dtype="int64"),
                     "embedding": emb, "label": labels})


def write(out, name, tbl):
    pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def main(workload, seed, out, tiny=False):
    cfg = dict(SIZES[workload])
    if tiny:
        cfg.update(TINY)
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    os.makedirs(out, exist_ok=True)
    write(out, "region", pa.table({
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}))
    write(out, "nation", pa.table({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")}))
    for name, tbl in star_slice(rng, cfg["sf"]).items():
        write(out, name, replicate(tbl, KEYS[name], cfg["copies"]))
    sizes = {"workload": workload, "seed": seed, "tiny": tiny,
             "star_sf": cfg["sf"], "star_copies": cfg["copies"]}

    texts, kind = corpus(rng, cfg["docs"], cfg["dup"], cfg["near"])
    write(out, "documents", doc_table(rng, range(len(texts)), texts))
    sizes.update(docs=len(texts), exact_dup_share=kind.count(1) / len(kind),
                 near_dup_share=kind.count(2) / len(kind))

    v, labels = vectors(rng, cfg["parents"], cfg["vcopies"])
    write(out, "embeddings", emb_table(range(len(v)), v, labels))
    sizes.update(vectors=len(v), vector_parents=cfg["parents"],
                 vector_copies=cfg["vcopies"])

    n_q = cfg["requests"] * cfg["per_request"]
    src = rng.integers(0, len(v), n_q)
    qv = v[src] + rng.normal(0.0, 0.03, (n_q, DIM)).astype("float32")
    write(out, "queries", pa.table({
        "request": np.repeat(np.arange(cfg["requests"]), cfg["per_request"]),
        "q_id": np.arange(n_q, dtype="int64") + OFF,
        "qv": pa.array(list(qv.astype("float64")), pa.list_(pa.float64()))}))
    sizes.update(requests=cfg["requests"], per_request=cfg["per_request"])

    nb, nd, k = cfg["base"], cfg["drops"], cfg["drop"]
    base_texts = [salad(rng, int(rng.integers(20, 101))) for _ in range(nb)]
    bv, bl = vectors(rng, nb, 1)
    rows, next_id = [], nb
    live = list(range(nb))
    for d in range(nd):
        n_del = int(round(k * cfg["drop_del"]))
        n_near = int(round(k * cfg["drop_near"]))
        dels = [live.pop(int(rng.integers(0, len(live)))) for _ in range(n_del)]
        for i in dels:
            rows.append((d, i, "", 0, [0.0] * DIM, "del", 0))
        for j in range(k - n_del):
            if j < n_near:  # near copy of a live base document
                s = live[int(rng.integers(0, len(live)))]
                text, dup = near_copy(rng, base_texts[s]), 1
            else:
                text, dup = salad(rng, int(rng.integers(20, 101))), 0
            vec = rng.normal(0.0, 0.125, DIM)
            rows.append((d, next_id, text, int(rng.integers(0, 10)),
                         list(vec), "add", dup))
            next_id += 1
    base = pa.table({
        "doc_id": np.arange(nb, dtype="int64"), "text": base_texts,
        "label": bl,
        "vec": pa.array(list(bv.astype("float64")), pa.list_(pa.float64()))})
    write(out, "ingest_base", base)
    cols = list(zip(*rows))
    write(out, "ingest_drops", pa.table({
        "drop": np.asarray(cols[0], dtype="int32"),
        "doc_id": np.asarray(cols[1], dtype="int64"),
        "text": list(cols[2]), "label": np.asarray(cols[3], dtype="int32"),
        "vec": pa.array(list(cols[4]), pa.list_(pa.float64())),
        "op": list(cols[5]), "near_dup": np.asarray(cols[6], dtype="int8")}))
    n_adds = sum(1 for r in rows if r[5] == "add")
    sizes.update(base_docs=nb, drops=nd, drop_size=k,
                 drop_near_dup_share=sum(r[6] for r in rows) / len(rows),
                 drop_delete_share=(len(rows) - n_adds) / len(rows))
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(sizes, f)
    return sizes


if __name__ == "__main__":
    a = [x for x in sys.argv[1:] if not x.startswith("--")]
    print(json.dumps(main(a[0], int(a[1]), a[2], "--tiny" in sys.argv)))
