#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

One process, no Spark: it writes the ten parquet tables the query registry
reads (`region` ... `embeddings`, same schemas and value domains as the
fixtures in FIXTURES.md) plus the corpus as plain text files for `WordCount.run`.
The same seed gives byte-identical files; the program under test sees only
what this writes.

    python3 perfbench/gen.py --workload curation --seed 7 --out DIR

The corpus knobs per workload live in WORKLOADS below; BENCHMARK.json's
`why` lines repeat them.
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus knobs. docs: documents rows; vocab/zipf: Zipf(zipf) word ranks over
# a vocab-word vocabulary; exact/near: share of documents that copy an
# earlier one verbatim / with an edit (spread over the originals by
# cluster_sizes); rel: relational table scale (1.0 = sf0.01 row counts).
# The edit of a near copy is `edit`: a share of its tokens replaced
# anywhere, or "last": its last token replaced, as when a re-crawled page
# differs only in a trailing date or counter. A document with copies has
# at least `near_min` tokens, so with "last" every pair in a duplicate
# cluster sits at shingle Jaccard >= 0.9 and unrelated documents stay below
# 0.5: the gap the banded-LSH queries' brute-force oracles state as their
# precondition (SparkEntry, q_dedup_neardup). A "5% anywhere" edit puts
# pairs at 0.4-0.75, where 8x2 banding misses a pair with probability up to
# 10%; that regime runs in `query_mix` through the exact prefix miner,
# whose oracle holds on any data. The arriving shard of the incremental
# queries is not a knob: Dedup.ingestSplitOf fixes it at the last fifth of
# the id range.
WORKLOADS = {
    "curation": dict(docs=1000, vocab=20000, zipf=1.1, exact=0.3, near=0.3,
                     edit="last", near_min=24, rel=0.1),
    "query_mix": dict(docs=500, vocab=2000, zipf=1.0, exact=0.0, near=0.02,
                      edit=0.05, near_min=0, rel=1.0),
}
# the r-th original gets copies in proportion to r^-DUP_ZIPF
DUP_ZIPF = 1.0

LANGS = ["en", "de", "fr", "es", "zh"]
LANG_WEIGHTS = [0.44, 0.14, 0.13, 0.145, 0.145]
SOURCES = 20
TEXT_FILES = 4

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00 in micros
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00 in micros


def vocabulary(rng, size):
    """`size` distinct lowercase pseudo-words, 2-10 letters, a few with
    accents so the NFC kernel sees non-ASCII input."""
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou" * 8) + ["é", "ü"]
    words, seen = [], set()
    while len(words) < size:
        n = int(rng.integers(1, 5))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                    for _ in range(n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def cluster_sizes(k):
    """Copies per original. The r-th original gets a share of the copies
    proportional to r^-DUP_ZIPF (largest remainder), so duplicate clusters
    are heavy-tailed, and every seed has the same clusters and the same
    number of duplicate pairs: the dedup queries' time must not follow the
    seed. (Copies of random earlier documents grow clusters rich-get-richer,
    and their pair count varies by about half across seeds.)"""
    n_copy = round(k["docs"] * (k["exact"] + k["near"]))
    n_orig = k["docs"] - n_copy
    share = np.arange(1, n_orig + 1, dtype=np.float64) ** -DUP_ZIPF
    share *= n_copy / share.sum()
    copies = np.floor(share).astype(np.int64)
    copies[np.argsort(copies - share, kind="stable")[:n_copy - copies.sum()]] += 1
    return copies


def corpus(rng, k):
    """(texts, langs, sources) with the exact/near duplicate mix of `k`: the
    clusters of cluster_sizes in seeded order, each original ahead of its
    copies."""
    words = np.array(vocabulary(rng, k["vocab"]), dtype=object)
    ranks = np.arange(1, k["vocab"] + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -k["zipf"])
    cdf /= cdf[-1]

    def draw(n):
        return words[np.minimum(np.searchsorted(cdf, rng.random(n)), len(words) - 1)]

    copies = cluster_sizes(k)
    labels = rng.permutation(np.repeat(np.arange(len(copies)), copies + 1))
    near = rng.permutation(np.arange(copies.sum()) < round(k["docs"] * k["near"]))
    texts, langs, first = [], [], {}
    for label in labels:
        j = first.get(label)
        if j is None:
            first[label] = len(texts)
            shortest = max(8, k["near_min"]) if copies[label] else 8
            texts.append(" ".join(draw(int(rng.integers(shortest, 91)))))
            langs.append(LANGS[int(rng.choice(len(LANGS), p=LANG_WEIGHTS))])
            continue
        toks = texts[j].split(" ")
        if near[len(texts) - len(first)]:
            if k["edit"] == "last":
                hit = np.zeros(len(toks), dtype=bool)
                hit[-1] = True
            else:
                hit = rng.random(len(toks)) < k["edit"]
                if not hit.any():
                    hit[int(rng.integers(len(toks)))] = True
            repl = draw(int(hit.sum()))
            toks = [repl[c] if h else t for t, h, c in
                    zip(toks, hit, np.cumsum(hit) - 1)]
        texts.append(" ".join(toks))
        langs.append(langs[j])
    sources = [f"src{i % SOURCES}" for i in range(k["docs"])]
    return texts, langs, sources


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def relational(rng, rel):
    """The star schema + events + embeddings, in sf0.01 row counts × rel."""
    n_cust, n_supp, n_part = int(1500 * rel), max(10, int(100 * rel)), int(2000 * rel)
    n_ord, n_ev, n_emb = int(15000 * rel), int(10000 * rel), 500
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]),
                                 pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(EPOCH_1995 + DAY_US + rng.integers(0, 2499, n_li) * DAY_US,
                               pa.timestamp("us"))})
    gaps = rng.integers(1, 2 * 30 * DAY_US // max(n_ev, 1), n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def generate(workload, seed, out):
    k = WORKLOADS[workload]
    rng = np.random.default_rng([seed, list(WORKLOADS).index(workload)])
    tables = relational(rng, k["rel"])
    texts, langs, sources = corpus(rng, k)
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts, "lang": langs, "source": sources,
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    os.makedirs(out, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    tdir = os.path.join(out, "texts")
    os.makedirs(tdir, exist_ok=True)
    for f in range(TEXT_FILES):
        with open(os.path.join(tdir, f"part-{f:05d}.txt"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(texts[f::TEXT_FILES]) + "\n")
    with open(os.path.join(out, "knobs.json"), "w") as fh:
        json.dump(dict(k, workload=workload, seed=seed), fh, sort_keys=True)
    return len(texts)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    n = generate(a.workload, a.seed, a.out)
    print(f"gen: {a.workload} seed={a.seed} docs={n} -> {a.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
