"""Seeded input generators for the benchmark.

Everything here is a pure function of (seed, scale): the same seed gives
byte-identical parquet tables and corpus.  Row counts depend only on the
scale, so every seed does the same amount of work.

* `tables(dir, seed, sf)` writes all ten engine tables with the schemas of
  the project's test fixtures (TPC-H-like star schema, `events`,
  `documents`, `embeddings`), so any `SparkEntry` query can join a
  workload by name in `workloads.json`.
* `corpus(dir, seed, ...)` writes a Zipf-distributed ASCII text corpus for
  the WordCount job plus its exact word counts.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def _documents(rng, n):
    """`n` texts; 5% are planted near-duplicates (an earlier text plus a
    marker word). Lengths are a permutation of a fixed multiset, so every
    seed has the same number of words."""
    dups = set(rng.choice(np.arange(10, n), n // 20, replace=False).tolist())
    lengths = iter(rng.permutation(np.linspace(8, 99, n).astype(int)))
    texts = []
    for i in range(n):
        k = next(lengths)
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), k)))
    return texts


def _embeddings(rng, n, dim=64, clusters=10):
    centers = rng.normal(size=(clusters, dim))
    labels = rng.permutation(np.arange(n) % clusters)
    v = centers[labels] + rng.normal(scale=0.9, size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def tables(dir_, seed, sf):
    """Write the ten tables at scale `sf` (sf=0.01: 60k lineitem rows)."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_o, n_e = int(1_500_000 * sf), int(1_000_000 * sf)
    n_d = n_v = max(100, int(50_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    _write(dir_, "region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(n_c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_c)]})
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(np.arange(n_s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    _write(dir_, "part", {
        "p_partkey": pa.array(np.arange(n_p), i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                   for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_p)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), i32),
        "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) / 10, 1)})
    odate = EPOCH_1995 + rng.integers(0, 2404, n_o) * DAY_US
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(n_o), i64),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), i64),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000, 500000, n_o),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_o)]})
    per = rng.permutation(np.resize(np.arange(1, 8), n_o))  # 1-7 lines per order
    n_l = int(per.sum())
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_o), per), i64),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), i64),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), i64),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per]), i32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100,
        "l_tax": rng.integers(0, 9, n_l) / 100,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_l)],
        "l_shipdate": _ts(EPOCH_1995 + 86_400_000_000 + rng.integers(0, 2498, n_l) * DAY_US)})
    gaps = rng.exponential(30 * DAY_US / n_e, n_e).astype(np.int64)
    _write(dir_, "events", {
        "event_id": pa.array(np.arange(n_e), i64),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(1, n_c // 10), n_e), i64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_e)],
        "value": np.maximum(0.01, np.round(rng.exponential(45.0, n_e), 2)),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_e)]})
    texts = _documents(rng, n_d)
    _write(dir_, "documents", {
        "doc_id": pa.array(np.arange(n_d), i64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(5, n_d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs, labels = _embeddings(rng, n_v)
    _write(dir_, "embeddings", {
        "vec_id": pa.array(np.arange(n_v), i64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def _word(i):
    """Word string for vocabulary id `i`: bijective base-26 in a-z."""
    s = []
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s.append(chr(97 + r))
    return "".join(reversed(s))


def corpus(dir_, seed, n_tokens, vocab, zipf_s=1.05):
    """Write `corpus.txt` (ASCII: single and double spaces, empty lines,
    leading/trailing spaces) and `counts.json` with its exact word counts.
    Returns the corpus path."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    # the id -> word map is seeded too, so the hot head differs per seed
    ids = rng.permutation(vocab)[rng.choice(vocab, n_tokens, p=p / p.sum())]
    words = np.array([_word(i) for i in range(vocab)], dtype=object)
    toks = words[ids]
    lines, pos = [], 0
    while pos < n_tokens:
        if rng.random() < 0.03:
            lines.append("")
            continue
        k = int(rng.integers(1, 40))
        sep = "  " if rng.random() < 0.1 else " "
        line = sep.join(toks[pos:pos + k])
        if rng.random() < 0.05:
            line = " " + line + " "
        lines.append(line)
        pos += k
    path = os.path.join(dir_, "corpus.txt")
    with open(path, "w", encoding="ascii") as f:
        f.write("\n".join(lines) + "\n")
    counts = np.bincount(ids, minlength=vocab)
    seen = np.nonzero(counts)[0]
    with open(os.path.join(dir_, "counts.json"), "w") as f:
        json.dump({words[i]: int(counts[i]) for i in seen}, f)
    return path
