"""Seeded generator for the benchmark's input tables.

Writes the ten tables graft's `Tables.declared` registry expects
(region … lineitem, events, documents, embeddings), one parquet file each,
with the column types of the TPC-H-ish synthetic data the project's gates
run on. The same (seed, scale) always yields byte-identical values, so a
run on one commit and a run on another see the same inputs.

Scale follows the TPC-H convention: at scale 0.01 there are 15,000 orders
and 60,000 lineitems. Documents and embeddings have fixed floors (500 rows)
so the training-data queries have a corpus at every scale.

The shape of the data is fitted to the gate data: `profile` computes the
figures the workloads' cost depends on (document lengths, vocabulary,
near-duplicate families, shingle frequencies, orders per day, lineitems per
order), `GATE_PROFILE` holds them as measured on the gate data at scale
0.01, and the harness's tests check that the mean over a few seeds stays
within `PROFILE_TOLERANCE` of them.

Usage: python3 gen_data.py <out_dir> <seed> <scale>
       python3 gen_data.py --profile <dir>    # figures of any input directory
"""
import collections
import datetime as dt
import json
import os
import statistics
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "new", "old", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "plate", "rod", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

ORDER_LO = dt.date(1995, 1, 1)
ORDER_HI = dt.date(2001, 8, 1)
SHIP_LO = dt.date(1995, 1, 2)
SHIP_HI = dt.date(2001, 11, 4)
EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENTS_SPAN_US = 30 * 86400 * 10**6
EMB_DIM = 64


def _days(rng, lo, hi, n):
    """n midnight timestamps uniform over [lo, hi], as µs since epoch."""
    base = (lo - dt.date(1970, 1, 1)).days
    span = (hi - lo).days + 1
    return (base + rng.integers(0, span, n)).astype("int64") * 86400 * 10**6


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(seed, scale):
    """Return {table name: pyarrow.Table} for one (seed, scale)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_ord = max(10, int(1_500_000 * scale))
    n_line = max(10, int(6_000_000 * scale))
    n_ev = max(10, int(1_000_000 * scale))
    n_users = max(10, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})

    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)})

    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})

    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _choice(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})

    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(_days(rng, ORDER_LO, ORDER_HI, n_ord)),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})

    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, SHIP_LO, SHIP_HI, n_line))})

    t0 = int((EVENTS_T0 - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts(t0 + np.sort(rng.integers(0, EVENTS_SPAN_US, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n_docs)]
    # one document in twenty is an exact copy of another plus a marker word,
    # the near-duplicate signal the dedup queries look for
    for d in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[d] = texts[(d + 1 + rng.integers(0, n_docs - 1)) % n_docs] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64"))})

    v = rng.standard_normal((n_emb, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype("int32"))})
    return out


def write(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# profile() of the gate data at scale 0.01 (500 documents, 15,000 orders)
GATE_PROFILE = {
    "doc_words_min": 10, "doc_words_median": 56.0, "doc_words_max": 99,
    "vocabulary": 31, "dup_docs": 24, "near_dup_families": 23, "largest_family": 3,
    "max_3shingle_docs": 7, "max_5shingle_docs": 3,
    "order_days": 2399, "orders_per_day_median": 6.0, "orders_per_day_var": 5.87,
    "orders_per_day_p99": 12.0, "lines_per_order_median": 4.0, "lines_per_order_p99": 9.0,
}
# allowed relative distance of a generated figure from GATE_PROFILE's
PROFILE_TOLERANCE = 0.35


def profile(t):
    """Shape figures of one set of input tables ({name: pyarrow.Table}).

    dup_docs counts documents whose text is another document's text plus
    trailing words; near_dup_families groups documents whose word
    5-shingle sets have Jaccard similarity >= 0.5 and counts the groups of
    two or more; max_kshingle_docs is the most documents one word
    k-shingle occurs in."""
    texts = t["documents"].column("text").to_pylist()
    words = [x.split() for x in texts]
    lens = [len(w) for w in words]

    def shingles(w, k):
        return {" ".join(w[i:i + k]) for i in range(max(1, len(w) - k + 1))}

    known = set(texts)
    dup = sum(1 for w in words if any(" ".join(w[:-k]) in known for k in (1, 2, 3)))
    df3 = collections.Counter(g for w in words for g in shingles(w, 3))
    sh5 = [shingles(w, 5) for w in words]
    df5 = collections.Counter(g for s in sh5 for g in s)
    by = collections.defaultdict(list)
    for i, s in enumerate(sh5):
        for g in s:
            by[g].append(i)
    parent = list(range(len(texts)))

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for ids in by.values():
        for a in ids:
            for b in ids:
                if a < b and len(sh5[a] & sh5[b]) * 2 >= len(sh5[a] | sh5[b]):
                    parent[root(a)] = root(b)
    fams = collections.Counter(root(i) for i in range(len(texts)))
    fam_sizes = [n for n in fams.values() if n > 1]
    days = collections.Counter(t["orders"].column("o_orderdate").cast("int64").to_pylist())
    lines = collections.Counter(t["lineitem"].column("l_orderkey").to_pylist())
    return {
        "doc_words_min": min(lens), "doc_words_median": float(statistics.median(lens)),
        "doc_words_max": max(lens),
        "vocabulary": len({x for w in words for x in w}), "dup_docs": dup,
        "near_dup_families": len(fam_sizes), "largest_family": max(fam_sizes, default=1),
        "max_3shingle_docs": max(df3.values()), "max_5shingle_docs": max(df5.values()),
        "order_days": len(days),
        "orders_per_day_median": float(statistics.median(days.values())),
        "orders_per_day_var": round(float(np.var(list(days.values()))), 2),
        "orders_per_day_p99": float(np.percentile(list(days.values()), 99)),
        "lines_per_order_median": float(statistics.median(lines.values())),
        "lines_per_order_p99": float(np.percentile(list(lines.values()), 99)),
    }


def read(data_dir):
    """The input tables of a directory written by `write` (or the gate's)."""
    return {n: pq.read_table(os.path.join(data_dir, f"{n}.parquet"))
            for n in ("documents", "orders", "lineitem")}


if __name__ == "__main__":
    if sys.argv[1] == "--profile":
        print(json.dumps(profile(read(sys.argv[2])), indent=1))
    else:
        write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
