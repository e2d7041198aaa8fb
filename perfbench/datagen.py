"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the engine's queries read (a TPC-H-like star schema,
an `events` stream, `documents` text and `embeddings` vectors), one
single-row-group snappy parquet file each. Column names, parquet physical and
logical types (timestamps are INT64 TIMESTAMP(MICROS), not adjusted to UTC),
row counts and value ranges follow the project's test data; the values
themselves are drawn afresh. The same scale factor and seed always give
byte-identical values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

EPOCH_DAY = np.datetime64("1970-01-01", "D")


def day(s):
    return int((np.datetime64(s, "D") - EPOCH_DAY).astype(np.int64))


def ts_us(days):
    return pa.array(np.asarray(days, dtype=np.int64) * 86_400_000_000, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def documents(rng, n):
    lengths = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # near-duplicates (a copy with a few words replaced) and a handful of
    # exact copies, so the dedup families find something to merge
    for i in range(n):
        r = rng.random()
        if r < 0.06 and i > 0:
            src = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(src), 2):
                src[j] = WORDS[rng.integers(0, len(WORDS))]
            texts[i] = " ".join(src)
        elif r < 0.062 and i > 0:
            texts[i] = texts[rng.integers(0, i)]
    return texts


def generate(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_orders, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(150, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist()})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": [f"{COLORS[c]} {NOUNS[k]}" for c, k in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)].tolist(),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": ts_us(rng.integers(day("1995-01-01"), day("2001-08-01") + 1, n_orders)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)].tolist()})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)].tolist(),
        "l_shipdate": ts_us(rng.integers(day("1995-01-02"), day("2001-11-04") + 1, n_line))})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, n_events))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)].tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = documents(rng, n_docs)
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)].tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.05, (n_vecs, 64))).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
