"""Seeded data tables for the capstone and operator-mix workloads.

The tables have the layout and value ranges of the repository's TPC-H-ish
test data (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), scaled by `sf`. The same seed and scale
give the same files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
COLORS = np.array(["red", "blue", "green", "black", "white", "small", "large"])
NOUNS = np.array(["ring", "widget", "bolt", "gear", "panel", "valve"])
PTYPES = np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def _days(rng, n, start, end):
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start, "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def generate(dir_, seed, sf):
    """Writes every table into `dir_` as `<name>.parquet`."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_users, n_docs = int(1000000 * sf), max(10, int(15000 * sf)), int(50000 * sf)

    _write(dir_, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dir_, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(dir_, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    _write(dir_, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(dir_, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(COLORS[rng.integers(0, len(COLORS), n_part)], " "),
                              NOUNS[rng.integers(0, len(NOUNS), n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PTYPES[rng.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(dir_, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    _write(dir_, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    _write(dir_, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(20.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(k))])
             for k in rng.integers(10, 100, n_docs)]
    _write(dir_, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 0.1, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.08, (n_docs, 64))).astype(np.float32)
    _write(dir_, "embeddings", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
