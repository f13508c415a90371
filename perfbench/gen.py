"""Input generators for the benchmark workloads.

Two kinds of input:

* ``registry_tables`` writes the ten parquet tables the query registry
  reads (TPC-H-shaped star schema, a generic ``events`` table, a text
  ``documents`` table and unit-norm ``embeddings``). The content is fixed
  (it does not depend on the run seed) so every query's output can be
  checked against digests pinned in ``pins/registry.json``; the run seed
  only sets the order in which the queries are run.
* ``clickstream`` builds a RetailRocket-shaped raw archive from the run
  seed: view / addtocart / transaction events (transactions near 0.8 %),
  Zipf-skewed visitor and item keys, a few bot-grade hot visitors, and
  bounded event-time disorder. Events are grouped into files (release
  slots, or the files of a drain backlog); the harness turns each file
  into one Kafka-envelope file.
"""
import csv
import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGISTRY_SEED = 20240101

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["error", "click", "view", "signup", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PART_WORDS = ["small", "red", "blue", "green", "large", "steel", "brass", "tiny"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "nut", "spring", "pin", "valve"]


def _ts(base, seconds):
    """Naive microsecond timestamps ``base + seconds``."""
    us = (np.asarray(seconds) * 1_000_000).astype("int64")
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + us, type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def registry_tables(out_dir, scale=1.0):
    """Write the registry's ten tables into ``out_dir`` (fixed content)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(REGISTRY_SEED)
    n_cust, n_orders, n_line = int(1500 * scale), int(15000 * scale), int(60000 * scale)
    n_part, n_supp, n_events, n_docs, n_vecs = (
        int(2000 * scale), 100, int(10000 * scale), int(500 * scale), int(500 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    order_days = rng.integers(0, 2400, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("P", "F", "O")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), order_days * 86400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})
    l_order = rng.integers(0, n_orders, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          (order_days[l_order] + rng.integers(1, 120, n_line)) * 86400)})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), secs),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i % 20 == 19:
            # near-duplicate of an earlier document: one word changed
            words = texts[i - 7].split()
            words[len(words) // 2] = "dup"
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=[.44, .15, .14, .14, .13])],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def _zipf_keys(rng, n, domain, s):
    """``n`` keys in ``[0, domain)`` with Zipf(s) frequencies over a seeded
    permutation, so the hot keys differ from seed to seed."""
    ranks = np.arange(1, domain + 1, dtype="float64")
    p = ranks ** -s
    p /= p.sum()
    return rng.permutation(domain)[rng.choice(domain, n, p=p)]


def clickstream(out_dir, seed, prefix, sizes, event_gap_s=30, max_disorder_s=1200,
                visitors=4000, items=3000, bots=3, bot_share=0.06):
    """Write a raw clickstream archive as CSV files ``<prefix>-00000.csv``
    ... (the reference's 5-string raw shape), file ``i`` holding
    ``sizes[i]`` events, and return the number of events.

    Event ``k`` of the archive falls in ``[k, k+1) * event_gap_s`` seconds
    after the archive start, less up to ``max_disorder_s``: it arrives
    after younger events but never later than the streaming watermark (one
    hour) allows. Archives with another ``prefix`` draw other events from
    the same seed.

    The mix of view / addtocart / transaction (96.7 / 2.5 / 0.8 %) follows
    RetailRocket, whose 2,756,101 events carry 22,457 transactions
    (BASELINE.md). Key skew is chosen, not measured: Zipf(1.05) over
    ``visitors`` visitors, Zipf(1.1) over ``items`` items, and ``bots``
    hot visitors sharing ``bot_share`` of the events.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, zlib.crc32(prefix.encode())])
    n = int(sum(sizes))
    t_s = (np.arange(n) + rng.uniform(0, 1, n)) * event_gap_s - rng.uniform(0, max_disorder_s, n)
    t_s = np.maximum(t_s, 0.0)
    base_ms = 1433116800000  # 2015-06-01T00:00:00Z, inside the RetailRocket span
    ts_ms = base_ms + (t_s * 1000).astype("int64")
    vis = _zipf_keys(rng, n, visitors, 1.05)
    hot = rng.random(n) < bot_share
    vis[hot] = visitors + rng.integers(0, bots, hot.sum())
    item = _zipf_keys(rng, n, items, 1.1)
    u = rng.random(n)
    event = np.where(u < 0.008, 2, np.where(u < 0.033, 1, 0))
    names = ("view", "addtocart", "transaction")
    txn = np.cumsum(event == 2)
    k = 0
    for f, size in enumerate(sizes):
        with open(os.path.join(out_dir, f"{prefix}-{f:05d}.csv"), "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["timestamp", "visitorid", "event", "itemid", "transactionid"])
            for i in range(k, k + size):
                w.writerow([ts_ms[i], vis[i], names[event[i]], item[i],
                            txn[i] if event[i] == 2 else ""])
        k += size
    return n


def release_sizes(slots, interval_ms, offered_eps):
    """Events per release slot at a steady ``offered_eps``: slot ``i`` holds
    the events due in ``[i, i+1) * interval_ms``. Every slot holds at least
    one event."""
    due = [offered_eps * interval_ms * i // 1000 for i in range(slots + 1)]
    sizes = [b - a for a, b in zip(due, due[1:])]
    if min(sizes) < 1:
        raise ValueError("offered rate below one event per release slot")
    return sizes
