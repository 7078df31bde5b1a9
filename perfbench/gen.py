"""Seeded input generators for the graft benchmark.

Everything the engine reads is produced here, from a seed, before the
engine starts: the engine only ever sees the generated files.

- corpus():        the read-only star-schema corpus the batch queries run
                   over (customer/part/orders/lineitem/events/documents/
                   embeddings and their dimensions), one parquet per table.
- stream_inputs(): dimension CSVs plus the transaction CSV micro-files the
                   fraud stream consumes, pre-rendered so that the
                   open-loop generator thread only has to publish them.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Key ranges of the sf0.1 corpus: the stream's users and products are
# drawn from the customer and part keys at that scale.
SF01_CUSTOMERS = 15000
SF01_PARTS = 20000

PAYMENT_METHODS = ["credit_card", "debit_card", "paypal", "bank_transfer", "crypto"]
COUNTRIES = ["US", "GB", "DE", "FR", "IN", "BR", "JP", "NG", "CA", "AU"]
CATEGORIES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "green"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "valve"]

EPOCH = dt.datetime(1970, 1, 1)


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts_col(micros):
    return pa.array(np.asarray(micros, dtype=np.int64), type=pa.timestamp("us"))


def _write(dirpath, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def corpus(dirpath, sf, seed=42):
    """Write the batch corpus at scale factor `sf` (sf0.01 ≈ 60k lineitems)."""
    os.makedirs(dirpath, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_supp = int(150000 * sf), int(200000 * sf), max(int(10000 * sf), 10)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc = int(1000000 * sf), int(50000 * sf)

    _write(dirpath, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dirpath, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(dirpath, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], n_cust)})
    _write(dirpath, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(dirpath, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(CATEGORIES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})

    day = 86400 * 1_000_000
    d0 = _micros(dt.datetime(1995, 1, 1))
    _write(dirpath, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts_col(d0 + rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    rf = rng.integers(0, 3, n_li)
    _write(dirpath, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rf],
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts_col(d0 + (1 + rng.integers(0, 2499, n_li)) * day)})

    n_users = max(int(15000 * sf), 50)
    ev_ts = np.sort(_micros(dt.datetime(2024, 1, 1)) +
                    rng.integers(0, 30 * day, n_ev))
    _write(dirpath, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_col(ev_ts),
        # skewed activity: a few heavy users share many purchases
        "user_id": np.minimum(rng.zipf(1.3, n_ev) - 1, n_users - 1).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(np.clip(rng.exponential(50, n_ev), 0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if not src.endswith(" dup") else src[:-4])
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 90)))))
    _write(dirpath, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "es", "fr"], n_doc,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    emb = rng.normal(0, 1, (n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(dirpath, "embeddings", {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_doc, dtype=np.int32)})


def _fmt_ts(micros):
    return (EPOCH + dt.timedelta(microseconds=int(micros))).strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]


def dimension_csvs(dirpath, seed):
    """users.csv and products.csv keyed by the sf0.1 customer/part keys."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, "users.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["user_id", "name", "email", "country", "signup_date"])
        countries = rng.choice(COUNTRIES, SF01_CUSTOMERS)
        days = rng.integers(0, 1500, SF01_CUSTOMERS)
        for u in range(SF01_CUSTOMERS):
            w.writerow([u, f"Customer#{u:09d}", f"user{u}@example.com", countries[u],
                        (dt.datetime(2019, 1, 1) + dt.timedelta(days=int(days[u])))
                        .strftime("%Y-%m-%d %H:%M:%S")])
    with open(os.path.join(dirpath, "products.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["product_id", "name", "category", "base_price", "supplier",
                    "country", "in_stock", "discount"])
        cats = rng.choice(CATEGORIES, SF01_PARTS)
        countries = rng.choice(COUNTRIES, SF01_PARTS)
        prices = _money(rng, 5, 900, SF01_PARTS)
        discounts = rng.integers(0, 31, SF01_PARTS)
        for p in range(SF01_PARTS):
            w.writerow([p, f"part{p}", cats[p], f"{prices[p]:.2f}", f"Supplier#{p % 1000:09d}",
                        countries[p], "true" if p % 7 else "false", f"{discounts[p]}.0"])


def transactions(rng, n, first_id, t0_micros, span_micros, late_share=0.1,
                 late_micros=5 * 60 * 1_000_000):
    """`n` reference-schema transactions with event times in
    [t0, t0 + span); a `late_share` of them is shifted up to `late_micros`
    into the past (out of order, inside the 15-minute watermark). User and
    product ids are skewed over the sf0.1 keys and 5% of each are unmatched
    (outside the dimension key range), so the left-outer joins yield nulls;
    about 10% of amounts exceed the 500 rule threshold.
    """
    users = np.minimum(rng.zipf(1.5, n) - 1 + rng.integers(0, SF01_CUSTOMERS, n) // 4,
                       SF01_CUSTOMERS - 1)
    users = np.where(rng.random(n) < 0.05, SF01_CUSTOMERS + rng.integers(0, 1000, n), users)
    products = np.minimum(rng.zipf(1.3, n) - 1 + rng.integers(0, SF01_PARTS, n) // 8,
                          SF01_PARTS - 1)
    products = np.where(rng.random(n) < 0.05, SF01_PARTS + rng.integers(0, 1000, n), products)
    amounts = np.where(rng.random(n) < 0.1, _money(rng, 500.01, 5000, n),
                       _money(rng, 1, 500, n))
    ts = t0_micros + np.sort(rng.integers(0, span_micros, n))
    late = rng.random(n) < late_share
    ts = np.where(late, ts - rng.integers(0, late_micros, n), ts)
    ts = ts // 1000 * 1000  # millisecond event times, exact through CSV
    return [
        (f"tx-{first_id + i:09d}", int(users[i]), int(products[i]),
         f"store{int(s)}", float(amounts[i]), str(pm), str(c), int(ts[i]))
        for i, (s, pm, c) in enumerate(zip(
            rng.integers(0, 50, n), rng.choice(PAYMENT_METHODS, n),
            rng.choice(COUNTRIES, n)))]


TX_HEADER = ["transaction_id", "user_id", "product_id", "store_id", "amount",
             "payment_method", "country", "timestamp"]


def write_tx_csv(path, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(TX_HEADER)
        for r in rows:
            w.writerow(list(r[:4]) + [f"{r[4]:.2f}"] + list(r[5:7]) + [_fmt_ts(r[7])])


def stream_inputs(dirpath, seed, n_files, rows_per_file, event_span_ms):
    """Pre-render `n_files` micro-files (file k covers event times
    [k, k+1) × event_span_ms after the stream's start) into
    `dirpath/staged`, plus the dimension CSVs. The files are only
    published (moved into the watched directory) by the generator thread,
    on its schedule.
    """
    staged = os.path.join(dirpath, "staged")
    os.makedirs(staged, exist_ok=True)
    dimension_csvs(os.path.join(dirpath, "dims"), seed)
    rng = np.random.default_rng([seed, 2])
    t0 = _micros(dt.datetime(2024, 3, 1))
    span = event_span_ms * 1000
    for k in range(n_files):
        rows = transactions(rng, rows_per_file, k * rows_per_file, t0 + k * span, span)
        write_tx_csv(os.path.join(staged, f"tx-{k:05d}.csv"), rows)
