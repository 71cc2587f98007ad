"""Input synthesis for the benchmark.

`tables(out_dir, sf)` writes the ten parquet tables the declared queries read
(`region nation customer supplier part orders lineitem events documents
embeddings`), with the schemas and value distributions of the engine's
TPC-H-ish test tables, at scale factor `sf` (lineitem has 6M * sf rows). The
tables come from a fixed generator seed, so the expected output digests in
`expected.json` hold for every benchmark seed.

`ratings(out_dir, seed, n_users, n_items, per_user)` writes a MovieLens-shaped
explicit corpus (user INT, movie INT, rating DOUBLE) from the workload seed:
Zipf-skewed movie popularity, duplicate draws per user collapsed, half-star
ratings in [0.5, 5].
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = np.array(["en", "zh", "fr", "es", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return pa.array((lo + d).astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_li, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), max(200, int(20000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())

    _write(out_dir, "region", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"],
                             n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": rng.choice(["error", "view", "signup", "purchase", "click"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(10, 100, n_doc)
    texts = [" ".join(rng.choice(WORDS, n)) for n in lens]
    for i in range(0, n_doc, 97):  # a few exact and near duplicates
        j = (i * 7 + 3) % n_doc
        texts[j] = texts[i] if i % 2 else texts[i] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    x = 0.15 * centers[labels] + rng.normal(0.0, 1.0 / 8, (n_emb, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": i32(labels)})


def ratings(out_dir, seed, n_users, n_items, per_user):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    user = np.repeat(np.arange(n_users, dtype=np.int32), per_user)
    u = rng.random(user.size)
    movie = np.floor(u * u * n_items).astype(np.int32)
    pairs = np.unique(user.astype(np.int64) * n_items + movie)
    user, movie = (pairs // n_items).astype(np.int32), (pairs % n_items).astype(np.int32)
    rating = rng.integers(1, 11, pairs.size) * 0.5
    pq.write_table(pa.table({"user": user, "movie": movie, "rating": rating}),
                   os.path.join(out_dir, "ratings.parquet"))
    return int(pairs.size)
