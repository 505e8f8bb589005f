"""Seeded generator of the query packs' input tables.

Writes the ten parquet tables the SparkEntry queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the schema and value distributions of the TPC-H-ish test corpus, at a
size fixed here. The same seed gives byte-identical tables.

Usage: python3 gen_tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the sf0.01 shape, with 300 documents and embeddings so that the
# all-pairs DuckDB oracles of the dedup pack finish within a few seconds.
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 300,
        "embeddings": 300}
EVENT_USERS = 150
VOCAB = ("a the data table row column value key hash join sort group agg "
         "filter scan merge batch stream window query spark vector part "
         "line order customer small big fast slow").split()
DUP_SHARE = 0.05


def write(out, name, df, schema):
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                   os.path.join(out, f"{name}.parquet"))


def timestamps(rng, n, start, days, with_micros):
    base = np.datetime64(start, "us")
    if with_micros:
        offs = rng.integers(0, days * 86_400_000_000, n)
    else:
        offs = rng.integers(0, days, n) * 86_400_000_000
    return base + offs.astype("timedelta64[us]")


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(["en", "de", "fr", "es", "zh"], n, p=[.41, .14, .15, .15, .15])
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64), "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, n, dim=64, labels=10):
    """Random unit vectors; a share of them are perturbed copies of earlier
    ones, the near-duplicates the vector dedup queries look for."""
    v = rng.normal(size=(n, dim))
    for i in range(1, n):
        if rng.random() < DUP_SHARE * 2:
            v[i] = v[int(rng.integers(0, i))] + rng.normal(scale=0.3, size=dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(v.astype(np.float32)),
                         "label": rng.integers(0, labels, n).astype(np.int32)})


def main(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    sch = lambda *cols: pa.schema(list(cols))

    write(out, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        sch(("r_regionkey", i32), ("r_name", s)))
    write(out, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        sch(("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)))

    n = ROWS["customer"]
    write(out, "customer", pd.DataFrame({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)}),
        sch(("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
            ("c_acctbal", f64), ("c_mktsegment", s)))

    n = ROWS["supplier"]
    write(out, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)}),
        sch(("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
            ("s_acctbal", f64)))

    n = ROWS["part"]
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["ring", "bolt", "widget", "plate", "gear", "rod", "anvil", "nut"]
    write(out, "part", pd.DataFrame({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)}),
        sch(("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
            ("p_size", i32), ("p_retailprice", f64)))

    n = ROWS["orders"]
    write(out, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": timestamps(rng, n, "1995-01-01", 2404, False),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)}),
        sch(("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
            ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)))

    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    write(out, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, ROWS["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, ROWS["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": timestamps(rng, n, "1995-01-02", 2498, False)}),
        sch(("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
            ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
            ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
            ("l_linestatus", s), ("l_shipdate", ts)))

    n = ROWS["events"]
    write(out, "events", pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.sort(timestamps(rng, n, "2024-01-01", 30, True)),
        "user_id": rng.integers(0, EVENT_USERS, n).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}),
        sch(("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
            ("value", f64), ("props", s)))

    write(out, "documents", documents(rng, ROWS["documents"]),
          sch(("doc_id", i64), ("text", s), ("lang", s), ("source", s),
              ("n_chars", i64)))
    write(out, "embeddings", embeddings(rng, ROWS["embeddings"]),
          sch(("vec_id", i64), ("embedding", pa.list_(pa.float32())),
              ("label", i32)))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
