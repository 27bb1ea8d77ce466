"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the engine's queries read (`region nation customer
supplier part orders lineitem events documents embeddings`), with the
schemas and value distributions of the engine's test data (FIXTURES.md §2):
a TPC-H-shaped star schema, an `events` stream, a token-text `documents`
corpus with 5% planted near-duplicates, and 64-dim unit `embeddings`.

Row counts follow the test data's scale rules: fact and dimension tables are
linear in `sf`; `documents` and `embeddings` have floors of 500 rows.

It also writes `rows/`, the row-stream fixture of the `etl_rows` workload:
`lineitem` replicated with shifted order keys into several splittable files.

Usage: python3 gen_data.py <out_dir> <sf> <row_stream_copies>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJ = "small new large hot cold red blue old".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()


def write(out, name, cols, row_group=None):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=row_group)
    return table.num_rows


def days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def main(out, sf, copies):
    rng = np.random.default_rng(SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    n_user = max(15, int(15000 * sf))

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array("AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split())
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    types = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    lineitem = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", n_li)}
    write(out, "lineitem", lineitem)

    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts_us = (np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
             + np.cumsum(gaps * 1e6).astype(np.int64))
    ts_us = np.minimum(ts_us, np.datetime64("2024-01-30T23:59:59", "us").astype(np.int64))
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts_us.astype("datetime64[us]")),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": np.array("click error purchase signup view".split())[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        if rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker token
            base = texts[rng.integers(0, i)] if i and rng.random() < 0.5 else " ".join(toks)
            texts.append(base.removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(toks))
    langs = np.array(["de", "en", "es", "fr", "zh"])
    write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.14, 0.42, 0.15, 0.14, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})

    rows = os.path.join(out, "rows")
    os.makedirs(rows, exist_ok=True)
    for k in range(copies):
        copy = dict(lineitem, l_orderkey=lineitem["l_orderkey"] + k * n_ord)
        write(rows, f"part-{k:02d}", copy, row_group=max(1024, n_li // 8))


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
