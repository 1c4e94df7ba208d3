"""Seeded input data for the benchmark.

Writes TPC-H-shaped parquet tables (the schemas of ``age_spark.demo``'s
``TPCH_SCHEMAS``) plus a small document corpus and an embedding table, all
drawn from one ``numpy`` generator so the same seed always gives the same
files.  Scale follows TPC-H: ``scale=0.1`` is 15 000 customers, 150 000
orders and about 600 000 line items.  A third of the customers never order,
as in TPC-H, so anti-joins and OPTIONAL MATCH have real work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLOURS = ["red", "blue", "green", "small", "large", "steel", "brass", "shiny"]
NOUNS = ["ring", "widget", "bolt", "gear", "valve", "spring", "nut", "plate"]
WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window order data column join small customer query stream "
    "filter group big vector of to and in is for with"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]

# days since 1970-01-01 for 1992-01-01 and 1998-12-31
_DAY_LO, _DAY_HI = 8035, 10591
_US_PER_DAY = 86_400_000_000


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = rng.integers(_DAY_LO, _DAY_HI, n, dtype=np.int64)
    return days * _US_PER_DAY


def write_tpch(out_dir: str, scale: float, seed: int) -> dict:
    """Write region/nation/customer/supplier/part/orders/lineitem parquet
    files into ``out_dir``; returns the row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(30, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }, pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))

    nk = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation", {
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk.tolist()],
        "n_regionkey": (nk % 5).astype(np.int32),
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                  ("n_regionkey", pa.int32())]))

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))

    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) / 10.0, 2)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{c} {n}" for c, n in zip(
            rng.choice(COLOURS, n_part).tolist(), rng.choice(NOUNS, n_part).tolist())],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": price,
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                  ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    # TPC-H: customers whose key is a multiple of 3 never place an order
    ordering = ck[ck % 3 != 0]
    ok = np.arange(n_ord, dtype=np.int64)
    _write(out_dir, "orders", {
        "o_orderkey": ok, "o_custkey": rng.choice(ordering, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_dates(rng, n_ord), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")),
                  ("o_orderpriority", pa.string())]))

    # 1..7 lines per order, numbered 1..n (edge id = orderkey * 8 + linenumber)
    per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, per)
    starts = np.repeat(np.cumsum(per) - per, per)
    l_ln = (np.arange(l_ok.size) - starts + 1).astype(np.int32)
    n_li = l_ok.size
    l_pk = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_ok, "l_partkey": l_pk,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": l_ln, "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_pk], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(_dates(rng, n_li), pa.timestamp("us")),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                  ("l_shipdate", pa.timestamp("us"))]))
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li,
            "part": n_part, "supplier": n_supp}


def write_corpus(out_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """Write ``documents`` (bag-of-words texts with exact and near
    duplicates) and ``embeddings`` (unit 64-d vectors around 10 centres)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for i in range(n_docs):
        roll = rng.random()
        if i > 10 and roll < 0.02:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and roll < 0.12:  # near duplicate: ~10% of words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in np.nonzero(rng.random(len(words)) < 0.1)[0].tolist():
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = rng.choice(WORDS, int(rng.integers(8, 90))).tolist()
        texts.append(" ".join(words))
    ids = np.arange(n_docs, dtype=np.int64)
    _write(out_dir, "documents", {
        "doc_id": ids, "text": texts,
        "lang": rng.choice(LANGS, n_docs).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())]))

    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vecs)
    vecs = centres[label] + rng.normal(scale=0.8, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))
