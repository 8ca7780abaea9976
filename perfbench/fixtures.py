"""Seeded input generation for the benchmark.

Everything the program reads comes from here, derived only from the
``--seed`` argument: the same seed writes byte-identical parquet files.
Generation is numpy + pyarrow in the benchmark process, so it costs
well under a second and never runs through the engine under test.

Schemas follow the repository's fixture layout (one parquet file per
table, ``<dir>/<name>.parquet``), which is what ``walden_spark.tables``
and the registry operators read.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: TPC-H proportions at SF 0.01 (lineitem ~4 lines/order).
TPCH_SF = 0.01
N_CUSTOMER = int(150_000 * TPCH_SF)
N_SUPPLIER = int(10_000 * TPCH_SF)
N_PART = int(200_000 * TPCH_SF)
N_ORDERS = int(1_500_000 * TPCH_SF)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
P_WORDS1 = ["cold", "small", "large", "blue", "red", "green", "shiny", "dull"]
P_WORDS2 = ["widget", "bolt", "rod", "gear", "cog", "pin"]
EPOCH = dt.datetime(1992, 1, 1)
ORDER_DAYS = 2400  # order dates span 1992-01-01 .. ~1998-07

DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
DOC_LANGS = ["en"] * 8 + ["zh"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3
EMB_DIM = 64


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, f"{out_dir}/{name}.parquet")


def _ts(days: np.ndarray) -> pa.Array:
    us = (np.datetime64(EPOCH, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tpch(out_dir: str, seed: int) -> dict[str, pa.Table]:
    """TPC-H star schema (the repository's fixture subset of columns)."""
    rng = np.random.default_rng([seed, 1])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i}" for i in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
    })
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i}" for i in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    pk = np.arange(N_PART, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(P_WORDS1)[rng.integers(0, 8, N_PART)], " "),
            np.array(P_WORDS2)[rng.integers(0, 6, N_PART)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 6, N_PART).astype(str)),
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": _money(rng, 900.0, 2000.0, N_PART),
    })
    ok = np.arange(N_ORDERS, dtype=np.int64)
    odays = rng.integers(0, ORDER_DAYS, N_ORDERS)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 400000.0, N_ORDERS),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
    })
    nlines = rng.integers(1, 8, N_ORDERS)
    lk = np.repeat(ok, nlines)
    n = len(lk)
    lnum = np.arange(n) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, N_PART, n),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 2000.0, n) * qty, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(np.repeat(odays, nlines) + rng.integers(0, 121, n)),
    })
    for name, table in t.items():
        _write(out_dir, name, table)
    return t


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings`` for the corpus-prep operators.

    Documents: 10-100 words over a 31-word vocabulary; 2% exact copies
    and 3% near-copies (one word changed) of an earlier document, so
    ``dedup_exact`` has copies to collapse and near-copies to keep. The seed draws the words, the
    order of a fixed set of lengths and which documents are copies, not
    how many copies there are, so the stages do about the same amount
    of work for every seed. Embeddings: unit vectors around 32
    cluster centres, so ANN recall is a meaningful quality guard.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(DOC_VOCAB)
    lengths = rng.permutation(np.linspace(10, 100, n_docs).round().astype(int))
    copies = rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False)
    exact = set(copies[: n_docs // 50].tolist())
    near = set(copies[n_docs // 50:].tolist())
    texts: list[str] = []
    for i in range(n_docs):
        if i in exact:
            texts.append(texts[int(rng.integers(0, i))])
        elif i in near:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(DOC_LANGS)[rng.integers(0, len(DOC_LANGS), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    centres = rng.normal(size=(32, EMB_DIM))
    vecs = centres[rng.integers(0, 32, n_vecs)] + 0.35 * rng.normal(size=(n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    _write(out_dir, "documents", docs)
    _write(out_dir, "embeddings", embs)
    return {"documents": docs, "embeddings": embs}


def sales_batch(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    """Rows of the versioned ``sales`` fact table (integer-valued, so
    aggregates are exact in every engine)."""
    return pa.table({
        "sale_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "store": rng.integers(0, 50, n).astype(np.int64),
        "product": rng.integers(0, 1000, n).astype(np.int64),
        "qty": rng.integers(1, 20, n).astype(np.int64),
        "price_cents": rng.integers(100, 100_000, n).astype(np.int64),
    })
