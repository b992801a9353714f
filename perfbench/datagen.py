"""Deterministic TPC-H-shaped tables for the benchmark's triple store.

The benchmark reads nothing outside its checkout, so it writes its own copy
of the seven tables ``TripleStore.from_tpch`` derives triples from, with the
column names and types of the project's test data.  The tables are a fixed
data set (``DATA_SEED``): a workload's ``--seed`` picks the ops, not the
store, so every run of every seed queries the same graph.

Sizes follow TPC-H ratios at scale factor ``SF`` (0.01: 1,500 customers,
15,000 orders, 60,000 line items, about 372k derived triples).
"""

from __future__ import annotations

import datetime
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20260417
SF = 0.01
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAGS = ["R", "A", "N"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_WORDS = ["cold", "small", "large", "fast", "steel", "brass", "widget", "bolt", "gear"]


def sizes(sf: float = SF) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
    }


def customer_name(key: int) -> str:
    return f"Customer#{key:09d}"


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    pick = lambda vocab, k: pa.array(np.asarray(vocab, dtype=object)[rng.integers(0, len(vocab), k)].tolist())
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(nc), pa.int64()),
                "c_name": [customer_name(i) for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
                "c_mktsegment": pick(SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(ns), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(range(np_), pa.int64()),
                "p_name": [
                    f"{PART_WORDS[a]} {PART_WORDS[b]}"
                    for a, b in rng.integers(0, len(PART_WORDS), (np_, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 55, np_)],
                "p_type": pick(["ECONOMY", "STANDARD", "PROMO", "LARGE"], np_),
                "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
                "p_retailprice": np.round(900 + rng.uniform(0, 1100, np_), 2),
            }
        ),
    }
    day0 = datetime.datetime(1992, 1, 1)
    odays = rng.integers(0, 2400, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pick(STATUSES, no),
            "o_totalprice": np.round(rng.uniform(1000, 400_000, no), 2),
            "o_orderdate": pa.array([day0 + datetime.timedelta(days=int(d)) for d in odays], pa.timestamp("us")),
            "o_orderpriority": pick(PRIORITIES, no),
        }
    )
    # 1..7 line items per order (TPC-H: mean 4): (l_orderkey, l_linenumber)
    # is unique, so every line item is its own graph entity
    per_order = rng.integers(1, 8, no)
    lkey = np.repeat(np.arange(no), per_order)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order])
    nl = len(lkey)
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
            "l_returnflag": pick(RETURNFLAGS, nl),
            "l_linestatus": pick(["O", "F"], nl),
            "l_shipdate": pa.array(
                [day0 + datetime.timedelta(days=int(d)) for d in np.repeat(odays, per_order) + rng.integers(1, 122, nl)],
                pa.timestamp("us"),
            ),
        }
    )
    return out


DOC_WORDS = (
    "the a data spark query join table row column key value order line part customer"
    " filter group sort merge hash scan window batch stream vector fast slow small big agg"
).split()
N_DOCUMENTS = 2000


def _documents(n: int, seed: int) -> pa.Table:
    """``n`` documents of 10-80 words; about one in six is a near copy (one
    word changed) of an earlier document, so curation finds clusters."""
    rng = np.random.default_rng([seed, 1])
    words = np.asarray(DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.17:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 81)))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [["en", "es", "zh"][i % 3] for i in range(n)],
            "source": [f"src{i % 4}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def ensure_store_tables(root: str, sf: float = SF, seed: int = DATA_SEED) -> str:
    """Write the tables (and ``documents.parquet``, the curation corpus)
    under ``root`` once and return their directory.
    The directory is published by rename, so a run that dies mid-write
    leaves no half-written store for the next run to trust."""
    final = os.path.join(root, f"tpch_sf{sf}_seed{seed}")
    if os.path.isdir(final):
        return final
    staging = final + f".tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(staging, f"{name}.parquet"))
    pq.write_table(_documents(N_DOCUMENTS, seed), os.path.join(staging, "documents.parquet"))
    os.rename(staging, final)
    return final
