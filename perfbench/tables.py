"""Fixed synthetic star-schema tables for the ``spark_ops`` workload.

The operators read a directory of single-file parquet tables
(``<dir>/<table>.parquet``): the TPC-H-like ``region nation customer
supplier part orders lineitem``, an ``events`` log, a ``documents`` corpus
with planted near-duplicates and an ``embeddings`` table. Sizes match
scale factor 0.01 (60,000 lineitems). The generator seed is fixed, not the
workload seed, so every key's output is the same on every run and can be
pinned (``pinned.json``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
SCALE = 0.01

WORDS = (
    "a the data table query join agg group sort hash key value row column "
    "line part order customer stream batch window filter scan merge spark "
    "vector fast slow big small"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def _ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (days * 86_400e6).astype("timedelta64[us]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.1:
            # planted near-duplicate: an earlier document with a few edits
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir: str) -> None:
    rng = np.random.default_rng(SEED)
    s = SCALE
    n_cust, n_supp, n_part = int(150_000 * s), int(10_000 * s), int(200_000 * s)
    n_ord, n_line = int(1_500_000 * s), int(6_000_000 * s)
    n_ev, n_doc, n_emb = int(1_000_000 * s), int(50_000 * s), int(50_000 * s)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda vals, n: pa.array([vals[k] for k in rng.integers(0, len(vals), n)])  # noqa: E731

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{c} {t}" for c, t in zip(
                pick(("red", "blue", "green", "small", "large", "steel", "brass", "black"), n_part).to_pylist(),
                pick(("widget", "bolt", "ring", "gear", "valve", "panel", "spring", "clip"), n_part).to_pylist())],
            "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": pick(("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(rng.integers(0, 2400, n_ord).astype(float), "1995-01-01"),
            "o_orderpriority": pick(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": money(900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
            "l_returnflag": pick(("A", "N", "R"), n_line),
            "l_linestatus": pick(("F", "O"), n_line),
            "l_shipdate": _ts(rng.integers(1, 2500, n_line).astype(float), "1995-01-01"),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(np.sort(rng.uniform(0, 30, n_ev)), "2024-01-01"),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": pick(("click", "error", "purchase", "signup", "view"), n_ev),
            "value": money(0.01, 500.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(rng.normal(0, 0.15, (n_emb, 64)).astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
