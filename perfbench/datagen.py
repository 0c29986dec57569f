"""Seeded fixture tables for the registry probe.

Writes the ten tables the operator registry reads (``region`` ...
``embeddings``, one parquet file each) with the column names, types and
value domains of the repository's fixtures (see ``FIXTURES.md``), at
about half the sf0.01 row counts. Keys are unique and values are drawn
so that order-sensitive queries have no ties to break.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_COLORS = ("blue", "red", "green", "small", "large", "black", "white", "steel")
_NOUNS = ("anvil", "widget", "bolt", "ring", "gear", "spring", "valve", "pipe")


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


#: Row counts relative to TPC-H scale factor 1 (sf0.01 is 0.01).
SCALE = 0.005


def generate(out: str, seed: int) -> str:
    """Write the tables under ``out`` (created) and return it."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_li = int(1_500_000 * SCALE), int(6_000_000 * SCALE)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ).tolist(),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{rng.choice(_COLORS)} {rng.choice(_NOUNS)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    # distinct cent values keep price-ordered queries free of ties
    price_cents = 101_370 + rng.choice(49_896_489, n_ord, replace=False)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": price_cents / 100.0,
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2400), pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    })
    li_cents = 90_182 + rng.choice(10_409_606, n_li, replace=False)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": li_cents / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", 2500), pa.timestamp("us")),
    })

    n_ev = int(1_000_000 * SCALE)
    gaps = rng.integers(1_000_000, 500_000_000, n_ev)  # distinct-ish µs gaps
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev).tolist(),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = 500
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 110)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.normal(size=(500, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(500), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, 500), pa.int32()),
    })
    return out
