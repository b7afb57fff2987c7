"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed.  The sweep workload gets
parameter values and the func results it must produce; the corpus
workload gets the ten tables the catalog queries read, with the names,
columns, types, value ranges and row counts of the catalog's fixture
tables (FIXTURES.md), written as Parquet with pyarrow so that no Spark
job runs while inputs are made.  Like the fixtures, a share of the
documents are near-copies of earlier ones, so the dedup operators have
pairs to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "green"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector"
).split()
# share of documents that copy an earlier one with a few words changed
_NEAR_DUP_SHARE = 0.05

# documents and embeddings rows of the fixture tables, at every scale
_DOCS_EMB = (500, 500)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "D")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _texts(rng, n: int) -> list[str]:
    words = [list(rng.choice(_VOCAB, int(k))) for k in rng.integers(20, 90, n)]
    for i in np.flatnonzero(rng.random(n) < _NEAR_DUP_SHARE):
        if i == 0:
            continue
        copy = list(words[int(rng.integers(0, i))])
        for j in rng.integers(0, len(copy), max(1, len(copy) // 40)):
            copy[int(j)] = str(rng.choice(_VOCAB))
        words[i] = copy
    return [" ".join(w) for w in words]


def corpus_tables(seed: int, scale: int) -> dict[str, pa.Table]:
    """The catalog's ten input tables; ``scale`` 1 and 10 are the sf0.001
    and sf0.01 shapes (6k and 60k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_li, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    n_docs, n_emb = _DOCS_EMB
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(0, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(0, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1992-01-01", 3500).astype(
            "datetime64[us]"),
        "o_orderpriority": rng.choice(_PRIO, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1992-01-02", 3600).astype(
            "datetime64[us]"),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(_EVENTS, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_corpus(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def sweep_values(seed: int, stream: int, n: int) -> list[float]:
    """``n`` distinct parameter values, disjoint across ``stream`` ids, so
    that a workload controls exactly which psets are new and which
    repeat an earlier run."""
    rng = np.random.default_rng([seed, 2, stream])
    base = stream * 1_000_000
    return [float(base + v) for v in rng.choice(1_000_000, n, replace=False)]


def expected_y(a, b):
    """What the benchmark's ``func`` stores for pset (a, b).  Works on
    numbers and on NumPy arrays alike, so the output check applies the
    same formula to the stored columns."""
    return a * 0.5 + b * b
