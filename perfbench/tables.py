"""Seeded generator for the ten registry tables (`registry_mix` input).

The registry queries read `sf_dir/<table>.parquet` for every table in
``cloudtile_spark.queries.TABLES``. The queries this benchmark runs read
only `documents`, `embeddings` and `events`; those are generated at a
realistic shape (word-salad text over a small vocabulary, clustered
64-dimensional embeddings, a per-user event stream with strictly
increasing timestamps so as-of joins have no ties). The seven TPC-H-style
tables are written with their full schema and a handful of rows, because
``load_views`` resolves every table even when a query reads none of them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark scan sort hash join merge group agg filter window "
    "row column table query stream batch vector key value order line part "
    "customer fast slow big small"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EMB_DIM = 64


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(8, 90, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)],
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, size=n)
    vecs = (centers[labels] + 0.8 * rng.normal(size=(n, EMB_DIM)))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32()),
            flat),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = base_us + np.cumsum(rng.integers(1, 50_000_000, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, size=n)], pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 200, size=n), 2),
                          pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def _tpch_stub(n: int) -> dict[str, pa.Table]:
    """Schema-complete TPC-H-style tables with ``n`` rows each."""
    ids = pa.array(np.arange(n), pa.int64())
    i32 = pa.array(np.arange(n), pa.int32())
    f64 = pa.array(np.arange(n, dtype=np.float64))
    s = pa.array([f"s{i}" for i in range(n)], pa.string())
    ts = pa.array(np.full(n, 1_704_067_200_000_000), pa.timestamp("us"))
    return {
        "region": pa.table({"r_regionkey": i32, "r_name": s}),
        "nation": pa.table({"n_nationkey": i32, "n_name": s,
                            "n_regionkey": i32}),
        "customer": pa.table({"c_custkey": ids, "c_name": s,
                              "c_nationkey": i32, "c_acctbal": f64,
                              "c_mktsegment": s}),
        "supplier": pa.table({"s_suppkey": ids, "s_name": s,
                              "s_nationkey": i32, "s_acctbal": f64}),
        "part": pa.table({"p_partkey": ids, "p_name": s, "p_brand": s,
                          "p_type": s, "p_size": i32, "p_retailprice": f64}),
        "orders": pa.table({"o_orderkey": ids, "o_custkey": ids,
                            "o_orderstatus": s, "o_totalprice": f64,
                            "o_orderdate": ts, "o_orderpriority": s}),
        "lineitem": pa.table({
            "l_orderkey": ids, "l_partkey": ids, "l_suppkey": ids,
            "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
            "l_discount": f64, "l_tax": f64, "l_returnflag": s,
            "l_linestatus": s, "l_shipdate": ts}),
    }


def write_tables(out_dir: str, seed: int, documents: int, embeddings: int,
                 events: int) -> None:
    """Write all ten registry tables for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(f"{out_dir}/documents.parquet", _documents(rng, documents))
    _write(f"{out_dir}/embeddings.parquet", _embeddings(rng, embeddings))
    _write(f"{out_dir}/events.parquet",
           _events(rng, events, users=max(1, events // 60)))
    for name, table in _tpch_stub(8).items():
        _write(f"{out_dir}/{name}.parquet", table)
