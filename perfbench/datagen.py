"""Seeded synthetic inputs for the benchmark.

Writes the ten parquet tables the engine reads (a TPC-H-like star
schema, an ``events`` stream, a text corpus and an embedding table)
with the same names, column types and value ranges as the engine's
reference test data. The same ``(seed, sf)`` always writes the same
rows, so a run's inputs follow from its seed alone.

The corpus plants the structure the dedup chain looks for: 5% of the
documents are an earlier document plus one appended word
(near-duplicates) and 0.2% are verbatim copies.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "fr", "zh", "de", "es"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _days(start: str, n_days: int, rng, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.1 matches the
    reference data's 150k orders / 5k documents)."""
    return {
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 100),
        "orders": max(int(1_500_000 * sf), 200),
        "events": max(int(1_000_000 * sf), 1000),
        "documents": max(int(50_000 * sf), 200),
        "embeddings": max(int(20_000 * sf), 200),
        "users": max(int(15_000 * sf), 20),
    }


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    rows: dict[str, int] = {}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })

    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) * 0.1, 1)
    adj, noun = rng.integers(0, len(_ADJ), npart), rng.integers(0, len(_NOUN), npart)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, len(_PTYPES), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })

    no = n["orders"]
    # 1..7 lines per order; a few orders get none, as in the reference
    # data, so the cell table and the fact table disagree slightly
    n_lines = rng.integers(0, 8, no)
    n_lines[n_lines == 0] = rng.integers(0, 8, int((n_lines == 0).sum()))
    okey = np.repeat(np.arange(no, dtype=np.int64), n_lines)
    line_no = np.concatenate([np.arange(1, k + 1) for k in n_lines if k]).astype(np.int32)
    nl = len(okey)
    l_part = rng.integers(0, npart, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ext = np.round(qty * retail[l_part] * rng.uniform(0.5, 6.0, nl), 2)
    total = np.zeros(no)
    np.add.at(total, okey, ext)
    rf = np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]
    ls = np.array(["F", "O"])[rng.integers(0, 2, nl)]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(total + rng.uniform(0, 1000, no), 2),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, no), pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(line_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rf.tolist(),
        "l_linestatus": ls.tolist(),
        "l_shipdate": pa.array(_days("1995-01-02", 2498, rng, nl), pa.timestamp("us")),
    })
    rows["lineitem"] = nl

    ne = n["events"]
    span_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, span_us, ne))
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    # every seed plants the same number of copies and the same multiset
    # of document lengths, so the dedup work does not vary with the seed
    nd = n["documents"]
    copies = rng.choice(np.arange(10, nd), size=nd // 20 + nd // 500, replace=False)
    near = set(copies[: nd // 20].tolist())
    exact = set(copies[nd // 20:].tolist())
    lengths = rng.permutation(np.resize(np.arange(10, 101), nd))
    texts: list[str] = []
    for i in range(nd):
        if i in near or i in exact:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if i in near else src)
        else:
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), lengths[i])))
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    nv = n["embeddings"]
    label = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] + rng.normal(0, 1.0, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })

    rows.update({k: v for k, v in n.items() if k not in ("users",)})
    return rows


if __name__ == "__main__":
    import sys
    import time

    t = time.time()
    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])), f"{time.time() - t:.2f}s")
