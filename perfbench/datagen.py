"""Seeded input generator for the benchmark.

Writes the ten catalog tables (``region nation customer supplier part
orders lineitem events documents embeddings``) with the same column
names, types and value shapes as the repository's synthetic TPC-H-ish
test data. ``scale`` is the TPC-H scale factor: lineitem has
``6_000_000 * scale`` rows.

The tables' content depends only on ``scale`` (it is drawn from the
fixed ``CONTENT_SEED``), like a fixed test-data set: how many rounds
the iterative curation queries take depends on the content, and it
must not change from run to run. The run's seed permutes each table's
rows before they are split into ``n_files`` files
(``<out>/<table>.parquet/part-NNNNN.parquet``), so a scan gets one task
per core and every seed gives the program differently ordered input. Nothing here touches Spark: generation is numpy +
pyarrow, so it is cheap enough to repeat for the set-up median.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
_P_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
_P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
_EMB_DIM = 64
CONTENT_SEED = 20_240_601
_DAY_US = 86_400 * 1_000_000


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (TPC-H ratios; the text and vector
    tables keep a 300-row floor so their iterative queries have work)."""
    n = lambda k: max(1, int(round(k * scale)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(300, n(50_000)),
        "embeddings": max(300, n(20_000)),
    }


def _days_us(start: str) -> int:
    return int(np.datetime64(start, "us").astype(np.int64))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), pa.int64()).cast(
        pa.timestamp("us")
    )


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, in key order (unpermuted)."""
    rng = np.random.default_rng(seed)
    rc = row_counts(scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = rc["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = rc["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = rc["part"]
    keys = np.arange(npart)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{_P_ADJ[a]} {_P_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, 8, npart), rng.integers(0, 8, npart)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_P_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    no = rc["orders"]
    d0, d1 = _days_us("1995-01-01"), _days_us("2001-08-01")
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(
                d0 + rng.integers(0, (d1 - d0) // _DAY_US + 1, no) * _DAY_US
            ),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = rc["lineitem"]
    s0, s1 = _days_us("1995-01-02"), _days_us("2001-11-04")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["N", "R", "A"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts(
                s0 + rng.integers(0, (s1 - s0) // _DAY_US + 1, nl) * _DAY_US
            ),
        }
    )
    ne = rc["events"]
    e0 = _days_us("2024-01-01")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(np.sort(e0 + rng.integers(0, 30 * _DAY_US, ne))),
            "user_id": pa.array(
                rng.integers(0, max(100, int(15_000 * scale)), ne), pa.int64()
            ),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, rc["documents"])
    out["embeddings"] = _embeddings(rng, rc["embeddings"])
    return out


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; one in twenty
    is an earlier document's text plus the token ``dup`` (the
    near-duplicate population the dedup and copy-span queries find)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    texts: list[str] = []
    pos = 0
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + lens[i]]))
        pos += lens[i]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors in 64 dimensions around ten weak label centres."""
    labels = rng.integers(0, 10, n)
    centres = rng.standard_normal((10, _EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    vecs = rng.standard_normal((n, _EMB_DIM)) + 0.56 * centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def permute(table: pa.Table, seed: int) -> pa.Table:
    """Seeded row permutation (independent of the value stream)."""
    order = np.random.default_rng(seed ^ 0x5EED).permutation(table.num_rows)
    return table.take(pa.array(order))


def write_table(table: pa.Table, path: str, n_files: int) -> None:
    """``path`` becomes a directory of ``n_files`` parquet parts."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows or i == 0:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def generate(
    out_dir: str,
    seed: int,
    scale: float,
    n_files: int,
    tables: tuple[str, ...] = TABLES,
) -> dict[str, pa.Table]:
    """Generate, permute by ``seed`` and write ``tables`` under
    ``out_dir``; returns the permuted Arrow tables (the oracle reads the
    same files)."""
    made = make_tables(CONTENT_SEED, scale)
    out = {}
    for i, name in enumerate(tables):
        t = permute(made[name], seed + i)
        write_table(t, os.path.join(out_dir, f"{name}.parquet"), n_files)
        out[name] = t
    return out
