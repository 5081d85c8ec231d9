"""Shared helpers: run context, percentiles, result hashing, oracles."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa


@dataclass
class Context:
    """What a workload gets from the runner."""

    spark: object
    tracer: object
    work: str  # fresh directory owned by this run
    seed: int
    nproc: int
    scale: float
    iterations: list = field(default_factory=list)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


class Failures:
    """Attempted / failed operation counts with the first few reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(what)
        return ok


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100)."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "null"  # pandas turns SQL NULL into NaN in float columns
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return _canon(float(v))
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        vals = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(_canon(x) for x in vals) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def result_hash(table) -> tuple[int, str]:
    """Order-insensitive (row count, hash) of a pandas frame or Arrow
    table: columns by name, every row canonicalized, rows sorted.
    Integral floats and ints hash alike; NULL and NaN hash alike."""
    if isinstance(table, pa.Table):
        cols = sorted(table.column_names)
        data = {c: table.column(c).to_pylist() for c in cols}
        n = table.num_rows
    else:
        cols = sorted(table.columns)
        data = {c: table[c].tolist() for c in cols}
        n = len(table)
    rows = sorted(
        "\x1f".join(_canon(data[c][i]) for c in cols) for i in range(n)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return n, h.hexdigest()


def duck(tables: dict[str, pa.Table]) -> duckdb.DuckDBPyConnection:
    """DuckDB over the generated Arrow tables, one view per table. It
    runs after the timed loop, so it may use every core."""
    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    return con


def oracle_hashes(
    con, sql_by_name: dict[str, str]
) -> dict[str, tuple[int, str] | str]:
    """Hash of each oracle's result; an oracle error becomes a string."""
    out: dict[str, tuple[int, str] | str] = {}
    for name, sql in sql_by_name.items():
        try:
            out[name] = result_hash(con.sql(sql).arrow())
        except Exception as e:  # reported as a failed check
            out[name] = f"oracle error: {e}"
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; data files skip ``_``/``.``
    names."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            if not n.startswith(("_", ".")):
                files += 1
    return total, files


class Clock:
    """Accumulates timed segments; ``wall`` is their sum."""

    def __init__(self):
        self.wall = 0.0

    def __enter__(self):
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.last = time.perf_counter() - self._t
        self.wall += self.last
        return False
