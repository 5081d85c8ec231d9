"""The ``orders_cdc`` table job of ``etl_driver``: small, frequent commits
to a log-backed table, with read-after-write.

The job bootstraps a Delta-log copy of the landed orders table with
``write_delta_append`` and applies a fixed stream of 3 batches of 1% of
its rows, one of each kind: new keys (``write_incremental``; a tenth of
the rows are stale keys below the watermark that must be dropped),
updates (``merge_upsert``) and CDC (``merge_upsert`` with
``delete_col``: 40% deletes, 40% updates, 20% inserts). The seed picks
keys and values. After every commit the HEAD is read back through
``read_delta`` with an aggregate; ``write_checkpoint`` runs every 3
commits, so once per stream, on its last commit (Delta's default
interval is 10, longer than the stream a run has time for).

The expected table after every batch comes from a pure-Python replay of
the same stream, computed at set-up.
"""

from __future__ import annotations

import datetime
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from common import Clock, dir_stats, median, percentile, result_hash
from tracing import PKG

PATTERN = "NUC"  # N new keys, U updates, C CDC with deletes
BATCH_FRAC = 0.01
CHECKPOINT_EVERY = len(PATTERN)
KEY = "o_orderkey"
STATUSES = ["O", "F", "P"]
NEW_ORDER_DATE = datetime.datetime(2001, 8, 1)


class _Replay:
    """The table as a dict keyed by order key, with the writers'
    semantics."""

    def __init__(self, table: pa.Table):
        self.cols = table.column_names
        d = table.to_pydict()
        self.rows = {
            d[KEY][i]: tuple(d[c][i] for c in self.cols)
            for i in range(table.num_rows)
        }

    def watermark(self) -> int:
        return max(self.rows)

    def append_above_watermark(self, rows: list[tuple]) -> None:
        wm = self.watermark()
        for r in rows:
            if r[0] > wm:
                self.rows[r[0]] = r

    def merge(self, rows: list[tuple], deletes: list[bool] | None) -> None:
        for r in rows:
            self.rows.pop(r[0], None)
        for i, r in enumerate(rows):
            if not (deletes and deletes[i]):
                self.rows[r[0]] = r

    def summary(self) -> tuple[int, int, float]:
        n = len(self.rows)
        return n, sum(self.rows), sum(r[3] for r in self.rows.values())

    def table(self, schema: pa.Schema) -> pa.Table:
        rows = list(self.rows.values())
        return pa.table(
            {c: [r[i] for r in rows] for i, c in enumerate(self.cols)},
            schema=schema,
        )


def _row(rng, key: int, old: tuple | None) -> tuple:
    cust = old[1] if old else rng.randrange(0, 150_000)
    date = old[4] if old else NEW_ORDER_DATE
    prio = old[5] if old else "3-MEDIUM"
    price = round(rng.uniform(1000.0, 500_000.0), 2)
    return (key, cust, rng.choice(STATUSES), price, date, prio)


class CdcStream:
    """Batch files, expected states and the apply loop."""

    def __init__(self, src_dir: str, orders: pa.Table, seed: int):
        rng = random.Random(seed)
        replay = _Replay(orders)
        size = max(1, round(BATCH_FRAC * orders.num_rows))
        self.batches, self.expected = [], []
        for b, kind in enumerate(PATTERN):
            live = list(replay.rows)
            if kind == "N":
                stale = rng.sample(live, size // 10)
                wm = replay.watermark()
                keys = [wm + 1 + i for i in range(size - len(stale))] + stale
                deletes = None
            elif kind == "U":
                keys = rng.sample(live, size)
                deletes = None
            else:
                n_new = size // 5
                keys = rng.sample(live, size - n_new) + [
                    replay.watermark() + 1 + i for i in range(n_new)
                ]
                deletes = [i < (size - n_new) // 2 for i in range(size)]
            rows = [_row(rng, k, replay.rows.get(k)) for k in keys]
            t = pa.table(
                {c: [r[i] for r in rows] for i, c in enumerate(replay.cols)},
                schema=orders.schema,
            )
            if deletes is not None:
                t = t.append_column("_delete", pa.array(deletes, pa.bool_()))
            path = os.path.join(src_dir, f"cdc_batch{b:03d}.parquet")
            pq.write_table(t, path)
            if kind == "N":
                replay.append_above_watermark(rows)
            else:
                replay.merge(rows, deletes)
            self.batches.append((kind, path, len(rows), os.path.getsize(path)))
            self.expected.append(replay.summary())
        final_path = os.path.join(src_dir, "cdc_final_snapshot.parquet")
        final = replay.table(orders.schema)
        pq.write_table(final, final_path)
        self.final_hash = result_hash(final)
        self.final_bytes = os.path.getsize(final_path)

    def run(self, spark, tracer, bootstrap, path: str) -> dict:
        """Bootstrap ``path`` from the ``bootstrap`` frame and apply the
        stream. Returns the record ``verify`` and ``metrics`` read."""
        from importlib import import_module

        from pyspark.sql import functions as F

        readers = import_module(f"{PKG}.sources.readers")
        writers = import_module(f"{PKG}.sources.writers")
        delta_log = import_module(f"{PKG}.sources.delta_log")
        incremental = import_module(f"{PKG}.operators.incremental")
        writers.write_delta_append(bootstrap, path)
        boot_bytes, _ = dir_stats(path)
        rec = {"path": path, "applies": [], "reads": [], "checks": [], "ratios": []}
        for b, (kind, bpath, n_rows, _) in enumerate(self.batches):
            with tracer.span(f"batch:{kind}", kind="batch"):
                incoming = spark.read.parquet(bpath)
                apply, err = Clock(), None
                try:
                    with apply:
                        if kind == "N":
                            incremental.write_incremental(
                                spark, incoming, path, KEY
                            )
                        elif kind == "U":
                            incremental.merge_upsert(spark, incoming, path, KEY)
                        else:
                            incremental.merge_upsert(
                                spark, incoming, path, KEY, delete_col="_delete"
                            )
                except Exception as e:  # counted, the stream goes on
                    err = f"{type(e).__name__}: {e}"[:300]
                read = Clock()
                with read:
                    got = (
                        readers.read_delta(spark, path)
                        .agg(F.count(F.lit(1)), F.sum(KEY), F.sum("o_totalprice"))
                        .collect()[0]
                    )
                version = delta_log.log_version(spark, path)
                if version % CHECKPOINT_EVERY == 0:
                    delta_log.write_checkpoint(spark, path)
            rec["applies"].append(apply.last)
            rec["reads"].append(read.last)
            rec["checks"].append((b, err, tuple(got)))
            rec["ratios"].append(self._rows_added(path, version) / n_rows)
        end_bytes, _ = dir_stats(path)
        detail = delta_log.table_detail(spark, path)
        log_bytes, _ = dir_stats(os.path.join(path, "_delta_log"))
        rec.update(
            write_amp=(end_bytes - boot_bytes) / sum(b[3] for b in self.batches),
            space_amp=end_bytes / self.final_bytes,
            commits=detail["version"] + 1,
            files_live=detail["numFiles"],
            log_mb=log_bytes / 1e6,
        )
        return rec

    @staticmethod
    def _rows_added(path: str, version: int) -> int:
        """Rows in the add actions of commit ``version``."""
        rows = 0
        with open(os.path.join(path, "_delta_log", f"{version:020d}.json")) as fh:
            for line in fh:
                add = json.loads(line).get("add")
                if add and add.get("stats"):
                    rows += json.loads(add["stats"]).get("numRecords", 0)
        return rows

    def verify(self, spark, rec: dict, fail) -> None:
        """Every commit's count / key sum / price sum, then the final
        snapshot, against the replay."""
        from importlib import import_module

        readers = import_module(f"{PKG}.sources.readers")
        for b, err, got in rec["checks"]:
            n, keysum, price = self.expected[b]
            ok = (
                err is None
                and got[0] == n
                and got[1] == keysum
                and abs(got[2] - price) <= 1e-9 * max(1.0, abs(price))
            )
            fail.check(ok, f"cdc batch {b}: {err or ''} got {got} want {self.expected[b]}")
        final = result_hash(readers.read_delta(spark, rec["path"]).toPandas())
        fail.check(
            final == self.final_hash,
            f"cdc final snapshot {final} != {self.final_hash}",
        )

    @staticmethod
    def metrics(recs: list[dict]) -> dict:
        avg = lambda k: sum(r[k] for r in recs) / len(recs)  # noqa: E731
        applies = [t for r in recs for t in r["applies"]]
        ratios = [x for r in recs for x in r["ratios"]]
        return {
            "cdc.batch_p50_s": median(applies),
            "cdc.batch_p75_s": percentile(applies, 75),
            "cdc.read_p50_s": median([t for r in recs for t in r["reads"]]),
            "cdc.write_amp": avg("write_amp"),
            "cdc.space_amp": avg("space_amp"),
            "delta_log.commits": avg("commits"),
            "delta_log.files_live": avg("files_live"),
            "delta_log.log_mb": avg("log_mb"),
            "incremental.rows_rewritten_per_row_changed": sum(ratios)
            / len(ratios),
        }
