"""Workload ``etl_driver``: the reference driver flow end to end.

dependency CSV -> ``read_csv`` -> ``layered_jobs`` (Kahn) ->
``JobRunner.run_layers`` over table jobs (nis_policies template, a
DDL-typed CSV extract and an incremental/MERGE load of orders into a
Delta-log table, see ``cdc_stream``) and report jobs (registry queries
written with ``write_parquet``) -> ``recon_report`` +
``assert_reconciled``.

One flow is the fixed unit of work. An untimed warm-up flow comes first;
timed flows repeat into fresh directories until the run's time is up.
"""

from __future__ import annotations

import csv
import os
import random
import shutil
import time

import pyarrow.parquet as pq

from cdc_stream import CdcStream
from common import Clock, Failures, duck, oracle_hashes, result_hash
from datagen import generate
from tracing import PKG

SOURCE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
# FK order: region -> nation -> customer/supplier -> orders -> lineitem
TABLE_PARENTS = {
    "region": [],
    "nation": ["region"],
    "customer": ["nation"],
    "supplier": ["nation"],
    "part": [],
    "orders": ["customer"],
    "lineitem": ["orders", "part", "supplier"],
    "nis_policies": ["orders", "customer", "nation"],
    "orders_cdc": ["orders"],
}
# Three report jobs, bench.py HEADLINE queries that together read every
# source table, each listed with the lake tables it reads (its parents).
# More reports do not fit the run-time budget: every job adds a
# serialized metastore append, and a run pays for a warm-up flow too.
REPORTS = {
    "flagship_policies_ingest": ["customer", "nation", "orders"],
    "local_supplier_volume": [
        "customer", "lineitem", "nation", "orders", "region", "supplier",
    ],
    "part_type_margins": ["lineitem", "part"],
}
NIS_NATIONS = 8  # fixed IN-list size; the seed picks which nations
PART_CSV_COLS = [
    ("p partkey", "BIGINT"),
    ("p name", "STRING"),
    ("p brand", "STRING"),
    ("p type", "STRING"),
    ("p size", "INT"),
    ("p retailprice", "DOUBLE"),
]
PART_DDL = ", ".join(f"`{c}` {t}" for c, t in PART_CSV_COLS)


def nis_query(nations: list[int]) -> str:
    """The nis_policies template's shape: fact -> dimension -> parent
    dimension, the parent filtered by a fixed-size IN-list."""
    keys = ", ".join(str(k) for k in nations)
    return (
        "SELECT o.*, c.c_name, n.n_name FROM orders o "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        f"WHERE n.n_nationkey IN ({keys})"
    )


class EtlDriver:
    name = "etl_driver"

    def __init__(self, ctx):
        self.ctx = ctx
        self.fail = Failures()
        self.op_times: list[float] = []
        self.flows: list[dict] = []
        self.src = None
        self.tables = None

    # -- set-up ------------------------------------------------------------

    def prepare(self, attempt: int) -> None:
        ctx = self.ctx
        src = ctx.fresh_dir(f"src{attempt}")
        tables = generate(src, ctx.seed, ctx.scale, ctx.nproc, SOURCE_TABLES)
        # the part extract arrives as CSV with spaced headers (DDL-typed
        # read + header sanitization)
        part = tables["part"].to_pydict()
        with open(os.path.join(src, "part_extract.csv"), "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow([c for c, _ in PART_CSV_COLS])
            keys = list(part)
            for i in range(tables["part"].num_rows):
                w.writerow([part[k][i] for k in keys])
        with open(os.path.join(src, "dependencies.csv"), "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["Table", "Parent Table"])
            for job, parents in self.parents().items():
                for p in parents or [""]:
                    w.writerow([job, p])
        self.src, self.tables = src, tables
        self.cdc = CdcStream(src, tables["orders"], ctx.seed)
        self.nis_nations = sorted(
            random.Random(ctx.seed).sample(range(25), NIS_NATIONS)
        )

    def parents(self) -> dict[str, list[str]]:
        deps = dict(TABLE_PARENTS)
        for q, reads in REPORTS.items():
            deps[f"report_{q}"] = reads
        return deps

    # -- one flow ------------------------------------------------------------

    def _jobs(self, flow: dict, marks: dict) -> dict:
        from importlib import import_module

        spark, tracer = self.ctx.spark, self.ctx.tracer
        lake, reports = flow["lake"], flow["reports"]
        pipelines = import_module(f"{PKG}.pipelines")
        writers = import_module(f"{PKG}.sources.writers")
        queries = import_module(f"{PKG}.workloads").queries()
        src = self.src

        def table_job(t):
            return lambda: pipelines.ingest_query_to_lake(
                spark,
                {t: spark.read.parquet(f"{src}/{t}.parquet")},
                f"SELECT * FROM {t}",
                f"{lake}/{t}.parquet",
            )

        jobs = {t: table_job(t) for t in SOURCE_TABLES if t != "part"}
        jobs["part"] = lambda: pipelines.ingest_csv_to_lake(
            spark, f"{src}/part_extract.csv", f"{lake}/part.parquet", ddl=PART_DDL
        )
        jobs["nis_policies"] = lambda: pipelines.ingest_query_to_lake(
            spark,
            {
                t: spark.read.parquet(f"{src}/{t}.parquet")
                for t in ("orders", "customer", "nation")
            },
            nis_query(self.nis_nations),
            f"{lake}/nis_policies.parquet",
        )

        def cdc_job():
            flow["cdc"] = self.cdc.run(
                spark,
                tracer,
                spark.read.parquet(f"{lake}/orders.parquet"),
                f"{flow['base']}/cdc/orders",
            )

        jobs["orders_cdc"] = cdc_job

        def report_job(q):
            def run():
                writers.write_parquet(queries[q](spark, lake), f"{reports}/{q}")
                return q

            return run

        for q in REPORTS:
            jobs[f"report_{q}"] = report_job(q)

        def timed(name, fn):
            def run():
                with tracer.span(f"job:{name}", kind="job"):
                    marks[name] = [time.time(), None]
                    try:
                        return fn()
                    finally:
                        marks[name][1] = time.time()

            return run

        return {name: timed(name, fn) for name, fn in jobs.items()}

    def run_once(self, index: int) -> None:
        from importlib import import_module

        ctx, spark = self.ctx, self.ctx.spark
        plans = import_module(f"{PKG}.plans")
        recon = import_module(f"{PKG}.plans.recon")
        readers = import_module(f"{PKG}.sources.readers")
        base = ctx.fresh_dir(f"flow{index}")
        lake, reports = f"{base}/lake", f"{base}/reports"
        marks: dict[str, list] = {}
        clock = Clock()
        flow = {"base": base, "lake": lake, "reports": reports}
        with clock, ctx.tracer.span("flow", kind="iteration", index=index):
            deps = readers.read_csv(spark, f"{self.src}/dependencies.csv")
            jobs = self._jobs(flow, marks)
            layers = plans.layered_jobs(deps, known_jobs=set(jobs))
            meta = plans.OperationalMetastore(spark, f"{base}/metastore")
            runner = plans.JobRunner(
                spark, metastore=meta, max_parallel=ctx.nproc
            )
            for name, fn in jobs.items():
                runner.register(name, fn)
            r0 = time.time()
            results = runner.run_layers(layers)
            r1 = time.time()
            src = self.src

            def source_reader(lake_name):
                t = lake_name.replace(".parquet", "")
                if t == "part":
                    return readers.read_csv(
                        spark, f"{src}/part_extract.csv", ddl=PART_DDL
                    )
                if t in SOURCE_TABLES:
                    return spark.read.parquet(f"{src}/{t}.parquet")
                return None

            recon_error = None
            try:
                report = plans.recon_report(
                    spark, lake, source_reader, metastore=meta,
                    output_path=f"{base}/recon_report",
                )
                recon.assert_reconciled(report)
            except Exception as e:  # counted as a failed operation
                recon_error = f"{type(e).__name__}: {e}"[:300]
        flow.update(
            wall=clock.wall,
            results={r.job_name: (r.status, (r.error or "")[:300]) for r in results},
            recon_error=recon_error,
            layers=layers,
            marks=marks,
            runner_wall=r1 - r0,
            r0=r0,
            index=index,
        )
        self.flows.append(flow)
        if index >= 0:
            ctx.iterations.append(clock.wall)

    # -- verification ----------------------------------------------------------

    def inject_fault(self) -> None:
        """Drop one row of one report table (self-test)."""
        path = os.path.join(self.flows[-1]["reports"], "part_type_margins")
        table = pq.read_table(path)
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(table.slice(1), os.path.join(path, "part-0.parquet"))

    def verify(self, oracles) -> None:
        """Per flow: every job succeeded and its latency is a sample;
        lake counts match DuckDB; report hashes match the oracles;
        recon passed."""
        deps = self.parents()
        for flow in self.flows:
            marks = flow["marks"]
            for name, (status, err) in flow["results"].items():
                ok = self.fail.check(
                    status == "SUCCEEDED", f"{name}: {status} {err}"
                )
                if not ok or name not in marks:
                    continue
                if flow["index"] >= 0:  # warm-up flows are verified only
                    ready = max(
                        [marks[p][1] for p in deps[name] if p in marks]
                        or [flow["r0"]]
                    )
                    self.op_times.append(marks[name][1] - ready)
                if name.startswith("report_"):
                    q = name[len("report_"):]
                    got = result_hash(
                        pq.read_table(os.path.join(flow["reports"], q))
                    )
                    want = oracles["reports"][q]
                    self.fail.check(got == want, f"{name}: {got} != {want}")
                elif name == "orders_cdc":
                    self.cdc.verify(self.ctx.spark, flow["cdc"], self.fail)
                else:
                    got = pq.ParquetDataset(
                        f"{flow['lake']}/{name}.parquet"
                    ).read().num_rows
                    want = oracles["counts"][name]
                    self.fail.check(got == want, f"{name}: {got} rows != {want}")
            self.fail.check(
                flow["recon_error"] is None, f"recon: {flow['recon_error']}"
            )

    def oracles(self) -> dict:
        from importlib import import_module

        catalog = import_module(f"{PKG}.workloads")
        con = duck(self.tables)
        counts = {
            t: con.sql(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
            for t in SOURCE_TABLES
        }
        counts["nis_policies"] = con.sql(
            f"SELECT COUNT(*) FROM ({nis_query(self.nis_nations)})"
        ).fetchone()[0]
        sql = catalog.oracles()
        return {
            "counts": counts,
            "reports": oracle_hashes(con, {q: sql[q] for q in REPORTS}),
        }

    # -- metrics ------------------------------------------------------------------

    def layer_metrics(self) -> dict:
        """Scheduler and CDC metrics from the benchmark's own marks,
        averaged over the timed flows."""
        deps = self.parents()
        flows = [f for f in self.flows if f["index"] >= 0]
        out = {
            "runner.critical_path_s": [],
            "runner.wall_over_critical": [],
            "runner.barrier_idle_s": [],
            "runner.slot_busy_frac": [],
            "dependencies.layers": [],
        }
        n = self.ctx.nproc
        for flow in flows:
            marks = flow["marks"]
            done = {k: v for k, v in marks.items() if v[1] is not None}
            cp: dict[str, float] = {}

            def chain(j):
                if j not in cp:
                    cp[j] = (done[j][1] - done[j][0]) + max(
                        [chain(p) for p in deps[j] if p in done] or [0.0]
                    )
                return cp[j]

            crit = max(chain(j) for j in done)
            ready = {
                j: max([done[p][1] for p in deps[j] if p in done] or [flow["r0"]])
                for j in done
            }
            events = []
            for j, (s, e) in done.items():
                events += [(ready[j], 0, 1), (s, 1, -1), (s, 2, 1), (e, 3, -1)]
            events.sort()
            waiting = running = 0
            idle, last = 0.0, flow["r0"]
            for t, kind, d in events:
                if waiting > 0:
                    idle += (t - last) * min(waiting, max(0, n - running))
                last = t
                if kind in (0, 1):
                    waiting += d
                else:
                    running += d
            busy = sum(e - s for s, e in done.values())
            out["runner.critical_path_s"].append(crit)
            out["runner.wall_over_critical"].append(flow["runner_wall"] / crit)
            out["runner.barrier_idle_s"].append(idle)
            out["runner.slot_busy_frac"].append(
                busy / (n * flow["runner_wall"])
            )
            out["dependencies.layers"].append(len(flow["layers"]))
        metrics = {k: sum(v) / len(v) for k, v in out.items() if v}
        recs = [f["cdc"] for f in flows if "cdc" in f]
        if recs:
            metrics.update(CdcStream.metrics(recs))
        return metrics
