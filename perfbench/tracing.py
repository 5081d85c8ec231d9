"""Spans, layer wrappers, Spark event-log counters and process samplers.

Everything here lives outside the package: layers are timed by wrapping
their public functions from the benchmark side, and Spark's per-stage
counters come from the event log, joined to spans through the job group
each span sets on its own thread.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

PKG = "aws_sql_server_to_s3_datalake_etl_migration_spark"

# (module, function) pairs timed in the traced run; the span name is
# "<layer>.<function>" with the layer being the module's last segment.
WRAPPED_FUNCTIONS = [
    ("plans.dependencies", "layered_jobs"),
    ("pipelines", "ingest_query_to_lake"),
    ("pipelines", "ingest_csv_to_lake"),
    ("sources.readers", "read_csv"),
    ("sources.readers", "read_delta"),
    ("sources.writers", "write_parquet"),
    ("sources.writers", "write_delta_append"),
    ("sources.delta_log", "append_commit"),
    ("sources.delta_log", "overwrite_commit"),
    ("sources.delta_log", "write_checkpoint"),
    ("operators.incremental", "write_incremental"),
    ("operators.incremental", "merge_upsert"),
    ("plans.recon", "recon_report"),
    ("plans.recon", "count_reconciliation"),
    ("plans.recon", "table_sizes"),
]
WRAPPED_METHODS = [
    ("plans.runner", "JobRunner", "run_layers", "runner.run_layers"),
    ("plans.metastore", "OperationalMetastore", "record", "metastore.record"),
]
# Every public function of these modules is wrapped.
OPERATOR_MODULES = [
    "operators.graph",
    "operators.dedup",
    "operators.similarity",
    "operators.linkage",
]


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # parent for spans opened on threads with an empty stack (the
        # runner's pool threads): the innermost span of the main thread
        self.root: int | None = None
        self.observers: dict[str, callable] = {}
        # seconds spent in span bookkeeping and observers (all threads)
        self.own_s = 0.0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "run_id": self.run_id,
            "thread": threading.get_ident(),
            **attrs,
        }
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"span-{sid}")
        stack.append(sid)
        is_main = threading.current_thread() is threading.main_thread()
        prev_root = self.root
        if is_main:
            self.root = sid
        rec["start"] = time.time()
        own = time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            if is_main:
                self.root = prev_root
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)
                self.own_s += own + time.perf_counter() - t_out

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, kind="layer") as rec:
                out = fn(*args, **kwargs)
            observe = self.observers.get(name)
            if observe is not None and rec is not None:
                t = time.perf_counter()
                observe(rec, args, kwargs)
                self.own_s += time.perf_counter() - t
            return out

        return traced

    def install(self) -> list[str]:
        """Wrap every layer function in every package module that binds
        it; returns the span names installed."""
        importlib.import_module(f"{PKG}.workloads")  # the whole catalog
        targets = list(WRAPPED_FUNCTIONS)
        for modname in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.{modname}")
            for attr, obj in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(inspect.unwrap(obj))
                    and getattr(obj, "__module__", None) == mod.__name__
                ):
                    targets.append((modname, attr))
        for modname, *_ in targets + WRAPPED_METHODS:
            importlib.import_module(f"{PKG}.{modname}")
        # every module that may bind a target, imported before scanning
        loaded = [
            m
            for n, m in list(sys.modules.items())
            if n == PKG or n.startswith(PKG + ".")
        ]
        names = []
        for modname, attr in targets:
            mod = importlib.import_module(f"{PKG}.{modname}")
            orig = getattr(mod, attr)
            name = f"{modname.rsplit('.', 1)[-1]}.{attr}"
            wrapped = self.wrap(orig, name)
            for m in loaded:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)
            names.append(name)
        for modname, cls, meth, name in WRAPPED_METHODS:
            klass = getattr(importlib.import_module(f"{PKG}.{modname}"), cls)
            setattr(klass, meth, self.wrap(getattr(klass, meth), name))
            names.append(name)
        return names


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(
            [
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(s["id"], [])
                if b > s["start"] and a < s["end"]
            ]
        )
        for s in spans
    }


def descendants(spans: list[dict]) -> dict[int, set[int]]:
    """span id -> ids of the span and everything below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out: dict[int, set[int]] = {}

    def walk(i: int) -> set[int]:
        if i not in out:
            acc = {i}
            for k in kids.get(i, []):
                acc |= walk(k)
            out[i] = acc
        return out[i]

    for s in spans:
        walk(s["id"])
    return out


def parse_event_log(log_dir: str) -> dict:
    """Per-stage counters from the (uncompressed, unrolled) event log.

    Returns ``{"stages": {stage_id: {...}}, "jobs": {job_id: {...}}}``
    where a job carries its job group and stage ids and a stage carries
    its submit/complete time (epoch s), task count, executor run time
    and shuffle/spill bytes.
    """
    files = [
        f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)
    ]
    stages: dict[int, dict] = {}
    jobs: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid,
            {
                "tasks": 0,
                "run_ms": 0,
                "shuffle_write": 0,
                "shuffle_read": 0,
                "spill": 0,
                "start": None,
                "end": None,
            },
        )

    for f in files:
        with open(f, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                ev = line[10:40]
                if "TaskEnd" in ev:
                    e = json.loads(line)
                    m = e.get("Task Metrics") or {}
                    st = stage(e["Stage ID"])
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif "StageCompleted" in ev:
                    e = json.loads(line)
                    info = e["Stage Info"]
                    st = stage(info["Stage ID"])
                    if info.get("Submission Time"):
                        st["start"] = info["Submission Time"] / 1000.0
                    if info.get("Completion Time"):
                        st["end"] = info["Completion Time"] / 1000.0
                elif "JobStart" in ev:
                    e = json.loads(line)
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "stages": e.get("Stage IDs", []),
                    }
    return {"stages": stages, "jobs": jobs}


def spark_counters(
    spans: list[dict], log: dict, roots: list[int]
) -> tuple[dict, dict[int, dict]]:
    """Join stage counters to spans by job group.

    Returns (totals over ``roots``' subtrees, per-span counters for
    every span with Spark work in its subtree).
    """
    by_span: dict[int, list[int]] = {}
    for j in log["jobs"].values():
        g = j["group"] or ""
        if g.startswith("span-"):
            by_span.setdefault(int(g[5:]), []).append(j)
    below = descendants(spans)
    per_span: dict[int, dict] = {}
    for s in spans:
        jobs = [j for i in below[s["id"]] for j in by_span.get(i, [])]
        if not jobs:
            continue
        sids = {sid for j in jobs for sid in j["stages"]}
        run = [log["stages"][i] for i in sids if i in log["stages"]]
        run = [st for st in run if st["start"] is not None and st["end"]]
        wall = s["end"] - s["start"]
        per_span[s["id"]] = {
            "jobs": len(jobs),
            "stages": len(run),
            "tasks": sum(st["tasks"] for st in run),
            "task_s": sum(st["run_ms"] for st in run) / 1000.0,
            "shuffle_write_mb": sum(st["shuffle_write"] for st in run) / 1e6,
            "shuffle_read_mb": sum(st["shuffle_read"] for st in run) / 1e6,
            "spill_mb": sum(st["spill"] for st in run) / 1e6,
            "driver_only_s": wall
            - union_length(
                [
                    (max(st["start"], s["start"]), min(st["end"], s["end"]))
                    for st in run
                    if st["end"] > s["start"] and st["start"] < s["end"]
                ]
            ),
        }
    keys = (
        "jobs",
        "stages",
        "tasks",
        "task_s",
        "shuffle_write_mb",
        "shuffle_read_mb",
        "spill_mb",
        "driver_only_s",
    )
    totals = {k: 0.0 for k in keys}
    for r in roots:
        c = per_span.get(r)
        if c:
            for k in keys:
                totals[k] += c[k]
    return totals, per_span


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", "rb") as fh:
                    data = fh.read()
                parent[int(d)] = int(data[data.rfind(b")") + 2 :].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    kids: dict[int, list[int]] = {}
    for p, pp in parent.items():
        kids.setdefault(pp, []).append(p)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


class Sampler(threading.Thread):
    """Samples the process tree's total RSS (and, when given a probe,
    Spark's cached bytes) until stopped; keeps the peaks."""

    def __init__(self, interval: float = 0.1, cached_probe=None):
        super().__init__(daemon=True)
        self.interval = interval
        self.cached_probe = cached_probe
        self.peak_rss_mb = 0.0
        self.peak_cached_mb = 0.0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample_rss_mb(self, pids: list[int]) -> float:
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm", "rb") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total / 1e6

    def run(self) -> None:
        me, pids, last_scan = os.getpid(), [], 0.0
        while not self._stop_evt.is_set():
            now = time.time()
            if now - last_scan > 1.0:
                pids, last_scan = _tree_pids(me), now
            self.peak_rss_mb = max(self.peak_rss_mb, self.sample_rss_mb(pids))
            if self.cached_probe is not None:
                try:
                    self.peak_cached_mb = max(
                        self.peak_cached_mb, self.cached_probe()
                    )
                except Exception:
                    pass
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def cached_mb(spark) -> float:
    """Bytes Spark's block manager holds for cached RDDs/DataFrames."""
    infos = spark._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6
