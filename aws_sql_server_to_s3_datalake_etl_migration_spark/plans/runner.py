"""Job execution (O3/O4/O5, reference ``utils.py:340-447``).

The reference launched one Glue cluster per job and polled its REST
status every 0.5 s. In-process, jobs are Python callables sharing one
SparkSession: ``run_parallel`` maps a batch onto a thread pool (each
thread tagged with a FAIR scheduler pool so concurrent jobs share
executors fairly), ``run_series`` keeps the reference's
failure-cascade: on the first failure every later job is marked
SUSPENDED and an exception is raised (utils.py:375-384, with the
arg-indexing bug of §2.11 fixed). ``run_layers`` replaces the
reference's per-layer barrier with dependency-ready launch: a job
starts once its own parents succeeded, and a failure suspends only its
descendants.
"""

from __future__ import annotations

import traceback
from concurrent.futures import (
    FIRST_COMPLETED,
    Future,
    ThreadPoolExecutor,
    wait,
)
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable

from pyspark.sql import SparkSession

from .metastore import OperationalMetastore

Job = Callable[..., Any]


@dataclass
class JobResult:
    job_name: str
    status: str  # SUCCEEDED | FAILED | SUSPENDED
    start: datetime
    end: datetime | None = None
    error: str | None = None
    value: Any = field(default=None, repr=False)


class JobRunner:
    """Registry + executor for named jobs (O7's job factory becomes a
    plain registry of callables)."""

    def __init__(
        self,
        spark: SparkSession,
        metastore: OperationalMetastore | None = None,
        max_parallel: int = 25,  # reference max_batch_size
    ):
        self.spark = spark
        self.metastore = metastore
        self.max_parallel = max_parallel
        self._jobs: dict[str, Job] = {}

    def register(self, name: str, fn: Job) -> None:
        self._jobs[name] = fn

    def registered(self) -> list[str]:
        return sorted(self._jobs)

    # -- execution ---------------------------------------------------------

    def _run_one(self, name: str, args: tuple) -> JobResult:
        start = datetime.now(timezone.utc)
        res = JobResult(name, "FAILED", start)
        # FAIR pool per job: failures/stragglers in one job don't starve
        # siblings sharing the session (replaces per-job Glue clusters).
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"job_{name}"
        )
        # one attempt, as the reference's MaxRetries=0
        # (infra_utils.py:110): a retried lake append could write the
        # same rows twice
        try:
            res.value = self._jobs[name](*args)
            res.status = "SUCCEEDED"
        except Exception as e:  # isolate: record, don't propagate
            res.error = f"{e}\n{traceback.format_exc(limit=5)}"
        finally:
            res.end = datetime.now(timezone.utc)
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", None
            )
            self._log(res, args)
        return res

    def _log(self, res: JobResult, args: tuple) -> None:
        if self.metastore is not None:
            self.metastore.record(
                res.job_name,
                repr(list(args)),
                res.status,
                res.start,
                res.end,
            )

    def run_parallel(
        self, job_names: list[str], args: list[tuple] | None = None
    ) -> list[JobResult]:
        """O3 (utils.py:395-447): run a batch concurrently; every job
        runs to completion regardless of sibling failures."""
        args = args or [()] * len(job_names)
        unknown = [j for j in job_names if j not in self._jobs]
        if unknown:
            raise KeyError(f"unregistered jobs: {unknown}")
        with ThreadPoolExecutor(
            max_workers=min(self.max_parallel, max(len(job_names), 1))
        ) as pool:
            futures = [
                pool.submit(self._run_one, name, a)
                for name, a in zip(job_names, args)
            ]
            return [f.result() for f in futures]

    def run_series(
        self, job_names: list[str], args: list[tuple] | None = None
    ) -> list[JobResult]:
        """O4 (utils.py:357-392): sequential; first failure suspends all
        later jobs (recorded SUSPENDED with correct per-job args — the
        reference indexed args[sub_index], §2.11) and raises."""
        args = args or [()] * len(job_names)
        results: list[JobResult] = []
        for i, name in enumerate(job_names):
            res = self._run_one(name, args[i])
            results.append(res)
            if res.status == "FAILED":
                now = datetime.now(timezone.utc)
                for j in range(i + 1, len(job_names)):
                    sus = JobResult(job_names[j], "SUSPENDED", now, now)
                    results.append(sus)
                    self._log(sus, args[j])
                raise RuntimeError(
                    f"job {name} failed; suspended "
                    f"{job_names[i + 1:]}: {res.error}"
                ) from None
        return results

    def run_layers(self, layers: list[list[str]]) -> list[JobResult]:
        """The driver pipeline's core loop (driver_ingestions.py:58-61),
        dependency-ready: each job starts as soon as its own parents
        have SUCCEEDED, on a pool of ``max_parallel`` threads (the
        reference's ``max_batch_size``), instead of behind a per-layer
        barrier. Parents come from ``layers.parents`` (see
        ``dependencies.Layers``); without them every job of a layer
        depends on the whole previous layer, which is the reference's
        barrier. A FAILED job's descendants are recorded SUSPENDED and
        never run; unrelated jobs run on. Results come back in layer
        order."""
        order = [j for layer in layers for j in layer]
        unknown = [j for j in order if j not in self._jobs]
        if unknown:
            raise KeyError(f"unregistered jobs: {unknown}")
        parents = getattr(layers, "parents", None)
        if parents is None:
            parents = {
                j: set(layers[i - 1]) if i else set()
                for i, layer in enumerate(layers)
                for j in layer
            }
        blocking = {j: set(parents[j]) for j in order}
        children: dict[str, list[str]] = {j: [] for j in order}
        for j in order:
            for p in blocking[j]:
                children[p].append(j)
        results: dict[str, JobResult] = {}
        running: dict[Future, str] = {}
        pending = order  # not yet launched, in layer order

        def suspend_descendants(name: str) -> None:
            stack = list(children[name])
            while stack:
                j = stack.pop()
                if j not in results:
                    now = datetime.now(timezone.utc)
                    results[j] = JobResult(j, "SUSPENDED", now, now)
                    self._log(results[j], ())
                    stack.extend(children[j])

        with ThreadPoolExecutor(max_workers=self.max_parallel) as pool:
            while True:
                # a suspended job keeps its failed parent in ``blocking``
                # for good, so it is never launched
                for j in pending:
                    if not blocking[j]:
                        running[pool.submit(self._run_one, j, ())] = j
                pending = [j for j in pending if blocking[j]]
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = running.pop(fut)
                    res = results[name] = fut.result()
                    if res.status == "SUCCEEDED":
                        for ch in children[name]:
                            blocking[ch].discard(name)
                    else:
                        suspend_descendants(name)
        return [results[j] for j in order]
