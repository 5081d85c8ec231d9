#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <etl_driver|curation_heavy>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds one SparkSession on
``local[<nproc>]``, generates the workload's inputs from the seed, runs
one untimed warm-up unit of the workload's fixed work (a driver flow or
a pass over the curation queries), then repeats the unit until
``--seconds`` have been measured, at least once. Outputs of every unit
are verified after the timed loop. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``).

Everything the run writes lives under ``.perfbench_work/`` (removed at
exit) and, for traced runs, ``.perfbench_out/trace-*.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat", "rb") as fh:
        data = fh.read()
    ticks = int(data[data.rfind(b")") + 2 :].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


from metrics import (  # noqa: E402
    END_TO_END,
    PER_LAYER,
    SCALES,
    SETUP_REPEATS,
    WARMUP_UNITS,
    TAIL_PERCENTILE,
    end_to_end,
    per_layer,
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SCALES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=None,
        help="override the workload's scale factor (smoke tests)",
    )
    p.add_argument(
        "--inject-fault", action="store_true",
        help="corrupt one output before verification (self-test)",
    )
    return p.parse_args(argv)


def make_workload(name: str, ctx):
    if name == "etl_driver":
        from etl_driver import EtlDriver as W
    else:
        from curation_heavy import CurationHeavy as W
    return W(ctx)


def main(argv=None) -> int:
    t_proc = process_start_time()
    args = parse_args(argv)
    # the package must come from this checkout; fail before any set-up.
    # Importing the catalog (every query registers at import) is set-up.
    from aws_sql_server_to_s3_datalake_etl_migration_spark import (  # noqa: F401
        session,
        workloads,
    )

    import tracing
    from common import Context, median

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    sampler = tracing.Sampler()
    sampler.start()
    spark = None
    try:
        confs = {
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://"
                    + os.path.join(work, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.time()
        spark = session.get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{nproc}]",
            extra_confs=confs,
        )
        t_session = time.time()
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = tracing.Tracer(spark, enabled=False, run_id=run_id)
        scale = args.scale if args.scale is not None else SCALES[args.workload]
        ctx = Context(spark, tracer, work, args.seed, nproc, scale)
        wl = make_workload(args.workload, ctx)
        prep = []
        for attempt in range(SETUP_REPEATS):
            t = time.time()
            wl.prepare(attempt)
            prep.append(time.time() - t)
        setup_s = (t_session - t_proc) + median(prep)
        # Untimed warm-up units (verified, not measured): the first units
        # in a JVM pay class loading, JIT and codegen. The timed units
        # then start from collected heaps.
        t = time.time()
        for i in range(WARMUP_UNITS):
            wl.run_once(-1 - i)
        gc.collect()
        spark._jvm.System.gc()
        warmup_s = time.time() - t

        # -- timed loop ---------------------------------------------------------
        if args.trace:
            layer_names = tracer.install()
            tracer.enabled = True
            sampler.cached_probe = lambda: tracing.cached_mb(spark)
            if "writers.write_parquet" in layer_names:
                tracer.observers["writers.write_parquet"] = _observe_output
        deadline = time.perf_counter() + args.seconds
        index = 0
        while True:
            wl.run_once(index)
            index += 1
            if time.perf_counter() >= deadline:
                break
        cached_end = tracing.cached_mb(spark)
        sampler.stop()

        # -- verification (untimed) -------------------------------------------
        t = time.time()
        if args.inject_fault:
            wl.inject_fault()
        oracles = wl.oracles()
        t_oracles = time.time() - t
        wl.verify(oracles)
        t_verify = time.time() - t
        walls = ctx.iterations
        _stop(spark)
        spark = None
        t_stop = time.time() - t - t_verify
        if args.trace:
            metrics = per_layer(
                wl,
                tracer,
                tracing.parse_event_log(os.path.join(work, "eventlog")),
                session_s=t_session - t0,
                walls=walls,
                peak_cached_mb=sampler.peak_cached_mb,
                cached_mb_end=cached_end,
            )
            _write_trace(args, tracer)
        else:
            metrics = end_to_end(
                setup_s=setup_s,
                walls=walls,
                op_times=wl.op_times,
                tail=TAIL_PERCENTILE[args.workload],
                peak_rss_mb=sampler.peak_rss_mb,
            )
        fail = wl.fail
        names = PER_LAYER if args.trace else END_TO_END
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "iterations": len(walls),
            "ops": len(wl.op_times),
            "failed_frac": f"{fail.failed}/{fail.attempted}"
            f" = {fail.failed / max(1, fail.attempted):.4f}",
            "setup": {"session_s": t_session - t_proc, "prepare_s": prep},
            "warmup_s": warmup_s,
            "walls": walls,
            "op_times": wl.op_times,
            "untimed": {
                "oracles_s": t_oracles,
                "verify_s": t_verify,
                "spark_stop_s": t_stop,
            },
            "failures": fail.reasons,
        }
        for line in json.dumps(summary, indent=1).splitlines():
            print("#", line)
        for name, unit in names.items():
            print(f"# {name} = {metrics[name]:.6g} {unit}")
        print(
            json.dumps(
                {
                    "correct": fail.failed == 0 and fail.attempted > 0,
                    "attempted": fail.attempted,
                    "failed": fail.failed,
                    "metrics": {
                        n: {"value": metrics[n], "unit": u}
                        for n, u in names.items()
                    },
                }
            )
        )
        return 0
    finally:
        if sampler.is_alive():
            sampler.stop()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it owns)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _observe_output(rec, args, kwargs) -> None:
    from common import dir_stats

    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    if path and os.path.isdir(path):
        rec["bytes"], rec["files"] = dir_stats(path)


def _write_trace(args, tracer) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(tracer.spans, fh)
    print(f"# trace written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
