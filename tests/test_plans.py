"""Control-plane tests: dependency layering, runners (parallel /
serial-with-SUSPENDED), metastore, recon report."""

from __future__ import annotations

import threading
import time
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aws_sql_server_to_s3_datalake_etl_migration_spark.plans import (
    METADATA_SCHEMA,
    JobRunner,
    OperationalMetastore,
    layered_jobs,
    layers_from_edges,
    recon_report,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.plans.recon import (
    assert_reconciled,
    count_reconciliation,
)


def test_layers_from_edges_kahn():
    edges = [
        ("b", "a"),
        ("c", "a"),
        ("d", "b"),
        ("d", "c"),
        ("a", None),
        ("e", None),
    ]
    assert layers_from_edges(edges) == [["a", "e"], ["b", "c"], ["d"]]


def test_layers_cycle_detection():
    with pytest.raises(ValueError, match="cycle"):
        layers_from_edges([("a", "b"), ("b", "a")])


def test_layered_jobs_trusted_and_derived(spark):
    rows = [
        ("Orders", "Customer", 1),
        ("Customer", None, 0),
        ("LineItem", "Orders", 2),
    ]
    df = spark.createDataFrame(rows, ["Table", "Parent Table", "Layer"])
    trusted = layered_jobs(df, layer_col="Layer", prefix="nis_")
    assert trusted == [["nis_customer"], ["nis_orders"], ["nis_lineitem"]]
    derived = layered_jobs(df, prefix="nis_")
    assert derived == trusted
    filtered = layered_jobs(
        df,
        known_jobs={"nis_customer", "nis_lineitem"},
        layer_col="Layer",
        prefix="nis_",
    )
    assert filtered == [["nis_customer"], ["nis_lineitem"]]


def test_run_parallel_isolates_failures(spark, tmp_path):
    meta = OperationalMetastore(spark, str(tmp_path / "meta"))
    runner = JobRunner(spark, meta)
    runner.register("ok1", lambda: spark.range(5).count())
    runner.register("boom", lambda: 1 / 0)
    runner.register("ok2", lambda: spark.range(3).count())
    results = runner.run_parallel(["ok1", "boom", "ok2"])
    by_name = {r.job_name: r for r in results}
    assert by_name["ok1"].status == "SUCCEEDED" and by_name["ok1"].value == 5
    assert by_name["boom"].status == "FAILED"
    assert "division" in by_name["boom"].error
    assert by_name["ok2"].status == "SUCCEEDED"
    logged = meta.read().collect()
    assert {r.job_name: r.job_status for r in logged} == {
        "ok1": "SUCCEEDED",
        "boom": "FAILED",
        "ok2": "SUCCEEDED",
    }
    assert all(r.job_duration >= 0 for r in logged)


def test_run_series_suspends_downstream(spark, tmp_path):
    meta = OperationalMetastore(spark, str(tmp_path / "meta2"))
    runner = JobRunner(spark, meta)
    ran = []
    runner.register("a", lambda: ran.append("a"))
    runner.register("fail", lambda: (_ for _ in ()).throw(ValueError("x")))
    runner.register("never", lambda: ran.append("never"))
    with pytest.raises(RuntimeError, match="suspended"):
        runner.run_series(["a", "fail", "never"])
    assert ran == ["a"]
    statuses = {r.job_name: r.job_status for r in meta.read().collect()}
    assert statuses == {
        "a": "SUCCEEDED",
        "fail": "FAILED",
        "never": "SUSPENDED",
    }


def test_runner_runs_failing_job_once(spark):
    # the reference's MaxRetries=0: a retried lake append could write
    # the same rows twice
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise ValueError("transient")
        return "ok"

    runner = JobRunner(spark)
    runner.register("flaky", flaky)
    (res,) = runner.run_parallel(["flaky"])
    assert res.status == "FAILED" and attempts["n"] == 1


def test_run_layers_end_to_end(spark):
    runner = JobRunner(spark, max_parallel=2)
    order = []
    for name in ("c", "o", "l"):
        runner.register(name, lambda n=name: order.append(n))
    results = runner.run_layers([["c"], ["o", "l"]])
    assert [r.status for r in results] == ["SUCCEEDED"] * 3
    assert order[0] == "c" and set(order[1:]) == {"o", "l"}


def test_layers_parents_resolve_through_unknown_jobs():
    # a -> b -> c, a -> d; b is not a known job, so c waits on a
    edges = [("a", None), ("b", "a"), ("c", "b"), ("d", "a"), ("e", None)]
    layers = layers_from_edges(edges, known_jobs={"a", "c", "d", "e"})
    assert layers == [["a", "e"], ["d"], ["c"]]
    assert layers.parents == {
        "a": set(), "e": set(), "d": {"a"}, "c": {"a"},
    }
    # through a chain of unknowns, and stopping at the nearest known
    chain = layers_from_edges(
        [("x", None), ("y", "x"), ("z", "y"), ("w", "z")],
        known_jobs={"x", "y", "w"},
    )
    assert chain.parents["w"] == {"y"}


def test_run_layers_launches_child_before_slow_sibling_finishes(spark):
    # fast -> child, slow is in fast's layer but unrelated to child:
    # slow only finishes once child has run, which a layer barrier
    # would never allow (it would time out instead)
    child_ran = threading.Event()
    runner = JobRunner(spark, max_parallel=2)
    runner.register("fast", lambda: "fast")
    runner.register("slow", lambda: child_ran.wait(timeout=30))
    runner.register("child", child_ran.set)
    layers = layers_from_edges(
        [("fast", None), ("slow", None), ("child", "fast")]
    )
    assert layers == [["fast", "slow"], ["child"]]
    results = runner.run_layers(layers)
    assert [r.job_name for r in results] == ["fast", "slow", "child"]
    assert [r.status for r in results] == ["SUCCEEDED"] * 3
    assert results[1].value is True  # slow saw child's event, not a timeout


def test_run_layers_failure_suspends_only_descendants(spark, tmp_path):
    meta = OperationalMetastore(spark, str(tmp_path / "meta_layers"))
    runner = JobRunner(spark, meta, max_parallel=4)
    ran = []
    for name in ("a", "b", "c", "d", "e"):
        runner.register(name, lambda n=name: ran.append(n))
    runner.register("boom", lambda: 1 / 0)
    # boom -> b -> c; a -> d; e alone
    layers = layers_from_edges(
        [("a", None), ("boom", None), ("e", None), ("b", "boom"),
         ("c", "b"), ("d", "a")]
    )
    results = runner.run_layers(layers)
    status = {r.job_name: r.status for r in results}
    assert status == {
        "a": "SUCCEEDED", "boom": "FAILED", "e": "SUCCEEDED",
        "b": "SUSPENDED", "d": "SUCCEEDED", "c": "SUSPENDED",
    }
    assert sorted(ran) == ["a", "d", "e"]
    assert [r.job_name for r in results] == [j for l in layers for j in l]
    logged = {r.job_name: r.job_status for r in meta.read().collect()}
    assert logged == status


def test_run_layers_without_edges_keeps_barrier_order(spark):
    # trusted layer column: no edges, so every job of a layer waits for
    # the whole previous layer
    df = spark.createDataFrame(
        [("s", None, 0), ("f", None, 0), ("k", "f", 1)],
        ["Table", "Parent Table", "Layer"],
    )
    layers = layered_jobs(df, layer_col="Layer")
    assert layers == [["f", "s"], ["k"]] and layers.parents is None
    events = []
    runner = JobRunner(spark, max_parallel=4)
    runner.register("f", lambda: events.append("f"))

    def slow():
        time.sleep(0.5)
        events.append("s")

    runner.register("s", slow)
    runner.register("k", lambda: events.append("k"))
    results = runner.run_layers(layers)
    assert [r.status for r in results] == ["SUCCEEDED"] * 3
    assert events[-1] == "k"
    # ...and a failure in a layer suspends every later layer
    runner.register("s", lambda: 1 / 0)
    status = [r.status for r in runner.run_layers(layers)]
    assert status == ["SUCCEEDED", "FAILED", "SUSPENDED"]


def test_metastore_concurrent_records(spark, tmp_path):
    meta = OperationalMetastore(spark, str(tmp_path / "meta_conc"))
    t0 = datetime.now(timezone.utc)
    start = threading.Barrier(8)

    def rec(i):
        start.wait(timeout=30)
        meta.record(f"j{i}", "[]", "SUCCEEDED", t0, t0 + timedelta(seconds=i))

    threads = [threading.Thread(target=rec, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    rows = meta.read().collect()
    assert sorted(r.job_name for r in rows) == [f"j{i}" for i in range(8)]
    assert {r.job_name: r.job_duration for r in rows} == {
        f"j{i}": i for i in range(8)
    }


def test_metastore_roundtrip_values(spark, tmp_path):
    meta = OperationalMetastore(spark, str(tmp_path / "meta_rt"))
    start = datetime(2024, 3, 1, 23, 59, 58, 123456, tzinfo=timezone.utc)
    end = start + timedelta(seconds=2, microseconds=500001)
    meta.record("nis_orders", "['x', 1]", "FAILED", start, end)
    (row,) = meta.read().collect()
    assert row.job_name == "nis_orders"
    assert row.job_args == "['x', 1]"
    assert row.job_status == "FAILED"
    # collected timestamps are naive local time; compare as instants
    assert row.job_start_time.astimezone(timezone.utc) == start
    assert row.job_end_time.astimezone(timezone.utc) == end
    assert row.job_duration == 3  # ceil, utils.py:372


def test_metastore_reads_legacy_spark_appends(spark, tmp_path):
    path = str(tmp_path / "meta_legacy")
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    # a record as the Spark-append metastore wrote it
    spark.createDataFrame(
        [("old", "[]", "SUCCEEDED", t0.replace(tzinfo=None),
          (t0 + timedelta(seconds=7)).replace(tzinfo=None), 7)],
        METADATA_SCHEMA,
    ).write.mode("append").parquet(path)
    meta = OperationalMetastore(spark, path)
    meta.record("new", "[]", "SUCCEEDED", t0, t0 + timedelta(seconds=4))
    meta.record("old", "[]", "FAILED", t0, t0 + timedelta(seconds=9))
    rows = meta.read().collect()
    assert sorted((r.job_name, r.job_status) for r in rows) == [
        ("new", "SUCCEEDED"), ("old", "FAILED"), ("old", "SUCCEEDED"),
    ]
    last = {r.TableName: r.IngestionTime
            for r in meta.last_success_durations().collect()}
    assert last == {"old": 7, "new": 4}


def test_recon_report_and_assert(spark, tmp_path, sf_dir):
    lake = tmp_path / "lake"
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    src.write.parquet(str(lake / "nis_nation"))
    spark.read.parquet(f"{sf_dir}/region.parquet").write.parquet(
        str(lake / "nis_region")
    )

    def source_reader(table):
        return spark.read.parquet(f"{sf_dir}/{table.split('_', 1)[1]}.parquet")

    meta = OperationalMetastore(spark, str(tmp_path / "meta3"))
    t0 = datetime.now(timezone.utc)
    meta.record("nis_nation", "[]", "SUCCEEDED", t0, t0 + timedelta(seconds=3))
    # lake root addressed by URI: the Hadoop FS port means any scheme
    # the session can read (file:, s3a:, ...) works, not just local paths
    report = recon_report(
        spark,
        f"file://{lake}",
        source_reader,
        metastore=meta,
        output_path=str(tmp_path / "recon_out"),
    )
    rows = {r.TableName: r for r in report.collect()}
    assert rows["nis_nation"].OnpremRowCounts == rows["nis_nation"].TableRowCounts == 25
    assert rows["nis_nation"].OnpremTableName == "nis.nation"
    assert rows["nis_nation"].TableSize > 0
    assert rows["nis_nation"].IngestionTime == 3
    # nis_region has no metastore entry but still appears (outer join fix)
    assert rows["nis_region"].IngestionTime is None
    assert_reconciled(report)
    assert spark.read.parquet(str(tmp_path / "recon_out")).count() == 2


def test_bootstrap_idempotent(spark, tmp_path):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.plans import (
        bootstrap,
        database_exists,
    )

    lake = tmp_path / "lake_root"
    bootstrap(spark, str(lake), databases=("db_a", "db_b"))
    bootstrap(spark, str(lake), databases=("db_a", "db_b"))  # idempotent
    assert lake.is_dir()
    assert database_exists(spark, "db_a")
    assert database_exists(spark, "db_b")
    spark.sql("DROP DATABASE db_a")
    spark.sql("DROP DATABASE db_b")


def test_assert_reconciled_raises(spark):
    bad = spark.createDataFrame(
        [("t", "s.t", 10, 9)],
        "TableName STRING, OnpremTableName STRING, "
        "OnpremRowCounts BIGINT, TableRowCounts BIGINT",
    )
    with pytest.raises(AssertionError, match="unreconciled"):
        assert_reconciled(bad)


def _land(spark, lake, sizes: dict) -> dict:
    """Write one ``range(n)`` table per entry under ``lake``; returns
    the source frames by table name."""
    srcs = {}
    for t, n in sizes.items():
        srcs[t] = spark.range(n).withColumn("k", F.col("id") % 3)
        srcs[t].write.parquet(str(lake / t))
    return srcs


def _root(lake, uri: bool) -> str:
    return f"file://{lake}" if uri else str(lake)


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file-uri"])
def test_recon_flags_a_deleted_lake_row(spark, tmp_path, uri):
    lake = tmp_path / "lake"
    src = _land(spark, lake, {"a_x": 40, "a_y": 25})
    assert_reconciled(recon_report(spark, _root(lake, uri), src.get))
    # lose one landed row of a_y behind the writer's back
    landed = pq.read_table(lake / "a_y")
    for f in (lake / "a_y").iterdir():
        f.unlink()
    pq.write_table(landed.slice(1), lake / "a_y" / "part-0.parquet")
    report = recon_report(spark, _root(lake, uri), src.get)
    rows = {r.TableName: r for r in report.collect()}
    assert (rows["a_y"].OnpremRowCounts, rows["a_y"].TableRowCounts) == (25, 24)
    assert rows["a_x"].TableRowCounts == 40
    with pytest.raises(AssertionError, match="a_y"):
        assert_reconciled(report)


def test_recon_skips_raising_source_and_nulls_none_source(spark, tmp_path):
    lake = tmp_path / "lake"
    src = _land(spark, lake, {"s_ok": 10, "s_bad": 5, "s_none": 7})

    def reader(t):
        if t == "s_bad":
            raise RuntimeError("source unreachable")
        return src[t] if t == "s_ok" else None

    counts = {
        r.TableName: r
        for r in count_reconciliation(spark, str(lake), reader).collect()
    }
    assert set(counts) == {"s_ok", "s_none"}
    assert counts["s_ok"].OnpremRowCounts == counts["s_ok"].TableRowCounts == 10
    assert counts["s_none"].OnpremRowCounts is None
    assert counts["s_none"].TableRowCounts == 7
    report = recon_report(spark, str(lake), reader)
    rows = {r.TableName: r for r in report.collect()}
    # the skipped table keeps its size row (full outer), with no counts
    assert rows["s_bad"].TableRowCounts is None and rows["s_bad"].TableSize > 0
    assert_reconciled(report)


def test_recon_source_failing_at_run_time_is_skipped(spark, tmp_path):
    # the plan builds, the batched count job fails; each source is then
    # counted alone and only the failing one is dropped
    lake = tmp_path / "lake"
    src = _land(spark, lake, {"f_ok": 10, "f_boom": 4})
    boom = spark.range(4).where(F.assert_true(F.col("id") < 0).isNull())
    counts = count_reconciliation(
        spark, str(lake), lambda t: boom if t == "f_boom" else src[t]
    ).collect()
    assert [(r.TableName, r.OnpremRowCounts, r.TableRowCounts) for r in counts] == [
        ("f_ok", 10, 10)
    ]


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file-uri"])
def test_recon_lake_counts_match_parquet_reader(spark, tmp_path, uri):
    lake = tmp_path / "lake"
    df = spark.range(300).withColumn("k", F.col("id") % 4)
    df.write.partitionBy("k").parquet(str(lake / "h_part"))
    df.write.parquet(str(lake / "h_meta"))
    df.write.parquet(str(lake / "h sp"))  # URI-escaped in file paths
    # metadata a table dir can hold besides data: the committer's
    # _SUCCESS (written above), checksums, and a Delta log with a
    # parquet checkpoint
    meta = lake / "h_meta"
    assert (meta / "_SUCCESS").exists()
    (meta / ".part-x.parquet.crc").write_bytes(b"crc")
    (meta / "_delta_log").mkdir()
    (meta / "_delta_log" / "00000000000000000000.json").write_text("{}\n")
    pq.write_table(
        pa.table({"id": list(range(5))}),
        meta / "_delta_log" / "00000000000000000010.checkpoint.parquet",
    )
    expected = {
        t: spark.read.parquet(str(lake / t)).count()
        for t in ("h_part", "h_meta", "h sp")
    }
    got = {
        r.TableName: r.TableRowCounts
        for r in count_reconciliation(
            spark, _root(lake, uri), lambda t: None
        ).collect()
    }
    assert got == expected == {"h_part": 300, "h_meta": 300, "h sp": 300}


def test_recon_empty_table_dir_counts_zero(spark, tmp_path):
    lake = tmp_path / "lake"
    src = _land(spark, lake, {"e_full": 12})
    (lake / "e_marker").mkdir()
    (lake / "e_marker" / "_SUCCESS").write_bytes(b"")
    (lake / "e_bare").mkdir()
    srcs = {**src, "e_marker": spark.range(3), "e_bare": spark.range(0)}
    report = recon_report(spark, str(lake), srcs.get)
    rows = {r.TableName: (r.OnpremRowCounts, r.TableRowCounts) for r in report.collect()}
    assert rows == {"e_full": (12, 12), "e_marker": (3, 0), "e_bare": (0, 0)}
    with pytest.raises(AssertionError, match="e_marker"):
        assert_reconciled(report)


def test_recon_with_fresh_metastore(spark, tmp_path):
    meta = OperationalMetastore(spark, str(tmp_path / "no_records_yet"))
    empty = meta.read()
    assert empty.schema == METADATA_SCHEMA and empty.count() == 0
    assert meta.last_success_durations().collect() == []
    lake = tmp_path / "lake"
    src = _land(spark, lake, {"m_t": 5})
    report = recon_report(spark, str(lake), src.get, metastore=meta)
    (row,) = report.collect()
    assert (row.TableName, row.TableRowCounts, row.IngestionTime) == ("m_t", 5, None)
    assert_reconciled(report)


def test_recon_job_budget_is_independent_of_table_count(
    spark, tmp_path, count_jobs
):
    jobs = {}
    for n in (2, 6):
        lake = tmp_path / f"lake{n}"
        for i in range(n):
            spark.range(10 * (i + 1)).write.parquet(str(lake / f"j_{i}"))

        def reader(t, lake=lake):  # explicit schema: no inference job
            return spark.read.schema("id BIGINT").parquet(str(lake / t))

        counts, jobs[n] = count_jobs(
            lambda: count_reconciliation(spark, str(lake), reader).collect()
        )
        assert {r.TableName: r.TableRowCounts for r in counts} == {
            f"j_{i}": 10 * (i + 1) for i in range(n)
        }
        report = recon_report(spark, str(lake), reader)
        _, assert_jobs = count_jobs(lambda: assert_reconciled(report))
        assert assert_jobs == 0
    assert jobs[2] == jobs[6] <= 4
