"""Composed ingestion pipelines: CSV→clean→parquet and the
sources→SQL→parquet table-job template."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from aws_sql_server_to_s3_datalake_etl_migration_spark.pipelines import (
    ingest_csv_to_lake,
    ingest_query_to_lake,
)


def test_ingest_csv_inferred_with_messy_headers(spark, tmp_path):
    csv = tmp_path / "in.csv"
    csv.write_text(
        '"Policy Id","Start; Date","Amount (USD)"\n'
        "1,2020-01-01,10.5\n"
        "2,2020-02-01,20.25\n"
    )
    lake = str(tmp_path / "lake_tbl")
    n = ingest_csv_to_lake(spark, str(csv), lake)
    assert n == 2
    out = spark.read.parquet(lake)
    assert out.columns == ["Policy_Id", "Start_Date", "Amount_USD"]
    assert out.where(F.col("Policy_Id") == 2).first()["Amount_USD"] == 20.25


def test_ingest_csv_with_ddl_schema(spark, tmp_path):
    csv = tmp_path / "cal.csv"
    csv.write_text("d,label,n\n2020-01-01,new year,1\n2020-12-25,xmas,2\n")
    lake = str(tmp_path / "cal_tbl")
    ddl = "CREATE TABLE lookup_calendar (d DATE, label STRING, n INT)"
    n = ingest_csv_to_lake(spark, str(csv), lake, ddl=ddl)
    out = spark.read.parquet(lake)
    assert n == 2 == out.count()
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "date",
        "string",
        "int",
    ]


def test_ingest_query_to_lake_template(spark, tmp_path, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    lake = str(tmp_path / "policies_out")
    n = ingest_query_to_lake(
        spark,
        {"pol": orders, "org": customer},
        """
        SELECT pol.* FROM pol
        JOIN org ON org.c_custkey = pol.o_custkey
        WHERE org.c_nationkey IN (1, 3, 5)
        """,
        lake,
    )
    expected = (
        orders.join(
            customer.where(F.col("c_nationkey").isin(1, 3, 5)),
            orders.o_custkey == customer.c_custkey,
            "left_semi",
        ).count()
    )
    assert n == expected > 0
    # views are dropped afterwards
    assert not spark.catalog.tableExists("pol")
    assert not spark.catalog.tableExists("org")


def test_partitioned_ingest_prunes_at_listing_time(spark, sf_dir, tmp_path):
    """Date-partitioned write + selective read: the pruned scan's input
    files must all come from the matching partition directory — proof
    the filter was applied at listing time, not per-row."""
    from pyspark.sql import functions as F

    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import write_parquet

    path = str(tmp_path / "orders_by_year")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    write_parquet(o, path, mode="overwrite", partition_by=["o_year"])
    pruned = spark.read.parquet(path).where(F.col("o_year") == 1997)
    # inputFiles() reflects the pre-pruning logical relation; the
    # pruning decision lives in the physical scan's PartitionFilters.
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    formatted = buf.getvalue()
    assert any(
        "PartitionFilters: [" in ln and "1997" in ln
        for ln in formatted.splitlines()
    ), f"partition filter not pushed to listing:\n{formatted}"
    expected = o.where(F.year("o_orderdate") == 1997).count()
    assert pruned.count() == expected


def test_robust_ingest_pipeline_end_to_end(spark, tmp_path):
    """Quarantine -> cross-batch dedup -> observed append, composed:
    malformed rows dead-letter, replayed content is rejected by the
    fingerprint index, and the observed metric equals the rows
    actually admitted."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.pipelines import (
        robust_ingest_to_lake,
    )

    feed1 = tmp_path / "f1"
    feed1.mkdir()
    (feed1 / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        "garbage line\n"
        '{"doc_id": 2, "text": "beta"}\n'
    )
    paths = dict(
        lake_path=str(tmp_path / "lake"),
        quarantine_path=str(tmp_path / "quarantine"),
        fingerprint_index_path=str(tmp_path / "fp_idx"),
    )
    r1 = robust_ingest_to_lake(
        spark, str(feed1), "doc_id BIGINT, text STRING", **paths
    )
    assert r1 == {"clean": 2, "quarantined": 1, "admitted": 2}

    feed2 = tmp_path / "f2"
    feed2.mkdir()
    (feed2 / "b.jsonl").write_text(
        '{"doc_id": 10, "text": "beta"}\n'      # cross-batch dupe
        '{"doc_id": 11, "text": "gamma"}\n'
    )
    r2 = robust_ingest_to_lake(
        spark, str(feed2), "doc_id BIGINT, text STRING", **paths
    )
    assert r2 == {"clean": 2, "quarantined": 0, "admitted": 1}

    lake = spark.read.parquet(paths["lake_path"])
    assert {(r["doc_id"], r["text"]) for r in lake.collect()} == {
        (1, "alpha"), (2, "beta"), (11, "gamma"),
    }
    quarantined = spark.read.parquet(paths["quarantine_path"])
    assert [r["_raw_record"] for r in quarantined.collect()] == ["garbage line"]


def test_robust_ingest_run_id_exactly_once_after_crash(spark, tmp_path):
    """run_id mode: a run that died after its lake write but before
    its fingerprint write (simulated by deleting the index partition)
    re-runs into the SAME partitions — no lost rows, no duplicates —
    and later runs still dedup against it."""
    import shutil

    from aws_sql_server_to_s3_datalake_etl_migration_spark.pipelines import (
        robust_ingest_to_lake,
    )

    feed1 = tmp_path / "f1"
    feed1.mkdir()
    (feed1 / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        "garbage line\n"
        '{"doc_id": 2, "text": "beta"}\n'
        '{"doc_id": 3, "text": "beta"}\n'
    )
    paths = dict(
        lake_path=str(tmp_path / "lake"),
        quarantine_path=str(tmp_path / "quarantine"),
        fingerprint_index_path=str(tmp_path / "fp_idx"),
    )
    r1 = robust_ingest_to_lake(
        spark, str(feed1), "doc_id BIGINT, text STRING",
        run_id="run-001", **paths
    )
    assert r1 == {"clean": 3, "quarantined": 1, "admitted": 2}

    # simulate the crash: the fingerprint partition never landed
    shutil.rmtree(
        tmp_path / "fp_idx" / "ingest_batch_id=run-001"
    )
    # operator retries the SAME run id → identical, replaced output
    r1b = robust_ingest_to_lake(
        spark, str(feed1), "doc_id BIGINT, text STRING",
        run_id="run-001", **paths
    )
    assert r1b == r1
    lake = spark.read.parquet(paths["lake_path"])
    assert sorted(
        (r["doc_id"], r["text"]) for r in lake.collect()
    ) == [(1, "alpha"), (2, "beta")]

    # next run, new id: cross-run dedup against run-001's index
    feed2 = tmp_path / "f2"
    feed2.mkdir()
    (feed2 / "b.jsonl").write_text(
        '{"doc_id": 10, "text": "beta"}\n'
        '{"doc_id": 11, "text": "gamma"}\n'
    )
    r2 = robust_ingest_to_lake(
        spark, str(feed2), "doc_id BIGINT, text STRING",
        run_id="run-002", **paths
    )
    assert r2 == {"clean": 2, "quarantined": 0, "admitted": 1}
    lake = spark.read.parquet(paths["lake_path"])
    assert {(r["doc_id"], r["text"]) for r in lake.collect()} == {
        (1, "alpha"), (2, "beta"), (11, "gamma"),
    }
    # lineage partition column visible to readers
    assert {r["ingest_batch_id"] for r in lake.collect()} == {
        "run-001", "run-002",
    }


def test_robust_ingest_append_mode_never_loses_rows(spark, tmp_path):
    """Without run_id the contract is at-least-once: because rows
    commit BEFORE fingerprints, a crash between the two (simulated by
    wiping the index) re-admits on retry — duplicates possible, loss
    not."""
    import shutil

    from aws_sql_server_to_s3_datalake_etl_migration_spark.pipelines import (
        robust_ingest_to_lake,
    )

    feed = tmp_path / "f1"
    feed.mkdir()
    (feed / "a.jsonl").write_text('{"doc_id": 1, "text": "alpha"}\n')
    paths = dict(
        lake_path=str(tmp_path / "lake"),
        quarantine_path=str(tmp_path / "quarantine"),
        fingerprint_index_path=str(tmp_path / "fp_idx"),
    )
    robust_ingest_to_lake(spark, str(feed), "doc_id BIGINT, text STRING", **paths)
    shutil.rmtree(tmp_path / "fp_idx")  # crash before fingerprint write
    robust_ingest_to_lake(spark, str(feed), "doc_id BIGINT, text STRING", **paths)
    texts = [
        r["text"] for r in spark.read.parquet(paths["lake_path"]).collect()
    ]
    assert texts.count("alpha") >= 1  # no loss (dups acceptable here)


def test_vector_ingest_to_index_e2e(spark, tmp_path):
    """Bootstrap -> validated append -> drift -> serve -> replay."""
    from pyspark.sql import functions as F

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        quantize,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.pipelines import (
        vector_ingest_to_index,
    )

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    index = str(tmp_path / "vindex")
    quar = str(tmp_path / "vquar")

    b0 = embs.where(F.col("vec_id") < 250)
    r0 = vector_ingest_to_index(spark, b0, index, quar, run_id="b0")
    assert r0["clean"] == 250 and r0["quarantined"] == 0

    # batch 1 carries two poisoned rows that must quarantine
    bad = spark.createDataFrame(
        [(90001, [float("nan")] * 64), (90002, [0.25] * 63)],
        "vec_id long, embedding array<float>",
    ).withColumn("label", F.lit(0))
    b1 = embs.where(F.col("vec_id") >= 250).unionByName(bad)
    r1 = vector_ingest_to_index(spark, b1, index, quar, run_id="b1")
    assert r1["quarantined"] == 2 and r1["clean"] == 250
    assert 0.5 < r1["drift_ratio"] < 2.0  # same distribution

    codes, cb, dim, m = quantize.read_pq_index(spark, index)
    assert codes.count() == 500  # no poisoned rows indexed
    # serve: ADC top-10 finds the query vector itself first
    q = [float(v) for v in embs.where(F.col("vec_id") == 0).first()["embedding"]]
    top = quantize.pq_adc_topk(codes, cb, q, k=10, dim=dim, m=m).collect()
    assert top[0].vec_id == 0

    # replay of b1: partitions replaced, not duplicated
    r1b = vector_ingest_to_index(spark, b1, index, quar, run_id="b1")
    assert r1b["clean"] == 250
    codes2, _, _, _ = quantize.read_pq_index(spark, index)
    assert codes2.count() == 500


def test_vector_ingest_bootstrap_replay_is_exactly_once(spark, tmp_path):
    """Replaying the BOOTSTRAP batch (crash after the index write,
    re-run with the same run_id) must not double-index its vectors:
    the replay takes the append path and overwrites the same
    partition."""
    from pyspark.sql import functions as F

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        quantize,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.pipelines import (
        vector_ingest_to_index,
    )

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    b0 = embs.where(F.col("vec_id") < 200)
    index = str(tmp_path / "vri")
    quar = str(tmp_path / "vri_q")
    vector_ingest_to_index(spark, b0, index, quar, run_id="b0")
    first = {
        r.vec_id: list(r.pq_codes)
        for r in quantize.read_pq_index(spark, index)[0].collect()
    }
    vector_ingest_to_index(spark, b0, index, quar, run_id="b0")  # replay
    codes, _, _, _ = quantize.read_pq_index(spark, index)
    assert codes.count() == 200
    again = {r.vec_id: list(r.pq_codes) for r in codes.collect()}
    assert again == first


def test_ingest_query_to_lake_concurrent_same_view_name(spark, tmp_path):
    # two jobs both call their source "src" (the template names views
    # after source tables); each lake table must hold its own rows
    from concurrent.futures import ThreadPoolExecutor

    sizes = {"big": 1000, "small": 50}
    for rep in range(10):
        go = threading.Barrier(2)

        def job(name):
            src = spark.range(sizes[name])
            go.wait(timeout=30)
            return ingest_query_to_lake(
                spark, {"src": src}, "SELECT * FROM src",
                str(tmp_path / f"{name}_{rep}"),
            )

        with ThreadPoolExecutor(2) as pool:
            got = dict(zip(sizes, pool.map(job, sizes)))
        assert got == sizes, f"repetition {rep}"
        for name, n in sizes.items():
            assert spark.read.parquet(str(tmp_path / f"{name}_{rep}")).count() == n


def test_ingest_counts_are_per_job_under_concurrency(spark, tmp_path):
    # each job's Observation reports its own write, not a neighbour's
    from concurrent.futures import ThreadPoolExecutor

    sizes = {"t0": 10, "t1": 200, "t2": 3000, "t3": 0}
    go = threading.Barrier(len(sizes))

    def job(name):
        src = spark.range(sizes[name])
        go.wait(timeout=30)
        return ingest_query_to_lake(
            spark, {name: src}, f"SELECT * FROM {name}",
            str(tmp_path / name),
        )

    with ThreadPoolExecutor(len(sizes)) as pool:
        got = dict(zip(sizes, pool.map(job, sizes)))
    assert got == sizes
    for name, n in sizes.items():
        assert spark.read.parquet(str(tmp_path / name)).count() == n


def test_ingest_query_filtered_to_zero_rows(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    # a literal-false filter is optimized to an empty relation; the
    # observed count must still arrive instead of blocking
    queries = ["SELECT * FROM src WHERE 1 = 0", "SELECT * FROM src WHERE id < 0"]
    with ThreadPoolExecutor(1) as pool:
        for i, q in enumerate(queries):
            fut = pool.submit(
                ingest_query_to_lake,
                spark, {"src": spark.range(100)}, q, str(tmp_path / f"z{i}"),
            )
            assert fut.result(timeout=120) == 0
            assert spark.read.parquet(str(tmp_path / f"z{i}")).count() == 0


def test_ingest_partitioned_returns_total_rows(spark, tmp_path):
    lake = str(tmp_path / "part_tbl")
    src = spark.range(1000).withColumn("k", F.col("id") % 7)
    n = ingest_query_to_lake(
        spark, {"src": src}, "SELECT * FROM src", lake, partition_by=["k"]
    )
    assert n == 1000 == spark.read.parquet(lake).count()
    assert len(list((tmp_path / "part_tbl").glob("k=*"))) == 7


def test_unpartitioned_ingest_runs_only_its_write(spark, tmp_path, count_jobs):
    # the count rides on the write job: no re-read of the landed table
    spark.range(500).write.parquet(str(tmp_path / "src"))
    src = spark.read.schema("id BIGINT").parquet(str(tmp_path / "src"))
    n, jobs = count_jobs(
        lambda: ingest_query_to_lake(
            spark, {"src": src}, "SELECT * FROM src", str(tmp_path / "out")
        )
    )
    assert (n, jobs) == (500, 1)
    csv = tmp_path / "in.csv"
    csv.write_text("a\n1\n2\n3\n")
    n, jobs = count_jobs(
        lambda: ingest_csv_to_lake(
            spark, str(csv), str(tmp_path / "csv_out"), ddl="a INT"
        )
    )
    assert (n, jobs) == (3, 1)
