"""End-to-end driver pipeline (the reference's ``driver_ingestions.py``
flow): bootstrap infra → register table jobs → layer by dependencies →
run in parallel batches with operational metadata → reconcile source
vs lake — all in-process on one SparkSession."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_sql_server_to_s3_datalake_etl_migration_spark.pipelines import (
    ingest_query_to_lake,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.plans import (
    JobRunner,
    OperationalMetastore,
    bootstrap,
    layered_jobs,
    recon_report,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.plans.recon import (
    assert_reconciled,
)


def test_full_driver_pipeline(spark, tmp_path, sf_dir):
    lake = tmp_path / "lake"
    bootstrap(spark, str(lake), databases=("e2e_dl",))

    src = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
           for t in ("nation", "customer", "orders")}

    # --- table jobs (the reference's table_jobs/*.py scripts) ---------
    def job_nation():
        return ingest_query_to_lake(
            spark, {"nation": src["nation"]},
            "SELECT * FROM nation", str(lake / "nis_nation"),
        )

    def job_customer():
        return ingest_query_to_lake(
            spark, {"customer": src["customer"]},
            "SELECT * FROM customer", str(lake / "nis_customer"),
        )

    def job_orders():  # nis_policies-shaped: join + IN-list filter
        return ingest_query_to_lake(
            spark,
            {"pol": src["orders"], "org": src["customer"]},
            """
            SELECT pol.* FROM pol
            JOIN org ON org.c_custkey = pol.o_custkey
            WHERE org.c_nationkey IN (0, 3, 5, 7)
            """,
            str(lake / "nis_orders"),
        )

    meta = OperationalMetastore(spark, str(tmp_path / "meta"))
    runner = JobRunner(spark, meta)
    runner.register("nis_nation", job_nation)
    runner.register("nis_customer", job_customer)
    runner.register("nis_orders", job_orders)

    # --- dependency layering (dependency_utils.py flow) ---------------
    deps = spark.createDataFrame(
        [
            ("Nation", None, 0),
            ("Customer", "Nation", 1),
            ("Orders", "Customer", 2),
        ],
        ["Table", "Parent Table", "Layer"],
    )
    layers = layered_jobs(deps, prefix="nis_")  # derived via Kahn
    assert layers == [["nis_nation"], ["nis_customer"], ["nis_orders"]]

    results = runner.run_layers(layers)
    assert [r.status for r in results] == ["SUCCEEDED"] * 3
    assert all(r.value > 0 for r in results)

    # --- operational metadata persisted -------------------------------
    statuses = {r.job_name: r.job_status for r in meta.read().collect()}
    assert statuses == {
        "nis_nation": "SUCCEEDED",
        "nis_customer": "SUCCEEDED",
        "nis_orders": "SUCCEEDED",
    }

    # --- reconciliation (reporting_utils.py flow) ----------------------
    def source_reader(table):
        name = table.split("_", 1)[1]
        if name == "orders":  # recon compares against the same filter
            return src["orders"].join(
                src["customer"].where(F.col("c_nationkey").isin(0, 3, 5, 7)),
                src["orders"].o_custkey == src["customer"].c_custkey,
                "left_semi",
            )
        return src[name]

    report = recon_report(
        spark, str(lake), source_reader, metastore=meta,
        output_path=str(tmp_path / "recon"),
    )
    assert_reconciled(report)
    rows = {r.TableName: r for r in report.collect()}
    assert set(rows) == {"nis_nation", "nis_customer", "nis_orders"}
    assert rows["nis_orders"].OnpremRowCounts == rows["nis_orders"].TableRowCounts

    spark.sql("DROP DATABASE IF EXISTS e2e_dl")
