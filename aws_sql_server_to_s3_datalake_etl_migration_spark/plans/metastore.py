"""Operational metastore (O6/S12/S13, reference ``utils.py:451-498``).

Append-only job-run records with the exact schema of ``utils.py:461-468``
(job_name, job_args, job_status, job_start_time, job_end_time,
job_duration), persisted as parquet (or JDBC via the generic sink).

Each record is one small parquet file built in driver memory and
written through the Hadoop FileSystem API: no Spark job per record, and
a unique file name per record, so concurrent ``record`` calls need no
lock (a Spark append per record would share the Hadoop committer's
``_temporary/0`` staging dir, where one commit's cleanup deletes
another's in-flight files). ``read`` takes the whole directory,
including files an older Spark-append version of this class wrote; a
metastore with no records yet reads as an empty table.
"""

from __future__ import annotations

import io
import math
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..sources.fs import exists, write_bytes_file

METADATA_SCHEMA = StructType(
    [
        StructField("job_name", StringType(), False),
        StructField("job_args", StringType(), True),
        StructField("job_status", StringType(), True),
        StructField("job_start_time", TimestampType(), True),
        StructField("job_end_time", TimestampType(), True),
        StructField("job_duration", IntegerType(), True),
    ]
)
# as written: UTC instants in microseconds, which Spark reads back as
# TimestampType
_ARROW_SCHEMA = to_arrow_schema(METADATA_SCHEMA)


class OperationalMetastore:
    """Parquet-backed run log. ``record`` appends one row per finished
    job; ``read`` returns the queryable table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def record(
        self,
        job_name: str,
        job_args: str,
        job_status: str,
        start: datetime,
        end: datetime | None,
    ) -> None:
        end = end or datetime.now(timezone.utc)
        duration = math.ceil((end - start).total_seconds())  # utils.py:372
        row = pa.Table.from_pylist(
            [
                {
                    "job_name": job_name,
                    "job_args": job_args,
                    "job_status": job_status,
                    "job_start_time": start,
                    "job_end_time": end,
                    "job_duration": int(duration),
                }
            ],
            schema=_ARROW_SCHEMA,
        )
        buf = io.BytesIO()
        pq.write_table(row, buf)
        write_bytes_file(
            self.spark,
            f"{self.path.rstrip('/')}/part-{uuid.uuid4().hex}.parquet",
            buf.getvalue(),
        )

    def read(self) -> DataFrame:
        if not exists(self.spark, self.path):  # no record written yet
            return self.spark.createDataFrame([], METADATA_SCHEMA)
        return self.spark.read.schema(METADATA_SCHEMA).parquet(self.path)

    def last_success_durations(self) -> DataFrame:
        """R3 analog (reporting_utils.py:45-60): most recent SUCCEEDED
        run's duration per job — in-engine window, not a poll loop."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("job_name").orderBy(
            F.col("job_end_time").desc()
        )
        return (
            self.read()
            .where(F.col("job_status") == "SUCCEEDED")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                F.col("job_name").alias("TableName"),
                F.col("job_duration").alias("IngestionTime"),
            )
        )
