"""PySpark-native analytics/ETL engine.

A brand-new, Spark-first implementation of the capability surface of the
reference repo ``anhassan/AWS-SQL-Server-to-S3-DataLake-ETL-Migration``
(an AWS Glue / SQL-Server-to-S3 ETL framework), re-expressed as an
idiomatic PySpark library:

- ``session``     SparkSession factory (timestamp-rebase configs, AQE, FAIR).
- ``sources``     readers (parquet / CSV inferred+DDL / JDBC / Delta) and
                  sinks (parquet overwrite/append, JDBC append, catalog
                  registration) — SURVEY.md §2.1.
- ``operators``   relational + ETL operators: column sanitization,
                  incremental watermark loads, merge-upsert, dedup
                  (exact / MinHash-LSH / SimHash / n-gram Jaccard /
                  embedding-cosine), similarity search, text analysis.
- ``functions``   scalar column helpers (name derivation, path munging).
- ``plans``       control plane: dependency layering, parallel/serial job
                  runners, operational metastore, reconciliation reports.

Design rules (SURVEY.md §7): DataFrame/SQL only — Catalyst does pushdown,
pruning, and join selection; no driver-side collect() on data paths; no
custom Catalyst rules; Pandas UDFs only where built-ins can't express the
semantics.
"""

__version__ = "0.1.0"
