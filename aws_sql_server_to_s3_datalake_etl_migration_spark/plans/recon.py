"""Reconciliation report (R1–R5, reference ``reporting_utils.py``).

Per lake table: source row count vs lake row count, bytes on disk, and
last ingestion duration, joined into one queryable ``recon_report``.
Fixes from SURVEY.md §2.11: table discovery looks under the actual lake
prefix, and the three metrics are FULL-outer-joined so a table missing
one metric still appears (the reference's inner joins dropped it).

Recon is an independent check: lake counts come from re-reading what
landed on disk, never from the count an ingest job observed while
writing. Its Spark job budget does not grow with the table count: one
scan counts every lake table, one union counts every source, and the
report is assembled on the driver (at most one row per table), so
checking it with ``assert_reconciled`` runs no Spark job.
"""

from __future__ import annotations

from functools import reduce
from urllib.parse import unquote, urlsplit

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import fs
from .metastore import OperationalMetastore

_SIZES = pa.schema([("TableName", pa.string()), ("TableSize", pa.int64())])
_COUNTS = pa.schema(
    [
        ("TableName", pa.string()),
        ("OnpremTableName", pa.string()),
        ("OnpremRowCounts", pa.int64()),
        ("TableRowCounts", pa.int64()),
    ]
)
_REPORT = pa.schema(
    [*_COUNTS, ("TableSize", pa.int64()), ("IngestionTime", pa.int32())]
)


def _local_frame(
    spark: SparkSession, rows: list[tuple], schema: pa.Schema
) -> DataFrame:
    """Driver-side rows as a local relation: collecting or filtering it
    runs no Spark job (``createDataFrame`` of a row list is an RDD scan,
    one job per action)."""
    return spark.createDataFrame(
        pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        )
    )


def discover_tables(spark: SparkSession, lake_root: str) -> list[str]:
    """R1: table list = first-level directories under the lake root.
    Hadoop FS listing, so any store the session can read (``file:``,
    ``s3a:``, ...) works — the reference's boto3 prefix listing
    (``reporting_utils.py:20-28``) pinned this to S3."""
    return fs.list_subdirs(spark, lake_root)


def table_sizes(spark: SparkSession, lake_root: str) -> DataFrame:
    """R2: recursive byte size per table directory."""
    rows = []
    for t in discover_tables(spark, lake_root):
        rows.append((t, fs.dir_bytes(spark, f"{lake_root.rstrip('/')}/{t}")))
    return _local_frame(spark, rows, _SIZES)


def _source_counts(sources: dict) -> dict:
    """Row count per source (``None`` for a ``None`` source) in one
    union + ``groupBy`` job. Only if that job fails is each source
    counted alone, dropping the ones that fail (skip-on-error)."""
    counts = {t: None for t, src in sources.items() if src is None}
    live = {t: src for t, src in sources.items() if src is not None}
    if not live:
        return counts
    try:
        tagged = reduce(
            DataFrame.unionAll,
            [src.select(F.lit(t).alias("t")) for t, src in live.items()],
        )
        got = dict(tagged.groupBy("t").count().collect())
        counts.update({t: got.get(t, 0) for t in live})
    except Exception:
        for t, src in live.items():
            try:
                counts[t] = src.count()
            except Exception:
                continue  # skip-on-error preserved
    return counts


def _lake_counts(
    spark: SparkSession, lake_root: str, tables: list[str]
) -> dict:
    """Rows on disk per table dir, all tables in one scan. The given
    one-column schema skips per-table schema inference, the recursive
    lookup counts Hive-partitioned tables without partition discovery,
    and a dir with no data files counts 0 instead of failing
    inference. Each file maps back to its table by its path under the
    qualified lake root."""
    counts = dict.fromkeys(tables, 0)
    if not tables:
        return counts
    root = fs.qualified_path(spark, lake_root)
    files = (
        spark.read.schema("_recon_row BOOLEAN")
        .option("recursiveFileLookup", "true")
        .parquet(*[f"{lake_root.rstrip('/')}/{t}" for t in tables])
        .groupBy("_metadata.file_path")
        .count()
        .collect()
    )
    for path, n in files:
        rel = unquote(urlsplit(path).path)[len(root):].lstrip("/")
        counts[rel.split("/", 1)[0]] += n
    return counts


def count_reconciliation(
    spark: SparkSession,
    lake_root: str,
    source_reader,
    name_map=None,
) -> DataFrame:
    """R4 (reporting_utils.py:63-74): per table, source count vs lake
    count. ``source_reader(table_name) -> DataFrame | None`` abstracts
    the JDBC source (tests pass a parquet-backed reader); a ``None``
    source gives a NULL ``OnpremRowCounts``.

    Every source plan is built first, and a table whose reader raises
    is skipped, as in the reference (:71-72). The rest cost a constant
    number of Spark jobs however many tables there are: one for all
    sources (``_source_counts``) and one scan for all lake tables
    (``_lake_counts``), which reads the files on disk and never the
    writer's own count."""
    sources = {}
    for t in discover_tables(spark, lake_root):
        try:
            sources[t] = source_reader(t)
        except Exception:
            continue  # skip-on-error preserved
    src_counts = _source_counts(sources)
    lake_counts = _lake_counts(spark, lake_root, list(src_counts))
    name = name_map or (lambda t: t.replace("_", ".", 1))
    rows = [
        (t, name(t), src_counts[t], lake_counts[t])
        for t in sources
        if t in src_counts
    ]
    return _local_frame(spark, rows, _COUNTS)


def recon_report(
    spark: SparkSession,
    lake_root: str,
    source_reader,
    metastore: OperationalMetastore | None = None,
    output_path: str | None = None,
) -> DataFrame:
    """R5 (reporting_utils.py:77-89): counts ⋈ sizes ⋈ durations on
    TableName — full-outer so partial metrics survive — optionally
    persisted as the ``recon_report`` lake table.

    Each input has at most one row per table, so the join runs on the
    driver over their collected rows and the report is one local
    frame: ``assert_reconciled`` on it runs no Spark job."""
    counts = {
        r[0]: tuple(r[1:])
        for r in count_reconciliation(spark, lake_root, source_reader).collect()
    }
    sizes = dict(table_sizes(spark, lake_root).collect())
    times = (
        dict(metastore.last_success_durations().collect())
        if metastore is not None
        else {}
    )
    rows = [
        (t, *counts.get(t, (None, None, None)), sizes.get(t), times.get(t))
        for t in sorted(counts.keys() | sizes.keys() | times.keys())
    ]
    report = _local_frame(spark, rows, _REPORT)
    if output_path:
        report.write.mode("overwrite").parquet(output_path)
    return report


def assert_reconciled(report: DataFrame) -> None:
    """Recon-as-test (SURVEY.md §5): every table's source and lake
    counts must match."""
    bad = report.where(
        F.col("OnpremRowCounts").isNotNull()
        & (F.col("OnpremRowCounts") != F.col("TableRowCounts"))
    ).collect()
    if bad:
        raise AssertionError(f"unreconciled tables: {bad}")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """R6 (extension): row-level change set between two snapshots of a
    keyed table — the CDC you derive when the source can't emit one.
    Returns one row per key present in either snapshot with
    ``change_type`` in (``inserted``, ``deleted``, ``updated``,
    ``unchanged``), ready to feed the MERGE writer or an audit sink.

    One full-outer join on the key — the canonical two-sided shuffle;
    change detection is a null-safe comparison over ``compare_cols``
    (default: all shared non-key columns), so schema drift in either
    snapshot fails analysis loudly rather than mis-classifying.
    """
    shared = [c for c in old.columns if c in set(new.columns)]
    cmp_cols = compare_cols or [c for c in shared if c not in set(keys)]
    o = old.select(*keys, *cmp_cols)
    n = new.select(*keys, *cmp_cols)
    o_alias, n_alias = o.alias("_o"), n.alias("_n")
    cond = [
        F.col(f"_o.{k}").eqNullSafe(F.col(f"_n.{k}")) for k in keys
    ]
    in_old = F.col(f"_o.{keys[0]}").isNotNull()
    in_new = F.col(f"_n.{keys[0]}").isNotNull()
    same = (
        F.lit(True)
        if not cmp_cols
        else reduce(
            lambda a, b: a & b,
            [
                F.col(f"_o.{c}").eqNullSafe(F.col(f"_n.{c}"))
                for c in cmp_cols
            ],
        )
    )
    change = (
        F.when(~in_old, F.lit("inserted"))
        .when(~in_new, F.lit("deleted"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("updated"))
    )
    return o_alias.join(n_alias, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"_n.{k}"), F.col(f"_o.{k}")).alias(k)
            for k in keys
        ],
        change.alias("change_type"),
    )
