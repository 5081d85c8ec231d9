"""Sinks — SURVEY.md §2.1 S9–S12 + catalog registration (O9).

The reference wrote unpartitioned parquet and re-cataloged via a Glue
crawler (``utils.py:200-209``). Here the write itself registers the
schema (``saveAsTable`` / ``spark.catalog``), which deletes the whole
crawler subsystem, and writers accept ``partition_by`` — at 100 TB an
unpartitioned table is unprunable, so the big-table path should always
partition on its dominant filter key (e.g. date).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    compression: str | None = None,
) -> None:
    """Parquet sink (S9 overwrite / S12 append), ``utils.py:200-209``.

    ``max_records_per_file`` bounds file size so downstream scans get
    even splits; partitioning enables partition pruning.
    ``compression`` overrides the session codec per write — ``zstd``
    is the usual cold-lake choice (~25-30% smaller than the snappy
    default at similar scan speed; at 100 TB that is tens of TB of
    storage and scan I/O).
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if compression:
        writer = writer.option("compression", compression)
    writer.parquet(path)


def swap_overwrite(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Overwrite ``path`` with ``df`` even when ``df`` *reads from*
    ``path`` (merge/compaction rewrites), without materializing the
    table in executor storage.

    Parquet cannot overwrite a path it is scanning, so the result is
    written to ``path + "._staging"`` first — normal fault-tolerant
    Spark tasks (unlike ``localCheckpoint`` blocks, which pin the whole
    table in block-manager memory and are lost on executor failure) —
    then the directories are swapped: target → ``._old``, staging →
    target, drop ``._old``. On local/HDFS filesystems both renames are
    O(1) metadata ops, and a crash between them leaves the original
    data recoverable in ``._old`` instead of a half-deleted table. On
    S3-like object stores rename is copy+delete; the real answer there
    is a table format with a pointer swap (Delta/Iceberg) — this
    helper is the safest plain-directory protocol.
    """
    spark = df.sparkSession
    base = path.rstrip("/")
    staging, old = base + "._staging", base + "._old"
    write_parquet(df, staging, mode="overwrite", partition_by=partition_by)
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    p_target, p_staging, p_old = (
        hadoop_path(base), hadoop_path(staging), hadoop_path(old)
    )
    fs = p_target.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p_old):
        fs.delete(p_old, True)
    had_target = fs.exists(p_target)
    if had_target and not fs.rename(p_target, p_old):
        raise IOError(f"could not stage-out current table at {base}")
    if not fs.rename(p_staging, p_target):
        if had_target:
            fs.rename(p_old, p_target)  # roll back — table intact
        raise IOError(f"could not swap staging dir into {base}")
    if had_target:
        fs.delete(p_old, True)


def append_parquet(df: DataFrame, path: str) -> None:
    """Append-mode parquet (S12; operational metadata sink,
    ``utils.py:474-477``)."""
    write_parquet(df, path, mode="append")


def write_delta_append(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
) -> None:
    """Delta append sink (S10, ``utils.py:76-80``).

    ``merge_schema`` is Delta's mergeSchema option: the append may ADD
    columns (the widened schema commits atomically with the data;
    type changes and drops are still rejected), and readers backfill
    NULL for pre-evolution files.

    The append commits to a REAL transaction log
    (``sources/delta_log.py``): new tables bootstrap
    protocol+metaData+adds at version 0; later appends commit their
    add actions with the atomic rename claim, so tables get isolated
    commits, optimistic concurrency and time travel via the log
    replay, and any Delta reader can read them. ``partition_by``
    records the table's partition columns at creation (Hive-layout
    files + partitionValues in the log, pruned on read).

    One guarded exception: a PRE-EXISTING plain-parquet directory with
    data but no log keeps getting plain parquet appends — starting a
    log that only covers the new files would make log-replay readers
    silently drop every earlier row.
    """
    from . import delta_log, fs as _fsmod

    spark = df.sparkSession
    if (
        delta_log.log_version(spark, path) is None
        and _fsmod.list_data_files(spark, path)
    ):
        if partition_by:
            raise ValueError(
                f"{path} is a pre-existing un-logged parquet directory; "
                "cannot start a partitioned Delta log over it"
            )
        df.write.mode("append").parquet(path)  # legacy un-logged table
        return
    delta_log.append_commit(
        df, path, partition_by=partition_by, merge_schema=merge_schema
    )


def write_jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    batchsize: int = 10_000,
) -> None:
    """JDBC append sink (S11, ``utils.py:481-490``)."""
    writer = (
        df.write.mode("append")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    if user is not None:
        writer = writer.option("user", user)
    if password is not None:
        writer = writer.option("password", password)
    if driver is not None:
        writer = writer.option("driver", driver)
    writer.save()


def save_as_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Write + catalog registration in one step — replaces the
    reference's write-then-crawl dance (``utils.py:206`` → ``319-328``):
    Spark already knows the schema at write time."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — same overwrite/append/partitionBy surface as the
    parquet writer, for lakes keeping Hive-era ORC layouts warm."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    timestamp_format: str | None = None,
) -> None:
    """JSON-lines export sink. Row-oriented text — an interchange
    format, not a lake format: no column pruning or predicate pushdown
    on re-read, ~3-5x the bytes of parquet. Use for handoffs to
    systems that ingest JSONL, never as the analytic store.

    Spark's default JSON timestamp rendering stops at milliseconds —
    a silent 1000x precision loss on microsecond event streams. Pass
    ``timestamp_format="yyyy-MM-dd HH:mm:ss.SSSSSS"`` (and the same to
    ``read_json``) when the roundtrip must be lossless; doubles are
    safe by default (shortest-roundtrip rendering). The format is set
    for BOTH timestamp flavors — parquet-sourced naive timestamps
    surface as TIMESTAMP_NTZ, which Spark formats via the separate
    ``timestampNTZFormat`` option and silently ignores
    ``timestampFormat`` for."""
    writer = df.write.mode(mode)
    if timestamp_format:
        writer = writer.option("timestampFormat", timestamp_format)
        writer = writer.option("timestampNTZFormat", timestamp_format)
    writer.json(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    timestamp_format: str | None = None,
) -> None:
    """CSV export sink — the interchange complement of ``read_csv``
    (S6/S7). Same posture as JSON: row-oriented text for handoffs,
    never the analytic store. Doubles render shortest-roundtrip;
    timestamps need an explicit ``timestamp_format`` for microsecond
    fidelity (set for both flavors — TIMESTAMP_NTZ columns ignore
    ``timestampFormat``, the same silently-lossy Spark quirk
    ``write_json`` documents)."""
    writer = df.write.mode(mode).option("header", str(header).lower())
    if timestamp_format:
        writer = writer.option("timestampFormat", timestamp_format)
        writer = writer.option("timestampNTZFormat", timestamp_format)
    writer.csv(path)


def write_quarantined(
    df: DataFrame,
    path: str,
    corrupt_col: str = "_raw_record",
) -> None:
    """Dead-letter landing in ONE pass: the quarantine-tagged frame
    from ``read_with_quarantine`` is written partitioned by
    ``_is_bad``, so clean rows and malformed raws land under
    ``_is_bad=false/`` and ``_is_bad=true/`` of the same table without
    caching the input or scanning the source twice. Partition pruning
    makes the clean-side read free (``read_clean``); the bad side
    keeps the raw record text for replay."""
    write_parquet(df, path, mode="overwrite", partition_by=["_is_bad"])


def read_clean(spark: SparkSession, path: str) -> DataFrame:
    """The clean side of a quarantined table: partition-pruned scan of
    ``_is_bad=false``, raw-record plumbing columns dropped."""
    return (
        spark.read.parquet(path)
        .where("_is_bad = false")
        .drop("_is_bad", "_raw_record")
    )


_BATCH_ID_OK = re.compile(r"^[A-Za-z0-9_\-.]+$")


def overwrite_batch_partition(
    df: DataFrame,
    base_path: str,
    batch_id: int | str,
    partition_col: str = "ingest_batch_id",
) -> None:
    """Idempotent per-batch lake write: overwrite exactly the
    ``<base_path>/<partition_col>=<batch_id>`` directory with ``df``.

    The deterministic target is what makes replay exactly-once with
    plain parquet — re-running a batch REPLACES its own partition
    instead of appending duplicate files, while other batches'
    partitions are untouched. Readers of ``base_path`` see
    ``partition_col`` via normal partition discovery (an ingest-lineage
    column), and a filter on it prunes to one directory. This is the
    plain-directory analog of a transactional table format's
    idempotent-writes-per-batch-id; pair every read of the table
    during a batch's own commit with an exclusion of that batch's
    partition (see ``operators.dedup.dedup_against_index``) so replay
    recomputes the identical result.
    """
    bid = str(batch_id)
    if not _BATCH_ID_OK.match(bid):
        raise ValueError(
            f"batch_id {batch_id!r} must match [A-Za-z0-9_.-]+ — it "
            "becomes a partition directory name"
        )
    if partition_col.startswith(("_", ".")):
        raise ValueError(
            f"partition_col {partition_col!r} must not start with "
            "'_'/'.': readers skip hidden directory names"
        )
    target = f"{base_path.rstrip('/')}/{partition_col}={bid}"
    write_parquet(df, target, mode="overwrite")
