"""Lake-table maintenance: compaction and sort-ordered layout.

The reference rewrites whole tables per run (``utils.py:203-205``) and
never revisits layout. Real lakes accumulate damage the reference never
faced: incremental appends (M1) leave thousands of small files, and
unsorted data defeats parquet min/max row-group skipping. Both are
standing maintenance jobs at 100 TB:

- ``compact``: rewrite a table into ~``target_file_mb`` files. Small
  files are a *read*-side tax (one scheduler task + one footer fetch
  each); compaction pays one write to fix every future scan.
- ``optimize_layout``: range-repartition + sort within partitions on
  the dominant filter columns, so each parquet row group covers a
  narrow value range and selective scans skip most of the table via
  min/max stats (the poor man's Z-order; exact for 1-column
  predicates, good for leading-column predicates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import fs
from ..sources.fs import data_file_count  # noqa: F401  (re-export)
from ..sources.writers import swap_overwrite


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 512,
) -> int:
    """Rewrite ``path`` into ⌈bytes / target⌉ files; returns the new
    file count. The rewrite goes through ``swap_overwrite`` (staging
    dir + atomic rename) because parquet cannot overwrite a path that
    is being read — and a compaction must never be able to destroy the
    table it is maintaining.

    512 MB default: big enough that scan tasks amortize scheduling,
    small enough that one task's partition fits executor memory with
    room for the decode.
    """
    n_files = max(
        1, round(fs.dir_bytes(spark, path) / (target_file_mb * 1024 * 1024))
    )
    df = spark.read.parquet(path)
    swap_overwrite(df.repartition(n_files), path)
    return data_file_count(spark, path)


def optimize_layout(
    spark: SparkSession,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Rewrite ``path`` range-partitioned + sorted on ``sort_cols`` so
    min/max row-group stats make predicates on those columns skip files.
    ``repartitionByRange`` samples the data to build balanced ranges —
    one extra pass, paid once, saved on every subsequent selective scan.
    """
    df = spark.read.parquet(path)
    parts = n_files or df.rdd.getNumPartitions()
    swap_overwrite(
        df.repartitionByRange(parts, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols),
        path,
    )


def table_stats(spark: SparkSession, path: str) -> DataFrame:
    """One-row layout report: files, bytes, rows — the R2 size metric
    (``reporting_utils.py:31-42``) widened for maintenance decisions."""
    rows = spark.read.parquet(path).count()
    return spark.createDataFrame(
        [(path, data_file_count(spark, path), fs.dir_bytes(spark, path), rows)],
        "path STRING, n_files INT, total_bytes BIGINT, n_rows BIGINT",
    )


def _zvalue(bucket_cols: list, bits: int) -> "F.Column":
    """Interleave the low ``bits`` bits of each bucketed column into one
    Morton (Z-order) value — pure bitwise column expressions, codegen'd."""
    z = F.lit(0).cast("long")
    width = len(bucket_cols)
    for b in range(bits):
        for i, c in enumerate(bucket_cols):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * width + i))
    return z


def zorder_arrange(
    df: DataFrame,
    cols: list[str],
    n_parts: int,
    bits: int = 8,
) -> DataFrame:
    """Arrange ``df`` in Z-order on ``cols``: bucket each column to
    ``2**bits`` uniform buckets between its min and max (one tiny agg
    pass for the bounds), interleave bucket bits into a Morton value
    (pure bitwise exprs, codegen'd), then ``repartitionByRange`` +
    sort on it. The returned frame, written as-is, yields files whose
    min/max footer stats skip for selective predicates on ANY of the
    columns. Shared by ``zorder_layout`` (plain parquet swap) and the
    Delta fallback engine's ``compact(zorder_by=...)``."""
    from pyspark.sql import types as T

    n_buckets = 2**bits
    # Z-ordering a column whose values can't be bucketed (non-numeric,
    # all null, or constant) would silently send every row to bucket 0
    # — the caller gets a rewrite that claims Z-order with zero skipping
    # effect on that column. Validate up front instead.
    orderable = (T.NumericType, T.DateType, T.TimestampType,
                 T.TimestampNTZType)
    norm: dict[str, "F.Column"] = {}
    for c in cols:
        dt = df.schema[c].dataType
        if not isinstance(dt, orderable):
            raise ValueError(
                f"zorder: column {c!r} has non-orderable type "
                f"{dt.simpleString()}; cast or pre-transform it first"
            )
        # dates can't cast straight to double — go through timestamp
        col = F.col(c).cast("timestamp") if isinstance(dt, T.DateType) \
            else F.col(c)
        norm[c] = col.cast("double")
    # one scan for all bounds (normalized so date/timestamp mins come
    # back as doubles we can compare)
    bounds = df.agg(
        *[F.min(norm[c]).alias(f"lo_{c}") for c in cols],
        *[F.max(norm[c]).alias(f"hi_{c}") for c in cols],
    ).first()
    bucketed = []
    for c in cols:
        lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
        if lo is None or hi is None or not hi > lo:
            raise ValueError(
                f"zorder: column {c!r} has degenerate bounds "
                f"[{lo}, {hi}] (all-null or constant); it cannot "
                "contribute to the Z-order — drop it from cols"
            )
        col = norm[c]
        lo_c, hi_c = F.lit(lo).cast("double"), F.lit(hi).cast("double")
        frac = F.when(
            hi_c > lo_c, (col - lo_c) / (hi_c - lo_c)
        ).otherwise(F.lit(0.0))
        bucketed.append(
            F.least(
                F.floor(frac * n_buckets).cast("long"),
                F.lit(n_buckets - 1),
            )
        )
    return (
        df.withColumn("_z", _zvalue(bucketed, bits))
        .repartitionByRange(n_parts, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def zorder_layout(
    spark: SparkSession,
    path: str,
    cols: list[str],
    n_files: int | None = None,
    bits: int = 8,
) -> None:
    """Rewrite ``path`` in Z-order on ``cols`` so min/max row-group
    stats skip files for selective predicates on ANY of the columns —
    where ``optimize_layout`` (linear sort) only serves its leading
    column. This is the Delta/Iceberg OPTIMIZE ZORDER technique
    expressed with plain Spark ops (see ``zorder_arrange``), finished
    with an atomic swap.

    Uniform bucketing trades skew-robustness for zero extra passes;
    heavily skewed layout keys should pre-transform (e.g. log) or use
    the linear ``optimize_layout`` on the dominant column.
    """
    df = spark.read.parquet(path)
    parts = n_files or df.rdd.getNumPartitions()
    swap_overwrite(zorder_arrange(df, cols, parts, bits=bits), path)
