"""One-pass column profiler: the DQ summary a lake emits per table.

The reference's recon layer (recon_utils.py:33-47) stops at row counts
and file sizes; operations teams also want per-column shape — null
rates, cardinality, value ranges — refreshed with each load. This
computes all of it in ONE scan:

    agg(count, count(col), count(distinct col), min(col), max(col) ...)
    -> a single wide row -> ``stack`` back into one row per column

Scale posture: the only data-size-dependent cost is the multi-column
distinct (Catalyst plans an Expand, one input duplicate per distinct
aggregate). That is exact-profile territory; at 100 TB pass
``exact_distinct=False`` to swap in ``approx_count_distinct`` (HLL,
no Expand, one ordinary partial agg) — same output schema.

Value formatting is deterministic and engine-portable (for the oracle
differential): integers/strings cast verbatim, floating point through
DECIMAL(18,4), timestamps through an explicit yyyy-MM-dd HH:mm:ss
format — never raw double/timestamp-to-string, which is
locale/engine-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _fmt(col: F.Column, dtype: T.DataType) -> F.Column:
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return col.cast("decimal(18,4)").cast("string")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    if isinstance(dtype, T.DateType):
        return F.date_format(col, "yyyy-MM-dd")
    return col.cast("string")


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Per-column profile: (col_name, n_rows, n_nulls, n_distinct,
    min_value, max_value) — one scan, no per-column jobs."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = list(cols) if cols is not None else list(fields)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        distinct = (
            F.count_distinct(F.col(c))
            if exact_distinct
            else F.approx_count_distinct(c)
        )
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            distinct.alias(f"_nd_{c}"),
            _fmt(F.min(F.col(c)), fields[c]).alias(f"_mi_{c}"),
            _fmt(F.max(F.col(c)), fields[c]).alias(f"_ma_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `_nn_{c}`, `_nd_{c}`, `_mi_{c}`, `_ma_{c}`" for c in cols
    )
    return wide.select(
        F.col("_n").alias("n_rows"),
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, _nonnull, n_distinct, min_value, max_value)"
        ),
    ).select(
        "col_name",
        F.col("n_rows").cast("bigint"),
        (F.col("n_rows") - F.col("_nonnull")).cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint"),
        "min_value",
        "max_value",
    )
