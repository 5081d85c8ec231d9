"""Mergeable time-bucketed rollups (the hypertable
continuous-aggregate state).

COUNT and SUM are additive, so rollups of disjoint event batches merge
by union and re-aggregation, shuffling *aggregated* rows, never the
raw history (``events_rollup_incremental`` proves split-merge equals
one pass). Non-additive aggregates (exact COUNT DISTINCT) don't fit
this shape; the HLL sketch and fixed-bin histogram columns do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rollup_events(
    events: DataFrame,
    bucket: str = "hour",
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    distinct_col: str | None = None,
    histogram: tuple[float, int] | None = None,
) -> DataFrame:
    """One time-bucketed aggregate pass: (bucket, keys) ->
    n_events + exact DECIMAL sum of ``value_col``. With
    ``distinct_col``, also an HLL sketch of its distinct values —
    sketches are *mergeable*, which is what makes approximate
    COUNT DISTINCT maintainable incrementally (exact distinct is not
    additive and would need the raw history every refresh). With
    ``histogram=(bin_width, n_bins)``, also a fixed-bin count
    histogram of ``value_col`` (``value_hist``) — mergeable by
    element-wise addition, the state percentile estimates derive from
    (``histogram_quantile``)."""
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        # fixed decimal(38,4) so the schema is stable across
        # refreshes (SUM widens precision otherwise)
        F.sum(F.col(value_col).cast("decimal(18,4)"))
        .cast("decimal(38,4)")
        .alias("sum_value"),
    ]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col).alias("distinct_sketch"))
    if histogram is not None:
        aggs.append(
            histogram_agg(value_col, *histogram).alias("value_hist")
        )
    return events.groupBy(
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
        *[F.col(c) for c in key_cols],
    ).agg(*aggs)


# ---------------------------------------------------------------------------
# Mergeable fixed-bin histograms (approximate percentiles that survive
# incremental refreshes — percentile_approx's internal state is not
# exposed for merging, so the rollup carries an explicit histogram)
# ---------------------------------------------------------------------------


def histogram_agg(value_col: str, bin_width: float, n_bins: int):
    """Aggregate expression: fixed-bin count histogram of
    ``value_col`` as an ``array<bigint>`` of length ``n_bins``
    (values below 0 clamp to bin 0, above range to the last bin).
    Fixed geometry is what makes two histograms mergeable by plain
    element-wise addition — any batch, any partition order."""
    v = F.col(value_col).cast("double")
    bin_idx = F.least(
        F.greatest(F.floor(v / F.lit(float(bin_width))), F.lit(0)),
        F.lit(n_bins - 1),
    )
    return F.array(
        *[
            F.sum(F.when(bin_idx == i, 1).otherwise(0)).cast("long")
            for i in range(n_bins)
        ]
    )


def histogram_quantile(
    rollup: DataFrame,
    q: float,
    bin_width: float,
    hist_col: str = "value_hist",
    out_col: str = "value_q",
) -> DataFrame:
    """Approximate q-quantile per rollup row from its histogram: the
    upper edge of the first bin whose cumulative count reaches
    q × total (error ≤ bin_width by construction). Pure array
    expressions — the cumulative scan runs inside one ``aggregate``
    fold over the fixed-length array, no explode/shuffle."""
    if not 0.0 < q <= 1.0:
        raise ValueError("q must be in (0, 1]")
    h = F.col(hist_col)
    total = F.aggregate(h, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.ceil(F.lit(float(q)) * total.cast("double"))
    # fold state: (cumulative count, found bin index or -1, position)
    found = F.aggregate(
        h,
        F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(-1).alias("idx"),
            F.lit(0).alias("pos"),
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x).alias("cum"),
            F.when(
                (acc["idx"] < 0) & ((acc["cum"] + x) >= target), acc["pos"]
            ).otherwise(acc["idx"]).alias("idx"),
            (acc["pos"] + 1).alias("pos"),
        ),
    )["idx"]
    edge = (found.cast("double") + F.lit(1.0)) * F.lit(float(bin_width))
    return rollup.withColumn(
        out_col, F.when(total > 0, edge)
    )
