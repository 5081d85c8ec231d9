"""Time-series regularization operators: gap-filling and rolling
anomaly detection over irregular event streams.

The reference pipeline lands raw event extracts and leaves downstream
consumers to densify them; these operators make the dense, analysis-
ready series a first-class engine output (hypertable-style rollup
post-processing, re-expressed as pure DataFrame plans).

Scale posture (100 TB):

- ``gapfill_locf`` aggregates the raw stream once (map-side combined
  hash agg), derives per-key bounds from the *aggregated* table (one
  row per key), and generates the dense grid executor-side with
  ``sequence``/``explode`` — the raw stream is never re-scanned and the
  only shuffles are the bucket agg and the (key, bucket) equi-join.
- The LOCF window partitions by series key. That is inherent to
  last-observation-carried-forward (a sequential scan per series); it
  is safe when key cardinality ≥ cluster parallelism. For few-key /
  giant-series corpora, pre-chunk each series into bounded segments and
  run a two-pass carry (segment-local LOCF + one row per segment
  carried across), as documented in SCALING.md.
- ``rolling_zscore`` computes window statistics from exact integer sums
  (``sum``/``sum of squares`` in int64) and derives mean/variance in a
  fixed arithmetic expression, so results are bit-identical across
  engines (IEEE ops on identical expression trees) — no reliance on an
  engine's stddev accumulation order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_ALLOWED_STEPS = {"1 hour", "1 day", "1 minute", "15 minutes", "1 week"}


def _trunc_unit(step: str) -> str:
    return {"1 hour": "hour", "1 day": "day", "1 minute": "minute",
            "15 minutes": "minute", "1 week": "week"}[step]


def gapfill_locf(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    agg_exprs: dict[str, Column],
    locf_cols: Sequence[str],
    zero_cols: Sequence[str],
    step: str = "1 hour",
) -> DataFrame:
    """Bucket ``df`` to ``step``, then densify each key's series from
    its own min to max bucket: missing buckets appear with
    ``zero_cols`` coalesced to 0, ``locf_cols`` carried forward from
    the last observed bucket, and ``is_filled`` marking synthesized
    rows.

    ``agg_exprs`` maps output column name -> aggregate expression over
    the raw rows of one bucket (e.g. ``{"n": F.count(F.lit(1))}``).
    ``step`` is validated against a fixed grammar before reaching
    ``INTERVAL`` (per the round-4 advisory on splicing raw strings
    into SQL expressions).
    """
    if step not in _ALLOWED_STEPS:
        raise ValueError(
            f"step {step!r} not in supported grid steps {sorted(_ALLOWED_STEPS)}"
        )
    keys = list(key_cols)
    bucket = F.date_trunc(_trunc_unit(step), F.col(ts_col))
    if step == "15 minutes":
        # sub-unit grid: snap minutes down to the quarter hour
        bucket = F.timestamp_seconds(
            (F.unix_timestamp(F.col(ts_col)) / 900).cast("long") * 900
        )
    observed = (
        df.groupBy(*keys, bucket.alias("bucket_start"))
        .agg(
            *[e.alias(n) for n, e in agg_exprs.items()],
            # internal observation marker: COUNT(1) is non-null for
            # every observed bucket even when the caller's aggregates
            # are all NULL (e.g. max over an all-null column) — the
            # caller's first aggregate is NOT a safe is_filled signal
            F.count(F.lit(1)).alias("_observed"),
        )
    )
    bounds = observed.groupBy(*keys).agg(
        F.min("bucket_start").alias("_lo"), F.max("bucket_start").alias("_hi")
    )
    grid = bounds.select(
        *keys,
        F.explode(
            F.sequence("_lo", "_hi", F.expr(f"interval {step}"))
        ).alias("bucket_start"),
    )
    dense = grid.join(observed, [*keys, "bucket_start"], "left")
    out = dense.withColumn(
        "is_filled", F.col("_observed").isNull()
    ).drop("_observed")
    w = (
        Window.partitionBy(*keys)
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in locf_cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    for c in zero_cols:
        out = out.withColumn(
            c, F.coalesce(F.col(c), F.lit(0).cast(dict(dense.dtypes)[c]))
        )
    return out


def interpolate_linear(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str],
    order_col: str = "bucket_start",
) -> DataFrame:
    """Fill null ``value_col`` rows of a (dense) series by linear
    interpolation between the nearest observed neighbors; leading and
    trailing nulls stay null (no extrapolation).

    The position axis is the epoch-second of ``order_col``, so uneven
    grids interpolate proportionally to the real time delta. All
    arithmetic is one fixed double expression over exact int64
    positions — bit-identical across engines. Two windows (trailing
    ``last ignorenulls`` + leading ``first ignorenulls``) share the
    same key partitioning/ordering, so Spark plans a single sort per
    direction with no extra shuffle; the same few-key caveat as LOCF
    applies (operator docstring above).
    """
    keys = list(key_cols)
    pos = F.unix_timestamp(F.col(order_col)).cast("long")
    v = F.col(value_col)
    wb = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_v = F.last(v, ignorenulls=True).over(wb)
    prev_p = F.last(F.when(v.isNotNull(), pos), ignorenulls=True).over(wb)
    next_v = F.first(v, ignorenulls=True).over(wf)
    next_p = F.first(F.when(v.isNotNull(), pos), ignorenulls=True).over(wf)
    lerp = prev_v + (next_v - prev_v) * (
        (pos - prev_p).cast("double") / (next_p - prev_p)
    )
    return df.withColumn(
        value_col,
        F.when(v.isNotNull(), v).otherwise(
            F.when(prev_v.isNotNull() & next_v.isNotNull(), lerp)
        ),
    )


def rolling_zscore(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str],
    order_col: str,
    lookback: int = 24,
    min_periods: int = 12,
    threshold: float = 3.0,
) -> DataFrame:
    """Flag points whose value deviates > ``threshold`` standard
    deviations from the trailing ``lookback``-row window (current row
    excluded, so a spike can't dilute its own baseline).

    ``value_col`` must be integral (counts): window statistics are
    exact int64 sums of x and x**2, and mean/variance derive from one
    fixed double expression — deterministic to the last bit on any
    engine evaluating the same tree. Rows with fewer than
    ``min_periods`` trailing points or zero variance get a null score.
    """
    keys = list(key_cols)
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-lookback, -1)
    )
    x = F.col(value_col).cast("long")
    sum_n = F.sum(x).over(w)
    sum_n2 = F.sum(x * x).over(w)
    cnt = F.count(x).over(w)
    mean = sum_n.cast("double") / cnt
    var_num = sum_n2.cast("double") - sum_n.cast("double") * sum_n / cnt
    z = F.when(
        (cnt >= F.lit(min_periods)) & (var_num > F.lit(0.0)),
        (x.cast("double") - mean)
        / F.sqrt(var_num / (cnt - F.lit(1))),
    )
    return df.withColumn("zscore", z).withColumn(
        "is_anomaly",
        F.when(z.isNotNull(), F.abs(z) > F.lit(threshold)).otherwise(
            F.lit(False)
        ),
    )


def groupwise_linear_trend(
    df,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    x_scale: int = 0,
    y_scale: int = 6,
):
    """Per-group ordinary-least-squares line fit (slope + intercept of
    ``y`` on ``x``) from closed-form sufficient statistics:

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx)

    Scale shape: ONE partial-aggregated groupBy — the shuffle carries
    five numbers per group, never the points. This is the map-side
    combinable formulation; a window/collect-based fit would move every
    point.

    Determinism engineering (oracle portability): each sufficient
    statistic is an EXACT ``DECIMAL`` sum (order-free — see
    pricing_summary), cast to double only once, and the closed form is
    a fixed IEEE expression tree, so results are bit-identical across
    engines. ``x_scale``/``y_scale`` set the decimal quantization of
    the inputs (x is typically an integer day/bucket index, so 0).

    Returns one row per group: group_cols + (n_obs, slope, intercept);
    slope/intercept are NULL for degenerate groups (n < 2 or zero x
    variance).
    """
    xd = F.col(x_col).cast(f"decimal({18 - x_scale},{x_scale})")
    yd = F.col(y_col).cast(f"decimal({18 - y_scale},{y_scale})")
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(xd).alias("_sx"),
        F.sum(yd).alias("_sy"),
        F.sum(xd * yd).alias("_sxy"),
        F.sum(xd * xd).alias("_sxx"),
    )
    n = F.col("n_obs").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    denom = n * sxx - sx * sx
    slope = F.when(
        (F.col("n_obs") >= 2) & (denom != F.lit(0.0)),
        (n * sxy - sx * sy) / denom,
    )
    intercept = F.when(
        slope.isNotNull(), (sy - slope * sx) / n
    )
    return agg.select(
        *group_cols,
        F.col("n_obs").cast("bigint").alias("n_obs"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def rolling_change_points(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    window_hours: int = 24,
    min_abs_diff: int = 25,
) -> DataFrame:
    """Level-shift change-point candidates per group: hours where the
    event count of the NEXT ``window_hours`` differs from the PREVIOUS
    ``window_hours`` by at least ``min_abs_diff``.

    All integer arithmetic over an hourly pre-aggregate — the rolling
    sums are RANGE-frame windows over the integer hour index, so
    missing hours contribute zero without a gapfill pass and the
    result is bit-identical on any engine (no floating point
    anywhere). Scale shape: one corpus hash-agg down to
    (groups x hours) rows, then windows over that aggregate — the
    window input is time-range-bound, not corpus-bound.
    """
    from pyspark.sql.window import Window

    hidx = (F.unix_timestamp(F.date_trunc("hour", F.col(ts_col))) / 3600
            ).cast("bigint")
    hourly = df.groupBy(
        F.col(group_col), hidx.alias("hidx")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    base = Window.partitionBy(group_col).orderBy("hidx")
    prev_w = base.rangeBetween(-window_hours, -1)
    next_w = base.rangeBetween(0, window_hours - 1)
    span = Window.partitionBy(group_col)
    out = (
        hourly.select(
            group_col,
            "hidx",
            F.coalesce(F.sum("cnt").over(prev_w), F.lit(0)).alias(
                "prev_sum"
            ),
            F.coalesce(F.sum("cnt").over(next_w), F.lit(0)).alias(
                "next_sum"
            ),
            F.min("hidx").over(span).alias("_lo"),
            F.max("hidx").over(span).alias("_hi"),
        )
        # only hours whose BOTH frames lie fully inside the observed
        # series — an empty leading window is a series edge, not a
        # level shift
        .where(
            (F.col("hidx") - F.col("_lo") >= window_hours)
            & (F.col("_hi") - F.col("hidx") >= window_hours - 1)
        )
        .withColumn("diff", F.col("next_sum") - F.col("prev_sum"))
    )
    # the hour surfaces as its integer epoch-hour index, not a
    # timestamp: epoch arithmetic is timezone-free on every engine,
    # a rendered timestamp is not
    return out.where(F.abs("diff") >= min_abs_diff).select(
        group_col,
        F.col("hidx").alias("hour_idx"),
        "prev_sum",
        "next_sum",
        "diff",
    )


def autocorrelation(
    df,
    group_col: str,
    order_col: str,
    value_col: str,
    max_lag: int = 7,
):
    """Lag-1..``max_lag`` autocorrelation of an integer-valued series
    per group, over the ``order_col``-ordered observations.

    The Pearson r for each lag is computed from EXACT integer
    sufficient statistics (n, Σa, Σb, Σab, Σa², Σb² as DECIMAL(38,0)
    partial-aggregated sums — map-side combined, one shuffle on
    (group, lag)) and assembled with one fixed double expression, so
    the result is bit-identical across partition orderings and across
    engines: a float-accumulating corr() is order-dependent at 1000
    executors, exact sums are not.

    All ``max_lag`` lag columns come from ONE window pass (a single
    sort per group), then unpivot via ``stack`` — not max_lag window
    passes.
    """
    w = Window.partitionBy(group_col).orderBy(order_col)
    lag_cols = [
        F.lag(value_col, k).over(w).alias(f"_lag{k}")
        for k in range(1, max_lag + 1)
    ]
    wide = df.select(group_col, F.col(value_col).alias("_a"), *lag_cols)
    stack_args: list = []
    for k in range(1, max_lag + 1):
        stack_args += [F.lit(k), F.col(f"_lag{k}")]
    stacked = wide.select(
        group_col,
        "_a",
        F.stack(F.lit(max_lag), *stack_args).alias("lag", "_b"),
    ).where(F.col("_b").isNotNull())
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = stacked.groupBy(group_col, "lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(d("_a")).alias("_sa"),
        F.sum(d("_b")).alias("_sb"),
        F.sum((d("_a") * d("_b")).cast("decimal(38,0)")).alias("_sab"),
        F.sum((d("_a") * d("_a")).cast("decimal(38,0)")).alias("_saa"),
        F.sum((d("_b") * d("_b")).cast("decimal(38,0)")).alias("_sbb"),
    )
    num = (F.col("_n") * F.col("_sab") - F.col("_sa") * F.col("_sb")).cast(
        "double"
    )
    va = (F.col("_n") * F.col("_saa") - F.col("_sa") * F.col("_sa")).cast(
        "double"
    )
    vb = (F.col("_n") * F.col("_sbb") - F.col("_sb") * F.col("_sb")).cast(
        "double"
    )
    return agg.select(
        group_col,
        "lag",
        F.col("_n").cast("long").alias("n_pairs"),
        F.when(
            (va > 0) & (vb > 0), num / (F.sqrt(va) * F.sqrt(vb))
        ).alias("acf"),
    )


def cross_correlation(
    df,
    group_col: str,
    order_col: str,
    a_col: str,
    b_col: str,
    max_shift: int = 3,
):
    """Lead/lag cross-correlation between two integer-valued series
    observed on the same ordered grid, per group: Pearson r of
    (a_t, b_{t+s}) for shifts s in [-max_shift, +max_shift]. Positive
    shift = b LAGS a by s steps (a leads); the s=0 column is the plain
    correlation. The lead/lag that maximizes |r| is the classic
    which-series-drives-which probe.

    Same engineered-determinism contract as :func:`autocorrelation`:
    all shifted b columns come from ONE window sort, exact
    DECIMAL(38,0) sufficient statistics cross the (group, shift)
    shuffle, and r is assembled with a single fixed double expression
    — bit-identical across engines and partition orderings.
    """
    w = Window.partitionBy(group_col).orderBy(order_col)
    shifts = [s for s in range(-max_shift, max_shift + 1)]
    shift_cols = [
        F.lag(b_col, -s).over(w).alias(f"_s{i}")
        for i, s in enumerate(shifts)
    ]
    wide = df.select(
        group_col, F.col(a_col).alias("_a"), *shift_cols
    )
    stack_args: list = []
    for i, s in enumerate(shifts):
        stack_args += [F.lit(s), F.col(f"_s{i}")]
    stacked = wide.select(
        group_col,
        "_a",
        F.stack(F.lit(len(shifts)), *stack_args).alias("shift", "_b"),
    ).where(F.col("_b").isNotNull())
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = stacked.groupBy(group_col, "shift").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(d("_a")).alias("_sa"),
        F.sum(d("_b")).alias("_sb"),
        F.sum((d("_a") * d("_b")).cast("decimal(38,0)")).alias("_sab"),
        F.sum((d("_a") * d("_a")).cast("decimal(38,0)")).alias("_saa"),
        F.sum((d("_b") * d("_b")).cast("decimal(38,0)")).alias("_sbb"),
    )
    num = (F.col("_n") * F.col("_sab") - F.col("_sa") * F.col("_sb")).cast(
        "double"
    )
    va = (F.col("_n") * F.col("_saa") - F.col("_sa") * F.col("_sa")).cast(
        "double"
    )
    vb = (F.col("_n") * F.col("_sbb") - F.col("_sb") * F.col("_sb")).cast(
        "double"
    )
    return agg.select(
        group_col,
        "shift",
        F.col("_n").cast("long").alias("n_pairs"),
        F.when(
            (va > 0) & (vb > 0), num / (F.sqrt(va) * F.sqrt(vb))
        ).alias("xcf"),
    )
