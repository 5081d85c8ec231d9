"""Unit + differential tests for time-series regularization
(operators/timeseries.py) and the Misra-Gries frequency sketch
(operators/sketches.py)."""

from __future__ import annotations

import datetime as dt
import math
import random

import pytest
from pyspark.sql import functions as F


def _ts(h: int, m: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, h, m)


# ---------------------------------------------------------------------------
# gapfill_locf
# ---------------------------------------------------------------------------


def _series(spark):
    # key "a": hours 0, 1, 4 observed (2,3 missing); key "b": hour 2 only
    rows = [
        ("a", _ts(0, 5), 1.0),
        ("a", _ts(0, 40), 3.0),
        ("a", _ts(1, 10), 5.0),
        ("a", _ts(4, 59), 7.0),
        ("b", _ts(2, 30), 9.0),
    ]
    return spark.createDataFrame(rows, "k string, ts timestamp, v double")


def test_gapfill_densifies_and_carries_forward(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.timeseries import (
        gapfill_locf,
    )

    out = gapfill_locf(
        _series(spark),
        ts_col="ts",
        key_cols=["k"],
        agg_exprs={
            "n": F.count(F.lit(1)),
            "sv": F.sum("v"),
        },
        locf_cols=["sv"],
        zero_cols=["n"],
    )
    got = {
        (r["k"], r["bucket_start"].hour): (r["n"], r["sv"], r["is_filled"])
        for r in out.collect()
    }
    # key a spans hours 0..4 -> 5 rows; key b a single hour
    assert len(got) == 6
    assert got[("a", 0)] == (2, 4.0, False)
    assert got[("a", 1)] == (1, 5.0, False)
    # synthesized hours: zero count, carried-forward sum, flagged
    assert got[("a", 2)] == (0, 5.0, True)
    assert got[("a", 3)] == (0, 5.0, True)
    assert got[("a", 4)] == (1, 7.0, False)
    assert got[("b", 2)] == (1, 9.0, False)


def test_gapfill_rejects_unknown_step(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.timeseries import (
        gapfill_locf,
    )

    with pytest.raises(ValueError, match="grid steps"):
        gapfill_locf(
            _series(spark),
            ts_col="ts",
            key_cols=["k"],
            agg_exprs={"n": F.count(F.lit(1))},
            locf_cols=[],
            zero_cols=["n"],
            step="7 fortnights'); DROP TABLE x; --",
        )


# ---------------------------------------------------------------------------
# rolling_zscore vs a straightforward Python recomputation
# ---------------------------------------------------------------------------


def test_rolling_zscore_matches_reference_impl(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.timeseries import (
        rolling_zscore,
    )

    rng = random.Random(7)
    vals = [rng.randrange(0, 20) for _ in range(40)]
    vals[30] = 500  # an unmistakable spike
    rows = [("k", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, i long, n long")
    out = {
        r["i"]: (r["zscore"], r["is_anomaly"])
        for r in rolling_zscore(
            df, "n", ["k"], "i", lookback=10, min_periods=5, threshold=3.0
        ).collect()
    }
    for i, v in enumerate(vals):
        window = vals[max(0, i - 10) : i]
        z_exp = None
        if len(window) >= 5:
            s, s2, c = sum(window), sum(x * x for x in window), len(window)
            var_num = s2 - s * s / c
            if var_num > 0:
                z_exp = (v - s / c) / math.sqrt(var_num / (c - 1))
        z_got, flag = out[i]
        if z_exp is None:
            assert z_got is None and flag is False
        else:
            assert z_got == pytest.approx(z_exp, rel=1e-12)
            assert flag == (abs(z_exp) > 3.0)
    assert out[30][1] is True  # the spike is flagged


# ---------------------------------------------------------------------------
# Misra-Gries sketch: exact regime + lossy-regime guarantees
# ---------------------------------------------------------------------------


def _token_df(spark, tokens, n_partitions=4):
    return spark.createDataFrame(
        [(t,) for t in tokens], "tok string"
    ).repartition(n_partitions)


def test_mg_exact_when_capacity_exceeds_vocab(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.sketches import (
        frequent_terms,
    )

    tokens = ["x"] * 10 + ["y"] * 6 + ["z"] * 3 + ["w"]
    out = frequent_terms(_token_df(spark, tokens), capacity=64, k=10).collect()
    assert [(r["term"], r["est_count"]) for r in out] == [
        ("x", 10),
        ("y", 6),
        ("z", 3),
        ("w", 1),
    ]
    assert all(r["max_err"] == 0 for r in out)


def test_mg_lossy_regime_bounds_and_heavy_hitter_survival(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.sketches import (
        frequent_terms,
    )

    rng = random.Random(11)
    # zipf-ish: a few heavy terms over a long tail of singletons
    tokens = (
        ["hot1"] * 400
        + ["hot2"] * 250
        + ["hot3"] * 120
        + [f"tail{i}" for i in range(300)]
    )
    rng.shuffle(tokens)
    true = {"hot1": 400, "hot2": 250, "hot3": 120}
    out = frequent_terms(
        _token_df(spark, tokens), capacity=8, k=20
    ).collect()
    got = {r["term"]: r["est_count"] for r in out}
    max_err = out[0]["max_err"]
    assert 0 < max_err <= len(tokens) // (8 + 1) + 8  # per-partition bound sum
    for term, n in true.items():
        # heavy items survive and their estimate is a valid lower bound
        assert term in got, f"heavy hitter {term} lost"
        assert got[term] <= n
        assert n - got[term] <= max_err
    # every estimate is a lower bound on its true count
    from collections import Counter

    exact = Counter(tokens)
    assert all(got[t] <= exact[t] for t in got)


# ---------------------------------------------------------------------------
# Property: gapfill + interpolation vs a plain-Python reference
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_series_strategy = st.dictionaries(
    keys=st.sampled_from(["k1", "k2"]),
    values=st.dictionaries(
        keys=st.integers(0, 20),          # hour offsets
        values=st.integers(-50, 50),      # integral values: exact lerp
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=2,
)


@given(series=_series_strategy)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_gapfill_interpolate_property(spark, series):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.timeseries import (
        gapfill_locf,
        interpolate_linear,
    )

    rows = [
        (k, _ts(h), float(v))
        for k, obs in series.items()
        for h, v in obs.items()
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    dense = gapfill_locf(
        df,
        ts_col="ts",
        key_cols=["k"],
        agg_exprs={"n": F.count(F.lit(1)), "av": F.max("v")},
        locf_cols=[],
        zero_cols=["n"],
    )
    out = interpolate_linear(dense, "av", ["k"], "bucket_start")
    got = {
        (r["k"], r["bucket_start"].hour): (r["n"], r["av"], r["is_filled"])
        for r in out.collect()
    }
    for k, obs in series.items():
        lo, hi = min(obs), max(obs)
        # exactly the min..max grid, nothing beyond
        hours = {h for kk, h in got if kk == k}
        assert hours == set(range(lo, hi + 1))
        observed = sorted(obs)
        for h in range(lo, hi + 1):
            n, av, filled = got[(k, h)]
            if h in obs:
                assert (n, av, filled) == (1, float(obs[h]), False)
            else:
                prev = max(x for x in observed if x < h)
                nxt = min(x for x in observed if x > h)
                exp = obs[prev] + (obs[nxt] - obs[prev]) * (
                    (h - prev) / (nxt - prev)
                )
                assert filled is True and n == 0
                assert av == pytest.approx(exp, abs=1e-9)


# ---------------------------------------------------------------------------
# Lateness profile (watermark advisor)
# ---------------------------------------------------------------------------


def test_lateness_chunk_carry_equals_global_prefix_max(spark):
    """The two-pass chunk-carry prefix max must equal the naive global
    computation for every row, across chunk boundaries."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.watermarking import (
        with_lateness,
    )

    rng = random.Random(3)
    ts = []
    t = 0
    for _ in range(500):
        t += rng.randrange(0, 50)
        # occasional deep out-of-order dip
        ts.append(t - (rng.randrange(0, 400) if rng.random() < 0.2 else 0))
    rows = [(i, v) for i, v in enumerate(ts)]
    df = spark.createDataFrame(rows, "arrival long, ts_ns long")
    got = {
        r["arrival"]: r["lateness_ns"]
        for r in with_lateness(df, "ts_ns", "arrival", chunk=64).collect()
    }
    prefix = 0
    for i, v in enumerate(ts):
        prefix = max(prefix, v) if i else v
        assert got[i] == prefix - v, (i, got[i], prefix - v)


def test_lateness_profile_suggests_smallest_safe_delay(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.watermarking import (
        lateness_profile,
    )

    m = 10**9 * 60  # one minute in ns
    base = [(i, i * m) for i in range(2000)]
    # 1 record ~10 min late (0.05% > 0.001? 1/2000 = 0.0005 <= 0.001)
    base[1000] = (1000, base[1000][1] - 10 * m)
    df = spark.createDataFrame(base, "arrival long, ts_ns long")
    row = lateness_profile(df, "ts_ns", "arrival", chunk=128).collect()[0]
    assert row["n_events"] == 2000
    assert row["n_late_gt_1_minute"] == 1
    assert row["n_late_gt_15_minutes"] == 0
    # the 10-min outlier is within the 0.1% loss budget at 1 minute
    assert row["suggested_delay"] == "1 minute"

    # now 1% of records 10 min late: 1m/5m budgets blow, 15m holds
    many = [(i, i * m - (10 * m if i % 100 == 0 else 0)) for i in range(2000)]
    df2 = spark.createDataFrame(many, "arrival long, ts_ns long")
    row2 = lateness_profile(df2, "ts_ns", "arrival", chunk=128).collect()[0]
    # i=0 is "late" but has no predecessor, so 19 of the 20 count
    assert row2["n_late_gt_1_minute"] == 19
    assert row2["suggested_delay"] == "15 minutes"


def test_gapfill_quarter_hour_grid(spark):
    """The 15-minute step snaps buckets to the quarter hour and fills
    the sub-hour grid."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.timeseries import (
        gapfill_locf,
    )

    rows = [("k", _ts(0, 3), 1.0), ("k", _ts(1, 16), 9.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = gapfill_locf(
        df, ts_col="ts", key_cols=["k"],
        agg_exprs={"n": F.count(F.lit(1))},
        locf_cols=[], zero_cols=["n"], step="15 minutes",
    )
    got = {
        (r["bucket_start"].hour, r["bucket_start"].minute): r["n"]
        for r in out.collect()
    }
    # 00:00 .. 01:15 inclusive = 6 quarter-hour buckets
    assert got == {(0, 0): 1, (0, 15): 0, (0, 30): 0, (0, 45): 0,
                   (1, 0): 0, (1, 15): 1}


@given(
    weights=st.lists(st.integers(1, 60), min_size=3, max_size=10),
    capacity=st.integers(2, 12),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mg_guarantees_property(spark, weights, capacity):
    """MG invariants on arbitrary frequency profiles and capacities:
    every estimate is a lower bound, the global error bound holds
    (true - est <= max_err for every reported term), and any term with
    true count > max_err is reported."""
    from collections import Counter

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.sketches import (
        frequent_terms,
    )

    tokens = [f"t{i}" for i, w in enumerate(weights) for _ in range(w)]
    rng = random.Random(sum(weights))
    rng.shuffle(tokens)
    exact = Counter(tokens)
    out = frequent_terms(
        _token_df(spark, tokens, n_partitions=3),
        capacity=capacity,
        k=len(weights),
    ).collect()
    got = {r["term"]: r["est_count"] for r in out}
    max_err = out[0]["max_err"] if out else 0
    assert 0 <= max_err <= len(tokens) // (capacity + 1) + capacity
    for term, est in got.items():
        assert est <= exact[term]
        assert exact[term] - est <= max_err
    for term, n in exact.items():
        if n > max_err:
            assert term in got, (term, n, max_err)


def test_gapfill_locf_observed_bucket_with_all_null_aggregate(spark):
    """An OBSERVED bucket whose caller aggregates are all NULL (max
    over an all-null value column) must not be misclassified as
    synthesized: is_filled stays False and LOCF does not overwrite the
    legitimate NULL-observation semantics of zero_cols/locf_cols from
    a neighboring bucket's perspective."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.timeseries import (
        gapfill_locf,
    )

    rows = [
        ("k", "2024-01-01 00:10:00", 5.0),
        ("k", "2024-01-01 01:20:00", None),  # observed, all-null value
        ("k", "2024-01-01 03:40:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "key string, ts string, v double") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = gapfill_locf(
        df,
        ts_col="ts",
        key_cols=["key"],
        agg_exprs={"v_max": F.max("v")},
        locf_cols=["v_max"],
        zero_cols=[],
    ).orderBy("bucket_start").collect()
    filled = [r["is_filled"] for r in out]
    # hour 01 is OBSERVED (all-null aggregate) -> False; hour 02 is the
    # only synthesized bucket
    assert filled == [False, False, True, False]
    # LOCF still carries values forward over the null observation
    assert [r["v_max"] for r in out] == [5.0, 5.0, 5.0, 7.0]


def test_chunk_carry_self_scales_with_target_carry_rows(spark):
    """The chunk size must GROW with n so the carry table stays under
    target_carry_rows — results identical to the fixed-chunk (and
    plain-window) computation at every geometry, including the
    degenerate single-chunk case a huge n would force."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.watermarking import (
        _self_scaling_chunk,
        with_lateness,
    )

    # sizing math: floor wins while n/target is small; ceil(n/target)
    # wins beyond it
    tiny = spark.range(10)
    assert _self_scaling_chunk(tiny, 8192, None, 65536) == 8192
    assert _self_scaling_chunk(tiny, 8192, 10**12, 65536) == 15258790
    assert _self_scaling_chunk(tiny, 4, 100, 8) == 13  # ceil(100/8)

    rng = random.Random(7)
    # lateness: tiny target forces few big chunks; same answers
    ts = []
    t = 0
    for _ in range(300):
        t += rng.randrange(0, 40)
        ts.append(t - (rng.randrange(0, 300) if rng.random() < 0.25 else 0))
    lat_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(ts)], "arrival long, ts_ns long"
    )
    for chunk, target in [(32, 5), (32, 10**6)]:
        got = {
            r["arrival"]: r["lateness_ns"]
            for r in with_lateness(
                lat_df, "ts_ns", "arrival",
                chunk=chunk, target_carry_rows=target,
            ).collect()
        }
        prefix = 0
        for i, v in enumerate(ts):
            prefix = max(prefix, v) if i else v
            assert got[i] == prefix - v, (chunk, target, i)


def test_rolling_change_points_detects_level_shift(spark):
    """A synthetic step: 2/hour for 48h then 10/hour for 48h — the
    boundary hour must be flagged with the strongest diff; edges with
    partial windows must NOT be flagged."""
    import datetime as dt

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.timeseries import (
        rolling_change_points,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(96):
        n = 2 if h < 48 else 10
        for i in range(n):
            rows.append(("g", t0 + dt.timedelta(hours=h, minutes=i)))
            eid += 1
    df = spark.createDataFrame(rows, "grp string, ts timestamp")
    out = rolling_change_points(
        df, "grp", "ts", window_hours=24, min_abs_diff=100
    ).collect()
    assert out, "level shift not detected"
    # strongest diff at the boundary hour (48h after t0): prev 24h all
    # at 2 (48), next 24h all at 10 (240) -> diff 192
    best = max(out, key=lambda r: abs(r.diff))
    t0_hidx = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600
    assert abs(best.hour_idx - (t0_hidx + 48)) <= 1
    assert best.diff == 192
    # no partial-window edge rows
    for r in out:
        assert r.hour_idx - t0_hidx >= 24
        assert (t0_hidx + 95) - r.hour_idx >= 23


def test_rolling_change_points_flat_series_empty(spark):
    import datetime as dt

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.timeseries import (
        rolling_change_points,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("g", t0 + dt.timedelta(hours=h, minutes=i))
        for h in range(96)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp")
    assert (
        rolling_change_points(
            df, "grp", "ts", window_hours=24, min_abs_diff=5
        ).count()
        == 0
    )


def test_hll_rollup_mergeable_and_close_to_exact(spark):
    """events_hll_rollup: the merged all-time estimate is IDENTICAL to
    a one-shot sketch over all data (union of sketches = register-wise
    max), and every estimate lands within 5% of the exact distinct
    count."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.workloads import (
        _events,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.workloads_timeseries import (
        events_hll_rollup,
    )

    sf = "/root/testdata/sf0.01"
    got = {
        r.grain: r.approx_users
        for r in events_hll_rollup(spark, sf).collect()
    }
    e = _events(spark, sf)
    oneshot = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n")
    ).first()["n"]
    assert got["ALL"] == oneshot
    exact_all = e.select("user_id").distinct().count()
    assert abs(got["ALL"] - exact_all) / exact_all <= 0.05
    exact_daily = {
        str(r.day): r.n
        for r in e.groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact_daily) | {"ALL"}
    for day, n in exact_daily.items():
        assert abs(got[day] - n) / n <= 0.05
