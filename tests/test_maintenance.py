"""Lake maintenance: compaction reduces file count without changing
data; sorted layout produces row-group stats that let selective scans
skip files."""

from __future__ import annotations

import pyarrow.parquet as pq
import glob

from pyspark.sql import functions as F

from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.maintenance import (
    compact,
    data_file_count,
    optimize_layout,
    table_stats,
)


def test_compact_merges_small_files(spark, tmp_path):
    path = str(tmp_path / "fragmented")
    # simulate many tiny incremental appends
    for i in range(10):
        spark.range(i * 100, (i + 1) * 100).withColumn(
            "v", F.col("id") * 3
        ).write.mode("append").parquet(path)
    assert data_file_count(spark, path) >= 10
    before = spark.read.parquet(path)
    before_sum = before.agg(F.sum("v")).first()[0]
    n_after = compact(spark, path, target_file_mb=512)
    assert n_after < 10
    after = spark.read.parquet(path)
    assert after.count() == 1000
    assert after.agg(F.sum("v")).first()[0] == before_sum


def test_optimize_layout_narrows_rowgroup_ranges(spark, tmp_path, sf_dir):
    path = str(tmp_path / "orders_sorted")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = orders.count()
    orders.write.parquet(path)
    optimize_layout(spark, path, ["o_orderdate"], n_files=4)
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) == 4
    # each file covers a disjoint-ish narrow date range -> min/max stats
    # let a selective date predicate skip the other files
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i
            for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_orderdate"
        )
        stats = md.row_group(0).column(col_idx).statistics
        spans.append((stats.min, stats.max))
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2 or (lo2 - hi1).total_seconds() > -86400
    # data preserved
    assert spark.read.parquet(path).count() == n


def test_swap_overwrite_protocol(spark, tmp_path):
    """The staging swap must (a) handle a result that reads from the
    target path, (b) leave no ._staging/._old residue, (c) bootstrap a
    nonexistent target, and (d) never route through localCheckpoint."""
    import os

    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import swap_overwrite

    path = str(tmp_path / "swap_t")
    spark.range(100).withColumn("v", F.col("id") * 2).write.parquet(path)
    # self-referential rewrite: double v, keep only even ids
    df = spark.read.parquet(path).where(F.col("id") % 2 == 0).withColumn(
        "v", F.col("v") * 2
    )
    swap_overwrite(df, path)
    out = spark.read.parquet(path)
    assert out.count() == 50
    assert out.agg(F.sum("v")).first()[0] == sum(4 * i for i in range(0, 100, 2))
    siblings = os.listdir(str(tmp_path))
    assert "swap_t._staging" not in siblings and "swap_t._old" not in siblings
    # bootstrap: target does not exist yet
    fresh = str(tmp_path / "swap_new")
    swap_overwrite(spark.range(7), fresh)
    assert spark.read.parquet(fresh).count() == 7
    # no table-sized path may pin itself in executor storage
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "aws_sql_server_to_s3_datalake_etl_migration_spark"
    )
    hits = [
        p
        for p in pkg.rglob("*.py")
        if ".localCheckpoint(" in p.read_text()  # call sites, not prose
    ]
    assert hits == [], f"localCheckpoint reintroduced in {hits}"


def test_table_stats_report(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(100).write.parquet(path)
    row = table_stats(spark, path).first()
    assert row.n_rows == 100
    assert row.n_files >= 1
    assert row.total_bytes > 0


def test_zorder_layout_skips_on_both_columns(spark, tmp_path, sf_dir):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.maintenance import (
        zorder_layout,
    )

    path = str(tmp_path / "orders_z")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n = orders.count()
    orders.write.parquet(path)

    def mean_coverage(col):
        """Average fraction of the column's global range each file's
        [min,max] spans — 1.0 means no file can ever be skipped."""
        files = sorted(glob.glob(f"{path}/part-*.parquet"))
        stats = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            i = next(
                j
                for j in range(md.num_columns)
                if md.row_group(0).column(j).path_in_schema == col
            )
            los, his = [], []
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(i).statistics
                los.append(s.min)
                his.append(s.max)
            stats.append((min(los), max(his)))
        glo = min(s[0] for s in stats)
        ghi = max(s[1] for s in stats)
        span = float(ghi - glo) or 1.0
        return sum((hi - lo) / span for lo, hi in stats) / len(stats)

    zorder_layout(spark, path, ["o_custkey", "o_totalprice"], n_files=16)
    cov_cust = mean_coverage("o_custkey")
    cov_price = mean_coverage("o_totalprice")
    # a linear sort gives ~1/16 coverage on its column and ~1.0 on the
    # other; z-order must narrow BOTH dimensions simultaneously
    assert cov_cust < 0.6, cov_cust
    assert cov_price < 0.6, cov_price
    assert spark.read.parquet(path).count() == n


def test_zorder_layout_rejects_degenerate_columns(spark, tmp_path):
    """Z-ordering a constant, all-null, or non-numeric column would
    silently bucket every row to 0 (zero skipping effect) — the rewrite
    must refuse instead (round-4 advisory)."""
    import pytest

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.maintenance import (
        zorder_layout,
    )

    path = str(tmp_path / "zt")
    spark.createDataFrame(
        [(i, 7, None, f"s{i}") for i in range(100)],
        "a INT, const INT, nul INT, s STRING",
    ).write.parquet(path)

    with pytest.raises(ValueError, match="non-orderable"):
        zorder_layout(spark, path, ["a", "s"])
    with pytest.raises(ValueError, match="degenerate bounds"):
        zorder_layout(spark, path, ["a", "const"])
    with pytest.raises(ValueError, match="degenerate bounds"):
        zorder_layout(spark, path, ["a", "nul"])
    # valid columns still rewrite fine
    zorder_layout(spark, path, ["a"], n_files=2)
    assert spark.read.parquet(path).count() == 100


def test_histogram_rollup_split_merge_equals_one_pass(spark):
    """Mergeable fixed-bin histogram: the histograms of two split
    halves, added element-wise, equal the one-pass histogram, and the
    histogram-derived quantile brackets the true percentile within one
    bin width."""
    import numpy as np

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.rollup import (
        histogram_quantile,
        rollup_events,
    )

    rng = np.random.default_rng(5)
    vals = rng.uniform(0, 160, size=2000)
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, int(i % 4), int(i % 60)),
         ("a", "b")[i % 2], float(v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, v double")
    hist_spec = (10.0, 16)  # bins [0,10) .. [150,inf)

    one_pass = {
        (str(r["bucket"]), r["event_type"]): r["value_hist"]
        for r in rollup_events(
            df, value_col="v", histogram=hist_spec
        ).collect()
    }

    # split by value, so most groups get a histogram from each half;
    # element-wise addition of the halves must give the one-pass state
    merged = {}
    for cond in ("v < 80", "v >= 80"):
        for r in rollup_events(
            df.where(cond), value_col="v", histogram=hist_spec
        ).collect():
            k = (str(r["bucket"]), r["event_type"])
            prev = merged.get(k, [0] * hist_spec[1])
            merged[k] = [a + b for a, b in zip(prev, r["value_hist"])]
    assert merged == one_pass
    merged_df = rollup_events(df, value_col="v", histogram=hist_spec)
    # every histogram counts its bucket's rows
    n_by_key = {
        (str(r["bucket"]), r["event_type"]): r["n_events"]
        for r in merged_df.collect()
    }
    assert all(sum(h) == n_by_key[k] for k, h in merged.items())

    # quantile estimate within one bin of the exact per-group p50
    q = {
        (str(r["bucket"]), r["event_type"]): r["value_q"]
        for r in histogram_quantile(
            merged_df, 0.5, bin_width=10.0
        ).collect()
    }
    import collections

    groups = collections.defaultdict(list)
    for (ts, et, v) in rows:
        groups[(str(ts.replace(minute=0, second=0)), et)].append(v)
    for k, est in q.items():
        exact = float(np.quantile(groups[k], 0.5))
        assert exact - 10.0 <= est <= exact + 10.0, (k, est, exact)

    import pytest

    with pytest.raises(ValueError, match="q must"):
        histogram_quantile(merged_df, 0.0, 10.0)
