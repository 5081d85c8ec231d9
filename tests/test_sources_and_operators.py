"""Unit tests for sources/sinks, sanitization, and incremental/merge
operators (SURVEY.md §2.1, §2.2 P4, §2.7)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from aws_sql_server_to_s3_datalake_etl_migration_spark.functions.names import (
    lake_name_to_source_name,
    normalize_job_name,
    sanitize_identifier,
    table_name_from_path,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.clean import (
    sanitize_columns,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.incremental import (
    high_watermark,
    merge_upsert,
    new_rows_above_watermark,
    write_incremental,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
    read_csv,
    read_delta,
    read_parquet,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import (
    write_parquet,
)


def test_sanitize_identifier_char_class():
    # exact char class from reference utils.py:59: ,;{}()\n\t= plus
    # strip + space->underscore
    assert sanitize_identifier("  First Name  ") == "First_Name"
    assert sanitize_identifier("a,b;c{d}e(f)g\nh\ti=j") == "abcdefghij"


def test_name_helpers():
    assert table_name_from_path("s3://b/datalake/nis_policies/") == "nis_policies"
    assert lake_name_to_source_name("nis_policies") == "nis.policies"
    assert normalize_job_name(" Policies ", prefix="nis_") == "nis_policies"


def test_sanitize_columns_collision_safe(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a b", "a;b", "ok"])
    out = sanitize_columns(df)
    assert out.columns == ["a_b", "ab", "ok"]
    df2 = spark.createDataFrame([(1, 2)], ["x=", "x("])
    assert sanitize_columns(df2).columns == ["x", "x_2"]


def test_csv_roundtrip_inferred_and_ddl(spark, tmp_path):
    p = tmp_path / "cal.csv"
    p.write_text("Cal Date,Day Name,num\n2024-01-01,Mon,1\n2024-01-02,Tue,2\n")
    inferred = read_csv(spark, str(p))
    assert inferred.count() == 2
    ddl = "CREATE TABLE lookup_calendar (`Cal Date` DATE, `Day Name` STRING, num INT)"
    typed = read_csv(spark, str(p), ddl=ddl)
    assert [f.dataType.simpleString() for f in typed.schema.fields] == [
        "date",
        "string",
        "int",
    ]
    assert typed.count() == 2


def test_csv_default_is_splittable_multiline_opt_in(spark, tmp_path):
    # Default (multi_line=False): a multi-file CSV scan parallelizes —
    # multiLine parsing would glue each file to one task and, worse,
    # make single big files unsplittable at scale.
    d = tmp_path / "feed"
    d.mkdir()
    for i in range(4):
        (d / f"part{i}.csv").write_text(
            "a,b\n" + "".join(f"{j},{i}\n" for j in range(200))
        )
    df = read_csv(spark, str(d))
    assert df.count() == 800
    assert df.rdd.getNumPartitions() > 1
    # Opt-in multi_line=True: quoted embedded newlines still parse
    # (the reference's always-multiLine behavior stays reachable).
    q = tmp_path / "quoted.csv"
    q.write_text('a,b\n1,"line one\nline two"\n2,plain\n')
    rows = read_csv(spark, str(q), multi_line=True).count()
    assert rows == 2


def test_parquet_write_read_with_query(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    write_parquet(df, path)
    back = read_parquet(spark, path, query="SELECT v FROM tbl WHERE v > 10",
                        view_name="tbl")
    assert back.columns == ["v"]
    assert back.count() == 4


def test_read_parquet_merge_schema_evolution(spark, tmp_path):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_parquet,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    spark.range(3).write.mode("append").parquet(path)
    spark.range(3, 5).withColumn("added", F.lit("new")).write.mode(
        "append"
    ).parquet(path)
    merged = read_parquet(spark, path, merge_schema=True)
    assert set(merged.columns) == {"id", "added"}
    assert merged.count() == 5
    assert merged.where(F.col("added").isNull()).count() == 3


def test_watermark_and_incremental_append(spark, tmp_path):
    path = str(tmp_path / "inc")
    first = spark.range(0, 5).withColumn("payload", F.lit("a"))
    n = write_incremental(spark, first, path, "id")
    assert n == 5  # bootstrap
    lake = spark.read.parquet(path)
    assert high_watermark(lake, "id") == 4
    second = spark.range(0, 8).withColumn("payload", F.lit("b"))
    fresh = new_rows_above_watermark(second, lake, "id")
    assert sorted(r.id for r in fresh.collect()) == [5, 6, 7]
    n2 = write_incremental(spark, second, path, "id")
    assert n2 == 3
    final = spark.read.parquet(path)
    assert final.count() == 8
    # rows 0-4 kept their original payload (append, not update)
    assert final.where("id < 5").where("payload = 'a'").count() == 5


def test_merge_upsert_scd0(spark, tmp_path):
    path = str(tmp_path / "merge")
    base = spark.createDataFrame(
        [(1, "old"), (2, "old"), (3, "old")], ["pk", "val"]
    )
    write_parquet(base, path)
    incoming = spark.createDataFrame([(2, "new"), (9, "new")], ["pk", "val"])
    merge_upsert(spark, incoming, path, "pk")
    out = {r.pk: r.val for r in spark.read.parquet(path).collect()}
    assert out == {1: "old", 2: "new", 3: "old", 9: "new"}


def test_delta_entry_points_never_request_delta_data_source(
    spark, tmp_path, monkeypatch
):
    """The log engine is the only Delta implementation: bootstrap, a
    watermark append, a MERGE with deletes and a log read never ask
    Spark for a "delta" data source (whose failed lookup costs tens of
    milliseconds per call on a classpath without one)."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources import (
        delta_log,
    )

    requested = []
    for cls in (DataFrameReader, DataFrameWriter):
        orig = cls.format

        def spy(self, source, _orig=orig):
            requested.append(source)
            return _orig(self, source)

        monkeypatch.setattr(cls, "format", spy)
    path = str(tmp_path / "spy")
    rows = "pk long, v string, gone boolean"
    write_incremental(
        spark, spark.createDataFrame([(1, "a"), (2, "a")], "pk long, v string"),
        path, "pk",
    )
    write_incremental(
        spark, spark.createDataFrame([(2, "x"), (3, "a")], "pk long, v string"),
        path, "pk",
    )
    merge_upsert(
        spark,
        spark.createDataFrame([(1, "b", False), (3, "", True)], rows),
        path, "pk", delete_col="gone",
    )
    assert delta_log.log_version(spark, path) == 2
    got = {(r.pk, r.v) for r in read_delta(spark, path).collect()}
    assert got == {(1, "b"), (2, "a")}
    assert "delta" not in [str(x).lower() for x in requested]


def test_merge_upsert_cdc_deletes(spark, tmp_path):
    """A CDC feed mixes upserts and tombstones: matched deletes drop
    the target row, unmatched deletes are no-ops, the flag column never
    lands in the target."""
    path = str(tmp_path / "cdc")
    base = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a")], ["pk", "val"]
    )
    write_parquet(base, path)
    feed = spark.createDataFrame(
        [
            (2, "b", False),   # update
            (3, "x", True),    # delete existing
            (4, "c", False),   # insert
            (5, "x", True),    # delete of a missing key: no-op
        ],
        ["pk", "val", "is_deleted"],
    )
    merge_upsert(spark, feed, path, "pk", delete_col="is_deleted")
    result = spark.read.parquet(path)
    assert result.columns == ["pk", "val"]
    out = {r.pk: r.val for r in result.collect()}
    assert out == {1: "a", 2: "b", 4: "c"}


def test_write_incremental_updates_mode(spark, tmp_path):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_delta,
    )

    path = str(tmp_path / "upd")
    base = spark.createDataFrame([(1, "a"), (2, "a")], ["pk", "val"])
    write_incremental(spark, base, path, "pk")
    incoming = spark.createDataFrame([(2, "b"), (3, "b")], ["pk", "val"])
    write_incremental(spark, incoming, path, "pk", updates=True)
    # the incremental lake is now a log-backed (fallback) Delta table:
    # reads go through log replay, and the merge was a copy-on-write
    # commit whose tombstoned files stay on disk for time travel
    out = {r.pk: r.val for r in read_delta(spark, path).collect()}
    assert out == {1: "a", 2: "b", 3: "b"}
    v0 = {r.pk: r.val for r in read_delta(spark, path, version=0).collect()}
    assert v0 == {1: "a", 2: "a"}


def test_read_delta_fallback_replays_transaction_log(spark, tmp_path):
    """Without delta-spark, read_delta must honor _delta_log: only
    files the log records as live are scanned, so rows tombstoned by a
    MERGE/DELETE never resurrect (reference semantics utils.py:180-182)."""
    import json as _json

    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import read_delta

    path = tmp_path / "dl_table"
    path.mkdir()
    log = path / "_delta_log"
    log.mkdir()

    def _write_file(name, lo, hi, version):
        spark.range(lo, hi).withColumn(
            "v", F.lit(version)
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "one"))
        import glob as _glob
        import shutil

        src = _glob.glob(str(tmp_path / "one" / "part-*.parquet"))[0]
        shutil.copy(src, str(path / name))

    # commit 0: initial load = f0 (ids 0-9, v=1) + f1 (ids 10-19, v=1)
    _write_file("f0.parquet", 0, 10, 1)
    _write_file("f1.parquet", 10, 20, 1)
    (log / f"{0:020d}.json").write_text(
        "\n".join(
            _json.dumps(a)
            for a in [
                {"commitInfo": {"operation": "WRITE"}},
                {"add": {"path": "f0.parquet", "dataChange": True}},
                {"add": {"path": "f1.parquet", "dataChange": True}},
            ]
        )
    )
    # commit 1: MERGE rewrites f0 -> f2 (ids 0-9 updated to v=2)
    _write_file("f2.parquet", 0, 10, 2)
    (log / f"{1:020d}.json").write_text(
        "\n".join(
            _json.dumps(a)
            for a in [
                {"remove": {"path": "f0.parquet", "dataChange": True}},
                {"add": {"path": "f2.parquet", "dataChange": True}},
            ]
        )
    )

    out = read_delta(spark, str(path))
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert len(rows) == 20, "tombstoned f0 rows resurrected"
    assert all(rows[i] == 2 for i in range(10)), "MERGE update lost"
    assert all(rows[i] == 1 for i in range(10, 20))

    # a checkpoint at version 1 + a commit above it must compose
    cp = spark.createDataFrame(
        [("f1.parquet",), ("f2.parquet",)], "path string"
    ).select(F.struct("path").alias("add"))
    cp.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "cp"))
    import glob as _glob
    import shutil

    shutil.copy(
        _glob.glob(str(tmp_path / "cp" / "part-*.parquet"))[0],
        str(log / f"{1:020d}.checkpoint.parquet"),
    )
    _write_file("f3.parquet", 20, 25, 3)
    (log / f"{2:020d}.json").write_text(
        _json.dumps({"add": {"path": "f3.parquet", "dataChange": True}})
    )
    out2 = read_delta(spark, str(path))
    assert out2.count() == 25
    assert out2.where(F.col("v") == 3).count() == 5

    # no _delta_log at all -> plain parquet dir semantics
    plain = tmp_path / "plain"
    spark.range(5).write.parquet(str(plain))
    assert read_delta(spark, str(plain)).count() == 5

    # time travel: version 0 predates the checkpoint, so the replay
    # must ignore it and reconstruct from commit 0 alone
    v0 = read_delta(spark, str(path), version=0)
    rows0 = {r["id"]: r["v"] for r in v0.collect()}
    assert len(rows0) == 20 and set(rows0.values()) == {1}
    # version 1 sees the MERGE but not commit 2's append
    v1 = read_delta(spark, str(path), version=1)
    rows1 = {r["id"]: r["v"] for r in v1.collect()}
    assert len(rows1) == 20
    assert all(rows1[i] == 2 for i in range(10))
    # nonexistent version -> loud error naming the latest
    with pytest.raises(ValueError, match="latest is 2"):
        read_delta(spark, str(path), version=7)
    # plain parquet dirs cannot time-travel
    with pytest.raises(ValueError, match="cannot time-travel"):
        read_delta(spark, str(plain), version=0)

    # fully-deleted table: this FOREIGN log carries no metaData, so
    # even the empty snapshot's schema is unknowable -> loud refusal
    (log / f"{3:020d}.json").write_text(
        "\n".join(
            _json.dumps({"remove": {"path": p, "dataChange": True}})
            for p in ["f1.parquet", "f2.parquet", "f3.parquet"]
        )
    )
    with pytest.raises(ValueError, match="no live files"):
        read_delta(spark, str(path))
    # ...but time travel to a pre-delete version still reads it
    assert read_delta(spark, str(path), version=2).count() == 25

    # an ENGINE-written table always has reachable metaData: deleting
    # every row yields an EMPTY frame with the table schema (delta-
    # spark semantics), not an error
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources import (
        delta_log as _dl,
    )

    empty_t = str(tmp_path / "emptied")
    _dl.append_commit(
        spark.range(3).selectExpr("id AS pk", "id * 2 AS v"), empty_t
    )
    _dl.delete_where(spark, empty_t, F.lit(True))
    emptied = read_delta(spark, empty_t)
    assert emptied.count() == 0
    assert [f.name for f in emptied.schema.fields] == ["pk", "v"]


def test_read_delta_checkpoint_honors_remove_tombstones(spark, tmp_path):
    """A checkpoint that carries live `remove` tombstones (Delta keeps
    them until vacuum retention expires; an unreconciled writer can even
    pair them with an `add` for the same path) must not resurrect the
    removed file: replay reads checkpoint adds MINUS checkpoint removes
    (reference Delta semantics utils.py:180-182)."""
    import json as _json

    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import read_delta

    path = tmp_path / "dl_cp"
    path.mkdir()
    log = path / "_delta_log"
    log.mkdir()

    def _write_file(name, lo, hi, version):
        import glob as _glob
        import shutil

        spark.range(lo, hi).withColumn(
            "v", F.lit(version)
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "one"))
        src = _glob.glob(str(tmp_path / "one" / "part-*.parquet"))[0]
        shutil.copy(src, str(path / name))

    # f0 was added then removed (not yet vacuumed: still on disk);
    # f1/f2 are live. The checkpoint at v1 carries all three facts.
    _write_file("f0.parquet", 0, 10, 1)
    _write_file("f1.parquet", 10, 20, 1)
    _write_file("f2.parquet", 0, 10, 2)
    cp = spark.createDataFrame(
        [
            ("f0.parquet", None),   # unreconciled add...
            ("f1.parquet", None),
            ("f2.parquet", None),
            (None, "f0.parquet"),   # ...tombstoned in the same checkpoint
        ],
        "add_path string, remove_path string",
    ).select(
        F.when(
            F.col("add_path").isNotNull(), F.struct(F.col("add_path").alias("path"))
        ).alias("add"),
        F.when(
            F.col("remove_path").isNotNull(),
            F.struct(F.col("remove_path").alias("path")),
        ).alias("remove"),
    )
    import glob as _glob
    import shutil

    cp.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "cp2"))
    shutil.copy(
        _glob.glob(str(tmp_path / "cp2" / "part-*.parquet"))[0],
        str(log / f"{1:020d}.checkpoint.parquet"),
    )
    # commits 0/1 were truncated away; only a commit above the
    # checkpoint remains.
    _write_file("f3.parquet", 20, 25, 3)
    (log / f"{2:020d}.json").write_text(
        _json.dumps({"add": {"path": "f3.parquet", "dataChange": True}})
    )

    out = read_delta(spark, str(path))
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert len(rows) == 25, "checkpoint remove tombstone ignored"
    assert all(rows[i] == 2 for i in range(10)), "removed f0 resurrected"
    assert all(rows[i] == 1 for i in range(10, 20))
    assert all(rows[i] == 3 for i in range(20, 25))


def test_sql_over_view_concurrent_same_named_paths(spark, tmp_path):
    """Two parallel jobs doing SQL-over-view on paths with the same
    basename must never read each other's data: each call registers a
    per-call unique view and rewrites the query onto it."""
    from concurrent.futures import ThreadPoolExecutor

    p1, p2 = tmp_path / "a" / "data.parquet", tmp_path / "b" / "data.parquet"
    spark.range(0, 100).withColumn("src", F.lit(1)).write.parquet(str(p1))
    spark.range(100, 200).withColumn("src", F.lit(2)).write.parquet(str(p2))

    def go(path, expect):
        df = read_parquet(
            spark, str(path), query="SELECT DISTINCT src FROM data"
        )
        return {r[0] for r in df.collect()} == {expect}

    with ThreadPoolExecutor(8) as ex:
        futs = [
            ex.submit(go, p, e)
            for _ in range(8)
            for p, e in ((p1, 1), (p2, 2))
        ]
        assert all(f.result() for f in futs)

    # {table} placeholder and digit-leading basenames also resolve
    p3 = tmp_path / "2024_snapshot.parquet"
    spark.range(5).write.parquet(str(p3))
    assert (
        read_parquet(
            spark, str(p3), query="SELECT COUNT(*) AS n FROM {table}"
        ).first()["n"]
        == 5
    )
    assert (
        read_parquet(
            spark, str(p3), query="SELECT COUNT(*) AS n FROM t_2024_snapshot"
        ).first()["n"]
        == 5
    )


def test_read_delta_fallback_rejects_torn_log(spark, tmp_path):
    """A torn commit line or a version gap must fail the read loudly —
    half-applying a commit (or silently skipping one) would expose a
    table state no writer ever committed (round-4 advisory)."""
    import json as _json

    import pytest as _pytest

    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import read_delta

    path = tmp_path / "torn_table"
    path.mkdir()
    log = path / "_delta_log"
    log.mkdir()
    spark.range(0, 10).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "one")
    )
    import glob as _glob
    import shutil

    src = _glob.glob(str(tmp_path / "one" / "part-*.parquet"))[0]
    shutil.copy(src, str(path / "f0.parquet"))
    (log / f"{0:020d}.json").write_text(
        _json.dumps({"add": {"path": "f0.parquet", "dataChange": True}})
    )
    assert read_delta(spark, str(path)).count() == 10

    # torn write: commit 1's second line truncated mid-JSON
    (log / f"{1:020d}.json").write_text(
        _json.dumps({"remove": {"path": "f0.parquet", "dataChange": True}})
        + '\n{"add": {"path": "f1.parq'
    )
    with _pytest.raises(ValueError, match="torn or corrupt"):
        read_delta(spark, str(path)).count()
    # an incremental write must surface the same error, not take the
    # unreadable table for a new one and append over it
    for updates in (False, True):
        with _pytest.raises(ValueError, match="torn or corrupt"):
            write_incremental(
                spark, spark.range(10, 12), str(path), "id", updates
            )
    assert not (log / f"{2:020d}.json").exists()

    # version gap: commit 1 missing entirely, commit 2 present
    (log / f"{1:020d}.json").unlink()
    (log / f"{2:020d}.json").write_text(
        _json.dumps({"add": {"path": "f0.parquet", "dataChange": True}})
    )
    with _pytest.raises(ValueError, match="not contiguous"):
        read_delta(spark, str(path)).count()


def test_json_and_orc_roundtrip(spark, tmp_path, sf_dir):
    """S-surface extension: JSONL + ORC readers/writers round-trip, the
    declared-schema JSON read prunes/parses without an inference pass,
    and the ORC scan carries predicate pushdown like parquet."""
    import contextlib
    import io

    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_json,
        read_orc,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import (
        write_json,
        write_orc,
    )

    src = spark.read.parquet(f"{sf_dir}/nation.parquet")

    jpath = str(tmp_path / "nation_json")
    write_json(src, jpath)
    back = read_json(
        spark, jpath,
        ddl="n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, "
            "n_comment STRING",
    )
    assert back.count() == src.count()
    assert {r.n_name for r in back.collect()} == {
        r.n_name for r in src.collect()
    }

    opath = str(tmp_path / "nation_orc")
    write_orc(src, opath)
    odf = read_orc(spark, opath).where(F.col("n_regionkey") == 2)
    assert odf.count() == src.where("n_regionkey = 2").count()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        odf.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [" in plan and "n_regionkey" in plan

    # SQL-over-view hook works on ORC like parquet
    agg = read_orc(
        spark, opath,
        query="SELECT n_regionkey, COUNT(*) AS n FROM {table} "
              "GROUP BY n_regionkey",
    )
    assert agg.count() == 5


def test_quarantine_ingest_routes_corrupt_records(spark, tmp_path):
    """Dead-letter ingest: malformed JSONL rows land in the quarantine
    partition with their raw text, clean rows come back typed, and the
    clean-side read is partition-pruned — one source scan, one write."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_with_quarantine,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import (
        read_clean,
        write_quarantined,
    )

    src = tmp_path / "feed"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"id": 1, "v": 10.5}\n'
        '{"id": 2, "v": "NOT_A_NUMBER}\n'          # truncated/corrupt
        '{"id": 3, "v": 7.25}\n'
        "this is not json at all\n"
    )
    tagged = read_with_quarantine(
        spark, str(src), "id BIGINT, v DOUBLE", fmt="json"
    )
    lake = str(tmp_path / "lake")
    write_quarantined(tagged, lake)

    clean = read_clean(spark, lake)
    assert {tuple(r) for r in clean.collect()} == {(1, 10.5), (3, 7.25)}
    assert [f.name for f in clean.schema.fields] == ["id", "v"]
    bad = {
        r["_raw_record"]
        for r in spark.read.parquet(lake).where("_is_bad = true").collect()
    }
    assert bad == {
        '{"id": 2, "v": "NOT_A_NUMBER}',
        "this is not json at all",
    }
    # clean-side scan is partition-pruned (directory-level, not a
    # post-scan filter): the scan node carries a PartitionFilter on
    # _is_bad
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        clean.explain("formatted")
    assert any(
        "PartitionFilters" in ln and "_is_bad" in ln
        for ln in buf.getvalue().splitlines()
    )


def test_synthetic_corpus_datasource(spark):
    """Custom Python DataSource: partition-parallel generation, rows
    invariant to partition count, deterministic across reads."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.synthetic import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)

    def load(parts):
        return (
            spark.read.format("synthetic_corpus")
            .option("rows", 300)
            .option("partitions", parts)
            .option("seed", 7)
            .load()
        )

    a = load(4)
    assert a.rdd.getNumPartitions() == 4
    rows_a = {r["doc_id"]: (r["text"], r["source"], r["n_chars"]) for r in a.collect()}
    assert len(rows_a) == 300
    # content invariant to parallelism and re-reads
    rows_b = {r["doc_id"]: (r["text"], r["source"], r["n_chars"]) for r in load(7).collect()}
    assert rows_a == rows_b
    # schema contract holds (n_chars really is the text length)
    assert all(v[2] == len(v[0]) for v in rows_a.values())
    assert {v[1] for v in rows_a.values()} <= {"crawl", "curated", "forum", "code"}
    # the generated corpus feeds the normal operator surface
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import textops

    scored = textops.with_quality_score(load(4))
    assert scored.count() == 300


def test_write_parquet_compression_codec(spark, tmp_path):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import (
        write_parquet,
    )
    import glob as _glob

    df = spark.range(1000).withColumn("s", F.concat(F.lit("x" * 50), "id"))
    p = str(tmp_path / "zstd_tbl")
    write_parquet(df, p, compression="zstd")
    files = _glob.glob(p + "/*.zstd.parquet")
    assert files, "zstd codec not applied to data files"
    assert spark.read.parquet(p).count() == 1000


def test_quarantine_ingest_csv(spark, tmp_path):
    """CSV flavor of the dead-letter ingest: a row with an untypeable
    cell quarantines with its raw text; clean rows parse."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_with_quarantine,
    )

    src = tmp_path / "csvfeed"
    src.mkdir()
    (src / "a.csv").write_text("id,v\n1,10.5\n2,oops\n3,7.25\n")
    tagged = read_with_quarantine(
        spark, str(src), "id BIGINT, v DOUBLE", fmt="csv"
    )
    clean = {tuple(r) for r in tagged.where("NOT _is_bad")
             .select("id", "v").collect()}
    assert clean == {(1, 10.5), (3, 7.25)}
    bad = [r["_raw_record"] for r in tagged.where("_is_bad").collect()]
    assert bad == ["2,oops"]

    import pytest as _pt

    with _pt.raises(ValueError, match="json/csv"):
        read_with_quarantine(spark, str(src), "id BIGINT", fmt="avro")


def test_cdc_apply_changes_latest_sequence_wins(spark):
    """CDC apply: per key only the highest-sequence change is visible —
    delete-then-reinsert and update-after-delete resolve by sequence,
    not arrival order; unknown keys insert; untouched rows survive."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.incremental import (
        cdc_apply_changes,
    )

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    # deliberately shuffled arrival order
    ch = spark.createDataFrame(
        [
            (2, "b2", 1, "U"),
            (1, "a3", 3, "U"),   # final state of key 1
            (2, "ignored", 2, "D"),  # key 2 ends deleted
            (1, "a1", 1, "U"),
            (1, "gone", 2, "D"),
            (4, "d", 1, "I"),    # brand-new key
        ],
        "id long, v string, seq long, op string",
    )
    got = {
        r["id"]: r["v"]
        for r in cdc_apply_changes(snap, ch, key_col="id").collect()
    }
    assert got == {1: "a3", 3: "c", 4: "d"}

    # a feed applied batch by batch, in sequence order, lands the same
    # table as one apply over the whole feed (delete then re-insert
    # across batches included)
    ddl = "id long, v string, seq long, op string"
    feed = [
        [(1, "a", 1, "I"), (2, "b", 1, "I"), (3, "c", 1, "I")],
        [(1, "a2", 2, "U"), (2, None, 2, "D"), (4, "d", 2, "I")],
        [(4, None, 3, "D"), (2, "b2", 3, "I"), (1, "a3", 3, "U")],
    ]
    empty = spark.createDataFrame([], "id long, v string")
    folded = empty
    for rows in feed:
        folded = cdc_apply_changes(
            folded, spark.createDataFrame(rows, ddl), key_col="id"
        )
    oneshot = cdc_apply_changes(
        empty, spark.createDataFrame(sum(feed, []), ddl), key_col="id"
    )
    assert (
        {tuple(r) for r in folded.collect()}
        == {tuple(r) for r in oneshot.collect()}
        == {(1, "a3"), (2, "b2"), (3, "c")}
    )

    # feed missing a snapshot column fails loudly
    bad = spark.createDataFrame([(1, 1, "U")], "id long, seq long, op string")
    try:
        cdc_apply_changes(snap, bad, key_col="id")
        assert False, "expected ValueError"
    except ValueError as ex:
        assert "lacks snapshot columns" in str(ex)


def test_overwrite_batch_partition_validation(spark, tmp_path):
    """Writer guardrails: batch ids must be directory-safe and
    partition columns must not be hidden names."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import (
        overwrite_batch_partition,
    )

    df = spark.createDataFrame([(1,)], "v long")
    base = str(tmp_path / "t")
    for bad_id in ("a/b", "a b", "x=1", ""):
        try:
            overwrite_batch_partition(df, base, bad_id)
            assert False, bad_id
        except ValueError:
            pass
    try:
        overwrite_batch_partition(df, base, 1, partition_col="_hidden")
        assert False
    except ValueError:
        pass
    # the valid form works and reads back with lineage
    overwrite_batch_partition(df, base, "run-1.a")
    assert spark.read.parquet(base).collect()[0]["ingest_batch_id"] == "run-1.a"


def test_incremental_join_view_matches_full_recompute(spark, tmp_path):
    """Maintain a persisted orders-lines join view through two append
    rounds with delta propagation only; the final view must equal the
    full re-join, row for row (bag semantics)."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.incremental import (
        incremental_join_delta,
    )

    def orders(lo, hi):
        return spark.createDataFrame(
            [(k, k * 10) for k in range(lo, hi)], "k long, cust long"
        )

    def lines(lo, hi):
        return spark.createDataFrame(
            [(k, j, k * 100 + j) for k in range(lo, hi) for j in range(2)],
            "k long, ln int, part long",
        )

    path = str(tmp_path / "view")
    o0, l0 = orders(0, 10), lines(0, 8)
    write_parquet(o0.join(l0, "k"), path)
    o_cur, l_cur = o0, l0

    for (o_new, l_new) in [
        (orders(10, 15), lines(8, 14)),
        (orders(15, 20), lines(14, 20)),
    ]:
        gained = incremental_join_delta(o_cur, o_new, l_cur, l_new, on="k")
        write_parquet(
            gained.select("k", "cust", "ln", "part"), path, mode="append"
        )
        o_cur = o_cur.unionByName(o_new)
        l_cur = l_cur.unionByName(l_new)

    got = sorted(
        tuple(r) for r in spark.read.parquet(path)
        .select("k", "cust", "ln", "part").collect()
    )
    want = sorted(
        tuple(r) for r in o_cur.join(l_cur, "k")
        .select("k", "cust", "ln", "part").collect()
    )
    assert got == want and len(got) == 40


def test_delta_log_writer_concurrency_and_time_travel(spark, tmp_path):
    """The fallback transaction log: append commits claim consecutive
    versions; a reconciliation commit pinned to a stale snapshot
    raises CommitConflict instead of silently double-winning; every
    version stays readable."""
    import json as _json

    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources import (
        delta_log,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_delta,
    )

    path = str(tmp_path / "txn")
    d1 = spark.createDataFrame([(1, "a")], "pk long, val string")
    assert delta_log.append_commit(d1, path) == 0
    d2 = spark.createDataFrame([(2, "b")], "pk long, val string")
    assert delta_log.append_commit(d2, path) == 1
    assert delta_log.log_version(spark, path) == 1

    # a merge that read its snapshot at version 0 must NOT commit on
    # top of version 1's reality
    stale = delta_log.stage_data_files(
        spark.createDataFrame([(9, "z")], "pk long, val string"), path
    )
    with pytest.raises(delta_log.CommitConflict):
        delta_log.commit(spark, path, stale, expected_version=1)

    # versions remain individually readable
    assert {r.pk for r in read_delta(spark, path, version=0).collect()} == {1}
    assert {r.pk for r in read_delta(spark, path, version=1).collect()} == {
        1,
        2,
    }
    # commit 0 bootstrapped protocol + metaData with a Spark-JSON
    # schemaString — the shape delta-spark itself reads
    log0 = (
        tmp_path / "txn" / "_delta_log" / ("0" * 20 + ".json")
    ).read_text()
    actions = [_json.loads(ln) for ln in log0.splitlines() if ln.strip()]
    by_key = {k: a[k] for a in actions for k in a}
    assert by_key["protocol"]["minReaderVersion"] == 1
    assert by_key["commitInfo"]["operation"] == "CREATE TABLE AS SELECT"
    meta = by_key["metaData"]
    assert meta["format"]["provider"] == "parquet"
    assert "pk" in meta["schemaString"] and meta["partitionColumns"] == []


def test_delta_append_preserves_preexisting_plain_tables(spark, tmp_path):
    """A plain-parquet directory that predates the log writer must NOT
    acquire a log covering only the new files — log replay would
    silently drop every earlier row."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_delta,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import (
        write_delta_append,
        write_parquet,
    )

    path = str(tmp_path / "legacy")
    write_parquet(
        spark.createDataFrame([(1, "old")], "pk long, val string"), path
    )
    write_delta_append(
        spark.createDataFrame([(2, "new")], "pk long, val string"), path
    )
    import os

    assert not os.path.exists(os.path.join(path, "_delta_log"))
    assert {r.pk for r in read_delta(spark, path).collect()} == {1, 2}


def test_delta_merge_commit_is_atomic_single_entry(spark, tmp_path):
    """The copy-on-write merge publishes removes+adds in ONE commit
    file — no intermediate version ever shows a half-merged table."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources import (
        delta_log,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_delta,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import (
        write_delta_append,
    )

    path = str(tmp_path / "atomic")
    write_delta_append(
        spark.createDataFrame(
            [(1, "a"), (2, "a")], "pk long, val string"
        ),
        path,
    )
    merge_upsert(
        spark,
        spark.createDataFrame([(2, "b")], "pk long, val string"),
        path,
        "pk",
    )
    assert delta_log.log_version(spark, path) == 1
    assert {
        (r.pk, r.val) for r in read_delta(spark, path).collect()
    } == {(1, "a"), (2, "b")}
    assert {
        (r.pk, r.val) for r in read_delta(spark, path, version=0).collect()
    } == {(1, "a"), (2, "a")}


def test_delta_checkpoint_truncate_vacuum(spark, tmp_path):
    """Checkpoint reconciles HEAD, truncation drops covered commits
    (replay starts at the checkpoint), vacuum deletes only dead data
    files — HEAD reads survive all three."""
    import os

    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources import (
        delta_log,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_delta,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import (
        write_delta_append,
    )

    path = str(tmp_path / "cpv")
    write_delta_append(
        spark.createDataFrame([(1, "a"), (2, "a")], "pk long, val string"),
        path,
    )
    merge_upsert(
        spark,
        spark.createDataFrame([(2, "b")], "pk long, val string"),
        path,
        "pk",
    )
    head = {(r.pk, r.val) for r in read_delta(spark, path).collect()}
    assert head == {(1, "a"), (2, "b")}

    v = delta_log.write_checkpoint(spark, path)
    assert v == 1
    assert delta_log.truncate_log(spark, path) == 2  # commits 0 and 1
    # replay now starts from the checkpoint; HEAD unchanged
    assert {
        (r.pk, r.val) for r in read_delta(spark, path).collect()
    } == head

    dead = delta_log.vacuum(spark, path, min_age_seconds=0)
    assert dead  # the merge tombstoned the v0 files
    assert {
        (r.pk, r.val) for r in read_delta(spark, path).collect()
    } == head
    # appends keep working after checkpoint+truncate+vacuum
    write_delta_append(
        spark.createDataFrame([(5, "e")], "pk long, val string"), path
    )
    assert {
        (r.pk, r.val) for r in read_delta(spark, path).collect()
    } == head | {(5, "e")}
    assert os.path.exists(
        os.path.join(path, "_delta_log", "0" * 19 + "1.checkpoint.parquet")
    )


def test_delta_append_rejects_schema_mismatch(spark, tmp_path):
    """Schema enforcement on append, like real Delta: a mismatched
    frame is rejected BEFORE any file lands — a committed mismatch
    would poison every later replay read."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources import (
        delta_log,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import (
        write_delta_append,
    )

    path = str(tmp_path / "enforced")
    write_delta_append(
        spark.createDataFrame([(1, "a")], "pk long, val string"), path
    )
    bad = spark.createDataFrame([(2, "b", 1.5)], "pk long, val string, extra double")
    with pytest.raises(ValueError, match="schema mismatch"):
        delta_log.append_commit(bad, path)
    assert delta_log.log_version(spark, path) == 0
    # matching appends still land
    write_delta_append(
        spark.createDataFrame([(2, "b")], "pk long, val string"), path
    )
    assert delta_log.log_version(spark, path) == 1


def test_delta_concurrent_appends_all_land(spark, tmp_path):
    """Genuine write-write racing: concurrent appenders all commit —
    the atomic rename claim serializes them into distinct consecutive
    versions and no batch is lost."""
    import threading

    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources import (
        delta_log,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_delta,
    )

    path = str(tmp_path / "race")
    delta_log.append_commit(
        spark.createDataFrame([(0, -1)], "writer int, batch int"), path
    )
    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            for b in range(3):
                delta_log.append_commit(
                    spark.createDataFrame(
                        [(wid, b)], "writer int, batch int"
                    ),
                    path,
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert delta_log.log_version(spark, path) == 12  # 1 seed + 12 appends
    rows = {(r.writer, r.batch) for r in read_delta(spark, path).collect()}
    assert rows == {(0, -1)} | {(w, b) for w in range(4) for b in range(3)}


def test_delta_vacuum_retention_window(spark, tmp_path):
    """min_age_seconds keeps freshly-tombstoned files alive for
    in-flight readers; age 0 reclaims them."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources import (
        delta_log,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import (
        write_delta_append,
    )

    path = str(tmp_path / "ret")
    write_delta_append(
        spark.createDataFrame([(1, "a")], "pk long, val string"), path
    )
    merge_upsert(
        spark,
        spark.createDataFrame([(1, "b")], "pk long, val string"),
        path,
        "pk",
    )
    assert delta_log.vacuum(spark, path) == []  # default retention (1 h)
    assert delta_log.vacuum(spark, path, min_age_seconds=0) != []
