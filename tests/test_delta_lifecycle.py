"""Round-8 Delta fallback-log lifecycle tests: spec-complete
checkpoints, partitioned tables, log-depth bounds, and healing of
pre-round-8 path-only checkpoints.

Reference parity: the reference's Delta usage is delta-spark append +
MERGE (``utils.py:76-80, 222-230``); everything here is the fallback
engine's own protocol surface (sources/delta_log.py), built from the
public delta.io PROTOCOL.md.
"""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from aws_sql_server_to_s3_datalake_etl_migration_spark.sources import (
    delta_log,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
    _delta_live_adds,
    read_delta,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.writers import (
    write_delta_append,
)


def _log_jsons(path: str) -> list[str]:
    return sorted(
        n
        for n in os.listdir(os.path.join(path, "_delta_log"))
        if re.fullmatch(r"\d{20}\.json", n)
    )


def test_checkpoint_is_spec_complete(spark, tmp_path):
    """The checkpoint parquet carries the latest protocol and metaData
    actions plus FULL-FIELD add rows, and _last_checkpoint points at
    it — the shape a real delta-spark reader reconstructs snapshots
    from (r7 verdict item 2)."""
    path = str(tmp_path / "cp_spec")
    write_delta_append(
        spark.createDataFrame([(1, "a"), (2, "b")], "pk long, v string"),
        path,
    )
    write_delta_append(
        spark.createDataFrame([(3, "c")], "pk long, v string"), path
    )
    v = delta_log.write_checkpoint(spark, path)
    assert v == 1
    cp = spark.read.parquet(
        os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.parquet")
    )
    assert {"protocol", "metaData", "add"} <= set(cp.columns)
    proto = cp.where(F.col("protocol").isNotNull()).collect()
    assert len(proto) == 1
    assert proto[0]["protocol"]["minReaderVersion"] == 1
    md = cp.where(F.col("metaData").isNotNull()).collect()
    assert len(md) == 1
    schema_str = md[0]["metaData"]["schemaString"]
    assert json.loads(schema_str)["type"] == "struct"
    adds = cp.where(F.col("add").isNotNull()).select("add.*").collect()
    assert adds and all(
        r["size"] > 0 and r["modificationTime"] > 0 and r["dataChange"]
        for r in adds
    )
    with open(os.path.join(path, "_delta_log", "_last_checkpoint")) as f:
        last = json.load(f)
    assert last["version"] == v
    assert last["size"] == len(adds) + 1  # + the protocol/metaData row


def test_nullable_frame_writes_into_not_null_table(spark, tmp_path):
    """A table bootstrapped from a derived frame has NOT NULL columns.
    A later MERGE or append of a nullable-typed frame with no NULLs
    commits (delta-spark's rule: nullability is checked per row, not
    by schema shape), and the table keeps its NOT NULL columns."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.incremental import (
        merge_upsert,
    )

    path = str(tmp_path / "not_null_ok")
    write_delta_append(
        spark.range(5).selectExpr("id AS pk", "id * 2 AS v"), path
    )
    merge_upsert(
        spark,
        spark.createDataFrame([(1, 100), (7, 14)], "pk long, v long"),
        path,
        "pk",
    )
    write_delta_append(
        spark.createDataFrame([(9, 18)], "pk long, v long"), path
    )
    got = {(r.pk, r.v) for r in read_delta(spark, path).collect()}
    assert got == {(0, 0), (1, 100), (2, 4), (3, 6), (4, 8), (7, 14), (9, 18)}
    fields = json.loads(
        delta_log.latest_metadata(spark, path)["schemaString"]
    )["fields"]
    assert [f["nullable"] for f in fields] == [False, False]


def test_null_into_not_null_column_is_refused(spark, tmp_path):
    """A NULL bound for a NOT NULL column fails the write with a
    ValueError naming the column, before any commit: append, MERGE
    and UPDATE all leave the table version unchanged."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.incremental import (
        merge_upsert,
    )

    path = str(tmp_path / "not_null_bad")
    write_delta_append(
        spark.range(5).selectExpr("id AS pk", "id * 2 AS v"), path
    )
    v0 = delta_log.log_version(spark, path)
    bad = spark.createDataFrame([(1, None), (8, 16)], "pk long, v long")
    with pytest.raises(ValueError, match=r"NOT NULL.*'v'"):
        write_delta_append(bad, path)
    with pytest.raises(ValueError, match=r"NOT NULL.*'v'"):
        merge_upsert(spark, bad, path, "pk")
    with pytest.raises(ValueError, match=r"NOT NULL.*'v'"):
        delta_log.update_where(
            spark, path, F.col("pk") == 2, {"v": F.lit(None).cast("long")}
        )
    assert delta_log.log_version(spark, path) == v0
    assert read_delta(spark, path).count() == 5


def test_schema_enforcement_survives_truncation(spark, tmp_path):
    """After checkpoint + truncate_log delete every metaData-carrying
    JSON commit, the checkpoint's metaData row keeps schema
    enforcement (and the latest metaData's schemaString) alive — the
    silent-disable the r7 advice flagged."""
    path = str(tmp_path / "cp_schema")
    write_delta_append(
        spark.createDataFrame([(1, "a")], "pk long, v string"), path
    )
    delta_log.write_checkpoint(spark, path)
    assert delta_log.truncate_log(spark, path) == 1
    assert _log_jsons(path) == []  # no commits left at all
    got = delta_log.latest_metadata(spark, path)["schemaString"]
    assert '"pk"' in got
    bad = spark.createDataFrame([(2, "b", 9)], "pk long, v string, x int")
    with pytest.raises(ValueError, match="schema mismatch"):
        delta_log.append_commit(bad, path)
    write_delta_append(
        spark.createDataFrame([(2, "b")], "pk long, v string"), path
    )
    assert {(r.pk, r.v) for r in read_delta(spark, path).collect()} == {
        (1, "a"),
        (2, "b"),
    }


def test_partitioned_append_merge_prune_roundtrip(spark, tmp_path):
    """Partitioned fallback-Delta table end to end (r7 verdict item
    4): Hive-layout files, partitionValues in the add actions,
    FILE-LIST partition pruning on read, overwrite + vacuum keep the
    layout."""
    path = str(tmp_path / "part_tbl")
    df = spark.createDataFrame(
        [(i, f"r{i}", ["x", "y", "z"][i % 3]) for i in range(30)],
        "pk long, v string, region string",
    )
    write_delta_append(df, path, partition_by=["region"])
    md = delta_log.latest_metadata(spark, path)
    assert md["partitionColumns"] == ["region"]
    adds = _delta_live_adds(spark, path)
    assert all(a["path"].startswith("region=") for a in adds.values())
    assert {a["partitionValues"]["region"] for a in adds.values()} == {
        "x",
        "y",
        "z",
    }
    # pruning happens at the file list, before any data file opens
    pruned = _delta_live_adds(
        spark, path, partition_filter={"region": "y"}
    )
    assert 0 < len(pruned) < len(adds)
    got = read_delta(spark, path, partition_filter={"region": "y"})
    assert set(got.columns) == {"pk", "v", "region"}  # basePath recovers
    assert {r.pk for r in got.collect()} == {
        i for i in range(30) if i % 3 == 1
    }
    # pruned-to-nothing is an empty frame, not an error
    assert (
        read_delta(
            spark, path, partition_filter={"region": "nope"}
        ).count()
        == 0
    )
    # partition layout is fixed: mismatched appends are rejected
    with pytest.raises(ValueError, match="partitioning mismatch"):
        delta_log.append_commit(df, path)  # unpartitioned append
    # copy-on-write overwrite keeps partitioning; old files vacuum away
    delta_log.overwrite_commit(
        df.where(F.col("pk") < 10), path, partition_by=["region"]
    )
    assert read_delta(spark, path).count() == 10
    dead = delta_log.vacuum(spark, path, min_age_seconds=0)
    assert dead and all(d.startswith("region=") for d in dead)
    assert read_delta(spark, path).count() == 10
    # checkpoint a partitioned table: add rows carry partitionValues
    v = delta_log.write_checkpoint(spark, path)
    cp = spark.read.parquet(
        os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.parquet")
    )
    cp_adds = cp.where(F.col("add").isNotNull()).select("add.*").collect()
    assert all(r["partitionValues"]["region"] for r in cp_adds)
    delta_log.truncate_log(spark, path)
    assert read_delta(
        spark, path, partition_filter={"region": "x"}
    ).count() == sum(1 for i in range(10) if i % 3 == 0)


def test_lifecycle_depth_replay_stays_bounded(spark, tmp_path):
    """~40 commits with a checkpoint+truncate every 10 (r7 verdict
    item 6): the JSON tail a reader must replay never exceeds the
    checkpoint cadence, HEAD stays correct throughout, and time
    travel works back to the newest checkpoint."""
    path = str(tmp_path / "deep")
    cadence = 10
    expected: set[int] = set()
    for i in range(40):
        write_delta_append(
            spark.createDataFrame([(i,)], "pk long"), path
        )
        expected.add(i)
        if (i + 1) % cadence == 0:
            v = delta_log.write_checkpoint(spark, path)
            assert v == i  # version == commit count - 1
            delta_log.truncate_log(spark, path)
        # replay depth is bounded by the cadence, not by history
        assert len(_log_jsons(path)) <= cadence
    assert delta_log.log_version(spark, path) == 39
    assert {r.pk for r in read_delta(spark, path).collect()} == expected
    # time travel lands exactly on a retained checkpoint version...
    assert read_delta(spark, path, version=29).count() == 30
    # ...but a version whose commits were truncated is REFUSED, not
    # silently answered with older state
    with pytest.raises(ValueError, match="no longer reachable"):
        read_delta(spark, path, version=35)
    with open(os.path.join(path, "_delta_log", "_last_checkpoint")) as f:
        assert json.load(f)["version"] == 39


def test_old_path_only_checkpoint_heals(spark, tmp_path):
    """A pre-round-8 table (path-only checkpoint, metaData commits
    truncated) is refused by truncate_log but HEALED by the next
    write_checkpoint, which reconstructs metaData from the live
    parquet footers."""
    path = str(tmp_path / "old_fmt")
    write_delta_append(
        spark.createDataFrame([(1, "a"), (2, "b")], "pk long, v string"),
        path,
    )
    v = delta_log.write_checkpoint(spark, path)
    log_dir = os.path.join(path, "_delta_log")
    cp_file = os.path.join(log_dir, f"{v:020d}.checkpoint.parquet")
    # rewrite the checkpoint in the OLD format: add.path structs only
    old = (
        spark.read.parquet(cp_file)
        .where(F.col("add").isNotNull())
        .select(F.struct(F.col("add.path").alias("path")).alias("add"))
    )
    old_local = str(tmp_path / "old_cp_stage")
    old.coalesce(1).write.mode("overwrite").parquet(old_local)
    os.remove(cp_file)
    part = next(
        n for n in os.listdir(old_local) if n.endswith(".parquet")
    )
    os.rename(os.path.join(old_local, part), cp_file)
    os.remove(os.path.join(log_dir, "_last_checkpoint"))
    for n in _log_jsons(path):
        os.remove(os.path.join(log_dir, n))  # simulate old truncation
    # the surgery bypassed the Hadoop local FS: its .crc sidecars and
    # Spark's cached file statuses still describe the ORIGINAL bytes
    for n in os.listdir(log_dir):
        if n.endswith(".crc"):
            os.remove(os.path.join(log_dir, n))
    spark.catalog.refreshByPath(cp_file)
    # guard: truncating on a metaData-less checkpoint is refused
    write_delta_append(
        spark.createDataFrame([(3, "c")], "pk long, v string"), path
    )
    with pytest.raises(ValueError, match="no metaData"):
        delta_log.truncate_log(spark, path)
    # healing: the next checkpoint reconstructs metaData from footers
    v2 = delta_log.write_checkpoint(spark, path)
    cp2 = spark.read.parquet(
        os.path.join(log_dir, f"{v2:020d}.checkpoint.parquet")
    )
    md = cp2.where(F.col("metaData").isNotNull()).collect()
    assert len(md) == 1 and '"pk"' in md[0]["metaData"]["schemaString"]
    delta_log.truncate_log(spark, path)
    assert {(r.pk, r.v) for r in read_delta(spark, path).collect()} == {
        (1, "a"),
        (2, "b"),
        (3, "c"),
    }
    # schema enforcement is back after healing
    with pytest.raises(ValueError, match="schema mismatch"):
        delta_log.append_commit(
            spark.createDataFrame([(9,)], "pk long"), path
        )


def test_delete_where_is_file_granular_and_time_travels(spark, tmp_path):
    """DELETE rewrites only files containing matches: the untouched
    commit's data file stays live under its original path; the
    deleted rows remain reachable via time travel until vacuum."""
    path = str(tmp_path / "t_del")
    lo = spark.range(0, 10).selectExpr("id AS pk", "'lo' AS grp")
    hi = spark.range(100, 110).selectExpr("id AS pk", "'hi' AS grp")
    delta_log.append_commit(lo.coalesce(1), path)
    delta_log.append_commit(hi.coalesce(1), path)
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        _delta_live_files,
    )

    before = set(_delta_live_files(spark, path))
    v = delta_log.delete_where(spark, path, F.col("pk") >= 105)
    after = set(_delta_live_files(spark, path))
    untouched = before & after
    assert untouched  # the lo-commit file survived verbatim
    assert all("/" not in f or True for f in untouched)
    got = {r.pk for r in read_delta(spark, path).collect()}
    assert got == set(range(10)) | set(range(100, 105))
    # time travel to the pre-delete version resurrects the rows
    old = {r.pk for r in read_delta(spark, path, version=v - 1).collect()}
    assert old == set(range(10)) | set(range(100, 110))
    # no-match delete is a no-op, not an empty commit
    assert delta_log.delete_where(spark, path, F.col("pk") > 10**9) == v


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """Three-valued logic: rows where the predicate evaluates NULL are
    NOT matched and must survive the delete."""
    path = str(tmp_path / "t_null")
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 50.0)], "pk LONG, x DOUBLE"
    )
    delta_log.append_commit(df.coalesce(1), path)
    delta_log.delete_where(spark, path, F.col("x") > 10)
    got = {r.pk for r in read_delta(spark, path).collect()}
    assert got == {1, 2}  # NULL-x row kept


def test_update_where_partitioned_preserves_layout(spark, tmp_path):
    """UPDATE on a partitioned table rewrites matching files in Hive
    layout (partitionValues intact) and leaves other partitions'
    files untouched; partition pruning still works afterwards."""
    path = str(tmp_path / "t_upd")
    df = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", float(i)) for i in range(20)],
        "pk LONG, part STRING, val DOUBLE",
    )
    delta_log.append_commit(df, path, partition_by=["part"])
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        _delta_live_files,
    )

    before = {
        f for f in _delta_live_files(spark, path) if "part=B" in f
    }
    delta_log.update_where(
        spark,
        path,
        (F.col("part") == "A") & (F.col("pk") < 10),
        {"val": F.col("val") + 1000},
    )
    after_b = {
        f for f in _delta_live_files(spark, path) if "part=B" in f
    }
    assert before == after_b  # B partition untouched
    pruned = read_delta(spark, path, partition_filter={"part": "A"})
    vals = {r.pk: r.val for r in pruned.collect()}
    for pk, val in vals.items():
        assert val == (pk + 1000.0 if pk < 10 else float(pk))
    # pruned read of B sees original values
    vals_b = {
        r.pk: r.val
        for r in read_delta(
            spark, path, partition_filter={"part": "B"}
        ).collect()
    }
    assert all(v == float(pk) for pk, v in vals_b.items())
    # deleted-then-vacuumed files make the erasure physical
    delta_log.delete_where(spark, path, F.col("part") == "A")
    reclaimed = delta_log.vacuum(spark, path, min_age_seconds=0)
    assert reclaimed  # the A files (old + rewritten) are gone
    assert {r.part for r in read_delta(spark, path).collect()} == {"B"}


def test_compact_bin_packs_small_files_data_unchanged(spark, tmp_path):
    """OPTIMIZE semantics: many small appended files become one file
    per partitionless table, contents bit-identical, the commit's
    actions all carry dataChange=false, and time travel to the
    pre-compaction version still sees the old layout."""
    path = str(tmp_path / "t_opt")
    for lo in range(0, 40, 10):
        delta_log.append_commit(
            spark.range(lo, lo + 10)
            .selectExpr("id AS pk", "id * 2 AS val")
            .repartition(2),
            path,
        )
    pre_v = delta_log.log_version(spark, path)
    n_before = len(_delta_live_adds(spark, path))
    assert n_before >= 8  # 4 appends x 2 files
    v = delta_log.compact(spark, path)
    assert v == pre_v + 1
    adds_after = _delta_live_adds(spark, path)
    assert len(adds_after) == 1  # tiny total -> one bin
    got = {(r.pk, r.val) for r in read_delta(spark, path).collect()}
    assert got == {(i, i * 2) for i in range(40)}
    # every data action in the compaction commit is dataChange: false;
    # the only non-data line allowed is the commitInfo provenance row
    log = os.path.join(path, "_delta_log", f"{v:020d}.json")
    with open(log) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    assert actions
    data_actions = 0
    for a in actions:
        if "commitInfo" in a:
            assert a["commitInfo"]["operation"] == "OPTIMIZE"
            continue
        body = a.get("add") or a.get("remove")
        assert body is not None and body["dataChange"] is False
        data_actions += 1
    assert data_actions >= 2  # removes + the packed add
    # time travel to pre-compaction still replays the small files
    old = read_delta(spark, path, version=pre_v)
    assert old.count() == 40
    # second pass finds a single already-compacted file: no-op
    assert delta_log.compact(spark, path) is None


def test_compact_respects_target_and_partitions(spark, tmp_path):
    """Files at/above target are untouched; a partition_filter scopes
    the pass; partitioned layout survives (pruning still works)."""
    path = str(tmp_path / "t_opt_part")
    df = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", float(i)) for i in range(40)],
        "pk LONG, part STRING, val DOUBLE",
    )
    delta_log.append_commit(df.repartition(4), path, partition_by=["part"])
    delta_log.append_commit(
        df.selectExpr("pk + 100 AS pk", "part", "val").repartition(4),
        path,
        partition_by=["part"],
    )
    before_b = {
        rel for rel in _delta_live_adds(spark, path) if "part=B" in rel
    }
    assert len(before_b) >= 2
    v = delta_log.compact(spark, path, partition_filter={"part": "A"})
    assert v is not None
    adds = _delta_live_adds(spark, path)
    after_a = {rel for rel in adds if "part=A" in rel}
    after_b = {rel for rel in adds if "part=B" in rel}
    assert after_b == before_b  # out-of-scope partition untouched
    assert len(after_a) == 1
    pruned = read_delta(spark, path, partition_filter={"part": "A"})
    assert pruned.count() == 40
    assert {r.part for r in pruned.collect()} == {"A"}
    # giant target -> nothing qualifies as small... inverted: tiny
    # target -> every file is already "large", so no-op
    assert (
        delta_log.compact(spark, path, target_file_bytes=1) is None
    )


def test_restore_rolls_back_delete_metadata_only(spark, tmp_path):
    """RESTORE re-adds the tombstoned files and tombstones the
    post-version files without touching data bytes; history is
    preserved; restoring past a vacuum raises."""
    path = str(tmp_path / "t_restore")
    delta_log.append_commit(
        spark.range(0, 20).selectExpr("id AS pk").coalesce(1), path
    )
    good_v = delta_log.append_commit(
        spark.range(20, 30).selectExpr("id AS pk").coalesce(1), path
    )
    delta_log.delete_where(spark, path, F.col("pk") >= 10)
    assert read_delta(spark, path).count() == 10
    v = delta_log.restore_to_version(spark, path, good_v)
    assert v == good_v + 2
    got = {r.pk for r in read_delta(spark, path).collect()}
    assert got == set(range(30))
    # the bad (post-restore-target) state is still time-travelable
    assert read_delta(spark, path, version=good_v + 1).count() == 10
    # restore to HEAD / identical state is a no-op, not a commit
    assert delta_log.restore_to_version(spark, path, v) == v
    # delete again, vacuum the tombstoned bytes, then restore -> error
    delta_log.delete_where(spark, path, F.col("pk") >= 10)
    assert delta_log.vacuum(spark, path, min_age_seconds=0)
    with pytest.raises(ValueError, match="vacuumed"):
        delta_log.restore_to_version(spark, path, v)


def test_table_changes_row_level_cdf(spark, tmp_path):
    """CDF from the log: appends emit inserts, copy-on-write UPDATE
    emits delete(old)+insert(new) for ONLY the changed rows (the
    rewritten file's surviving rows cancel), DELETE emits deletes,
    and a dataChange=false compaction emits nothing."""
    path = str(tmp_path / "t_cdf")
    delta_log.append_commit(
        spark.range(0, 10)
        .selectExpr("id AS pk", "CAST(id AS DOUBLE) AS val")
        .repartition(2),
        path,
    )  # v0
    delta_log.append_commit(
        spark.range(10, 14)
        .selectExpr("id AS pk", "CAST(id AS DOUBLE) AS val")
        .coalesce(1),
        path,
    )  # v1
    delta_log.update_where(
        spark, path, F.col("pk") == 3, {"val": F.lit(99.0)}
    )  # v2
    delta_log.delete_where(spark, path, F.col("pk") >= 12)  # v3
    assert delta_log.compact(spark, path) == 4  # v4, dataChange=false
    feed = delta_log.table_changes(spark, path, 0).collect()
    by_commit = {}
    for r in feed:
        by_commit.setdefault(r.commit_version, []).append(
            (r.change_type, r.pk, r.val)
        )
    assert sorted(by_commit) == [1, 2, 3]  # v4 compaction absent
    assert sorted(by_commit[1]) == [
        ("insert", pk, float(pk)) for pk in range(10, 14)
    ]
    # update: exactly one delete(old) + one insert(new); the other
    # rows of pk=3's rewritten file cancelled out
    assert sorted(by_commit[2]) == [
        ("delete", 3, 3.0),
        ("insert", 3, 99.0),
    ]
    assert sorted(by_commit[3]) == [
        ("delete", 12, 12.0),
        ("delete", 13, 13.0),
    ]
    # bounded range: only v1's inserts
    only_v1 = delta_log.table_changes(spark, path, 0, to_version=1)
    assert only_v1.count() == 4
    # empty range yields an empty, correctly-shaped feed
    empty = delta_log.table_changes(spark, path, 4)
    assert empty.count() == 0
    assert set(empty.columns) == {"pk", "val", "change_type",
                                  "commit_version"}


def test_timestamp_as_of_resolves_by_commit_mtime(spark, tmp_path):
    """timestampAsOf: reads resolve to the newest commit at/before
    the instant; a timestamp before the table existed raises."""
    import os as _os
    import time as _time

    path = str(tmp_path / "t_ts")
    delta_log.append_commit(
        spark.range(0, 5).selectExpr("id AS pk").coalesce(1), path
    )
    v0_file = _os.path.join(path, "_delta_log", f"{0:020d}.json")
    t0 = int(_os.path.getmtime(v0_file) * 1000)
    _time.sleep(1.2)  # mtime granularity
    delta_log.append_commit(
        spark.range(5, 9).selectExpr("id AS pk").coalesce(1), path
    )
    assert read_delta(spark, path, timestamp_ms=t0).count() == 5
    now = int(_time.time() * 1000) + 60_000
    assert read_delta(spark, path, timestamp_ms=now).count() == 9
    with pytest.raises(ValueError, match="at or before"):
        read_delta(spark, path, timestamp_ms=t0 - 10_000_000)
    with pytest.raises(ValueError, match="not both"):
        read_delta(spark, path, version=0, timestamp_ms=t0)


def test_add_actions_carry_footer_stats(spark, tmp_path):
    """Every staged file's add action records Delta-spec stats
    (numRecords/minValues/maxValues/nullCount) from the parquet
    footer — metadata only, and exact."""
    path = str(tmp_path / "t_stats")
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", None), (3, "c", 9.0)],
        "pk LONG, s STRING, x DOUBLE",
    )
    delta_log.append_commit(df.coalesce(1), path)
    (add,) = _delta_live_adds(spark, path).values()
    stats = json.loads(add["stats"])
    assert stats["numRecords"] == 3
    assert stats["minValues"] == {"pk": 1, "s": "a", "x": 5.0}
    assert stats["maxValues"] == {"pk": 3, "s": "c", "x": 9.0}
    assert stats["nullCount"] == {"pk": 0, "s": 0, "x": 1}


def test_stats_skipping_prunes_file_list_exactly(spark, tmp_path):
    """Data skipping: a range predicate on range-clustered files
    scans ONLY the overlapping files (pruned at the file list), the
    residual WHERE keeps the result exact, and a bounds-disjoint
    predicate yields an empty frame without scanning anything."""
    path = str(tmp_path / "t_skip")
    for lo in (0, 10, 20):
        delta_log.append_commit(
            spark.range(lo, lo + 10).selectExpr("id AS pk").coalesce(1),
            path,
        )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        _delta_live_files,
    )

    pruned = _delta_live_files(
        spark, path, stats_filter=[("pk", ">=", 25)]
    )
    assert len(pruned) == 1  # only the 20-29 file survives
    got = {
        r.pk
        for r in read_delta(
            spark, path, stats_filter=[("pk", ">=", 25)]
        ).collect()
    }
    assert got == {25, 26, 27, 28, 29}  # residual filter exact
    # conjunction across columns and ops
    mid = read_delta(
        spark, path, stats_filter=[("pk", ">", 5), ("pk", "<", 12)]
    )
    assert {r.pk for r in mid.collect()} == set(range(6, 12))
    assert (
        len(
            _delta_live_files(
                spark, path,
                stats_filter=[("pk", ">", 5), ("pk", "<", 12)],
            )
        )
        == 2
    )
    # disjoint predicate: zero files, empty frame, correct schema
    none = read_delta(spark, path, stats_filter=[("pk", ">", 999)])
    assert none.count() == 0 and none.columns == ["pk"]
    with pytest.raises(ValueError, match="stats_filter entries"):
        read_delta(spark, path, stats_filter=[("pk", "!=", 1)])


def test_stats_survive_checkpoint_and_all_null_skip(spark, tmp_path):
    """Checkpoint + truncate preserve per-file stats (skipping still
    prunes afterwards); an all-null column file is skipped for any
    comparison on that column (NULL op v is never TRUE)."""
    path = str(tmp_path / "t_skip_cp")
    delta_log.append_commit(
        spark.createDataFrame([(1, 7.0), (2, 8.0)], "pk LONG, x DOUBLE")
        .coalesce(1),
        path,
    )
    delta_log.append_commit(
        spark.createDataFrame(
            [(3, None), (4, None)], "pk LONG, x DOUBLE"
        ).coalesce(1),
        path,
    )
    v = delta_log.write_checkpoint(spark, path)
    delta_log.truncate_log(spark, path)
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        _delta_live_files,
    )

    assert v == 1
    # stats flowed through the checkpoint: pk filter prunes to 1 file
    assert (
        len(_delta_live_files(spark, path, stats_filter=[("pk", "<=", 2)]))
        == 1
    )
    # the all-null-x file can never satisfy x > 0
    assert (
        len(_delta_live_files(spark, path, stats_filter=[("x", ">", 0)]))
        == 1
    )
    got = {
        r.pk
        for r in read_delta(
            spark, path, stats_filter=[("x", ">", 0)]
        ).collect()
    }
    assert got == {1, 2}


def test_compact_zorder_clusters_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER: after compact(zorder_by=[a, b]) the rewritten
    files carry tight bounds on BOTH columns, so stats skipping
    prunes selective predicates on either — which a linear sort on
    one column cannot do for the other. Data is unchanged and the
    commit is dataChange=false."""
    path = str(tmp_path / "t_zorder")
    # a and b anti-correlated: a ascending, b descending
    df = spark.range(0, 4096).selectExpr(
        "id AS a", "4095 - id AS b", "CAST(id AS DOUBLE) AS payload"
    )
    # fragment into 8 random-ish files (hash partitioning: every file
    # spans nearly the full range of BOTH columns -> no skipping)
    delta_log.append_commit(df.repartition(8), path)
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        _delta_live_files,
    )

    before_a = _delta_live_files(
        spark, path, stats_filter=[("a", "<", 256)]
    )
    assert len(before_a) == 8  # hash layout: nothing skips
    v = delta_log.compact(spark, path, zorder_by=["a", "b"])
    assert v == 1
    # force multiple output files for the skip assertions
    if len(_delta_live_files(spark, path)) == 1:
        # tiny data may bin-pack to one file; re-run with a small
        # target to spread bins
        delta_log.restore_to_version(spark, path, 0)
        v = delta_log.compact(
            spark, path, zorder_by=["a", "b"], target_file_bytes=16_384
        )
    live = _delta_live_files(spark, path)
    assert len(live) >= 4
    pruned_a = _delta_live_files(
        spark, path, stats_filter=[("a", "<", 256)]
    )
    pruned_b = _delta_live_files(
        spark, path, stats_filter=[("b", "<", 256)]
    )
    assert len(pruned_a) < len(live)
    assert len(pruned_b) < len(live)
    # content identical after clustering
    got = read_delta(spark, path).selectExpr("sum(a)", "sum(b)",
                                             "count(*)").first()
    assert tuple(got) == (4096 * 4095 // 2, 4096 * 4095 // 2, 4096)
    with pytest.raises(ValueError, match="unpartitioned"):
        p2 = str(tmp_path / "t_zorder_part")
        delta_log.append_commit(
            df.withColumn("part", F.lit("x")), p2, partition_by=["part"]
        )
        delta_log.compact(spark, p2, zorder_by=["a"])


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """Delta CHECK constraints: adding one validates existing data,
    bumps minWriterVersion to 3, and every later append / overwrite /
    UPDATE is verified (NULL passes — three-valued logic); dropping
    re-opens the gate; constraints survive checkpoint+truncate."""
    path = str(tmp_path / "t_check")
    delta_log.append_commit(
        spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 30.0)], "pk LONG, amount DOUBLE"
        ).coalesce(1),
        path,
    )
    # a constraint current data violates is refused
    with pytest.raises(ValueError, match="existing rows violate"):
        delta_log.add_check_constraint(
            spark, path, "amount_big", "amount > 20"
        )
    v = delta_log.add_check_constraint(
        spark, path, "amount_pos", "amount > 0"
    )
    proto = delta_log._latest_protocol(spark, path)
    assert proto["minWriterVersion"] >= 3
    assert delta_log.table_constraints(
        delta_log.latest_metadata(spark, path)
    ) == {"amount_pos": "amount > 0"}
    # duplicate name refused
    with pytest.raises(ValueError, match="already exists"):
        delta_log.add_check_constraint(
            spark, path, "amount_pos", "amount > 1"
        )
    # violating append rejected BEFORE any commit lands
    with pytest.raises(ValueError, match="amount_pos"):
        delta_log.append_commit(
            spark.createDataFrame([(9, -5.0)], "pk LONG, amount DOUBLE"),
            path,
        )
    assert delta_log.log_version(spark, path) == v
    # NULL passes (three-valued logic), valid rows pass
    delta_log.append_commit(
        spark.createDataFrame(
            [(4, None), (5, 50.0)], "pk LONG, amount DOUBLE"
        ).coalesce(1),
        path,
    )
    # UPDATE minting a violation is rejected; the table is unchanged
    with pytest.raises(ValueError, match="amount_pos"):
        delta_log.update_where(
            spark, path, F.col("pk") == 1, {"amount": F.lit(-1.0)}
        )
    assert read_delta(spark, path).count() == 5
    # constraints survive the checkpoint/truncate lifecycle
    delta_log.write_checkpoint(spark, path)
    delta_log.truncate_log(spark, path)
    with pytest.raises(ValueError, match="amount_pos"):
        delta_log.append_commit(
            spark.createDataFrame([(6, 0.0)], "pk LONG, amount DOUBLE"),
            path,
        )
    # drop re-opens the gate
    delta_log.drop_check_constraint(spark, path, "amount_pos")
    delta_log.append_commit(
        spark.createDataFrame([(6, -1.0)], "pk LONG, amount DOUBLE"),
        path,
    )
    assert read_delta(spark, path).count() == 6
    with pytest.raises(ValueError, match="no CHECK constraint"):
        delta_log.drop_check_constraint(spark, path, "amount_pos")


def test_schema_evolution_merge_schema_append(spark, tmp_path):
    """mergeSchema evolution: a widened append commits data + the
    widened metaData atomically; readers surface NULL for the new
    column on pre-evolution files WITHOUT a mergeSchema footer pass;
    time travel below the evolution shows the old shape; type changes
    and silent widening are rejected; CDF spans the boundary."""
    path = str(tmp_path / "t_evolve")
    delta_log.append_commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "pk LONG, v STRING")
        .coalesce(1),
        path,
    )  # v0
    wide = spark.createDataFrame(
        [(3, "c", 30.0)], "pk LONG, v STRING, score DOUBLE"
    ).coalesce(1)
    # without the flag: rejected
    with pytest.raises(ValueError, match="merge_schema"):
        delta_log.append_commit(wide, path)
    v = delta_log.append_commit(wide, path, merge_schema=True)  # v1
    assert v == 1
    got = {
        (r.pk, r.v, r.score)
        for r in read_delta(spark, path).collect()
    }
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 30.0)}
    assert read_delta(spark, path).columns == ["pk", "v", "score"]
    # time travel below the evolution: OLD shape
    old = read_delta(spark, path, version=0)
    assert old.columns == ["pk", "v"]
    # dropped column / type change still rejected even with the flag
    with pytest.raises(ValueError, match="ADDS"):
        delta_log.append_commit(
            spark.createDataFrame([(4,)], "pk LONG"), path,
            merge_schema=True,
        )
    with pytest.raises(ValueError, match="ADDS"):
        delta_log.append_commit(
            spark.createDataFrame(
                [(4, "d", 1)], "pk LONG, v STRING, score INT"
            ),
            path,
            merge_schema=True,
        )
    # post-evolution strict appends use the widened schema
    delta_log.append_commit(
        spark.createDataFrame(
            [(4, "d", 40.0)], "pk LONG, v STRING, score DOUBLE"
        ).coalesce(1),
        path,
    )  # v2
    # UPDATE over a mix of pre- and post-evolution files works
    delta_log.update_where(
        spark, path, F.col("pk") == 1, {"v": F.lit("A")}
    )  # v3
    rows = {
        (r.pk, r.v, r.score)
        for r in read_delta(spark, path).collect()
    }
    assert rows == {
        (1, "A", None), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)
    }
    # CDF across the boundary: pre-evolution commits backfill NULL
    feed = delta_log.table_changes(spark, path, 0, to_version=2)
    ins = {
        (r.pk, r.score)
        for r in feed.where(F.col("change_type") == "insert").collect()
    }
    assert ins == {(3, 30.0), (4, 40.0)}
    # compaction across the boundary folds old files into the widened
    # schema (NULLs materialize) without changing table contents
    assert delta_log.compact(spark, path) is not None
    rows2 = {
        (r.pk, r.v, r.score)
        for r in read_delta(spark, path).collect()
    }
    assert rows2 == rows


def test_write_delta_append_plumbs_merge_schema(spark, tmp_path):
    """The public S10 sink forwards merge_schema to the fallback
    engine (and would pass option mergeSchema natively)."""
    path = str(tmp_path / "t_sink_evolve")
    write_delta_append(
        spark.createDataFrame([(1,)], "pk LONG"), path
    )
    with pytest.raises(ValueError, match="merge_schema"):
        write_delta_append(
            spark.createDataFrame([(2, "x")], "pk LONG, v STRING"), path
        )
    write_delta_append(
        spark.createDataFrame([(2, "x")], "pk LONG, v STRING"),
        path,
        merge_schema=True,
    )
    got = {(r.pk, r.v) for r in read_delta(spark, path).collect()}
    assert got == {(1, None), (2, "x")}


def test_mutations_race_appends_linearizably(spark, tmp_path):
    """Write-write racing across the NEW mutation surface: blind
    appends race predicate DELETEs (snapshot-pinned, retried on
    CommitConflict). Invariants at quiescence: the log is contiguous,
    every appended row either survives or matches the delete
    predicate, every predicate row present at the LAST delete's
    snapshot is gone, and replay agrees with a fresh read."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t_race")
    delta_log.append_commit(
        spark.range(0, 10).selectExpr("id AS pk").coalesce(1), path
    )

    def appender(lo: int) -> None:
        delta_log.append_commit(
            spark.range(lo, lo + 10).selectExpr("id AS pk").coalesce(1),
            path,
        )

    def deleter() -> None:
        for _ in range(30):
            try:
                delta_log.delete_where(
                    spark, path, F.col("pk") % 10 == 7
                )
                return
            except delta_log.CommitConflict:
                continue  # re-read snapshot and retry, as documented
        raise AssertionError("deleter starved")

    with ThreadPoolExecutor(max_workers=6) as ex:
        futs = [ex.submit(appender, lo) for lo in (100, 200, 300, 400)]
        futs += [ex.submit(deleter), ex.submit(deleter)]
        for f in futs:
            f.result()
    # final delete AFTER quiescence removes any stragglers appended
    # post-snapshot of the racing deleters
    delta_log.delete_where(spark, path, F.col("pk") % 10 == 7)
    got = {r.pk for r in read_delta(spark, path).collect()}
    expected = {
        pk
        for lo in (0, 100, 200, 300, 400)
        for pk in range(lo, lo + 10)
        if pk % 10 != 7
    }
    assert got == expected
    # log contiguous: every version replays (a torn log would raise)
    head = delta_log.log_version(spark, path)
    assert read_delta(spark, path, version=head).count() == len(expected)


def test_fsck_reports_each_corruption_class(spark, tmp_path):
    """fsck: clean on a healthy table (tombstoned-but-unvacuumed files
    are a warning list, not an error); detects a vacuumed-live file,
    a torn commit, and a log gap; metadata/checkpoint checks pass on
    the spec-complete lifecycle."""
    import os as _os

    path = str(tmp_path / "t_fsck")
    delta_log.append_commit(
        spark.range(0, 10).selectExpr("id AS pk").coalesce(1), path
    )
    delta_log.append_commit(
        spark.range(10, 20).selectExpr("id AS pk").coalesce(1), path
    )
    delta_log.delete_where(spark, path, F.col("pk") >= 15)
    delta_log.write_checkpoint(spark, path)
    rep = delta_log.fsck(spark, path)
    assert rep["ok"], rep["errors"]
    assert rep["version"] == 2
    assert rep["n_live_files"] == 2
    # the pre-delete file is tombstoned, awaiting vacuum: warning only
    assert len(rep["unreferenced_files"]) == 1
    assert rep["metadata_ok"] and rep["checkpoint_ok"]
    # corruption 1: a live data file disappears
    live = sorted(
        _delta_live_adds(spark, path)
    )
    _os.remove(_os.path.join(path, live[0]))
    rep = delta_log.fsck(spark, path)
    assert not rep["ok"]
    assert rep["missing_files"] == [live[0]]
    # corruption 2: torn commit (truncate the last commit mid-line)
    log = _os.path.join(path, "_delta_log", f"{2:020d}.json")
    raw = open(log, "rb").read()
    with open(log, "wb") as fh:
        fh.write(raw[: len(raw) // 2])
    rep = delta_log.fsck(spark, path)
    assert 2 in rep["torn_commits"] and not rep["ok"]
    with open(log, "wb") as fh:
        fh.write(raw)
    # corruption 3: log gap (remove a middle commit, no checkpoint
    # covers it after deleting _last_checkpoint + checkpoint file)
    for n in _os.listdir(_os.path.join(path, "_delta_log")):
        if "checkpoint" in n or n == "_last_checkpoint":
            _os.remove(_os.path.join(path, "_delta_log", n))
    _os.remove(_os.path.join(path, "_delta_log", f"{1:020d}.json"))
    rep = delta_log.fsck(spark, path)
    assert rep["log_gap"] is not None and not rep["ok"]


def test_replace_where_atomic_backfill(spark, tmp_path):
    """replaceWhere: delete-matching + insert-replacement in ONE
    commit (no observable gap version); untouched partitions' files
    survive verbatim; replacement rows outside the predicate are
    refused; works on a partitioned lake like a day-backfill."""
    path = str(tmp_path / "t_replace")
    df = spark.createDataFrame(
        [(i, ["d1", "d2"][i % 2], float(i)) for i in range(20)],
        "pk LONG, day STRING, val DOUBLE",
    )
    delta_log.append_commit(df, path, partition_by=["day"])
    before_d2 = {
        rel for rel in _delta_live_adds(spark, path) if "day=d2" in rel
    }
    fresh = spark.createDataFrame(
        [(100 + i, "d1", 999.0) for i in range(3)],
        "pk LONG, day STRING, val DOUBLE",
    )
    v0 = delta_log.log_version(spark, path)
    v = delta_log.replace_where(
        spark, path, F.col("day") == "d1", fresh
    )
    assert v == v0 + 1  # exactly one commit
    after_d2 = {
        rel for rel in _delta_live_adds(spark, path) if "day=d2" in rel
    }
    assert after_d2 == before_d2  # other partition untouched
    got = {(r.pk, r.day) for r in read_delta(spark, path).collect()}
    assert got == {(100, "d1"), (101, "d1"), (102, "d1")} | {
        (i, "d2") for i in range(20) if i % 2 == 1
    }
    # containment: replacement rows must satisfy the predicate
    with pytest.raises(ValueError, match="satisfy the predicate"):
        delta_log.replace_where(
            spark,
            path,
            F.col("day") == "d1",
            spark.createDataFrame(
                [(7, "d2", 1.0)], "pk LONG, day STRING, val DOUBLE"
            ),
        )
    # no matches + replacement: pure atomic insert (backfill of an
    # empty range)
    v2 = delta_log.replace_where(
        spark,
        path,
        F.col("day") == "d3",
        spark.createDataFrame(
            [(200, "d3", 5.0)], "pk LONG, day STRING, val DOUBLE"
        ),
    )
    assert v2 == v + 1
    assert read_delta(
        spark, path, partition_filter={"day": "d3"}
    ).count() == 1


def test_overwrite_schema_changes_shape_atomically(spark, tmp_path):
    """overwriteSchema: a full overwrite may change the schema
    arbitrarily (all files replaced); without the flag it stays
    rejected; time travel below shows the old shape."""
    path = str(tmp_path / "t_ow_schema")
    delta_log.append_commit(
        spark.createDataFrame([(1, "a")], "pk LONG, v STRING"), path
    )
    wide = spark.createDataFrame(
        [(10, 1.5, "x")], "id LONG, score DOUBLE, tag STRING"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        delta_log.overwrite_commit(wide, path)
    v = delta_log.overwrite_commit(wide, path, overwrite_schema=True)
    assert read_delta(spark, path).columns == ["id", "score", "tag"]
    assert read_delta(spark, path, version=v - 1).columns == ["pk", "v"]
    # post-overwrite strict appends enforce the NEW schema
    with pytest.raises(ValueError, match="schema mismatch"):
        delta_log.append_commit(
            spark.createDataFrame([(2, "b")], "pk LONG, v STRING"), path
        )


def test_table_history_renders_operation_provenance(spark, tmp_path):
    """DESCRIBE HISTORY: every engine write records a commitInfo line
    the history renders (operation, timestamp, counts, dataChange);
    maintenance commits show dataChange=False; replay readers are
    unaffected by the extra action line."""
    path = str(tmp_path / "t_hist")
    delta_log.append_commit(
        spark.range(0, 10).selectExpr("id AS pk").repartition(2), path
    )  # v0 CREATE
    delta_log.append_commit(
        spark.range(10, 15).selectExpr("id AS pk").coalesce(1), path
    )  # v1 WRITE
    delta_log.update_where(
        spark, path, F.col("pk") == 1, {"pk": F.lit(100)}
    )  # v2 UPDATE
    delta_log.delete_where(spark, path, F.col("pk") == 14)  # v3 DELETE
    delta_log.compact(spark, path)  # v4 OPTIMIZE
    delta_log.restore_to_version(spark, path, 3)  # v5 RESTORE
    hist = delta_log.table_history(spark, path)
    ops = [(h["version"], h["operation"], h["data_change"]) for h in hist]
    assert ops == [
        (5, "RESTORE", True),
        (4, "OPTIMIZE", False),
        (3, "DELETE", True),
        (2, "UPDATE", True),
        (1, "WRITE", True),
        (0, "CREATE TABLE AS SELECT", True),
    ]
    assert all(h["timestamp"] is not None for h in hist)
    assert hist[1]["n_added"] >= 1 and hist[1]["n_removed"] >= 2
    # replay still correct with commitInfo lines present
    got = {r.pk for r in read_delta(spark, path).collect()}
    assert got == ({100} | set(range(0, 14))) - {1}


def test_txn_append_skips_replayed_batches(spark, tmp_path):
    """Idempotent writes (Delta txnAppId/txnVersion): a replayed
    (app, version) append is skipped — None returned, no new commit,
    no new rows — while fresh versions and other apps commit."""
    path = str(tmp_path / "t_txn")
    d = lambda lo, hi: spark.range(lo, hi).selectExpr("id AS pk")
    assert (
        delta_log.append_commit(
            d(0, 5), path, txn_app_id="ing", txn_version=0
        )
        == 0
    )
    assert (
        delta_log.append_commit(
            d(5, 10), path, txn_app_id="ing", txn_version=1
        )
        == 1
    )
    # replay of batch 1 (restart re-delivery): skipped entirely
    pre = _log_jsons(path)
    assert (
        delta_log.append_commit(
            d(5, 10), path, txn_app_id="ing", txn_version=1
        )
        is None
    )
    assert _log_jsons(path) == pre
    # stale replay below the high-water mark: also skipped
    assert (
        delta_log.append_commit(
            d(0, 5), path, txn_app_id="ing", txn_version=0
        )
        is None
    )
    # fresh batch + a different app id both commit
    assert (
        delta_log.append_commit(
            d(10, 12), path, txn_app_id="ing", txn_version=2
        )
        == 2
    )
    assert (
        delta_log.append_commit(
            d(100, 101), path, txn_app_id="other", txn_version=0
        )
        == 3
    )
    got = {r.pk for r in read_delta(spark, path).collect()}
    assert got == set(range(12)) | {100}
    assert delta_log.latest_txn_versions(spark, path) == {
        "ing": 2,
        "other": 0,
    }
    with pytest.raises(ValueError):
        delta_log.append_commit(d(0, 1), path, txn_app_id="ing")


def test_txn_high_water_mark_survives_checkpoint_truncation(
    spark, tmp_path
):
    """The spec requires checkpoints to carry the latest txn per
    appId: after write_checkpoint + truncate_log delete the JSON
    commits that recorded the txn actions, a replayed batch must STILL
    be skipped, or every idempotent writer would double-land its last
    batch after log cleanup."""
    path = str(tmp_path / "t_txn_cp")
    d = lambda lo, hi: spark.range(lo, hi).selectExpr("id AS pk")
    delta_log.append_commit(d(0, 5), path, txn_app_id="a", txn_version=7)
    delta_log.append_commit(d(5, 8), path, txn_app_id="b", txn_version=2)
    v = delta_log.write_checkpoint(spark, path)
    delta_log.truncate_log(spark, path)
    assert _log_jsons(path) == []  # txn JSON evidence is gone
    # checkpoint parquet itself carries the txn rows
    cp = spark.read.parquet(
        os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.parquet")
    )
    txns = {
        r["txn"]["appId"]: r["txn"]["version"]
        for r in cp.where(F.col("txn").isNotNull()).collect()
    }
    assert txns == {"a": 7, "b": 2}
    assert delta_log.latest_txn_versions(spark, path) == {"a": 7, "b": 2}
    # replay of the last pre-truncation batches: still skipped
    assert (
        delta_log.append_commit(
            d(0, 5), path, txn_app_id="a", txn_version=7
        )
        is None
    )
    # fresh work proceeds, and the next checkpoint keeps both apps
    assert (
        delta_log.append_commit(
            d(8, 9), path, txn_app_id="a", txn_version=8
        )
        is not None
    )
    assert delta_log.latest_txn_versions(spark, path) == {"a": 8, "b": 2}
    assert {r.pk for r in read_delta(spark, path).collect()} == set(
        range(9)
    )


def _live_by_partition(spark, path: str, col: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for rel, a in (_delta_live_adds(spark, path) or {}).items():
        out.setdefault((a.get("partitionValues") or {}).get(col), []).append(rel)
    return out


def test_disjoint_mutations_rebase_and_commute(spark, tmp_path):
    """Logical conflict resolution: a predicate-scoped rewrite that
    loses the commit race to a winner touching DISJOINT files rebases
    onto the new head and lands — two backfills on different
    partitions commute instead of aborting each other."""
    path = str(tmp_path / "t_rebase")
    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b") for i in range(100)], "pk LONG, p STRING"
    )
    delta_log.append_commit(df.repartition(2, "p"), path, partition_by=["p"])
    v = delta_log.log_version(spark, path)
    # writer A: computed a rewrite of partition a at snapshot v...
    a_files = _live_by_partition(spark, path, "p")["a"]
    repl = spark.createDataFrame(
        [(i, "a") for i in range(1000, 1010)], "pk LONG, p STRING"
    )
    a_actions = delta_log.remove_actions(
        [f"{path}/{rel}" for rel in a_files], path
    ) + delta_log.stage_data_files(repl, path, partition_by=["p"])
    # ...but a winner lands first: DELETE of partition b
    delta_log.delete_where(spark, path, F.col("p") == "b")
    assert delta_log.log_version(spark, path) == v + 1
    # A's pinned commit at v+1 is taken; the rebase commits at v+2
    got_v = delta_log.commit_with_rebase(
        spark, path, a_actions, read_version=v, operation="UPDATE"
    )
    assert got_v == v + 2
    rows = {(r.pk, r.p) for r in read_delta(spark, path).collect()}
    assert rows == {(i, "a") for i in range(1000, 1010)}
    hist = delta_log.table_history(spark, path)
    assert [h["operation"] for h in hist[:2]] == ["UPDATE", "DELETE"]


def test_same_file_rewrite_raises_concurrent_delete_delete(
    spark, tmp_path
):
    """A winner that tombstoned a file this transaction also rewrites
    is a TRUE conflict: rebasing would double-remove the file and
    silently drop the winner's rewrite — typed abort instead."""
    path = str(tmp_path / "t_dd")
    delta_log.append_commit(
        spark.range(0, 10).selectExpr("id AS pk").coalesce(1), path
    )
    v = delta_log.log_version(spark, path)
    live = list(_delta_live_adds(spark, path))
    actions = delta_log.remove_actions(
        [f"{path}/{rel}" for rel in live], path
    ) + delta_log.stage_data_files(
        spark.range(50, 55).selectExpr("id AS pk"), path
    )
    # winner rewrites the SAME file (update touches every live file)
    delta_log.update_where(
        spark, path, F.col("pk") == 3, {"pk": F.lit(300)}
    )
    with pytest.raises(delta_log.ConcurrentDeleteDelete):
        delta_log.commit_with_rebase(
            spark, path, actions, read_version=v
        )
    # winner's rewrite survived untouched
    assert {r.pk for r in read_delta(spark, path).collect()} == (
        set(range(10)) - {3}
    ) | {300}


def test_metadata_change_aborts_rebase(spark, tmp_path):
    """A mid-flight metaData/protocol commit (constraint add, schema
    evolution) invalidates anything computed against the old
    metadata: typed MetadataChangedConflict, never a silent rebase."""
    path = str(tmp_path / "t_md")
    delta_log.append_commit(
        spark.range(0, 10).selectExpr("id AS pk").coalesce(1), path
    )
    v = delta_log.log_version(spark, path)
    actions = delta_log.stage_data_files(
        spark.range(10, 15).selectExpr("id AS pk"), path
    )
    delta_log.add_check_constraint(spark, path, "pk_nonneg", "pk >= 0")
    with pytest.raises(delta_log.MetadataChangedConflict):
        delta_log.commit_with_rebase(
            spark, path, actions, read_version=v
        )


def test_threaded_disjoint_deletes_both_land(spark, tmp_path):
    """End-to-end under a real race: two DELETEs on disjoint
    partitions run concurrently; whichever loses the commit slot
    rebases (disjoint rewrite sets commute) and BOTH land."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t_race")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(100)],
        "pk LONG, p STRING",
    )
    delta_log.append_commit(df.repartition(2, "p"), path, partition_by=["p"])
    with ThreadPoolExecutor(max_workers=2) as ex:
        fa = ex.submit(
            delta_log.delete_where, spark, path, F.col("p") == "a"
        )
        fb = ex.submit(
            delta_log.delete_where, spark, path, F.col("p") == "b"
        )
        va, vb = fa.result(120), fb.result(120)
    assert sorted([va, vb]) == [1, 2]
    assert read_delta(spark, path).count() == 0
    # and time travel still sees both intermediate states
    assert read_delta(spark, path, version=0).count() == 100


def _data_files_under(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        if "_delta_log" in root:
            continue
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    """SHALLOW CLONE: version 0 of the clone references the source's
    files by absolute path — zero bytes copied — and from that instant
    the tables diverge independently; mutations on the clone
    copy-on-write materialize into the CLONE root only."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b") for i in range(100)], "pk LONG, p STRING"
    )
    delta_log.append_commit(df.repartition(2, "p"), src, partition_by=["p"])
    delta_log.append_commit(
        spark.createDataFrame([(100, "a")], "pk LONG, p STRING"),
        src,
        partition_by=["p"],
    )
    assert delta_log.clone_table(spark, src, dst) == 0
    # zero copy: no data files under the clone root
    assert _data_files_under(dst) == []
    assert read_delta(spark, dst).count() == 101
    d_src = delta_log.table_detail(spark, src)
    d_dst = delta_log.table_detail(spark, dst)
    assert d_dst["numFiles"] == d_src["numFiles"]
    assert d_dst["sizeInBytes"] == d_src["sizeInBytes"]
    assert d_dst["partitionColumns"] == ["p"]
    assert d_dst["id"] != d_src["id"]  # fresh table identity
    # partition pruning still works through absolute adds
    assert read_delta(
        spark, dst, partition_filter={"p": "b"}
    ).count() == 50
    # append lands inside the clone only
    delta_log.append_commit(
        spark.createDataFrame([(200, "b")], "pk LONG, p STRING"),
        dst,
        partition_by=["p"],
    )
    assert read_delta(spark, dst).count() == 102
    assert read_delta(spark, src).count() == 101
    # copy-on-write DELETE on the clone: source untouched, the
    # rewritten partition materializes under the clone root
    delta_log.delete_where(spark, dst, F.col("p") == "a")
    assert read_delta(spark, dst).count() == 51
    assert read_delta(spark, src).count() == 101
    assert all(dst in f for f in _data_files_under(dst))
    # vacuum on the clone must NEVER reclaim source files
    delta_log.vacuum(spark, dst, min_age_seconds=0)
    assert read_delta(spark, src).count() == 101
    # clone history starts at the clone point
    hist = delta_log.table_history(spark, dst)
    assert hist[-1]["operation"] == "CLONE"


def test_shallow_clone_as_of_version_pins_snapshot(spark, tmp_path):
    """CLONE VERSION AS OF: the clone captures the source at the
    pinned version — later source commits are invisible to it."""
    src = str(tmp_path / "src_v")
    dst = str(tmp_path / "dst_v")
    delta_log.append_commit(
        spark.range(0, 10).selectExpr("id AS pk"), src
    )
    delta_log.append_commit(
        spark.range(10, 30).selectExpr("id AS pk"), src
    )
    delta_log.clone_table(spark, src, dst, version=0)
    assert {r.pk for r in read_delta(spark, dst).collect()} == set(
        range(10)
    )
    # UPDATE through the clone's absolute adds round-trips
    delta_log.update_where(
        spark, dst, F.col("pk") == 3, {"pk": F.lit(300)}
    )
    assert {r.pk for r in read_delta(spark, dst).collect()} == (
        set(range(10)) - {3}
    ) | {300}
    assert {r.pk for r in read_delta(spark, src).collect()} == set(
        range(30)
    )
    with pytest.raises(ValueError):
        delta_log.clone_table(spark, src, dst)  # dst already a table


def test_vacuum_on_source_breaks_clone_and_fsck_reports_it(
    spark, tmp_path
):
    """The documented shallow-clone caveat: the clone borrows the
    source's retention, so a source-side DELETE + vacuum that reclaims
    a referenced file leaves the clone with a dangling add — fsck on
    the clone must report it as missing."""
    src = str(tmp_path / "src_b")
    dst = str(tmp_path / "dst_b")
    delta_log.append_commit(
        spark.range(0, 10).selectExpr("id AS pk").coalesce(1), src
    )
    delta_log.clone_table(spark, src, dst)
    delta_log.delete_where(spark, src, F.lit(True))
    delta_log.vacuum(spark, src, min_age_seconds=0)
    report = delta_log.fsck(spark, dst)
    assert not report["ok"]
    assert len(report["missing_files"]) == 1


def test_table_detail_tracks_snapshot_facts(spark, tmp_path):
    """DESCRIBE DETAIL: numFiles/sizeInBytes/version track the live
    snapshot across mutations without opening a data file."""
    path = str(tmp_path / "t_detail")
    delta_log.append_commit(
        spark.range(0, 100).selectExpr("id AS pk").repartition(4), path
    )
    d0 = delta_log.table_detail(spark, path)
    assert d0["version"] == 0 and d0["numFiles"] == 4
    assert d0["sizeInBytes"] > 0 and d0["format"] == "parquet"
    assert d0["minReaderVersion"] == 1
    delta_log.delete_where(spark, path, F.col("pk") < 50)
    d1 = delta_log.table_detail(spark, path)
    assert d1["version"] == 1
    assert d1["numFiles"] <= d0["numFiles"]
    assert d1["sizeInBytes"] < d0["sizeInBytes"]


def test_rename_column_is_pure_metadata(spark, tmp_path):
    """RENAME COLUMN on a column-mapped table: one metadata commit,
    zero files rewritten — existing files keep their physical field
    name and reads alias it to the new logical shape. Appends after
    the rename use the NEW logical name but stage files under the
    physical name, so old and new files read as one table."""
    path = str(tmp_path / "t_rename")
    delta_log.append_commit(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0)], "pk LONG, val DOUBLE"
        ).coalesce(1),
        path,
    )
    files_before = sorted(_data_files_under(path))
    v = delta_log.rename_column(spark, path, "val", "amount")
    assert sorted(_data_files_under(path)) == files_before  # no rewrite
    got = read_delta(spark, path)
    assert got.columns == ["pk", "amount"]
    assert {(r.pk, r.amount) for r in got.collect()} == {
        (1, 10.0),
        (2, 20.0),
    }
    # time travel below the rename shows the OLD logical name
    old = read_delta(spark, path, version=0)
    assert old.columns == ["pk", "val"]
    # append AFTER the rename speaks the new logical schema
    delta_log.append_commit(
        spark.createDataFrame([(3, 30.0)], "pk LONG, amount DOUBLE"),
        path,
    )
    assert read_delta(spark, path).count() == 3
    # the physical field under the hood is still 'val': the staged
    # post-rename file must carry it too (one physical shape per table)
    import pyarrow.parquet as pq

    for f in _data_files_under(path):
        assert "val" in pq.read_schema(f).names
    # mutations address the LOGICAL name
    delta_log.update_where(
        spark, path, F.col("amount") == 30.0, {"amount": F.lit(33.0)}
    )
    assert {r.amount for r in read_delta(spark, path).collect()} == {
        10.0,
        20.0,
        33.0,
    }
    hist = delta_log.table_history(spark, path)
    assert "RENAME COLUMN" in {h["operation"] for h in hist}
    # protocol upgraded as the spec requires
    d = delta_log.table_detail(spark, path)
    assert d["minReaderVersion"] >= 2 and d["minWriterVersion"] >= 5
    assert v >= 1


def test_drop_column_keeps_history_readable(spark, tmp_path):
    """DROP COLUMN: the field leaves the logical schema in one
    metadata commit; data files are untouched and time travel below
    the drop still shows the column."""
    path = str(tmp_path / "t_drop")
    delta_log.append_commit(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)],
            "pk LONG, tag STRING, score DOUBLE",
        ).coalesce(1),
        path,
    )
    delta_log.drop_column(spark, path, "tag")
    got = read_delta(spark, path)
    assert got.columns == ["pk", "score"]
    assert got.count() == 2
    assert read_delta(spark, path, version=0).columns == [
        "pk",
        "tag",
        "score",
    ]
    # appends now speak the narrowed schema
    delta_log.append_commit(
        spark.createDataFrame([(3, 3.0)], "pk LONG, score DOUBLE"), path
    )
    assert read_delta(spark, path).count() == 3
    with pytest.raises(ValueError, match="no column"):
        delta_log.drop_column(spark, path, "tag")  # already gone


def test_mapped_ddl_guards(spark, tmp_path):
    """Partition columns and constraint-referenced columns refuse
    rename/drop; renaming to an existing name refuses; stats skipping
    still prunes via the PHYSICAL name after a rename."""
    path = str(tmp_path / "t_guard")
    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b", float(i)) for i in range(100)],
        "pk LONG, p STRING, v DOUBLE",
    )
    delta_log.append_commit(
        df.repartition(2, "p"), path, partition_by=["p"]
    )
    with pytest.raises(ValueError, match="partition column"):
        delta_log.rename_column(spark, path, "p", "region")
    delta_log.add_check_constraint(spark, path, "v_pos", "v >= 0")
    with pytest.raises(ValueError, match="constraint"):
        delta_log.rename_column(spark, path, "v", "value")
    with pytest.raises(ValueError, match="already has"):
        delta_log.rename_column(spark, path, "pk", "v")
    # un-constrained rename works; file skipping on the renamed
    # column prunes by the recorded (physical) stats
    delta_log.drop_check_constraint(spark, path, "v_pos")
    delta_log.rename_column(spark, path, "v", "value")
    pruned = read_delta(
        spark, path, stats_filter=[("value", ">", 1e9)]
    )
    assert pruned.count() == 0
    some = read_delta(
        spark, path, stats_filter=[("value", "<=", 10.0)]
    )
    assert some.where("value <= 10").count() == 11
    # overwriteSchema is rejected on mapped tables
    with pytest.raises(ValueError, match="column mapping"):
        delta_log.overwrite_commit(
            spark.createDataFrame([(1, "a", 1.0)], "a LONG, b STRING, c DOUBLE"),
            path,
            partition_by=["b"],
            overwrite_schema=True,
        )


def test_mapping_survives_checkpoint_truncation_and_merge_schema(
    spark, tmp_path
):
    """The mapping rides metaData: after checkpoint + truncate_log the
    renamed logical schema still reads; a mergeSchema widening on a
    mapped table assigns the new field a fresh column id."""
    path = str(tmp_path / "t_map_cp")
    delta_log.append_commit(
        spark.createDataFrame([(1, 1.0)], "pk LONG, v DOUBLE"), path
    )
    delta_log.rename_column(spark, path, "v", "score")
    delta_log.write_checkpoint(spark, path)
    delta_log.truncate_log(spark, path)
    got = read_delta(spark, path)
    assert got.columns == ["pk", "score"]
    # widening append on the mapped table: new column gets id+physName
    delta_log.append_commit(
        spark.createDataFrame(
            [(2, 2.0, "x")], "pk LONG, score DOUBLE, tag STRING"
        ),
        path,
        merge_schema=True,
    )
    md = delta_log.latest_metadata(spark, path)
    fields = {
        f["name"]: (f.get("metadata") or {})
        for f in __import__("json").loads(md["schemaString"])["fields"]
    }
    assert fields["tag"]["delta.columnMapping.physicalName"] == "tag"
    assert fields["score"]["delta.columnMapping.physicalName"] == "v"
    ids = [m["delta.columnMapping.id"] for m in fields.values()]
    assert len(set(ids)) == 3
    rows = {
        (r.pk, r.score, r.tag) for r in read_delta(spark, path).collect()
    }
    assert rows == {(1, 1.0, None), (2, 2.0, "x")}


def test_reader_protocol_gating_refuses_unknown_features(
    spark, tmp_path
):
    """A protocol demanding reader capabilities this replay lacks must
    REFUSE the table, not misread it (the spec's whole point): tables
    with deletion vectors read by a DV-ignorant whole-file scanner
    would silently resurrect deleted rows."""
    import json as _json

    def mk(table: str, proto: dict, dv: bool = False) -> str:
        path = str(tmp_path / table)
        spark.range(3).selectExpr("id AS pk").coalesce(1).write.parquet(
            path
        )
        data = [
            f
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ][0]
        log = os.path.join(path, "_delta_log")
        os.makedirs(log)
        add = {"path": data, "dataChange": True}
        if dv:
            add["deletionVector"] = {
                "storageType": "u",
                "pathOrInlineDv": "x",
                "offset": 1,
                "sizeInBytes": 40,
                "cardinality": 1,
            }
        with open(os.path.join(log, "0" * 20 + ".json"), "w") as fh:
            fh.write(_json.dumps({"protocol": proto}) + "\n")
            fh.write(_json.dumps({"add": add}) + "\n")
        return path

    # minReaderVersion 3 + a feature we do not implement: refuse
    p1 = mk(
        "t_dv_proto",
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        },
    )
    with pytest.raises(ValueError, match="deletionVectors"):
        read_delta(spark, p1).collect()
    # minReaderVersion 3 with only features we DO implement: reads
    p2 = mk(
        "t_cm_proto",
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping"],
        },
    )
    assert read_delta(spark, p2).count() == 3
    # a DV-carrying add under a legacy protocol: refuse on content
    p3 = mk("t_dv_add", {"minReaderVersion": 1, "minWriterVersion": 2}, dv=True)
    with pytest.raises(ValueError, match="deletion vectors"):
        read_delta(spark, p3).collect()


def test_create_table_with_generated_partition_column(spark, tmp_path):
    """CREATE TABLE without data + GENERATED ALWAYS AS partition
    column: ingest supplies only the raw timestamp; every file lands
    Hive-partitioned by the derived date and reads prune on it."""
    path = str(tmp_path / "t_gen")
    v = delta_log.create_table(
        spark,
        path,
        "pk LONG, ts TIMESTAMP, d DATE",
        partition_by=["d"],
        generated={"d": "CAST(ts AS DATE)"},
    )
    assert v == 0
    # empty table reads as zero rows with the declared schema
    empty = read_delta(spark, path)
    assert empty.count() == 0 and empty.columns == ["pk", "ts", "d"]
    # appends omit the generated column entirely
    df = spark.createDataFrame(
        [
            (1, "2026-01-01 08:00:00"),
            (2, "2026-01-01 17:00:00"),
            (3, "2026-01-02 09:00:00"),
        ],
        "pk LONG, ts STRING",
    ).selectExpr("pk", "CAST(ts AS TIMESTAMP) AS ts")
    delta_log.append_commit(df, path, partition_by=["d"])
    got = read_delta(spark, path)
    assert got.count() == 3
    assert {str(r.d) for r in got.collect()} == {
        "2026-01-01",
        "2026-01-02",
    }
    # Hive layout carries the derived date -> file-list pruning works
    pruned = read_delta(
        spark, path, partition_filter={"d": "2026-01-01"}
    )
    assert pruned.count() == 2
    assert all("d=2026-01-01" in f for f in _data_files_under(path) if "d=2026-01-01" in f)
    # a write SUPPLYING the column must match the expression
    ok = spark.createDataFrame(
        [(4, "2026-01-03 10:00:00", "2026-01-03")],
        "pk LONG, ts STRING, d STRING",
    ).selectExpr(
        "pk", "CAST(ts AS TIMESTAMP) AS ts", "CAST(d AS DATE) AS d"
    )
    delta_log.append_commit(ok, path, partition_by=["d"])
    bad = spark.createDataFrame(
        [(5, "2026-01-04 10:00:00", "1999-01-01")],
        "pk LONG, ts STRING, d STRING",
    ).selectExpr(
        "pk", "CAST(ts AS TIMESTAMP) AS ts", "CAST(d AS DATE) AS d"
    )
    with pytest.raises(ValueError, match="generated column"):
        delta_log.append_commit(bad, path, partition_by=["d"])
    assert read_delta(spark, path).count() == 4
    d = delta_log.table_detail(spark, path)
    assert d["minWriterVersion"] >= 4
    with pytest.raises(ValueError, match="already a Delta table"):
        delta_log.create_table(spark, path, "x LONG")


def test_add_generated_column_to_existing_table(spark, tmp_path):
    """ADD COLUMNS with a generation expression: one metadata commit;
    pre-existing files read NULL, post-DDL appends compute the value,
    replaceWhere inserts get it too."""
    path = str(tmp_path / "t_gen_add")
    delta_log.append_commit(
        spark.createDataFrame(
            [(1, 100.0), (2, 250.0)], "pk LONG, amount DOUBLE"
        ),
        path,
    )
    delta_log.add_generated_column(
        spark, path, "bucket", "string",
        "CASE WHEN amount >= 200 THEN 'high' ELSE 'low' END",
    )
    got = {(r.pk, r.bucket) for r in read_delta(spark, path).collect()}
    assert got == {(1, None), (2, None)}  # pre-DDL files backfill NULL
    delta_log.append_commit(
        spark.createDataFrame([(3, 300.0)], "pk LONG, amount DOUBLE"),
        path,
    )
    got = {(r.pk, r.bucket) for r in read_delta(spark, path).collect()}
    assert got == {(1, None), (2, None), (3, "high")}
    # replaceWhere computes it for the inserted rows as well
    delta_log.replace_where(
        spark,
        path,
        F.col("pk") == 1,
        spark.createDataFrame([(1, 50.0)], "pk LONG, amount DOUBLE"),
    )
    got = {(r.pk, r.bucket) for r in read_delta(spark, path).collect()}
    assert got == {(1, "low"), (2, None), (3, "high")}


def test_multipart_checkpoint_roundtrip(spark, tmp_path):
    """Multi-part checkpoints (the spec's n.checkpoint.i.N.parquet
    form): parts parallelize the snapshot write/read at lake scale;
    replay, txn marks, metaData and truncation all work identically."""
    path = str(tmp_path / "t_cp_parts")
    delta_log.append_commit(
        spark.range(0, 50).selectExpr("id AS pk").repartition(5),
        path,
        txn_app_id="app",
        txn_version=1,
    )
    delta_log.append_commit(
        spark.range(50, 80).selectExpr("id AS pk"), path
    )
    v = delta_log.write_checkpoint(spark, path, parts=3)
    names = sorted(
        n
        for n in os.listdir(os.path.join(path, "_delta_log"))
        if ".checkpoint" in n and n.endswith(".parquet")
    )
    assert len(names) >= 2  # genuinely multi-part
    assert all(re.fullmatch(
        rf"{v:020d}\.checkpoint\.\d{{10}}\.\d{{10}}\.parquet", n
    ) for n in names)
    lc = json.loads(
        open(os.path.join(path, "_delta_log", "_last_checkpoint")).read()
    )
    assert lc["version"] == v and lc["parts"] == len(names)
    delta_log.truncate_log(spark, path)
    assert _log_jsons(path) == []
    assert {r.pk for r in read_delta(spark, path).collect()} == set(
        range(80)
    )
    # schema + txn marks survive via the multi-part checkpoint
    assert delta_log.latest_txn_versions(spark, path) == {"app": 1}
    assert delta_log.latest_metadata(spark, path)["schemaString"]
    # later single-file re-checkpoint replaces the parts cleanly
    delta_log.append_commit(
        spark.range(80, 90).selectExpr("id AS pk"), path
    )
    v2 = delta_log.write_checkpoint(spark, path)
    names2 = [
        n
        for n in os.listdir(os.path.join(path, "_delta_log"))
        if n.startswith(f"{v2:020d}.checkpoint")
    ]
    assert names2 == [f"{v2:020d}.checkpoint.parquet"]
    assert read_delta(spark, path).count() == 90


def test_append_only_table_refuses_row_removal(spark, tmp_path):
    """delta.appendOnly: DELETE/UPDATE/OVERWRITE/RESTORE are refused;
    appends and dataChange=false compaction stay legal — the audit-log
    contract."""
    path = str(tmp_path / "t_ao")
    delta_log.append_commit(
        spark.range(0, 30).selectExpr("id AS pk").repartition(3), path
    )
    delta_log.set_table_property(spark, path, "delta.appendOnly", "true")
    delta_log.append_commit(
        spark.range(30, 40).selectExpr("id AS pk"), path
    )  # appends still fine
    with pytest.raises(ValueError, match="append-only"):
        delta_log.delete_where(spark, path, F.col("pk") < 5)
    with pytest.raises(ValueError, match="append-only"):
        delta_log.update_where(
            spark, path, F.col("pk") == 1, {"pk": F.lit(100)}
        )
    with pytest.raises(ValueError, match="append-only"):
        delta_log.overwrite_commit(
            spark.range(5).selectExpr("id AS pk"), path
        )
    with pytest.raises(ValueError, match="append-only"):
        delta_log.restore_to_version(spark, path, 0)
    # reorganization is not removal: compaction still allowed
    assert delta_log.compact(spark, path, min_files=2) is not None
    assert read_delta(spark, path).count() == 40
    # idempotent property set returns the current version
    v = delta_log.log_version(spark, path)
    assert delta_log.set_table_property(
        spark, path, "delta.appendOnly", "true"
    ) == v


def test_writer_protocol_gating_refuses_unknown_features(
    spark, tmp_path
):
    """A foreign table demanding writer features we do not implement
    (e.g. rowTracking) must refuse WRITES — a feature-blind commit
    would corrupt it for native readers — while READS stay fine when
    the reader protocol is satisfied."""
    import json as _json

    path = str(tmp_path / "t_wf")
    spark.range(3).selectExpr("id AS pk").coalesce(1).write.parquet(path)
    data = [f for f in os.listdir(path) if f.endswith(".parquet")][0]
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    schema = (
        '{"type":"struct","fields":[{"name":"pk","type":"long",'
        '"nullable":true,"metadata":{}}]}'
    )
    with open(os.path.join(log, "0" * 20 + ".json"), "w") as fh:
        fh.write(
            _json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": 7,
                        "writerFeatures": ["rowTracking"],
                    }
                }
            )
            + "\n"
        )
        fh.write(
            _json.dumps(
                {
                    "metaData": {
                        "id": "m",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema,
                        "partitionColumns": [],
                        "configuration": {},
                    }
                }
            )
            + "\n"
        )
        fh.write(_json.dumps({"add": {"path": data, "dataChange": True}}) + "\n")
    assert read_delta(spark, path).count() == 3  # reading is fine
    with pytest.raises(ValueError, match="rowTracking"):
        delta_log.append_commit(
            spark.range(3, 5).selectExpr("id AS pk"), path
        )
    with pytest.raises(ValueError, match="rowTracking"):
        delta_log.delete_where(spark, path, F.lit(True))
    # a writer-version-7 table whose features we DO implement writes
    path2 = str(tmp_path / "t_wf_ok")
    delta_log.append_commit(
        spark.range(3).selectExpr("id AS pk"), path2
    )
    v = delta_log.log_version(spark, path2)
    md = delta_log.latest_metadata(spark, path2)
    delta_log.commit(
        spark,
        path2,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["appendOnly", "checkConstraints"],
                }
            },
            {"metaData": md},
        ],
        expected_version=v + 1,
    )
    delta_log.append_commit(
        spark.range(3, 6).selectExpr("id AS pk"), path2
    )
    assert read_delta(spark, path2).count() == 6


def test_concurrent_merges_both_land_via_retry(spark, tmp_path):
    """Two MERGEs with disjoint keys racing on a log-backed table:
    the loser re-reads the winner's snapshot and re-merges, so BOTH
    reconciliations land and neither's rows are lost."""
    from concurrent.futures import ThreadPoolExecutor

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.incremental import (
        merge_upsert,
    )

    path = str(tmp_path / "t_merge_race")
    delta_log.append_commit(
        spark.createDataFrame(
            [(i, 0) for i in range(20)], "pk LONG, v LONG"
        ),
        path,
    )
    a = spark.createDataFrame(
        [(1, 11), (100, 11)], "pk LONG, v LONG"
    )  # update pk=1, insert pk=100
    b = spark.createDataFrame(
        [(2, 22), (200, 22)], "pk LONG, v LONG"
    )  # update pk=2, insert pk=200
    with ThreadPoolExecutor(max_workers=2) as ex:
        fa = ex.submit(merge_upsert, spark, a, path, "pk")
        fb = ex.submit(merge_upsert, spark, b, path, "pk")
        fa.result(180), fb.result(180)
    rows = {(r.pk, r.v) for r in read_delta(spark, path).collect()}
    expect = {(i, 0) for i in range(20) if i not in (1, 2)} | {
        (1, 11),
        (100, 11),
        (2, 22),
        (200, 22),
    }
    assert rows == expect


def test_delta_engine_full_surface(spark, tmp_path):
    """One end-to-end walk across the log engine's public functions:
    create/append/update/delete/merge/optimize/constraint/rename/
    history/detail/clone/vacuum/restore/CDF/fsck on one table."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.incremental import (
        merge_upsert,
    )

    path = str(tmp_path / "t_engine")
    schema = "pk LONG, v LONG, p STRING"
    delta_log.create_table(spark, path, schema, partition_by=["p"])
    assert delta_log.log_version(spark, path) == 0
    delta_log.append_commit(
        spark.createDataFrame(
            [(i, 0, "a" if i < 5 else "b") for i in range(10)], schema
        ),
        path,
        partition_by=["p"],
    )
    assert read_delta(spark, path).count() == 10
    assert read_delta(spark, path, partition_filter={"p": "a"}).count() == 5
    delta_log.update_where(spark, path, F.col("pk") == 1, {"v": F.lit(10)})
    delta_log.delete_where(spark, path, F.col("pk") == 9)
    merge_upsert(
        spark,
        spark.createDataFrame([(2, 22, "a"), (100, 1, "b")], schema),
        path,
        "pk",
    )
    rows = {(r.pk, r.v) for r in read_delta(spark, path).collect()}
    assert (1, 10) in rows and (2, 22) in rows and (100, 1) in rows
    assert (9, 0) not in rows
    pre_restore = delta_log.log_version(spark, path)
    # maintenance + DDL
    delta_log.compact(spark, path)
    delta_log.add_check_constraint(spark, path, "v_nonneg", "v >= 0")
    with pytest.raises(ValueError):
        delta_log.append_commit(
            spark.createDataFrame([(7, -1, "a")], schema),
            path,
            partition_by=["p"],
        )
    delta_log.drop_check_constraint(spark, path, "v_nonneg")
    delta_log.rename_column(spark, path, "v", "val")
    assert read_delta(spark, path).columns == ["pk", "val", "p"]
    ops = {h["operation"] for h in delta_log.table_history(spark, path)}
    assert {"CREATE TABLE", "UPDATE", "DELETE", "RENAME COLUMN"} <= ops
    d = delta_log.table_detail(spark, path)
    assert d["partitionColumns"] == ["p"] and d["numFiles"] >= 1
    # zero-copy clone diverges independently
    clone = str(tmp_path / "t_engine_clone")
    delta_log.clone_table(spark, path, clone)
    delta_log.delete_where(spark, clone, F.lit(True))
    assert read_delta(spark, clone).count() == 0
    assert read_delta(spark, path).count() > 0
    # vacuum dry-run reports dead files without touching them
    dead = delta_log.vacuum(spark, path, min_age_seconds=0, dry_run=True)
    assert dead  # update/delete/optimize tombstoned files
    assert read_delta(spark, path, version=1).count() == 10
    # restore + CDF (before the real vacuum: restores reach only as
    # far back as vacuum retention, and the engine enforces it)
    delta_log.restore_to_version(spark, path, pre_restore)
    assert delta_log.table_changes(spark, path, 0, to_version=1).count() == 10
    delta_log.vacuum(spark, path, min_age_seconds=0)
    assert delta_log.fsck(spark, path)["ok"]
    with pytest.raises(ValueError, match="vacuum"):
        delta_log.restore_to_version(spark, path, 1)  # below retention


def test_table_changes_signed_linear_aggregates(spark, tmp_path):
    """table_changes_signed (r11): the shuffle-free CDF for linear-
    aggregate consumers. Signed sums over the raw tagged file rows
    must equal the same sums over the row-exact table_changes feed
    (the rewrite's carried-over rows cancel arithmetically), and
    base + signed delta must equal the final table's aggregate —
    including across a dataChange=false compaction, which both feeds
    skip."""
    path = str(tmp_path / "t_cdf_signed")
    delta_log.append_commit(
        spark.range(0, 10)
        .selectExpr("id AS pk", "CAST(id AS DOUBLE) AS val")
        .repartition(2),
        path,
    )  # v0
    delta_log.append_commit(
        spark.range(10, 14)
        .selectExpr("id AS pk", "CAST(id AS DOUBLE) AS val")
        .coalesce(1),
        path,
    )  # v1
    delta_log.update_where(
        spark, path, F.col("pk") == 3, {"val": F.lit(99.0)}
    )  # v2
    delta_log.delete_where(spark, path, F.col("pk") >= 12)  # v3
    assert delta_log.compact(spark, path) == 4  # dataChange=false

    signed = delta_log.table_changes_signed(spark, path, 0)
    s = signed.agg(
        F.sum("_cdf_sign").alias("dn"),
        F.sum(F.col("_cdf_sign") * F.col("val")).alias("dv"),
    ).collect()[0]

    feed = delta_log.table_changes(spark, path, 0)
    sign = F.when(
        F.col("change_type") == "insert", F.lit(1)
    ).otherwise(F.lit(-1))
    f = feed.agg(
        F.sum(sign).alias("dn"),
        F.sum(sign * F.col("val")).alias("dv"),
    ).collect()[0]
    assert (s["dn"], s["dv"]) == (f["dn"], f["dv"])

    # base(v0) + signed delta (0,3] == final state
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_delta,
    )

    base = read_delta(spark, path, version=0).agg(
        F.count(F.lit(1)).alias("n"), F.sum("val").alias("v")
    ).collect()[0]
    final = read_delta(spark, path).agg(
        F.count(F.lit(1)).alias("n"), F.sum("val").alias("v")
    ).collect()[0]
    assert base["n"] + s["dn"] == final["n"]
    assert abs(base["v"] + s["dv"] - final["v"]) < 1e-9

    # empty range: correctly-shaped empty frame
    empty = delta_log.table_changes_signed(spark, path, 4)
    assert empty.count() == 0
    assert set(empty.columns) == {"pk", "val", "_cdf_sign",
                                  "commit_version"}


def test_table_changes_signed_across_schema_evolution(spark, tmp_path):
    """The signed feed must survive an additive schema evolution
    inside the range: pre-evolution files surface with NULL in the
    new column (allowMissingColumns union), and signed sums over the
    widened column count only post-evolution rows."""
    path = str(tmp_path / "t_cdf_signed_evo")
    delta_log.append_commit(
        spark.range(0, 6).selectExpr("id AS pk"), path
    )  # v0: narrow
    delta_log.append_commit(
        spark.range(6, 10).selectExpr(
            "id AS pk", "CAST(id AS DOUBLE) AS val"
        ),
        path,
        merge_schema=True,
    )  # v1: widened
    delta_log.delete_where(spark, path, F.col("pk") == 7)  # v2

    # (-1, head]: include v0 so pre-evolution rows are in range
    signed = delta_log.table_changes_signed(spark, path, -1)
    assert set(signed.columns) == {"pk", "val", "_cdf_sign",
                                   "commit_version"}
    agg = signed.agg(
        F.sum("_cdf_sign").alias("dn"),
        F.sum(F.col("_cdf_sign") * F.col("val")).alias("dv"),
        F.sum(
            F.when(F.col("val").isNull(), F.col("_cdf_sign"))
            .otherwise(F.lit(0))
        ).alias("dn_null"),
    ).collect()[0]
    # net rows: +6 (v0) +4 (v1) -1 (v2) = 9; v0's rows carry NULL val
    assert agg["dn"] == 9
    assert agg["dn_null"] == 6
    # net val mass: 6..9 inserted, 7.0 deleted
    assert agg["dv"] == float(6 + 8 + 9)
