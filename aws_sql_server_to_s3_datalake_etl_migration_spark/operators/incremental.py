"""Incremental loads & merge-upsert (SURVEY.md §2.7 M1–M4).

The reference's machinery (``utils.py:212-246``): read the existing lake
table, take ``max(primary_key)`` as a high watermark, keep only incoming
rows above it, then either append or MERGE. Reproduced here Spark-first,
with the reference's scoping bugs fixed (SURVEY.md §2.11), on the
package's own Delta-log engine (``sources/delta_log.py``).

Scale notes:
- The watermark is a single-row aggregate (map-side combined); at 100 TB
  it reads one column, pruned, not the table.
- ``merge_upsert`` rewrites the whole target in one copy-on-write
  commit — correct but heavy; a file-granular merge would rewrite only
  matched files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import read_delta
from ..sources.writers import swap_overwrite, write_delta_append, write_parquet


def high_watermark(lake_df: DataFrame, primary_key: str):
    """M1/A1: ``max(pk)`` of the existing table (utils.py:219). One
    collect of one row — the only sanctioned driver-side action."""
    return lake_df.agg(F.max(primary_key).alias("wm")).collect()[0]["wm"]


def new_rows_above_watermark(
    incoming: DataFrame, lake_df: DataFrame, primary_key: str
) -> DataFrame:
    """M1/P3: incoming rows with pk strictly above the lake watermark
    (utils.py:220). A None watermark (empty lake) passes everything
    through — M3 first-load bootstrap."""
    wm = high_watermark(lake_df, primary_key)
    if wm is None:
        return incoming
    return incoming.where(F.col(primary_key) > F.lit(wm))


def merge_upsert(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    primary_key: str,
    delete_col: str | None = None,
) -> None:
    """M2 MERGE (whenMatchedUpdateAll / whenNotMatchedInsertAll,
    utils.py:222-230), extended with CDC delete semantics the
    reference's Delta stack supports but never used.

    ``delete_col`` names a boolean column in ``incoming``: matched
    target rows whose incoming row has it true are DELETED
    (whenMatchedDelete); unmatched delete rows are ignored; the flag
    column itself is never written to the target.

    Target rows whose pk appears in ``incoming`` are replaced by the
    incoming version (or dropped, for deletes), new pks are inserted.
    SCD-0 full-row semantics, matching the reference. A log-backed
    table gets one copy-on-write commit through the log engine; a
    plain parquet directory (no ``_delta_log``) is rewritten through a
    staging-dir swap.
    """
    from ..sources import delta_log

    logged = delta_log.log_version(spark, path) is not None
    if delete_col is not None:
        # Deletes are realized by the anti-join below removing every
        # incoming key from the target; only non-delete rows come back.
        upserts = incoming.where(~F.col(delete_col)).drop(delete_col)
    else:
        upserts = incoming
    # MERGE is optimistic-with-retry on the log-backed path: the whole
    # reconciliation is recomputed from the FRESH snapshot after a
    # lost commit race, so nothing stale ever lands — the same
    # serialization a user-level "re-run the merge" gives, automated.
    # (Rebasing the OLD merge result would lose the winner's rows —
    # a full overwrite's tombstone set covers the whole table, so the
    # commute check that predicate rewrites use can never pass here.)
    for _ in range(10):
        # Capture the table version ONCE per attempt, resolve the
        # snapshot AT that version, and pin the commit to it — the
        # whole read-merge-write must be one serializable unit. (An
        # unversioned read here followed by overwrite_commit pinning
        # the LIVE head was a TOCTOU: a commit landing in between got
        # tombstoned without its rows entering the merge result and
        # without CommitConflict — a silent lost update.)
        read_v = delta_log.log_version(spark, path) if logged else None
        target_df = (
            read_delta(spark, path, version=read_v)
            if logged
            else spark.read.parquet(path)
        )
        kept = target_df.join(
            incoming.select(primary_key), on=primary_key, how="left_anti"
        )
        merged = kept.unionByName(upserts.select(*target_df.columns))
        if not logged:
            # Parquet can't overwrite a path while reading it: write
            # the merge result to a staging dir, then atomically swap
            # it into place (fault-tolerant tasks + recoverable ._old,
            # vs localCheckpoint which pins the table in executor
            # memory and dies with it).
            swap_overwrite(merged, path)
            return
        try:
            # copy-on-write commit: tombstone the old live files and
            # add the merged ones in ONE log entry — atomic to
            # readers, old version time-travelable. The table's own
            # partition layout carries through (a merge must not
            # flatten a partitioned table).
            md = (
                delta_log.latest_metadata(spark, path, version=read_v)
                or {}
            )
            parts = list(md.get("partitionColumns") or []) or None
            delta_log.overwrite_commit(
                merged, path, partition_by=parts, read_version=read_v
            )
            return
        except delta_log.CommitConflict:
            continue  # a writer landed mid-merge: re-read, re-merge
    raise RuntimeError(
        f"merge into {path} lost 10 consecutive commit races "
        "(pathological contention)"
    )


def write_incremental(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    primary_key: str,
    updates: bool = False,
) -> int:
    """M1–M4 composed (the reference's ``write_incremental_to_datalake``,
    utils.py:212-246): bootstrap on first load; otherwise filter to new
    rows and either append (updates=False) or merge-upsert the *new
    slice plus updates* (updates=True — fixed to merge the incremental
    frame, not the full input as the reference accidentally did,
    utils.py:226).

    Returns the number of rows written/merged (one count action).

    The table is new only when it has no log and no data files; a
    table that exists but cannot be read (a torn commit, say) raises
    the reader's error instead of being bootstrapped over.
    """
    from ..sources import delta_log, fs

    if delta_log.log_version(spark, path) is None and not fs.list_data_files(
        spark, path
    ):
        write_delta_append(incoming, path)  # M3 bootstrap
        return incoming.count()
    if updates:
        merge_upsert(spark, incoming, path, primary_key)
        return incoming.count()
    lake = read_delta(spark, path)
    fresh = new_rows_above_watermark(incoming, lake, primary_key)
    n = fresh.count()
    if n:
        write_delta_append(fresh, path)
    return n


def full_refresh(df: DataFrame, path: str, partition_by=None) -> None:
    """M4 overwrite write (utils.py:203-205), with optional
    partitioning (the 100 TB posture the reference lacked)."""
    write_parquet(df, path, mode="overwrite", partition_by=partition_by)


def cdc_apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change feed (insert / update / delete events) to a
    snapshot — the APPLY CHANGES INTO shape that turns a
    Debezium/DMS-style event stream back into a table.

    ``changes`` carries the snapshot's columns plus ``seq_col`` (a
    monotonically increasing change sequence: LSN, binlog position,
    commit timestamp) and ``op_col`` in {'I','U','D'}. Per key, only
    the HIGHEST-sequence change matters (intermediate states are
    unobservable in the result): 'D' removes the key, 'I'/'U' both
    upsert the event's payload — the standard convention, since an
    out-of-order-tolerant apply cannot distinguish them. Ties on
    (key, seq) break by op then payload struct, deterministically —
    but a feed with duplicate sequences per key is malformed upstream.

    Plan shape at 100 TB: one shuffle of the CHANGE FEED for the
    latest-per-key window (feeds are small relative to snapshots),
    then a single anti-join of the snapshot against the changed-key
    set — un-hinted, so AQE broadcasts the typical small feed and the
    snapshot never shuffles; a backfill-sized feed degrades to a
    sort-merge join instead of an OOM. The snapshot is read exactly
    once. Contrast with ``merge_upsert`` (full-row upserts, no
    deletes, no ordering): this is the operator for replicating a
    MUTATING source table, the reference's SQL-Server-incremental
    scenario (utils.py:222-230) extended to hard deletes.
    """
    from pyspark.sql.window import Window

    payload = list(snapshot.columns)
    missing = [c for c in payload if c not in changes.columns]
    if missing:
        raise ValueError(
            f"changes feed lacks snapshot columns: {missing}"
        )
    others = [c for c in payload if c != key_col]
    w = Window.partitionBy(key_col).orderBy(
        F.col(seq_col).desc(),
        F.col(op_col).desc(),
        F.struct(*[F.col(c) for c in others]).desc(),
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    untouched = snapshot.join(
        latest.select(key_col), key_col, "left_anti"
    )
    upserts = latest.where(F.col(op_col) != F.lit("D")).select(*payload)
    return untouched.unionByName(upserts)


def incremental_join_delta(
    base_left: DataFrame,
    delta_left: DataFrame,
    base_right: DataFrame,
    delta_right: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """Δ-propagation for an INNER-join materialized view: the rows the
    view GAINS when appends ΔL and ΔR land on L and R —

        Δ(L ⋈ R) = ΔL ⋈ R  ∪  L ⋈ ΔR  ∪  ΔL ⋈ ΔR
                 = ΔL ⋈ (R ∪ ΔR)  ∪  L ⋈ ΔR

    (the standard delta rule for append-only inputs; updates/deletes
    go through the CDC path first). The view refresh appends exactly
    these rows — the full base tables are never re-joined, so a
    refresh costs O(Δ ⋈ ·), not O(L ⋈ R): the property that makes a
    100 TB denormalized view maintainable under hourly appends.

    Each leg shuffles the delta against one base table on the join
    key (bases pre-bucketed on that key make the legs shuffle-free
    on the base side). Correctness contract: result ≡
    (L∪ΔL) ⋈ (R∪ΔR) MINUS L ⋈ R — the catalog query value-checks
    that equivalence against an oracle computing the MINUS form.
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_full = base_right.unionByName(delta_right)
    gain_left = delta_left.join(right_full, keys)
    gain_right = base_left.join(delta_right, keys)
    return gain_left.unionByName(gain_right)
