"""Composed ingestion pipelines — the reference's "table job" templates
as library functions.

The reference ships each pipeline as a standalone Glue script:

- CSV → sanitize → parquet (``ingest_csv_datalake``, utils.py:194-197;
  jobs ``table_jobs/lookup_calendar.py``, ``table_jobs/360_view.py``)
- JDBC sources → temp views → SQL → parquet + count recon
  (``table_jobs/nis_policies.py``, the canonical template at
  README.md:67-107)

Here they are callables registered with the in-process ``JobRunner``
(plans/runner.py) instead of Glue jobs; each returns the row count it
wrote, observed during the write itself. That count is the job's own
report only: the recon layer (plans/recon.py) never takes it, and
re-reads what landed in the lake, so a lost or extra row still shows.
"""

from __future__ import annotations

import threading
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.clean import sanitize_columns
from .operators.quality import observed_write
from .sources.readers import read_csv
from .sources.writers import write_parquet

_VIEWS_LOCK = threading.Lock()


def _write_counted(
    df: DataFrame, lake_path: str, partition_by: list[str] | None
) -> int:
    """Parquet overwrite that returns the rows it wrote, counted by an
    ``Observation`` during the write job: no second job, no re-read."""
    return observed_write(
        df,
        lambda d: write_parquet(
            d, lake_path, mode="overwrite", partition_by=partition_by
        ),
        metrics={"n": F.count(F.lit(1))},
    )["n"]


def ingest_csv_to_lake(
    spark: SparkSession,
    csv_path: str,
    lake_path: str,
    ddl: str = "",
    partition_by: list[str] | None = None,
) -> int:
    """S14 composed ingest (utils.py:194-197): CSV scan (inferred or
    DDL-typed, S6/S7) → header sanitization (P4) → parquet overwrite
    (S9). Returns rows written.

    The count is observed on the written frame during the write, so
    neither the CSV nor the landed parquet is scanned a second time;
    with a DDL the whole ingest is one Spark job.
    """
    df = sanitize_columns(read_csv(spark, csv_path, ddl=ddl))
    return _write_counted(df, lake_path, partition_by)


def ingest_query_to_lake(
    spark: SparkSession,
    sources: Mapping[str, DataFrame],
    query: str,
    lake_path: str,
    partition_by: list[str] | None = None,
) -> int:
    """The nis_policies template (table_jobs/nis_policies.py:13-42):
    register each source DataFrame as a temp view, run the SQL, write
    parquet, drop the views, return rows written (observed during the
    write, as in ``ingest_csv_to_lake``).

    ``sources`` maps view name → DataFrame (the reference hard-wired two
    JDBC reads; any reader output works here).

    Temp views are session-global, so two concurrent jobs registering
    the same view name would read each other's data. The views live
    only under ``_VIEWS_LOCK``, until the query is analyzed (the
    analyzed plan no longer needs the names, as in
    ``readers._run_sql_over_view``); the write runs outside it.
    """
    with _VIEWS_LOCK:
        for view, df in sources.items():
            df.createOrReplaceTempView(view)
        try:
            out = spark.sql(query)
            out.schema
        finally:
            for view in sources:
                spark.catalog.dropTempView(view)
    return _write_counted(out, lake_path, partition_by)


def robust_ingest_to_lake(
    spark: SparkSession,
    source_path: str,
    ddl: str,
    lake_path: str,
    quarantine_path: str,
    fingerprint_index_path: str,
    fmt: str = "json",
    content_cols: list[str] | None = None,
    id_col: str = "doc_id",
    run_id: str | None = None,
) -> dict[str, int]:
    """The hardened ingest path, composed from the round-5 pieces:

    1. PERMISSIVE scan with dead-letter capture
       (``read_with_quarantine``) — malformed records keep their raw
       text instead of crashing the job or becoming silent nulls;
    2. bad rows land under ``quarantine_path`` for replay;
    3. clean rows dedup against ALL prior ingests via the persisted
       fingerprint index (``dedup_against_index``);
    4. admitted rows land in the lake with quality metrics observed
       DURING the write (``observed_write`` — zero extra scans);
    5. the admitted fingerprints commit to the index LAST — after the
       lake write — so a crash anywhere mid-run can lose fingerprints
       but never admitted rows.

    With ``run_id`` (a caller-chosen stable id for this batch, e.g.
    the landing-directory name), the run is EXACTLY-ONCE under
    re-execution: quarantine, lake, and index writes all become
    deterministic partition overwrites under
    ``ingest_batch_id=<run_id>/``, and the dedup anti-join reads the
    index excluding the run's own partition — a re-run reconstructs
    the pre-run index state, recomputes the identical admitted set,
    and replaces its own partitions instead of double-appending.
    Never reuse a ``run_id`` for different source data (it would
    overwrite the earlier run's partitions), and don't mix
    ``run_id`` and plain-append mode on the same lake (the layouts
    differ).

    Without ``run_id``, writes are plain appends: the
    lake-before-index ordering above means a failed run re-admits (and
    re-appends) its rows on retry — at-least-once, duplicates possible
    after a mid-run crash, but no loss.

    Returns ``{"clean": n, "quarantined": n, "admitted": n}`` — the
    recon numbers, all from work the pipeline already did.
    """
    from .operators.dedup import dedup_against_index
    from .sources.readers import read_with_quarantine
    from .sources.writers import overwrite_batch_partition

    tagged = read_with_quarantine(spark, source_path, ddl, fmt=fmt)
    # keep the typed columns alongside the raw record: a plan touching
    # ONLY the corrupt column over a raw JSON/CSV scan is disallowed
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and counting from the
    # written table avoids re-scanning the source anyway
    bad = tagged.where(F.col("_is_bad")).drop("_is_bad")
    if run_id is not None:
        write_batch = lambda df, path: overwrite_batch_partition(  # noqa: E731
            df, path, run_id
        )
        exclude = f"ingest_batch_id={run_id}"
    else:
        write_batch = lambda df, path: write_parquet(  # noqa: E731
            df, path, mode="append"
        )
        exclude = None
    write_batch(bad, quarantine_path)
    n_total = tagged.count()
    clean = tagged.where(~F.col("_is_bad")).drop("_raw_record", "_is_bad")
    admitted = dedup_against_index(
        spark, clean, fingerprint_index_path,
        content_cols=content_cols, id_col=id_col,
        exclude_subdir=exclude,
    )
    metrics = observed_write(
        admitted.drop("content_fp"),
        writer_fn=lambda d: write_batch(d, lake_path),
        metrics={"n_rows": F.count(F.lit(1))},
    )
    # fingerprints last: rows are on disk before the index can ever
    # reject a retry of this batch
    write_batch(
        admitted.select("content_fp"), fingerprint_index_path
    )
    # count(*) would prune the projection down to the corrupt-only
    # filter plan (disallowed); aggregating a typed column alongside
    # keeps the scan legal
    n_clean = clean.agg(
        F.count(F.lit(1)).alias("n"), F.count(id_col).alias("_touch")
    ).collect()[0]["n"]
    return {
        "clean": n_clean,
        "quarantined": n_total - n_clean,
        "admitted": int(metrics["n_rows"]),
    }


def vector_ingest_to_index(
    spark: SparkSession,
    batch: "DataFrame",
    index_path: str,
    quarantine_path: str,
    run_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
) -> dict[str, float]:
    """The vector-lake ingest path — the embedding-side capstone that
    mirrors ``robust_ingest_to_lake``:

    1. validation gate (``quantize.validate_embeddings``): wrong-dim /
       null / non-finite / zero-norm vectors go to a per-run
       quarantine partition instead of poisoning distances;
    2. bootstrap on first contact: if no index exists at
       ``index_path``, fit the PQ codebook on this batch and write the
       index with the batch under its own run-id partition (so a
       replayed bootstrap overwrites itself via the append path
       instead of duplicating);
    3. otherwise append: encode ONLY the batch with the index's frozen
       codebook into its own ``ingest_batch_id=<run_id>`` partition
       (replay-idempotent — a re-run re-encodes identically and
       replaces its partition);
    4. drift check: the batch's mean assignment distortion vs the
       baseline recorded at bootstrap — the refit signal.

    Returns recon numbers: ``{"clean": n, "quarantined": n,
    "drift_ratio": r}`` (drift NaN on the bootstrap run). Never reuse
    a ``run_id`` for different data.
    """
    import math

    from .operators.quantize import (
        fit_pq_codebook,
        pq_encode,
        pq_index_drift,
        read_pq_index,
        validate_embeddings,
        write_pq_index,
    )
    from .sources.writers import overwrite_batch_partition

    clean, quarantined = validate_embeddings(batch, vec_col, dim)
    n_bad = quarantined.count()
    if n_bad:
        overwrite_batch_partition(quarantined, quarantine_path, run_id)
    n_clean = clean.count()

    try:
        read_pq_index(spark, index_path)
        bootstrap = False
    except Exception:
        bootstrap = True

    if bootstrap:
        cb = fit_pq_codebook(
            clean, id_col, vec_col, dim=dim, m=m, n_codes=n_codes
        )
        # bootstrap codes land under THIS RUN's partition, not a
        # separate "bootstrap" name: if the run crashes after the
        # index write and is replayed, the replay sees the index,
        # takes the append path, re-encodes identically and OVERWRITES
        # this same partition — without this, a replayed bootstrap
        # would double-index its vectors under two partition names.
        # A replay that crashes EARLIER (mid index write) re-enters
        # this bootstrap path and refits; that refit reproduces the
        # identical codebook because every fit stage is order-free —
        # deterministic min-id init, fixed-point argmin assignment,
        # and a fixed-point-sum centroid refresh (fit_pq_codebook;
        # r6 advice closed by making the refresh order-free rather
        # than weakening this contract).
        write_pq_index(
            pq_encode(clean, cb, id_col, vec_col, dim=dim, m=m),
            cb, index_path, dim=dim, m=m, batch_id=run_id,
        )
        # seed the drift baseline with the bootstrap batch's own
        # distortion so the FIRST append already gets a real ratio
        pq_index_drift(clean, index_path, id_col=id_col,
                       vec_col=vec_col).collect()
        drift = float("nan")
    else:
        _, cb, idim, im = read_pq_index(spark, index_path)
        if idim != dim or im != m:
            raise ValueError(
                f"index at {index_path} is (dim={idim}, m={im}); "
                f"caller passed (dim={dim}, m={m})"
            )
        enc = pq_encode(clean, cb, id_col, vec_col, dim=dim, m=m)
        overwrite_batch_partition(enc, f"{index_path}/codes", run_id)
        row = pq_index_drift(
            clean, index_path, id_col=id_col, vec_col=vec_col
        ).first()
        drift = (
            float(row["drift_ratio"])
            if row["drift_ratio"] is not None
            else float("nan")
        )
    return {
        "clean": n_clean,
        "quarantined": n_bad,
        "drift_ratio": drift,
    }
