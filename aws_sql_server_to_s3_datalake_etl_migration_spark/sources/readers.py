"""Readers — SURVEY.md §2.1 S1–S8.

Every reader returns a plain ``DataFrame`` and keeps the reference's
"optional SQL over the source" hook: pass ``query=`` and the source is
registered as a temp view, the SQL runs over it, and the view is dropped
(reference ``utils.py:121-138``). For JDBC the query is instead pushed
*into the source database* as a derived table (``utils.py:87``) — the
only way to push joins/IN-lists past Spark into the DB.

Scale notes:
- JDBC reads accept partitioning options (``partitionColumn`` /
  ``numPartitions``) so a 100 TB source table fans out across executors
  instead of serializing through one connection.
- Parquet/CSV readers are plain ``spark.read`` — Catalyst handles
  predicate pushdown and column pruning on top.
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _run_sql_over_view(df: DataFrame, query: str, view_name: str) -> DataFrame:
    """Register df as a temp view, run ``query`` (which references
    ``view_name``), drop the view. Reference utils.py:128-131."""
    spark = df.sparkSession
    df.createOrReplaceTempView(view_name)
    try:
        out = spark.sql(query)
        # Force analysis now so dropping the view later is safe; the
        # *data* stays lazy.
        out.schema
        return out
    finally:
        # The analyzed plan no longer needs the view name.
        spark.catalog.dropTempView(view_name)


def _sql_over_source(
    df: DataFrame, query: str, source: str, view_name: str = ""
) -> DataFrame:
    """Run ``query`` over ``df`` registered as a temp view, with a
    per-call unique registration so concurrent reads never collide.

    Temp views are session-global, so two ``JobRunner.run_parallel``
    threads reading same-named paths would otherwise race on
    ``createOrReplaceTempView`` and one job could silently read the
    other's data. The df is always registered under
    ``<derived>_<uuid8>``; the caller's SQL may reference either the
    stable path-derived name (rewritten here on identifier boundaries)
    or a literal ``{table}`` placeholder. An explicit ``view_name`` is
    used verbatim — callers who pass one own its uniqueness.
    """
    if view_name:
        return _run_sql_over_view(df, query, view_name)
    base = _table_name_from_path(source)
    unique = f"{base}_{uuid.uuid4().hex[:8]}"
    if "{table}" in query:
        rewritten = query.format(table=unique)
    else:
        rewritten = re.sub(rf"\b{re.escape(base)}\b", unique, query)
    return _run_sql_over_view(df, rewritten, unique)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    query: str = "",
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    fetchsize: int = 10_000,
) -> DataFrame:
    """JDBC table scan (S1) / pushdown scan (S2).

    Reference ``utils.py:83-104``: full-table read, or an arbitrary SQL
    string wrapped as a derived table ``(query) as temp_table`` so
    joins/filters execute inside the source DB.

    With ``partition_column`` + bounds + ``num_partitions`` the read is
    split into parallel range queries — mandatory for large tables.
    """
    dbtable = f"({query}) as temp_table" if query else table
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", dbtable)
        .option("fetchsize", str(fetchsize))
    )
    if user is not None:
        reader = reader.option("user", user)
    if password is not None:
        reader = reader.option("password", password)
    if driver is not None:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions or 8))
            .option("lowerBound", str(lower_bound or 0))
            .option("upperBound", str(upper_bound or 1_000_000))
        )
    return reader.load()


def read_catalog_table(
    spark: SparkSession, table: str, query: str = ""
) -> DataFrame:
    """Catalog scan (S3) — read a table registered in the session
    catalog / metastore (replaces the reference's Glue DynamicFrame read,
    ``utils.py:107-117``)."""
    df = spark.table(table)
    if query:
        view = (
            f"src_{re.sub(r'[^A-Za-z0-9_]', '_', table)}"
            f"_{uuid.uuid4().hex[:8]}"  # unique per call: no cross-thread
            # collisions on the session-global view namespace
        )
        return _run_sql_over_view(df, query.format(table=view), view)
    return df


def read_parquet(
    spark: SparkSession,
    path: str,
    query: str = "",
    view_name: str = "",
    merge_schema: bool = False,
) -> DataFrame:
    """Parquet lake scan + optional SQL-over-view (S4).

    Reference ``utils.py:121-138``: derive the view name from the last
    path segment unless given; if ``query`` is supplied it must reference
    that view name.

    ``merge_schema=True`` unions the schemas of all files (columns added
    by later incremental appends surface as nulls on old files) — off by
    default because it reads every footer, which is a real cost on a
    100 TB table; flip it per-read when evolution is expected.
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(path)
    if not query:
        return df
    return _sql_over_source(df, query, path, view_name)


# Replayed-snapshot cache: a table's live-file set AT A VERSION is
# immutable, so replays repeat byte-identical work — and one MERGE
# alone replays twice (snapshot read + tombstone set), the following
# checkpoint a third time. Keyed by (table, version, log fingerprint):
# the fingerprint is the (name, size, mtime) listing of _delta_log, so
# any commit, truncation, or out-of-band edit changes the key and the
# stale entry is never served. Bounded LRU; values are DEEP copies in
# both directions (the caller may mutate the adds — including nested
# partitionValues/stats — and the cache must not see it).
_SNAPSHOT_CACHE: dict[tuple, dict[str, dict]] = {}
_SNAPSHOT_CACHE_MAX = 16


def _delta_live_adds(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partition_filter: dict[str, str] | None = None,
) -> dict[str, dict] | None:
    """Replay ``path/_delta_log`` and return the table's live data
    files as ``{relative_path: add_action_fields}``, or ``None`` when
    no transaction log exists (plain parquet dir). With ``version``,
    replay only up to that commit — time travel (``versionAsOf``).

    This is the same driver-side protocol Delta itself runs: start from
    the newest parquet checkpoint at-or-below the target version if
    any, then apply the JSON commits above it in version order — each
    ``add`` action inserts a file, each ``remove`` tombstones it. The
    log is metadata (KBs per commit), so a driver pass is the
    scale-correct move; the *data* files are never touched here.
    Successful replays are memoized per (table, version, log listing)
    — see ``_SNAPSHOT_CACHE``.

    ``partition_filter`` maps partition column -> required string
    value (Delta stores partitionValues as strings); adds whose
    ``partitionValues`` don't match every entry are dropped AFTER
    replay but before any data file is opened — partition pruning at
    the file-list level. At 100 TB this is the difference between a
    scan of one date partition and a scan of the lake.
    """
    base = path.rstrip("/")
    log_dir = base + "/_delta_log"
    jvm = spark._jvm
    hlog = jvm.org.apache.hadoop.fs.Path(log_dir)
    fs = hlog.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hlog):
        return None
    entries = [
        (
            st.getPath().getName(),
            int(st.getLen()),
            int(st.getModificationTime()),
        )
        for st in fs.listStatus(hlog)
    ]
    names = [e[0] for e in entries]
    commits = sorted(
        int(m.group(1))
        for n in names
        if (m := re.fullmatch(r"(\d{20})\.json", n))
    )
    checkpoints = sorted(
        {
            int(m.group(1))
            for n in names
            if (m := re.match(r"(\d{20})\.checkpoint", n))
            and n.endswith(".parquet")
        }
    )
    if not commits and not checkpoints:
        return None  # bare _delta_log dir — not a committed table
    latest = max(commits + checkpoints)
    if version is not None:
        if version < 0 or version > latest:
            raise ValueError(
                f"version {version} does not exist for Delta table at "
                f"{path} (latest is {latest})"
            )
        commits = [v for v in commits if v <= version]
        checkpoints = [v for v in checkpoints if v <= version]
        reachable = max(commits + checkpoints, default=-1)
        if reachable < version:
            # the commits between the newest at-or-below witness and
            # the requested version were truncated — replaying would
            # silently return OLDER state labeled as `version`
            raise ValueError(
                f"version {version} of Delta table at {path} is no "
                f"longer reachable: the log is truncated above "
                f"version {reachable} (nearest retained snapshot) — "
                "time travel below a checkpoint only survives until "
                "truncate_log"
            )
    target_v = latest if version is None else version
    cache_key = (base, target_v, tuple(sorted(entries)))
    # Deep copies both ways — top-level dict copies would share the
    # nested partitionValues/stats objects with the cache, so any
    # consumer mutating them would silently poison every later replay
    # of this snapshot (ADVICE r9). json round trip over
    # metadata-sized dicts.
    cached = _SNAPSHOT_CACHE.get(cache_key)
    if cached is not None:
        live = json.loads(json.dumps(cached))
    else:
        live = _replay_log(
            spark, path, log_dir, commits, checkpoints
        )
        if len(_SNAPSHOT_CACHE) >= _SNAPSHOT_CACHE_MAX:
            _SNAPSHOT_CACHE.pop(next(iter(_SNAPSHOT_CACHE)))
        _SNAPSHOT_CACHE[cache_key] = json.loads(json.dumps(live))
    if partition_filter:
        live = {
            p: a
            for p, a in live.items()
            if all(
                (a.get("partitionValues") or {}).get(k) == v
                for k, v in partition_filter.items()
            )
        }
    return live


def _replay_log(
    spark: SparkSession,
    path: str,
    log_dir: str,
    commits: list[int],
    checkpoints: list[int],
) -> dict[str, dict]:
    """The uncached replay: newest covering checkpoint (one parquet
    read + ONE collect for protocol/add/remove together), then the
    JSON commits above it, read driver-side — commit files are KBs
    and bounded in number by the checkpoint cadence, so a Spark job
    per replay (the old ``wholeTextFiles``) was pure scheduler
    overhead."""
    live: dict[str, dict] = {}
    start = -1
    if checkpoints:
        v = checkpoints[-1]
        # the parsed-checkpoint cache (delta_log.checkpoint_actions)
        # makes re-replays across commits one dict lookup instead of a
        # Spark job — a checkpoint file is immutable once published
        from .delta_log import checkpoint_actions

        acts = checkpoint_actions(spark, log_dir, v)
        if acts["protocol"] is not None:
            _gate_reader_protocol(acts["protocol"], path)
        # spec-complete checkpoints carry the full add fields
        # (partitionValues/size/modificationTime); pre-round-8 ones
        # held only add.path — the parse keeps whatever is present.
        for a in acts["adds"].values():
            _reject_deletion_vector(a, path)
            live[a["path"]] = a
        # A checkpoint is reconciled state, but the Delta protocol keeps
        # `remove` tombstones in it until vacuum retention expires; a
        # checkpoint written after log truncation can therefore carry a
        # tombstone for a file an earlier (now-truncated) commit added.
        # Honor them — otherwise replay resurrects removed files.
        for p in acts["removes"]:
            live.pop(p, None)
        start = v
    todo = [v for v in commits if v > start]
    if todo:
        # The Delta protocol commits versions contiguously; a gap means
        # the log was partially synced/truncated without a covering
        # checkpoint. Replaying across it would silently skip a commit's
        # adds/removes — refuse instead of returning half a table.
        # without a checkpoint the replay must start at version 0
        first = start + 1 if checkpoints else 0
        expected = list(range(first, first + len(todo)))
        if todo != expected:
            raise ValueError(
                f"Delta log at {path} is not contiguous above version "
                f"{start} (found commits {todo}); refusing to replay a "
                "torn log — restore the missing commit or a checkpoint"
            )
        from .delta_log import read_commit_text

        for v in todo:
            suffix = f"{v:020d}.json"
            content = read_commit_text(spark, f"{log_dir}/{suffix}")
            for i, line in enumerate(content.splitlines(), start=1):
                if not line.strip():
                    continue
                try:
                    action = json.loads(line)
                except json.JSONDecodeError as e:
                    # A torn write (crashed single writer, partial copy)
                    # truncates the last line. Applying the commit's
                    # earlier lines but not the torn one would expose a
                    # state no writer ever committed — reject the table.
                    raise ValueError(
                        f"torn or corrupt Delta commit {suffix} at "
                        f"line {i} of table {path}: {e}"
                    ) from e
                if "add" in action:
                    _reject_deletion_vector(action["add"], path)
                    live[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    live.pop(action["remove"]["path"], None)
                elif "protocol" in action:
                    _gate_reader_protocol(action["protocol"], path)
    return live


_STATS_OPS = ("<", "<=", ">", ">=", "=", "==")


def _stats_admit(add: dict, predicates) -> bool:
    """Data skipping from Delta ``add.stats``: False only when the
    file's footer bounds PROVE no row can satisfy every predicate —
    absent/partial/incomparable stats always admit (skipping is an
    optimization, never a correctness dependency). An all-null column
    in the file fails any comparison predicate on it (SQL three-valued
    logic: NULL op v is never TRUE)."""
    stats_s = add.get("stats")
    if not stats_s:
        return True
    try:
        stats = json.loads(stats_s)
    except (TypeError, ValueError):
        return True
    nrec = stats.get("numRecords")
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    nulls = stats.get("nullCount") or {}
    for col, op, val in predicates:
        if nrec is not None and nulls.get(col) == nrec and nrec > 0:
            return False
        lo, hi = mins.get(col), maxs.get(col)
        if lo is None or hi is None:
            continue
        try:
            if op in ("=", "=="):
                if val < lo or val > hi:
                    return False
            elif op == ">" and not hi > val:
                return False
            elif op == ">=" and not hi >= val:
                return False
            elif op == "<" and not lo < val:
                return False
            elif op == "<=" and not lo <= val:
                return False
        except TypeError:
            continue  # incomparable literal type: keep the file
    return True


def _delta_live_files(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partition_filter: dict[str, str] | None = None,
    stats_filter: list[tuple] | None = None,
) -> list[str] | None:
    """Absolute paths of the table's live data files (see
    ``_delta_live_adds`` for the replay protocol), or ``None`` when
    ``path`` has no transaction log. ``stats_filter`` drops files
    whose footer stats prove them predicate-free (``_stats_admit``)."""
    adds = _delta_live_adds(
        spark, path, version=version, partition_filter=partition_filter
    )
    if adds is None:
        return None
    base = path.rstrip("/")
    return [
        _abs_add_path(base, p)
        for p, a in adds.items()
        if not stats_filter or _stats_admit(a, stats_filter)
    ]


# Reader features this replay implementation actually honors. Delta's
# protocol action exists precisely so an engine that does NOT
# understand a feature refuses loudly instead of misreading — e.g. a
# table with deletion vectors read by a DV-ignorant replayer would
# silently RESURRECT deleted rows.
_SUPPORTED_READER_FEATURES = {"columnMapping", "timestampNtz"}


def _gate_reader_protocol(proto: dict, path: str) -> None:
    """Refuse tables whose protocol demands reader capabilities this
    replay does not implement (spec: "readers must reject tables with
    a higher minReaderVersion / unknown readerFeatures")."""
    mrv = int(proto.get("minReaderVersion", 1))
    if mrv <= 2:
        return
    feats = set(proto.get("readerFeatures") or [])
    unsupported = sorted(feats - _SUPPORTED_READER_FEATURES)
    if mrv > 3 or unsupported:
        raise ValueError(
            f"Delta table at {path} requires reader features this "
            f"engine does not implement "
            f"(minReaderVersion={mrv}, unsupported={unsupported}); "
            "refusing to misread it"
        )


def _reject_deletion_vector(add: dict, path: str) -> None:
    """A non-null add.deletionVector means some of the file's rows are
    logically deleted — scanning the whole file would resurrect them."""
    if add.get("deletionVector"):
        raise ValueError(
            f"Delta table at {path} carries deletion vectors "
            f"(file {add.get('path')}); this engine scans whole files "
            "and would resurrect deleted rows — refusing"
        )


def _abs_add_path(base: str, p: str) -> str:
    """Resolve a Delta add/remove path. The spec allows RELATIVE paths
    (inside the table root — every file this engine stages) or
    ABSOLUTE URIs — which SHALLOW CLONE commits use to reference the
    source table's files without copying a byte."""
    return p if p.startswith("/") or "://" in p else f"{base}/{p}"


def _hive_root(f: str) -> str:
    """The partition root of a data file path: everything above its
    trailing ``key=value`` directory chain. For unpartitioned layouts
    this is just the file's directory. Used as the per-group basePath
    when a snapshot mixes files from several roots (shallow clones)."""
    parts = f.split("/")
    j = len(parts) - 1  # filename index
    while j > 0 and re.fullmatch(r"[^/=]+=[^/]*", parts[j - 1]):
        j -= 1
    return "/".join(parts[:j]).rstrip("/") or "/"


def _scan_parquet_rooted(
    spark: SparkSession,
    base: str,
    files: list[str],
    schema=None,
    file_col: str | None = None,
) -> DataFrame:
    """basePath-aware parquet scan that tolerates live files OUTSIDE
    the table root (shallow-clone absolute adds). Files under ``base``
    scan with ``basePath=base`` as one group; foreign files group by
    their own Hive partition root — each group keeps its partition
    columns via directory discovery — and the groups union by name.
    One group (the overwhelmingly common case) is exactly the old
    single scan. ``file_col`` captures ``_metadata.file_path`` into a
    real column PER GROUP — the pseudo-column does not resolve through
    a union."""
    prefix = base.rstrip("/") + "/"
    groups: dict[str, list[str]] = {}
    for f in files:
        root = base if f.startswith(prefix) else _hive_root(f)
        groups.setdefault(root, []).append(f)
    out = None
    for root in sorted(groups):
        reader = spark.read.option("basePath", root)
        if schema is not None:
            reader = reader.schema(schema)
        part = reader.parquet(*groups[root])
        if file_col:
            part = part.withColumn(
                file_col, F.col("_metadata.file_path")
            )
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    return out


def _read_live_with_declared_schema(
    spark: SparkSession,
    path: str,
    files: list[str],
    version: int | None,
) -> DataFrame:
    """Scan the live files under the metaData schema AS OF the
    requested version. Passing the declared schema explicitly does
    two jobs at once: (1) schema-evolved tables read pre-evolution
    files with the new columns as NULL (Delta mergeSchema read
    semantics) WITHOUT the footer-sampling mergeSchema pass — at
    100 TB that pass alone opens every file; (2) time travel below a
    schema-evolution commit shows the OLD shape, because the
    metaData lookup is version-bounded. Tables without reachable
    metaData (plain fallback lakes predating spec-complete
    checkpoints) keep the inference read."""
    base = path.rstrip("/")
    md = None
    try:
        from .delta_log import latest_metadata

        md = latest_metadata(spark, base, version=version)
    except Exception:
        md = None
    if md and md.get("schemaString"):
        from pyspark.sql import types as T

        from .delta_log import physical_names

        full = T.StructType.fromJson(json.loads(md["schemaString"]))
        part_cols = set(md.get("partitionColumns") or [])
        pmap = physical_names(md)
        data_fields = [f for f in full.fields if f.name not in part_cols]
        # scan under PHYSICAL field names (identity without column
        # mapping), alias back to the logical shape — the zero-rewrite
        # RENAME COLUMN read path
        phys = T.StructType(
            [
                T.StructField(pmap[f.name], f.dataType, f.nullable)
                for f in data_fields
            ]
        )
        df = _scan_parquet_rooted(spark, base, files, schema=phys)
        # partition columns come back via directory discovery; select
        # restores the declared field order for a stable shape
        return df.select(
            *[
                F.col(f.name)
                if f.name in part_cols
                else F.col(pmap[f.name]).alias(f.name)
                for f in full.fields
            ]
        )
    return _scan_parquet_rooted(spark, base, files)


def read_delta(
    spark: SparkSession,
    path: str,
    query: str = "",
    view_name: str = "",
    version: int | None = None,
    partition_filter: dict[str, str] | None = None,
    timestamp_ms: int | None = None,
    stats_filter: list[tuple] | None = None,
) -> DataFrame:
    """Delta lake scan + optional SQL-over-view (S5, ``utils.py:177-192``).

    Replays ``_delta_log`` with the package's own log engine
    (``_delta_live_files``) and scans only the files the log records
    as live — a table that has seen MERGE/DELETE/compaction keeps its
    semantics instead of resurrecting tombstoned rows. A path with no
    transaction log at all is read as a plain parquet directory. An
    empty live set (fully deleted table) reads as zero rows under the
    metaData schema, never as a scan of dead files.

    ``version`` requests time travel (``versionAsOf``): the log is
    replayed up to that commit; a plain parquet dir (no log) cannot
    time-travel and raises.

    ``partition_filter`` ({column: string_value}) prunes a partitioned
    table to matching partitions: non-matching files are dropped
    during log replay (no data file of another partition is even
    listed). Empty result after a filter is a normal empty frame, not
    an error.

    ``timestamp_ms`` requests ``timestampAsOf`` time travel (epoch
    millis): resolved to the latest version whose commit file mtime is
    at or before the instant (delta-spark's rule), then read as that
    version. Mutually exclusive with ``version``.

    ``stats_filter`` ([(column, op, literal)], op in <, <=, >, >=, =)
    is Delta data skipping from the log's per-file ``add.stats``:
    files whose min/max bounds prove no row can match are dropped
    from the scan's FILE LIST (they never appear as inputs),
    and the predicates are ALSO applied as a residual ``WHERE`` so the
    result is exactly scan-then-filter — stats only ever prune, never
    decide. At 100 TB a selective predicate on a clustered/sorted
    column reads the few files whose ranges overlap, not the lake.
    ISO-format date/timestamp literals compare correctly as strings.
    """
    for p in stats_filter or []:
        if len(p) != 3 or p[1] not in _STATS_OPS:
            raise ValueError(
                f"stats_filter entries are (column, op, literal) with "
                f"op in {_STATS_OPS}; got {p!r}"
            )
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError(
                "pass either version or timestamp_ms, not both"
            )
        from .delta_log import version_at_timestamp

        version = version_at_timestamp(spark, path, timestamp_ms)
    stats_filter_phys = stats_filter
    if stats_filter:
        # add.stats carry PHYSICAL field names; the FILE-PRUNING copy
        # of the predicate is translated on column-mapped tables
        # (identity otherwise), while the residual WHERE below keeps
        # the caller's logical names — the scanned frame is logical
        from .delta_log import _mapping_enabled, latest_metadata
        from .delta_log import physical_names as _pn

        _md = latest_metadata(spark, path, version=version)
        if _md is not None and _mapping_enabled(_md):
            _pm = _pn(_md)
            stats_filter_phys = [
                (_pm.get(c, c), op, val) for c, op, val in stats_filter
            ]
    filtered_empty = False
    files = _delta_live_files(
        spark,
        path,
        version=version,
        partition_filter=partition_filter,
        stats_filter=stats_filter_phys,
    )
    if files is None:
        if version is not None:
            raise ValueError(
                f"{path} has no _delta_log; cannot time-travel a "
                "plain parquet directory"
            )
        df = spark.read.parquet(path)
    elif not files:
        if partition_filter or stats_filter:
            # a pruned-to-nothing read is empty, not broken: build
            # the zero-row frame through the SAME declared-schema
            # path as a matching read, so column-mapped (renamed /
            # dropped) and schema-evolved tables keep their LOGICAL
            # shape — a raw limit(0) scan would leak physical field
            # names / a stale shape for the empty case only
            all_files = _delta_live_files(spark, path, version=version)
            if all_files:
                df = _read_live_with_declared_schema(
                    spark, path, all_files, version
                ).limit(0)
                filtered_empty = True
        if not filtered_empty:
            # a table whose every row was deleted is EMPTY, not
            # broken — delta-spark returns zero rows with the
            # metaData schema, and so do we (the schemaString is
            # always reachable: commit 0 or a spec-complete
            # checkpoint carries it)
            from pyspark.sql.types import StructType

            from .delta_log import latest_metadata

            md = latest_metadata(spark, path, version=version)
            if md is None:
                raise ValueError(
                    f"Delta table at {path} has no live files and "
                    "no reachable metaData; cannot reconstruct "
                    "even an empty snapshot"
                )
            df = spark.createDataFrame(
                [],
                StructType.fromJson(json.loads(md["schemaString"])),
            )
            filtered_empty = True
    else:
        # basePath keeps Hive-style partition columns visible when
        # the live files sit under key=value directories; harmless
        # for unpartitioned layouts
        df = _read_live_with_declared_schema(
            spark, path, files, version
        )
    if stats_filter and not filtered_empty:
        # residual predicate: skipping only pruned files whose bounds
        # PROVE emptiness — admitted files still carry non-matching
        # rows, and the WHERE (pushed into the parquet scan) drops
        # them, making the result exactly scan-then-filter
        ops = {
            "<": "__lt__", "<=": "__le__", ">": "__gt__",
            ">=": "__ge__", "=": "__eq__", "==": "__eq__",
        }
        for col, op, val in stats_filter:
            df = df.where(getattr(F.col(col), ops[op])(F.lit(val)))
    if not query:
        return df
    return _sql_over_source(df, query, path, view_name)


def read_csv(
    spark: SparkSession,
    path: str,
    ddl: str = "",
    header: bool = True,
    multi_line: bool = False,
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV scan — inferred schema (S6) or declared-schema (S7).

    The reference's declared path spliced the DDL into a transient
    ``CREATE TABLE ... USING csv`` (``utils.py:142-166``); here the DDL
    column list is handed to ``spark.read.schema(ddl)`` directly, which
    avoids the fragile string surgery and keeps the scan pruneable.
    ``ddl`` accepts either a bare column list (``"a INT, b STRING"``) or
    a full ``CREATE TABLE t (...)`` statement, whose body is extracted.

    ``multi_line`` defaults to **False**: multiLine CSV parsing makes
    each file unsplittable (the whole file parses on ONE task), which
    serializes big-file scans at scale. The reference always reads
    multiLine (``utils.py:170-174``) — pass ``multi_line=True`` to get
    that behavior for quoted-newline data; prefer splitting such feeds
    into many files.
    """
    reader = (
        spark.read.option("header", str(header).lower())
        .option("multiLine", str(multi_line).lower())
    )
    if timestamp_format:
        # both flavors — TIMESTAMP_NTZ columns ignore timestampFormat
        # (same Spark quirk as JSON; see write_json)
        reader = reader.option("timestampFormat", timestamp_format)
        reader = reader.option("timestampNTZFormat", timestamp_format)
    if ddl:
        reader = reader.schema(_ddl_columns(ddl))
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    ddl: str = "",
    multi_line: bool = False,
    timestamp_format: str | None = None,
) -> DataFrame:
    """JSON-lines scan — declared schema (preferred) or inferred.

    Schema inference over JSON costs a FULL extra pass of the data
    before the real scan; at lake scale always pass ``ddl`` (same
    column-list or CREATE TABLE form as ``read_csv``). With a declared
    schema the reader prunes to the referenced fields (ReadSchema) and
    corrupt records surface in ``_corrupt_record`` instead of failing
    the scan. ``multi_line`` (whole-file JSON documents) makes files
    unsplittable — same caveat as CSV; keep it off for JSONL lakes.
    """
    reader = spark.read.option("multiLine", str(multi_line).lower())
    if timestamp_format:
        # both timestamp flavors: TIMESTAMP_NTZ columns (the parquet-
        # sourced naive kind) are parsed via timestampNTZFormat and
        # ignore timestampFormat entirely
        reader = reader.option("timestampFormat", timestamp_format)
        reader = reader.option("timestampNTZFormat", timestamp_format)
    if ddl:
        reader = reader.schema(_ddl_columns(ddl))
    return reader.json(path)


def read_orc(
    spark: SparkSession,
    path: str,
    query: str = "",
    view_name: str = "",
) -> DataFrame:
    """ORC scan + optional SQL-over-view — same surface as
    ``read_parquet``. ORC is the other splittable columnar format with
    predicate pushdown and column pruning built into the Spark reader;
    lakes migrating from Hive/Hadoop commonly hold ORC history next to
    new parquet writes, and both sides of that migration get the same
    pushdown posture here.
    """
    df = spark.read.orc(path)
    if not query:
        return df
    return _sql_over_source(df, query, path, view_name)


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    ddl: str,
    fmt: str = "json",
    corrupt_col: str = "_raw_record",
) -> DataFrame:
    """Declared-schema JSON/CSV scan that *keeps* malformed records
    instead of nulling them silently or failing the scan: PERMISSIVE
    mode with the raw text of each unparseable record captured in
    ``corrupt_col`` (null for clean rows), plus an ``_is_bad`` flag.

    Pair with ``write_quarantined`` (writers.py) to land both streams
    in one pass: clean rows become the lake table, bad rows keep their
    raw bytes for replay after the producer is fixed — the dead-letter
    pattern the reference's control-file loads had no answer for
    (a malformed CSV row either crashed the Glue job or silently
    became nulls; SURVEY.md §2.11).

    Spark caveat encoded here: a query referencing ONLY the corrupt
    column is disallowed by the parser-pushdown rule, so ``_is_bad``
    derives from it immediately and downstream code filters on the
    flag, never on the raw column alone.
    """
    if fmt not in ("json", "csv"):
        raise ValueError(f"quarantine ingest supports json/csv, got {fmt!r}")
    schema = _ddl_columns(ddl) + f", {corrupt_col} STRING"
    reader = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if fmt == "csv":
        reader = reader.option("header", "true")
    df = reader.format(fmt).load(path)
    return df.withColumn("_is_bad", F.col(corrupt_col).isNotNull())


def read_table_dir(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Convenience: read one synthetic test table
    (``{sf_dir}/{table}.parquet``)."""
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_sf_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table under ``sf_dir`` as a temp view so SQL
    entry points can reference them by name."""
    for t in ALL_TABLES:
        read_table_dir(spark, sf_dir, t).createOrReplaceTempView(t)


def _table_name_from_path(path: str) -> str:
    """Last path segment, sanitized to a SQL identifier (F2,
    ``utils.py:123``). Deterministic — this is the name user SQL
    references; ``_sql_over_source`` appends the per-call uniquifier."""
    base = path.rstrip("/").rsplit("/", 1)[-1]
    base = re.sub(r"\.(parquet|csv|delta)$", "", base)
    base = re.sub(r"[^A-Za-z0-9_]", "_", base) or "src"
    return f"t_{base}" if base[0].isdigit() else base


_CREATE_TABLE_RE = re.compile(
    r"create\s+table\s+[\w.`\"]+\s*\((?P<cols>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _ddl_columns(ddl: str) -> str:
    """Extract the column list from a CREATE TABLE statement, or pass a
    bare column list through."""
    m = _CREATE_TABLE_RE.search(ddl.strip().rstrip(";"))
    return m.group("cols").strip() if m else ddl.strip()
