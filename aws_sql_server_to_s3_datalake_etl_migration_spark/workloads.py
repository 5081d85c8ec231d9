"""Query catalog: the driver-checked capability surface.

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame``
with an equivalent DuckDB oracle SQL string over the same parquet tables
(SURVEY.md §5 oracle-differential strategy). Registered by
``__spark_entry__.py``.

Cross-engine determinism rules (so order-insensitive value hashes match):

- Column names are aliased identically on both sides.
- SUM/AVG over doubles is order-dependent in the last bits, so monetary
  aggregates go through exact DECIMAL(18,4) accumulation and are cast
  back to DOUBLE afterwards — bit-identical across engines.
- AVG is expressed as exact-decimal SUM divided by COUNT (DuckDB's
  native AVG on decimals falls back to float accumulation).
- Any top-k / window ordering carries a unique tiebreak column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .sources.readers import read_table_dir

from .registry import QueryFn, oracles, queries, register  # noqa: F401


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table_dir(spark, sf_dir, name)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table and expose two normalized time columns,
    whatever physical type the runtime hands back for ``ts``:

    - ``ts``      TimestampType (session TZ is UTC, session.py)
    - ``ts_ns``   int64 epoch-nanos for lossless integer time logic

    Runtimes differ: older Sparks honoring
    ``spark.sql.legacy.parquet.nanosAsLong`` surface parquet timestamps
    as raw int64 nanos (``bigint``); Spark >= 4.x reads the testdata's
    TIMESTAMP(MICROS, isAdjustedToUTC=false) footer as ``timestamp_ntz``
    and ignores that conf. Branch on the *observed* dtype, not on conf
    values — confs can be set yet dead.
    """
    df = read_table_dir(spark, sf_dir, "events")
    ts_dtype = dict(df.dtypes)["ts"]
    if ts_dtype == "bigint":
        # nanosAsLong path: ts is raw epoch-nanos. Integer `div`, NOT
        # floor(ts/1000): float division of int64 nanos (~1.7e18)
        # exceeds double's 2^53 mantissa and lands a micro off.
        return df.withColumn("ts_ns", F.col("ts").cast("long")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # timestamp / timestamp_ntz path: micros precision end-to-end, so
    # unix_micros * 1000 is the exact epoch-nanos (matches DuckDB's
    # epoch_ns(ts) bit-for-bit with a UTC session TZ).
    ts = F.col("ts").cast("timestamp")
    return df.withColumn(
        "ts_ns", F.unix_micros(ts) * F.lit(1000).cast("long")
    ).withColumn("ts", ts)


def _dec(col, scale: int = 4):
    """Exact-accumulation helper: double -> DECIMAL(18,scale)."""
    return F.col(col).cast(f"decimal(18,{scale})") if isinstance(col, str) else col.cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# Flagship: the reference's canonical ingestion query
# (table_jobs/nis_policies.py:21-35 — fact JOIN dim JOIN parent-dim with an
# IN-list filter, star-projection of the fact side). TPC-H mapping per
# FIXTURES.md F1/F2: orders -> policies, customer -> organisations,
# nation -> parent organisations.
# ---------------------------------------------------------------------------

FLAGSHIP_NATION_KEYS = [0, 3, 5, 7, 8, 11, 14, 17, 19, 22, 24]


@register(
    "flagship_policies_ingest",
    f"""
    SELECT o.*
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE n.n_nationkey IN ({', '.join(map(str, FLAGSHIP_NATION_KEYS))})
    """,
)
def flagship_policies_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nis_policies-shaped ingest (J1+J2+P1+P5).

    Spark-first plan: both dim hops only *restrict* the fact side (only
    ``o.*`` is projected, and customer/nation keys are unique), so the
    dims collapse into one semi-join on customer keys. Only the genuinely
    bounded side (nation, ≤25 rows) carries a broadcast hint; the
    customer-derived side grows linearly with SF (~44% of all custkeys
    under the 11-nation IN-list), so it is left un-hinted — AQE
    broadcasts it at small SF and falls back to a shuffled semi-join at
    corpus scale instead of OOMing a forced build side. That adaptive
    plan is the one that survives 100 TB of orders.
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").where(
        F.col("n_nationkey").isin(FLAGSHIP_NATION_KEYS)
    )
    eligible_custs = customer.join(
        F.broadcast(nation),
        customer.c_nationkey == nation.n_nationkey,
        "inner",
    ).select("c_custkey")
    return orders.join(
        eligible_custs,
        orders.o_custkey == eligible_custs.c_custkey,
        "left_semi",
    )


# ---------------------------------------------------------------------------
# Aggregations (§2.4 + §7 step 8)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregation (A1/A2 generalized to GROUP
    BY). Partial aggregation (map-side combine) happens automatically;
    the shuffle carries only |groups| x |aggs| rows."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp")
    )
    disc_price = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            (
                F.sum(_dec("l_quantity")).cast("double")
                / F.count("l_quantity")
            ).alias("avg_qty"),
            (
                F.sum(_dec("l_discount")).cast("double")
                / F.count("l_discount")
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "global_watermark_max",
    "SELECT MAX(o_orderkey) AS max_pk, COUNT(*) AS n_rows FROM orders",
)
def global_watermark_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2: global MAX (the incremental-load watermark,
    utils.py:219) and COUNT (recon, reporting_utils.py:68-69)."""
    return _t(spark, sf_dir, "orders").agg(
        F.max("o_orderkey").alias("max_pk"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "group_distinct_counts",
    """
    SELECT
      o_orderpriority,
      COUNT(DISTINCT o_custkey) AS n_custs,
      COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def group_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + COUNT(DISTINCT) (§7 step 8 operator surface)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Joins beyond the flagship (§2.3 + full join matrix, §7 step 8)
# ---------------------------------------------------------------------------


@register(
    "semi_join_active_customers",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — the idiomatic rewrite of the reference's
    project-one-side inner join (SURVEY.md §2.3 J2)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "anti_join_idle_customers",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (customers with no high-value orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "outer_join_nation_order_stats",
    """
    SELECT
      n.n_name,
      COUNT(o.o_orderkey) AS n_orders,
      CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS total_spend
    FROM nation n
    LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY n.n_name
    """,
)
def outer_join_nation_order_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER join chain preserving empty nations, then grouped agg.
    The per-nation aggregate (≤25 rows, bounded) is broadcast; the
    orders ⋈ customer join is un-hinted — both sides are linear in SF,
    so AQE picks the strategy."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    # No hint on customer: the full roster grows linearly with scale
    # factor, so AQE must pick the strategy (broadcast while it
    # measures small, shuffle join at 100×). See _BROADCAST_RULE in
    # workloads_analytics.py.
    enriched = o.join(
        c, o.o_custkey == c.c_custkey, "inner"
    ).select("c_nationkey", "o_orderkey", "o_totalprice")
    per_nation = enriched.groupBy("c_nationkey").agg(
        F.count("o_orderkey").alias("_cnt"),
        F.sum(_dec("o_totalprice")).alias("_spend"),
    )
    return (
        n.join(
            F.broadcast(per_nation),
            n.n_nationkey == per_nation.c_nationkey,
            "left",
        )
        .groupBy("n_name")
        .agg(
            F.sum(F.coalesce(F.col("_cnt"), F.lit(0))).alias("n_orders"),
            F.coalesce(F.sum("_spend"), F.lit(0).cast("decimal(18,4)"))
            .cast("double")
            .alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# Sort / limit / window / set ops (§2.5 — absent in the reference,
# required by the operator-surface contract)
# ---------------------------------------------------------------------------


@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT — Spark plans TakeOrderedAndProject (per-
    partition top-k then a k-row merge on the driver; no global sort).
    Unique tiebreak (o_orderkey) makes the row set deterministic."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


@register(
    "window_top_orders_per_segment",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn
    FROM (
      SELECT
        c.c_mktsegment,
        o.o_orderkey,
        o.o_totalprice,
        ROW_NUMBER() OVER (
          PARTITION BY c.c_mktsegment
          ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
        ) AS rn
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    WHERE rn <= 5
    """,
)
def window_top_orders_per_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Window function: ROW_NUMBER per group with deterministic
    ordering, then rank filter (top-5 orders per market segment)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    )
    return (
        # Un-hinted full customer roster: AQE decides (broadcast at
        # small SF, shuffle join at scale). See _BROADCAST_RULE.
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
    )


@register(
    "set_ops_customer_cohorts",
    """
    WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT o_custkey, 'both' AS cohort FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
    UNION ALL
    SELECT o_custkey, 'f_only' AS cohort FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
    """,
)
def set_ops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: INTERSECT / EXCEPT / UNION ALL composed."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    both = a.intersect(b).withColumn("cohort", F.lit("both"))
    f_only = a.subtract(b).withColumn("cohort", F.lit("f_only"))
    return both.unionByName(f_only)


@register(
    "rollup_order_counts",
    """
    SELECT
      o_orderstatus,
      o_orderpriority,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (status -> priority -> grand total)."""
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


@register(
    "cube_lineitem_flags",
    """
    SELECT
      l_returnflag,
      l_linestatus,
      COUNT(*) AS n_items
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the two lineitem flags."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )


# ---------------------------------------------------------------------------
# Incremental-load semantics (§2.7 M1), SQL-checkable formulation
# ---------------------------------------------------------------------------

WATERMARK_CUTOFF = "1997-01-01 00:00:00"


@register(
    "incremental_new_rows",
    f"""
    SELECT * FROM orders
    WHERE o_orderkey > (
      SELECT MAX(o_orderkey) FROM orders
      WHERE o_orderdate < TIMESTAMP '{WATERMARK_CUTOFF}'
    )
    """,
)
def incremental_new_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 high-watermark filter: rows of the incoming table whose pk
    exceeds the lake table's max pk (utils.py:219-220). The "lake" here
    is the orders slice before the cutoff date."""
    from .operators.incremental import new_rows_above_watermark

    orders = _t(spark, sf_dir, "orders")
    lake = orders.where(
        F.col("o_orderdate") < F.lit(WATERMARK_CUTOFF).cast("timestamp")
    )
    return new_rows_above_watermark(orders, lake, "o_orderkey")


# ---------------------------------------------------------------------------
# Scalar string/date functions over events (§2.6 surface)
# ---------------------------------------------------------------------------


@register(
    "events_scalar_functions",
    """
    SELECT
      event_id,
      UPPER(event_type) AS event_type_u,
      YEAR(ts) AS y,
      MONTH(ts) AS m,
      DAY(ts) AS d,
      LENGTH(props) AS props_len,
      SUBSTRING(event_type, 1, 3) AS type_prefix,
      REPLACE(event_type, '_', '.') AS type_dotted,
      CAST(value * 100 AS DOUBLE) AS value_cents
    FROM events
    WHERE event_id % 7 = 0
    """,
)
def events_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date scalar surface (F1-F5 analogs as column expressions,
    all JVM-side built-ins — no UDFs)."""
    e = _events(spark, sf_dir).where(F.col("event_id") % 7 == 0)
    return e.select(
        "event_id",
        F.upper("event_type").alias("event_type_u"),
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.length("props").alias("props_len"),
        F.substring("event_type", 1, 3).alias("type_prefix"),
        F.regexp_replace("event_type", "_", ".").alias("type_dotted"),
        (F.col("value") * 100).cast("double").alias("value_cents"),
    )


@register(
    "events_in_list_filter",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    """,
)
def events_in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 IN-list membership predicate + projection (pushed to the
    parquet scan by Catalyst)."""
    return (
        _events(spark, sf_dir)
        .where(F.col("event_type").isin("click", "view", "purchase"))
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "events_json_props",
    """
    SELECT
      event_id,
      CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
      CAST(json_extract_string(props, '$.k') AS INT) % 10 AS prop_k_bucket
    FROM events
    WHERE event_id % 11 = 0
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions over the semi-structured ``props`` column
    (JVM-side ``get_json_object`` — no Python in the hot path)."""
    e = _events(spark, sf_dir).where(F.col("event_id") % 11 == 0)
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select(
        "event_id",
        k.alias("prop_k"),
        (k % 10).alias("prop_k_bucket"),
    )


@register(
    "pivot_status_by_priority",
    """
    SELECT
      o_orderpriority,
      COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS st_f,
      COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS st_o,
      COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS st_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order-status columns per priority row. The value list is
    given explicitly, so Spark skips the extra distinct-values job —
    required practice on a 100 TB input."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("st_f"),
            F.coalesce("O", F.lit(0)).alias("st_o"),
            F.coalesce("P", F.lit(0)).alias("st_p"),
        )
    )


@register(
    "events_hourly_counts",
    """
    SELECT
      DATE_TRUNC('hour', ts) AS hour_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY DATE_TRUNC('hour', ts), event_type
    """,
)
def events_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the event stream table.
    ``F.window`` buckets rows without a pre-sort; the agg is
    map-side combined, so the shuffle carries |windows × types| rows."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "emb_vector_inspect",
    """
    SELECT
      vec_id,
      label,
      len(embedding) AS dim,
      CAST(embedding[1] AS DOUBLE) AS first_component,
      CAST(embedding[64] AS DOUBLE) AS last_component
    FROM embeddings
    WHERE vec_id % 13 = 0
    """,
)
def emb_vector_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed column surface: size + element access on the
    ``array<float>`` embedding column (nested types the reference never
    had; Spark-native). Element casts are exact float32→float64, so the
    oracle hash is bit-stable."""
    e = read_table_dir(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 13 == 0
    )
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.col("embedding")[0].cast("double").alias("first_component"),
        F.col("embedding")[63].cast("double").alias("last_component"),
    )


# ---------------------------------------------------------------------------
# Reconciliation (§2.9) as a checkable query
# ---------------------------------------------------------------------------


@register(
    "recon_row_counts",
    """
    SELECT 'orders' AS table_name, COUNT(*) AS row_count FROM orders
    UNION ALL SELECT 'customer', COUNT(*) FROM customer
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'nation', COUNT(*) FROM nation
    """,
)
def recon_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 count reconciliation across tables, in-engine (one row per
    table) instead of driver-side counts."""
    parts = []
    for t in ("orders", "customer", "lineitem", "nation"):
        parts.append(
            _t(spark, sf_dir, t).agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).alias("row_count"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "array_hof_surface",
    """
    SELECT
      o_orderkey,
      array_to_string(
        list_transform(range(1, CAST(o_orderkey % 10 + 2 AS INT)),
                       x -> x * x),
        ',') AS squares_csv,
      len(list_filter(range(1, CAST(o_orderkey % 10 + 2 AS INT)),
                      x -> x % 2 = 0)) AS n_even,
      CAST(list_sum(range(1, CAST(o_orderkey % 10 + 2 AS INT)))
           AS BIGINT) AS arr_sum,
      CAST(o_orderkey % 10 + 1 AS BIGINT) AS last_elem
    FROM orders
    WHERE o_orderkey % 23 = 0
    """,
)
def array_hof_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform / filter / aggregate /
    element_at over a generated sequence) — lambda expressions executed
    inside codegen, zero Python. Integer-exact, so the oracle (DuckDB
    list comprehension functions) hashes identically."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 23 == 0)
    arr = F.sequence(
        F.lit(1).cast("long"), (F.col("o_orderkey") % 10 + 1)
    )
    return o.select(
        "o_orderkey",
        F.concat_ws(
            ",",
            F.transform(arr, lambda x: (x * x).cast("string")),
        ).alias("squares_csv"),
        F.size(F.filter(arr, lambda x: x % 2 == 0)).alias("n_even"),
        F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("arr_sum"),
        F.element_at(arr, -1).alias("last_elem"),
    )


@register(
    "nation_customer_rosters",
    """
    SELECT
      c_nationkey,
      COUNT(*) AS n_custs,
      array_to_string(list(c_custkey ORDER BY c_custkey), ',')
        AS custkeys_csv
    FROM customer
    WHERE c_custkey % 100 = 0
    GROUP BY c_nationkey
    """,
)
def nation_customer_rosters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list aggregation with an explicit sort for determinism —
    collection order is partition-order-dependent, so any list built at
    scale MUST be sorted (or treated as a set) before use; emitted as a
    CSV string for cross-engine comparison."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 100 == 0)
    return c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("c_custkey")),
                lambda x: x.cast("string"),
            ),
        ).alias("custkeys_csv"),
    )


@register(
    "event_session_stats",
    """
    WITH marked AS (
      SELECT user_id, ts,
        CASE
          WHEN LAG(ts) OVER w IS NULL THEN 1
          WHEN ts - LAG(ts) OVER w >= INTERVAL 6 HOUR THEN 1
          ELSE 0
        END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ),
    sess AS (
      SELECT user_id, ts,
        SUM(new_sess) OVER (
          PARTITION BY user_id ORDER BY ts ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS sid
      FROM marked
    )
    SELECT
      user_id,
      MIN(ts) AS session_start,
      MAX(ts) + INTERVAL 6 HOUR AS session_end,
      COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
)
def event_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization in batch via ``session_window`` —
    the one-liner Spark answer to SQL's gaps-and-islands dance (the
    oracle spells it out with LAG + running SUM). One shuffle on
    user_id; sessions assemble inside sorted partitions."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            "user_id", F.session_window(F.col("ts"), "6 hours").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Sketch aggregates (approximate; rows-only checks — the estimates are
# engine-specific, so no cross-engine hash. Accuracy is pinned by
# tests/test_sketches.py against exact answers.)
# ---------------------------------------------------------------------------


@register(
    "approx_distinct_users",
    """
    SELECT
      event_type,
      COUNT(*) AS n_events,
      COUNT(DISTINCT user_id) AS exact_users,
      1 AS estimate_ok
    FROM events
    GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch per event type
    (``approx_count_distinct``, rsd=2%). At 100 TB the exact
    COUNT(DISTINCT) shuffles every distinct value; the sketch ships a
    fixed few-KB register set per group instead.

    Oracle-checkable form: the sketch estimate itself is
    engine-specific, so the output carries the *exact* distinct count
    plus ``estimate_ok`` — 1 iff the HLL estimate lands within 3×rsd
    of exact (a real accuracy assertion, evaluated inside Spark; the
    DuckDB twin emits the exact count and a literal 1)."""
    est = F.approx_count_distinct("user_id", rsd=0.02)
    exact = F.count_distinct("user_id")
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact.alias("exact_users"),
            (
                (F.abs(est - exact) / exact) <= 0.06
            ).cast("int").alias("estimate_ok"),
        )
    )


@register(
    "order_value_percentiles",
    """
    SELECT
      o_orderpriority,
      COUNT(*) AS n_orders,
      1 AS p50_ok, 1 AS p90_ok, 1 AS p99_ok
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 of order value per priority
    (``percentile_approx``, accuracy 10k) — the bounded-memory
    quantile sketch (KLL-style) that replaces a full sort at scale.

    Oracle-checkable form: the sketch values are engine-specific, so
    each is verified *by rank inside Spark*: pNN_ok is 1 iff the
    fraction of rows <= the sketch value brackets the target quantile
    within ±0.5% (the sketch's rank-error contract at accuracy 10k,
    plus tie slack). The DuckDB twin emits exact group counts and
    literal 1s — a wrong sketch fails the hash, not just a row count."""
    o = _t(spark, sf_dir, "orders")
    ap = (
        o.groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10000)
            .alias("p")
        )
        .select(
            "o_orderpriority",
            F.col("p")[0].alias("p50"),
            F.col("p")[1].alias("p90"),
            F.col("p")[2].alias("p99"),
        )
    )
    eps = 0.005

    def rank_ok(value_col: str, q: float):
        le = F.avg((F.col("o_totalprice") <= F.col(value_col)).cast("int"))
        lt = F.avg((F.col("o_totalprice") < F.col(value_col)).cast("int"))
        return ((le >= q - eps) & (lt <= q + eps)).cast("int")

    return (
        o.join(ap, "o_orderpriority")  # ap is bounded (one row/priority)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rank_ok("p50", 0.5).alias("p50_ok"),
            rank_ok("p90", 0.9).alias("p90_ok"),
            rank_ok("p99", 0.99).alias("p99_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Temporal joins (as-of, range) — operators/temporal.py
# ---------------------------------------------------------------------------


@register(
    "event_purchase_attribution",
    """
    SELECT
      p.event_id, p.user_id, p.ts,
      v.ts AS last_view_ts,
      date_diff('microsecond', v.ts, p.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
      SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'view'
    ) v ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
)
def event_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase attributed to the user's most recent
    prior (or simultaneous) view. Spark has no ASOF JOIN; the operator
    (``temporal.asof_join``) is the union-tag + ordered-window
    formulation — one shuffle on user_id, no inequality join — checked
    value-for-value against DuckDB's *native* ASOF JOIN."""
    from .operators.temporal import asof_join

    e = _events(spark, sf_dir)
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select("user_id", "ts")
    out = asof_join(purchases, views, on="user_id", ts_col="ts",
                    right_ts_out="last_view_ts")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "last_view_ts",
        (F.unix_micros("ts") - F.unix_micros("last_view_ts")).alias("gap_us"),
    )


@register(
    "event_asof_enrich",
    """
    WITH v AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                ORDER BY event_id DESC) AS rn
      FROM events WHERE event_type = 'view'
    ),
    vv AS (SELECT user_id, ts, event_id, value FROM v WHERE rn = 1)
    SELECT p.event_id, p.user_id, p.ts,
           vv.ts AS last_view_ts,
           vv.event_id AS r_event_id,
           vv.value AS r_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN vv ON p.user_id = vv.user_id AND vv.ts <= p.ts
    """,
)
def event_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload-carrying as-of join: each purchase attaches WHAT the
    user's most recent prior view was (its event_id and value), not
    just when it happened — the full pandas merge_asof / kdb aj shape.
    ``temporal.asof_join_payload`` carries the payload as one struct
    through the union-tag + ordered-window formulation (one shuffle on
    user_id, no inequality join, fields attach atomically from the
    same matched row); the oracle is DuckDB's native ASOF LEFT JOIN
    over the identically-reduced right side (one row per (user, ts),
    max event_id tie rule)."""
    from .operators.temporal import asof_join_payload

    e = _events(spark, sf_dir)
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join_payload(
        purchases, views, on="user_id",
        payload_cols=["event_id", "value"],
        ts_col="ts", right_ts_out="last_view_ts",
    )


@register(
    "event_error_burst",
    """
    SELECT
      l.event_id, l.user_id,
      (SELECT COUNT(*) FROM events r
       WHERE r.user_id = l.user_id
         AND r.ts >= l.ts - INTERVAL '5 minutes' AND r.ts < l.ts
      ) AS n_in_range
    FROM events l
    WHERE l.event_type = 'error'
    """,
)
def event_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: per error event, how many same-user
    events landed in the 5 minutes before it. ``temporal.range_join``
    bins both sides into window-sized buckets and equi-joins on
    (user, bin) — shuffle O(n + m + matches), never the
    broadcast-nested-loop a naive inequality join plans to. Oracle is
    the plain correlated inequality count in DuckDB."""
    from .operators.temporal import range_join

    e = _events(spark, sf_dir)
    errors = e.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    return range_join(
        errors,
        e.select("user_id", "ts"),
        on="user_id",
        ts_col="ts",
        window_us=300_000_000,
        count_out="n_in_range",
    ).select("event_id", "user_id", "n_in_range")


# ---------------------------------------------------------------------------
# Partitioned-ingest posture: date-partitioned write + pruned read
# ---------------------------------------------------------------------------


def _partitioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize (once per sf) a year-partitioned copy of orders under
    the repo-local lake cache, then return a reader over it. This is
    the 100 TB default posture the reference never had (it wrote
    unpartitioned, ``utils.py:203-205``): the dominant filter key
    becomes the partition key, so selective scans list only matching
    directories instead of reading any data at all."""
    import os

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(repo_root, ".lake_cache", f"orders_by_year_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from .sources.writers import write_parquet

        o = _t(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        )
        write_parquet(o, path, mode="overwrite", partition_by=["o_year"])
    return spark.read.parquet(path)


@register(
    "partitioned_orders_pruned_scan",
    """
    SELECT
      o_orderpriority,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders
    WHERE YEAR(o_orderdate) = 1997
    GROUP BY o_orderpriority
    """,
)
def partitioned_orders_pruned_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end partitioned-table flow: orders written partitioned by
    ``o_year``, then one year aggregated. The filter is a partition
    predicate, so the scan's PartitionFilters prune every other year's
    directory at *listing* time — the plan reads 1/N of the table by
    construction (asserted in tools/explain_audit.py), where an
    unpartitioned table would rely on row-group stats at best."""
    return (
        _partitioned_orders(spark, sf_dir)
        .where(F.col("o_year") == 1997)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total"),
        )
    )


# Register the analytics (multi-way join / window / grouping-set) and
# text/dedup/similarity/multimodal workloads (import for side effect:
# they add themselves to the same registry).
from . import workloads_analytics  # noqa: E402,F401
from . import workloads_curation  # noqa: E402,F401
from . import workloads_llm  # noqa: E402,F401
from . import workloads_quality  # noqa: E402,F401
from . import workloads_timeseries  # noqa: E402,F401
from . import workloads_tpch2  # noqa: E402,F401


# appended after module registrations: time-hierarchy rollup on events
# (the hypertable continuous-aggregate shape, one pass)


@register(
    "events_time_rollup",
    """
    SELECT
      CASE WHEN GROUPING(d) = 1 THEN 'total'
           WHEN GROUPING(h) = 1 THEN 'day' ELSE 'hour' END AS grain,
      CASE WHEN GROUPING(d) = 1 THEN NULL ELSE d END AS day_bucket,
      CASE WHEN GROUPING(h) = 1 THEN NULL ELSE h END AS hour_bucket,
      COUNT(*) AS n_events,
      COUNT(DISTINCT user_id) AS n_users
    FROM (
      SELECT date_trunc('day', ts) AS d, date_trunc('hour', ts) AS h,
             user_id
      FROM events
    )
    GROUP BY ROLLUP(d, h)
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup (hour → day → total) in one pass — the
    hypertable continuous-aggregate shape: partial aggregates combine
    map-side per grain, so the fact stream shuffles once for the whole
    hierarchy instead of once per granularity."""
    e = _events(spark, sf_dir).select(
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
        "user_id",
    )
    return (
        e.rollup("d", "h")
        .agg(
            # grouping() is only legal inside the rollup's agg list
            F.grouping("d").alias("g_d"),
            F.grouping("h").alias("g_h"),
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.when(F.col("g_d") == 1, "total")
            .when(F.col("g_h") == 1, "day")
            .otherwise("hour")
            .alias("grain"),
            F.when(F.col("g_d") == 1, F.lit(None).cast("timestamp"))
            .otherwise(F.col("d"))
            .alias("day_bucket"),
            F.when(F.col("g_h") == 1, F.lit(None).cast("timestamp"))
            .otherwise(F.col("h"))
            .alias("hour_bucket"),
            "n_events",
            "n_users",
        )
    )


@register(
    "events_rollup_incremental",
    """
    SELECT date_trunc('hour', ts) AS bucket,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance proven against the one-pass
    oracle: the events table is split in two batches, each partially
    rolled up, and the partials additively merged
    (``operators/rollup.py``) — the merged result must equal a direct
    GROUP BY over all events. Refresh cost at scale is O(batch +
    |rollup|), independent of history size."""
    from .operators.rollup import rollup_events

    e = _events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    parts = [
        rollup_events(e.where(F.col("event_id") % 2 == i)) for i in (0, 1)
    ]
    merged = (
        parts[0].unionByName(parts[1])
        .groupBy("bucket", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").cast("decimal(38,4)").alias("sum_value"),
        )
    )
    return merged.select(
        "bucket",
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


@register(
    "event_funnel_conversion",
    """
    WITH w1 AS (
      SELECT user_id, event_id, ts, event_type,
             MIN(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS fv
      FROM events
    ),
    w2 AS (
      SELECT *,
             MIN(CASE WHEN event_type = 'click' AND fv IS NOT NULL
                      THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS fc
      FROM w1
    ),
    per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' AND fv IS NOT NULL
                      THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' AND fc IS NOT NULL
                      THEN ts END) AS t_purchase
      FROM w2 GROUP BY user_id
    )
    SELECT CAST(COUNT(t_view) AS BIGINT) AS n_view,
           CAST(COUNT(t_click) AS BIGINT) AS n_view_click,
           CAST(COUNT(t_purchase) AS BIGINT) AS n_view_click_purchase
    FROM per_user
    """,
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): users who clicked at
    or after their first view, then purchased at or after their first
    qualifying click. Sequence logic via two running-min windows over
    ONE user_id partitioning — Spark plans a single shuffle, reused by
    both windows and the per-user aggregate; ties break on event_id so
    both engines see the same order. No self-joins, no exploding
    event-sequence arrays — the shape that survives a 100 TB event
    log."""
    from pyspark.sql.window import Window

    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_view = F.col("event_type") == "view"
    is_click = F.col("event_type") == "click"
    is_purchase = F.col("event_type") == "purchase"
    d1 = e.withColumn("fv", F.min(F.when(is_view, F.col("ts"))).over(w))
    d2 = d1.withColumn(
        "fc",
        F.min(
            F.when(is_click & F.col("fv").isNotNull(), F.col("ts"))
        ).over(w),
    )
    per_user = d2.groupBy("user_id").agg(
        F.min(F.when(is_view, F.col("ts"))).alias("t_view"),
        F.min(
            F.when(is_click & F.col("fv").isNotNull(), F.col("ts"))
        ).alias("t_click"),
        F.min(
            F.when(is_purchase & F.col("fc").isNotNull(), F.col("ts"))
        ).alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_purchase").alias("n_view_click_purchase"),
    )


@register(
    "event_retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_d
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    )
    SELECT cohort_d,
           date_diff('day', cohort_d, d) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM active JOIN first_seen USING (user_id)
    GROUP BY cohort_d, day_offset
    """,
)
def event_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention: users grouped by first-seen date (cohort), one
    row per (cohort, day offset) with the distinct users active that
    day. Both join inputs are aggregates of the same scan (first-seen
    per user, distinct user-days), so the join carries one row per
    user/user-day — never raw events — and the final rollup is a plain
    hash agg. The per-user shapes shuffle once each on user_id."""
    e = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first_seen = e.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    active = e.distinct()
    return (
        active.join(first_seen, "user_id")
        .groupBy(
            "cohort_d",
            F.datediff("d", "cohort_d").cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "event_funnel_windowed",
    """
    WITH w1 AS (
      SELECT user_id, event_id, ts, event_type,
             MIN(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS fv
      FROM events
    ),
    w2 AS (
      SELECT *,
             MIN(CASE WHEN event_type = 'click' AND fv IS NOT NULL
                      AND ts <= fv + INTERVAL 1 HOUR
                      THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS fc
      FROM w1
    ),
    per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' AND fv IS NOT NULL
                      AND ts <= fv + INTERVAL 1 HOUR
                      THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' AND fc IS NOT NULL
                      AND ts <= fc + INTERVAL 1 HOUR
                      THEN ts END) AS t_purchase
      FROM w2 GROUP BY user_id
    )
    SELECT CAST(COUNT(t_view) AS BIGINT) AS n_view,
           CAST(COUNT(t_click) AS BIGINT) AS n_view_click_1h,
           CAST(COUNT(t_purchase) AS BIGINT) AS n_full_funnel_1h
    FROM per_user
    """,
)
def event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BOUND funnel: click within 1 hour of the first view,
    purchase within 1 hour of the first qualifying click — the
    conversion-window semantics every product-analytics engine
    defaults to (an unbounded funnel overcounts users who 'converted'
    days later). Identical single-shuffle shape as
    ``event_funnel_conversion`` — the window deadline is one more
    predicate on the same running-min windows, NOT a range self-join;
    timestamp + interval arithmetic is exact integer micros on both
    engines."""
    from pyspark.sql.window import Window

    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hour = F.expr("INTERVAL 1 HOUR")
    is_view = F.col("event_type") == "view"
    click_ok = (
        (F.col("event_type") == "click")
        & F.col("fv").isNotNull()
        & (F.col("ts") <= F.col("fv") + hour)
    )
    d1 = e.withColumn("fv", F.min(F.when(is_view, F.col("ts"))).over(w))
    d2 = d1.withColumn(
        "fc", F.min(F.when(click_ok, F.col("ts"))).over(w)
    )
    purchase_ok = (
        (F.col("event_type") == "purchase")
        & F.col("fc").isNotNull()
        & (F.col("ts") <= F.col("fc") + hour)
    )
    per_user = d2.groupBy("user_id").agg(
        F.min(F.when(is_view, F.col("ts"))).alias("t_view"),
        F.min(F.when(click_ok, F.col("ts"))).alias("t_click"),
        F.min(F.when(purchase_ok, F.col("ts"))).alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click_1h"),
        F.count("t_purchase").alias("n_full_funnel_1h"),
    )


def _zordered_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize (once per sf) a z-ordered copy of orders under the
    lake cache — Morton-interleaved on (o_custkey, o_totalprice) so
    BOTH dimensions' min/max file stats turn selective (a single-key
    sort makes only its leading column skippable)."""
    import os

    from .operators.maintenance import zorder_layout

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(repo_root, ".lake_cache", f"orders_zorder_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from .sources.writers import write_parquet

        write_parquet(
            _t(spark, sf_dir, "orders"), path, mode="overwrite"
        )
        zorder_layout(
            spark, path, ["o_custkey", "o_totalprice"], n_files=8
        )
    return spark.read.parquet(path)


@register(
    "zorder_orders_skipping_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 200
      AND o_totalprice BETWEEN 50000 AND 150000
    """,
)
def zorder_orders_skipping_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end z-order flow: orders rewritten Morton-interleaved on
    (custkey, totalprice), then a two-dimensional range predicate reads
    it back. The rewrite can't change results (value-checked against
    the plain table — that's the point of a layout op), while each
    file's min/max stats now bound BOTH predicate columns, so parquet
    row-group skipping eliminates most files — the open-format stand-in
    for Delta/Iceberg OPTIMIZE ZORDER (the skipping behavior itself is
    asserted file-by-file in tests/test_maintenance.py)."""
    z = _zordered_orders(spark, sf_dir)
    return z.where(
        F.col("o_custkey").between(100, 200)
        & F.col("o_totalprice").between(50000.0, 150000.0)
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def _orders_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize (once per sf) a tiny calendar dim over the order
    years: (cal_year, yr_rev, rev_rank) with years ranked by revenue.
    Exists so a JOIN-shaped filter on the partitioned fact has a real
    dim TABLE to arrive through. The rank is an INT on purpose: DPP's
    selective-predicate detection accepts ``rev_rank <= 2`` but treats
    a bare boolean flag column as non-selective (measured on this
    runtime)."""
    import os

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(
        repo_root, ".lake_cache", f"orders_calendar_v2_{tag}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from pyspark.sql.window import Window

        from .sources.writers import write_parquet

        yr = (
            _t(spark, sf_dir, "orders")
            .groupBy(F.year("o_orderdate").cast("int").alias("cal_year"))
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("yr_rev")
            )
        )
        ranked = yr.withColumn(
            "rev_rank",
            F.row_number().over(
                Window.orderBy(F.col("yr_rev").desc(), F.col("cal_year"))
            ),
        )
        write_parquet(ranked, path, mode="overwrite")
    return spark.read.parquet(path)


@register(
    "partitioned_orders_dpp_join",
    """
    WITH yr AS (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS cal_year,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS yr_rev
      FROM orders GROUP BY 1
    ),
    cal AS (
      SELECT cal_year,
             ROW_NUMBER() OVER (ORDER BY yr_rev DESC, cal_year)
               AS rev_rank
      FROM yr
    )
    SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
           o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN cal ON CAST(YEAR(o.o_orderdate) AS INT) = cal.cal_year
    WHERE cal.rev_rank <= 2
    GROUP BY 1, 2
    """,
)
def partitioned_orders_dpp_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC partition pruning demonstrated and pinned: the fact
    side is the year-partitioned orders table, the filter (peak years)
    lives in a dim TABLE as data — static pruning can't see it, so
    Spark injects the dim's surviving year set into the fact scan as a
    dynamicpruning subquery in PartitionFilters (asserted by the
    audit: the scan lists only the two peak-year directories at
    runtime). The join-shaped analog of
    ``partitioned_orders_pruned_scan``'s static pruning — what keeps
    fact scans selective when the predicate arrives via a dimension
    at 100 TB."""
    po = _partitioned_orders(spark, sf_dir)
    cal = _orders_calendar(spark, sf_dir).where(
        F.col("rev_rank") <= 2
    ).select("cal_year")
    return (
        po.join(F.broadcast(cal), po.o_year == cal.cal_year)
        .groupBy(
            F.col("o_year").cast("int").alias("o_year"),
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
