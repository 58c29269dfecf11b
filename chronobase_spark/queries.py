"""Declared query registry — the driver-facing surface of the engine.

Every operator from SURVEY.md §2 appears here as a named query bound to
the driver corpus, paired (where SQL-expressible) with an ANSI-SQL
oracle string that DuckDB runs on the same parquet files. The driver
hash-compares both result sets, so:

* every computed column is aliased identically in Spark and SQL;
* double aggregation goes through exact DECIMAL then one cast to double
  (order-insensitive — see operators.aggregates);
* float similarity uses the identical sequential fold on both engines
  and is rounded before any ranking/threshold.

Queries whose values depend on Spark-internal hashing or sampling carry
no oracle: the xxhash64 MinHash (``minhash_dedup_pairs``, the variant
chronobench times) and the approximate sketches. The driver records a
rows-only check and pytest pins their semantics against brute-force
ground truth instead. Every other near-dup family — md5 MinHash, md5
SimHash, winnowing, pHash — is oracle-checked.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401  (resolves pandas_udf type hints under
# postponed annotations: pyspark evaluates the stringified hints in this
# module's globals)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronobase_spark import catalog
from chronobase_spark.dedup import embedding as emb_dedup
from chronobase_spark.dedup import exact as exact_dedup
from chronobase_spark.dedup import _bands, cdc, minhash, ngram, simhash, winnow
from chronobase_spark.functions import bpe, packing, similarity, sketches, text
from chronobase_spark.operators import aggregates as agg
from chronobase_spark.operators import joins, setops, timeseries, windows
from chronobase_spark.streaming import docs as docstream

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (query_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        # A dict would silently shadow an earlier query (a duplicate
        # registration would have replaced `value_histogram` in r5 and
        # only a registry-count diff caught it) — duplicates are bugs.
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name!r}")
        _REGISTRY[name] = (fn, sql)
        return fn
    return deco


def queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    return {name: fn for name, (fn, _sql) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """The oracle SQL of every query that has one, in registration order."""
    return {name: sql for name, (_fn, sql) in _REGISTRY.items() if sql is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# M1 — reference surface (SURVEY §2.1/§2.2): the TSDB API as DataFrame ops
# ---------------------------------------------------------------------------

_SCAN_START = "2024-01-10 00:00:00"
_SCAN_END = "2024-01-15 12:00:00"


@register(
    "time_range_scan",
    f"""SELECT event_id, ts, user_id, event_type, value, props
        FROM events
        WHERE ts BETWEEN TIMESTAMP '{_SCAN_START}' AND TIMESTAMP '{_SCAN_END}'""",
)
def q_time_range_scan(spark, sf_dir):
    """Reference O1: inclusive time-range scan (tablet.go:366-367,382)."""
    return timeseries.time_range_scan(_t(spark, sf_dir, "events"), _SCAN_START, _SCAN_END)


@register("key_lookup", "SELECT event_id, ts, user_id, event_type, value, props FROM events WHERE event_id = 123")
def q_key_lookup(spark, sf_dir):
    """Reference D4: key point lookup (index.go:231-236)."""
    return timeseries.key_lookup(_t(spark, sf_dir, "events"), "event_id", 123)


@register(
    "scan_limit_asc",
    "SELECT event_id, ts, user_id FROM events ORDER BY ts, event_id LIMIT 100",
)
def q_scan_limit_asc(spark, sf_dir):
    """Reference D1/D2: ordered scan with limit (pkg/db/types.go:16-21)."""
    df = timeseries.scan_ordered(_t(spark, sf_dir, "events"), limit=100)
    return df.select("event_id", "ts", "user_id")


@register(
    "scan_limit_desc",
    "SELECT event_id, ts, user_id FROM events ORDER BY ts DESC, event_id DESC LIMIT 100",
)
def q_scan_limit_desc(spark, sf_dir):
    df = timeseries.scan_ordered(
        _t(spark, sf_dir, "events"), ascending=False, limit=100
    )
    return df.select("event_id", "ts", "user_id")


@register(
    "ttl_filter",
    "SELECT event_id, ts, user_id, event_type, value, props FROM events WHERE ts > TIMESTAMP '2024-01-20 00:00:00'",
)
def q_ttl_filter(spark, sf_dir):
    """Reference O6/TTL-at-ingest semantics with a literal cutoff
    (table.go:93-96,362): rows strictly newer than the cutoff survive."""
    return timeseries.ttl_filter(_t(spark, sf_dir, "events"), "2024-01-20 00:00:00")


@register(
    "table_stats",
    "SELECT COUNT(*) AS row_count, MIN(ts) AS oldest_ts, MAX(ts) AS newest_ts FROM events",
)
def q_table_stats(spark, sf_dir):
    """Reference O8: GetStats (table.go:390-414)."""
    return timeseries.table_stats(_t(spark, sf_dir, "events"))


@register(
    "stats_per_type",
    """SELECT event_type, COUNT(*) AS row_count, MIN(ts) AS oldest_ts, MAX(ts) AS newest_ts,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM events GROUP BY event_type""",
)
def q_stats_per_type(spark, sf_dir):
    """O8 generalized to per-key stats via hash aggregation."""
    return agg.group_agg(
        _t(spark, sf_dir, "events"),
        ["event_type"],
        [
            F.count(F.lit(1)).alias("row_count"),
            F.min("ts").alias("oldest_ts"),
            F.max("ts").alias("newest_ts"),
            agg.dsum("value").alias("total_value"),
        ],
    )


# ---------------------------------------------------------------------------
# M2 — analytical surface (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
              COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus""",
)
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary: scan → filter → hash aggregate
    (map-side partial + final around one shuffle on 2 low-card keys)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    )
    return agg.group_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            agg.dsum("l_quantity").alias("sum_qty"),
            agg.dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            agg.davg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        ],
    )


@register(
    "revenue_by_region",
    """SELECT r_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
              COUNT(*) AS n_orders
       FROM orders JOIN customer ON o_custkey = c_custkey
                   JOIN nation   ON c_nationkey = n_nationkey
                   JOIN region   ON n_regionkey = r_regionkey
       GROUP BY r_name""",
)
def q_revenue_by_region(spark, sf_dir):
    """Star-schema rollup: fact ⋈ broadcast dims, no fact shuffle until
    the final 5-group aggregate."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    nation = _t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    region = _t(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    joined = joins.broadcast_dim_join(
        orders,
        [(customer, "o_custkey"), (nation, "c_nationkey"), (region, "n_regionkey")],
    )
    return joined.groupBy("r_name").agg(
        agg.dsum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "monthly_order_revenue",
    """SELECT date_trunc('month', o_orderdate) AS order_month, o_orderstatus,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
              COUNT(*) AS n_items
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY date_trunc('month', o_orderdate), o_orderstatus""",
)
def q_monthly_order_revenue(spark, sf_dir):
    """Fact-fact equi-join (lineitem ⋈ orders): shuffles both sides on
    the order key → SMJ/shuffled-hash; AQE may broadcast at small SF."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    disc_price = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    )
    return (
        li.join(orders, "l_orderkey")
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("order_month"),
            F.col("o_orderstatus"),
        )
        .agg(
            F.sum(disc_price).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "monthly_revenue_salted",
    """SELECT date_trunc('month', o_orderdate) AS order_month, o_orderstatus,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
              COUNT(*) AS n_items
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY date_trunc('month', o_orderdate), o_orderstatus""",
)
def q_monthly_revenue_salted(spark, sf_dir):
    """The same fact-fact join executed through the skew-salting path
    (operators.joins.salted_join): lineitem scattered over 8 sub-keys,
    orders replicated x8 — identical results (same oracle as
    monthly_order_revenue), skew-proof physical plan. Demonstrates that
    salting is semantics-preserving."""
    # Project the salted (left) side to the three columns the query
    # consumes BEFORE the join (r17, guide §2.3 project-before-the-
    # exchange): salted_join derives its salt from xxhash64 over ALL
    # left columns, so an unprojected lineitem forced the scan to read
    # the full 16-column schema (plan: ReadSchema listed every column)
    # and paid a 16-column hash per row. The salt VALUE changes, but
    # every salt matches (the right side is replicated across all of
    # them) and the decimal revenue sum is exact/associative, so the
    # results are bit-identical — plan now reads 3 columns and hashes 3.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    disc_price = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    )
    return (
        joins.salted_join(li, orders, "l_orderkey")
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("order_month"),
            F.col("o_orderstatus"),
        )
        .agg(
            F.sum(disc_price).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "customers_with_orders",
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def q_customers_with_orders(spark, sf_dir):
    """Left-semi join (EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return joins.semi_join(cust, orders, "c_custkey").select("c_custkey", "c_name")


@register(
    "customers_without_orders",
    """SELECT c_custkey, c_mktsegment FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def q_customers_without_orders(spark, sf_dir):
    """Left-anti join (NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return joins.anti_join(cust, orders, "c_custkey").select(
        "c_custkey", "c_mktsegment"
    )


_GAP_S = 21600  # 6h


@register(
    "event_pairs_within_gap",
    f"""SELECT a.event_id AS ea, b.event_id AS eb,
               CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) AS delta_s
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND a.event_id <> b.event_id
        WHERE CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) BETWEEN 0 AND {_GAP_S}""",
)
def q_event_pairs_within_gap(spark, sf_dir):
    """Range/interval join: same-user event pairs within 6h, via epoch
    bucketing (operators.joins.range_join_bucketed) — equi-join on
    (user, bucket) instead of a quadratic theta-join."""
    ev = _t(spark, sf_dir, "events")
    left = ev.select(
        F.col("event_id").alias("ea"), F.col("ts").alias("tsa"), "user_id"
    )
    right = ev.select(
        F.col("event_id").alias("eb"), F.col("ts").alias("tsb"), "user_id"
    )
    joined = joins.range_join_bucketed(
        left, right, "tsa", "tsb", _GAP_S, partition_keys=["user_id"]
    )
    delta = (F.unix_timestamp("tsb") - F.unix_timestamp("tsa")).cast("bigint")
    return (
        joined.filter(F.col("ea") != F.col("eb"))
        .select("ea", "eb", delta.alias("delta_s"))
    )


@register(
    "asof_last_error",
    """SELECT p.event_id,
              (SELECT MAX(e.ts) FROM events e
               WHERE e.user_id = p.user_id AND e.event_type = 'error' AND e.ts <= p.ts) AS last_error_ts
       FROM events p WHERE p.event_type = 'purchase'""",
)
def q_asof_last_error(spark, sf_dir):
    """As-of join: for each purchase, the most recent error (ts <=) by the
    same user — union + window carry-forward (operators.joins.asof_join),
    one shuffle on user_id, no range explosion."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", "ts", F.col("ts").alias("last_error_ts"))
    )
    out = joins.asof_join(
        purchases,
        errors,
        left_on="user_id",
        right_on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["last_error_ts"],
    )
    return out.select("event_id", "last_error_ts")


@register(
    "distinct_users_per_type",
    "SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users FROM events GROUP BY event_type",
)
def q_distinct_users_per_type(spark, sf_dir):
    return agg.distinct_count(
        _t(spark, sf_dir, "events"), ["event_type"], "user_id", "distinct_users"
    )


@register("approx_distinct_users", None)  # sketch values are engine-specific
def q_approx_distinct_users(spark, sf_dir):
    """HyperLogLog++ distinct sketch — the 100 TB path for distinct
    counting (constant memory/group). No cross-engine oracle; accuracy
    pinned vs exact in tests."""
    return agg.approx_distinct_count(
        _t(spark, sf_dir, "events"), ["event_type"], "user_id", "approx_users"
    )


@register(
    "rollup_pricing",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       HAVING COUNT(*) > 0""",
)
def q_rollup_pricing(spark, sf_dir):
    """ROLLUP; the count-positive filter pins the empty-input contract
    (on zero rows DuckDB emits the () grouping-set global row, Spark
    emits nothing — the r7 empty-corpus oracle gate finding; on any
    non-empty corpus every grouping-set row has count >= 1, so this is
    a no-op)."""
    return agg.rollup_agg(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        [F.count(F.lit(1)).alias("n_rows"), agg.dsum("l_quantity").alias("sum_qty")],
    ).filter(F.col("n_rows") > 0)


@register(
    "cube_order_counts",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
       FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       HAVING COUNT(*) > 0""",
)
def q_cube_order_counts(spark, sf_dir):
    """CUBE; count-positive filter = the empty-input contract pin (see
    rollup_pricing)."""
    return agg.cube_agg(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        [F.count(F.lit(1)).alias("n_orders")],
    ).filter(F.col("n_orders") > 0)


@register(
    "grouping_sets_revenue",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
       HAVING COUNT(*) > 0""",
)
def q_grouping_sets_revenue(spark, sf_dir):
    """Explicit GROUPING SETS — the general grouping-set form (rollup and
    cube are special cases); one Expand + one hash aggregate. The
    count-positive filter pins the empty-input contract (see
    rollup_pricing)."""
    return agg.grouping_sets_agg(
        _t(spark, sf_dir, "lineitem"),
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        ["l_returnflag", "l_linestatus"],
        [F.count(F.lit(1)).alias("n_rows"), agg.dsum("l_quantity").alias("sum_qty")],
    ).filter(F.col("n_rows") > 0)


@register(
    "value_percentiles",
    """SELECT event_type,
              ROUND(quantile_cont(value, 0.5), 6) AS p50,
              ROUND(quantile_cont(value, 0.9), 6) AS p90,
              ROUND(quantile_cont(value, 0.99), 6) AS p99
       FROM events GROUP BY event_type""",
)
def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (the approx_percentile
    sketch is the 100 TB path — see operators.aggregates.percentiles)."""
    return agg.percentiles(
        _t(spark, sf_dir, "events"), ["event_type"], "value", [0.5, 0.9, 0.99]
    )


@register("approx_value_percentiles", None)  # sketch values are engine-specific
def q_approx_value_percentiles(spark, sf_dir):
    """approx_percentile (KLL-style sketch): the 100 TB percentile path —
    mergeable per-partition sketches, one small state per group, no
    global sort. Sketch outputs are engine-specific, so no cross-engine
    oracle; pytest bounds its error against the exact quantiles."""
    ev = _t(spark, sf_dir, "events")
    pa = F.percentile_approx("value", [0.5, 0.9, 0.99], 10000)
    return ev.groupBy("event_type").agg(
        F.round(pa[0], 6).alias("p50"),
        F.round(pa[1], 6).alias("p90"),
        F.round(pa[2], 6).alias("p99"),
    )


@register(
    "top3_events_per_user",
    """SELECT user_id, event_id, rn FROM (
         SELECT user_id, event_id,
                ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events) t WHERE rn <= 3""",
)
def q_top3_events_per_user(spark, sf_dir):
    """Ranking window over per-user event streams."""
    df = windows.rank_events_per_user(_t(spark, sf_dir, "events"), top_n=3)
    return df.select("user_id", "event_id", "rn")


@register(
    "event_gap_seconds",
    """SELECT event_id,
              CAST(floor(epoch(ts)) AS BIGINT)
                - LAG(CAST(floor(epoch(ts)) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
       FROM events""",
)
def q_event_gap_seconds(spark, sf_dir):
    """Lag analytic: whole seconds since the user's previous event."""
    df = windows.lag_delta_seconds(_t(spark, sf_dir, "events"))
    return df.select("event_id", "gap_s")


@register(
    "moving_value_sum",
    """SELECT event_id,
              CAST(SUM(CAST(value AS DECIMAL(18,2)))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum
       FROM events""",
)
def q_moving_value_sum(spark, sf_dir):
    """Frame-based moving aggregate (ROWS window)."""
    df = windows.moving_sum(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_id", "value", 3
    )
    return df.select("event_id", "moving_sum")


@register(
    "user_sessions",
    """WITH flagged AS (
         SELECT user_id,
                CASE WHEN LAG(ts) OVER w IS NULL
                       OR CAST(floor(epoch(ts)) AS BIGINT)
                          - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
                     THEN 1 ELSE 0 END AS is_new
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
       FROM flagged GROUP BY user_id""",
)
def q_user_sessions(spark, sf_dir):
    """Sessionization (gaps-and-islands, 30-min gap) — batch analog of
    session_window; same `gap > 1800 ⇒ new session` rule on both engines."""
    df = windows.sessionize(_t(spark, sf_dir, "events"))
    return df.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "union_active_users",
    """SELECT user_id FROM events WHERE event_type = 'error'
       UNION
       SELECT user_id FROM events WHERE event_type = 'purchase'""",
)
def q_union_active_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return setops.union_distinct(a, b)


@register(
    "intersect_users",
    """SELECT user_id FROM events WHERE event_type = 'error'
       INTERSECT
       SELECT user_id FROM events WHERE event_type = 'purchase'""",
)
def q_intersect_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return setops.intersect(a, b)


@register(
    "except_users",
    """SELECT user_id FROM events WHERE event_type = 'error'
       EXCEPT
       SELECT user_id FROM events WHERE event_type = 'signup'""",
)
def q_except_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select("user_id")
    b = ev.filter(F.col("event_type") == "signup").select("user_id")
    return setops.except_(a, b)


_ABOVE_AVG_SQL = """SELECT o_orderkey, o_totalprice FROM orders
       WHERE CAST(o_totalprice AS DECIMAL(18,2)) >
             (SELECT CAST(2 AS DECIMAL(18,2)) * AVG(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)"""


@register("orders_above_avg", _ABOVE_AVG_SQL)
def q_orders_above_avg(spark, sf_dir):
    """Scalar subquery through the SQL front end: Catalyst plans the
    subquery as an independent aggregate broadcast into the filter (one
    extra pass, no per-row re-execution). Decimal math keeps the
    threshold identical across engines. Exercises the engine's
    spark.sql surface over the registered catalog views."""
    catalog.register_views(spark, sf_dir)
    return spark.sql(_ABOVE_AVG_SQL)


@register(
    "props_typed_extract",
    """SELECT event_type,
              CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
              CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k,
              COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k
       FROM events GROUP BY event_type""",
)
def q_props_typed_extract(spark, sf_dir):
    """Typed JSON parsing of the reference's opaque-payload analog via
    from_json (schema'd struct, vectorized JSON parser) rather than
    per-path get_json_object."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"]
    return ev.select("event_type", k.alias("_k")).groupBy("event_type").agg(
        F.min("_k").alias("min_k"),
        F.max("_k").alias("max_k"),
        F.count("_k").alias("n_with_k"),
    )


@register(
    "embedding_array_ops",
    """SELECT vec_id,
              CAST(len(embedding) AS INT) AS n_dim,
              ROUND(embedding[1]::DOUBLE, 6) AS first_dim,
              ROUND(embedding[-1]::DOUBLE, 6) AS last_dim,
              ROUND(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 6) AS l2_norm,
              ROUND(list_sum(list_transform(embedding, x -> x::DOUBLE)) / len(embedding), 6) AS mean_dim
       FROM embeddings""",
)
def q_embedding_array_ops(spark, sf_dir):
    """Array scalar-function surface over the embedding column:
    size / element_at (1-based and negative) / fold-based norm and mean
    — all JVM-side column math."""
    emb = _t(spark, sf_dir, "embeddings")
    as_d = F.transform("embedding", lambda x: x.cast("double"))
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_dim"),
        F.round(F.element_at("embedding", -1).cast("double"), 6).alias("last_dim"),
        F.round(F.sqrt(sq), 6).alias("l2_norm"),
        F.round(
            F.aggregate(as_d, F.lit(0.0), lambda acc, v: acc + v)
            / F.size("embedding"),
            6,
        ).alias("mean_dim"),
    )


@register(
    "udaf_median_value",
    """SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS median_value
       FROM events GROUP BY event_type""",
)
def q_udaf_median_value(spark, sf_dir):
    """Custom aggregation via a grouped-agg pandas UDF (the engine's
    UDAF extension point): exact interpolated median computed in numpy
    per group, Arrow-batched. Interpolation (a+b)/2 over exact doubles
    is deterministic, so even the UDAF path carries a full SQL oracle.
    Built-in percentile() covers this natively (value_percentiles); the
    UDAF form exists to pin the extension mechanism itself."""
    from chronobase_spark.functions.udafs import median_udaf

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(median_udaf("value").alias("median_value"))


@register(
    "rank_lead_purchases",
    """SELECT user_id, event_id,
              RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
              LEAD(value) OVER w AS next_val
       FROM events WHERE event_type = 'purchase'
       WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)""",
)
def q_rank_lead_purchases(spark, sf_dir):
    """rank/dense_rank/lead sharing one window spec — single shuffle+sort."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return windows.rank_lead_values(ev, "user_id", "value", "event_id", "value")


@register(
    "intersect_all_users",
    """SELECT user_id FROM events WHERE event_type = 'error'
       INTERSECT ALL
       SELECT user_id FROM events WHERE event_type = 'purchase'""",
)
def q_intersect_all_users(spark, sf_dir):
    """Bag-semantics INTERSECT ALL (multiplicity = min of the two sides)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return setops.intersect_all(a, b)


@register(
    "except_all_users",
    """SELECT user_id FROM events WHERE event_type = 'error'
       EXCEPT ALL
       SELECT user_id FROM events WHERE event_type = 'signup'""",
)
def q_except_all_users(spark, sf_dir):
    """Bag-semantics EXCEPT ALL (multiplicity-aware subtraction)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select("user_id")
    b = ev.filter(F.col("event_type") == "signup").select("user_id")
    return setops.except_all(a, b)


@register(
    "part_feature_scalars",
    """SELECT p_partkey,
              upper(p_brand) AS brand_u,
              CAST(length(p_name) AS BIGINT) AS name_len,
              concat_ws('-', p_brand, p_type) AS brand_type,
              ROUND(sqrt(p_retailprice), 6) AS price_sqrt,
              ROUND(ln(p_retailprice + 1), 6) AS price_ln,
              CAST(abs(p_size - 25) AS INT) AS size_dev,
              substr(p_type, 1, 5) AS type_prefix
       FROM part""",
)
def q_part_feature_scalars(spark, sf_dir):
    """Scalar-function surface in one projection: string, math, and
    conditional expressions — all whole-stage-codegen'd, no UDF."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("p_retailprice") + 1), 6).alias("price_ln"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
    )


@register(
    "order_date_parts",
    """SELECT o_orderkey,
              CAST(year(o_orderdate) AS INT) AS y,
              CAST(month(o_orderdate) AS INT) AS m,
              CAST(quarter(o_orderdate) AS INT) AS q,
              CAST(day(o_orderdate) AS INT) AS d,
              CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS wk
       FROM orders""",
)
def q_order_date_parts(spark, sf_dir):
    """Date/time scalar functions: component extraction + week truncation."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.quarter("o_orderdate").alias("q"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_trunc("week", "o_orderdate").alias("wk"),
    )


@register(
    "json_value_by_type",
    """SELECT event_type,
              CAST(SUM(CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS INT)) AS DOUBLE) / COUNT(*) AS avg_k
       FROM events GROUP BY event_type""",
)
def q_json_value_by_type(spark, sf_dir):
    """JSON extraction on the reference's opaque-payload analog
    (events.props ↔ Row.Data, row.go:9): get_json_object + aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        (F.sum(k).cast("double") / F.count(F.lit(1))).alias("avg_k")
    )


@register(
    "daily_event_stats",
    """SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM events GROUP BY date_trunc('day', ts)""",
)
def q_daily_event_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        agg.dsum("value").alias("total_value"),
    )


@register(
    "hourly_tumbling_counts",
    """SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n_events
       FROM events GROUP BY date_trunc('hour', ts)""",
)
def q_hourly_tumbling_counts(spark, sf_dir):
    """Tumbling time window (batch analog of the streaming windowed agg;
    the streaming variant lives in chronobase_spark.streaming)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.window("ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n_events")
    ).select(F.col("window.start").alias("window_start"), "n_events")


@register(
    "sliding_window_counts",
    """SELECT window_start, COUNT(*) AS n_events FROM (
         SELECT date_trunc('hour', ts) AS window_start FROM events
         UNION ALL
         SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start FROM events
       ) t GROUP BY window_start""",
)
def q_sliding_window_counts(spark, sf_dir):
    """Sliding window (2h length, 1h slide): each event lands in two
    windows; the oracle expands the same two shifted assignments."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


# ---------------------------------------------------------------------------
# M4 — LLM-pipeline extension (SURVEY §2.4)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
       FROM documents GROUP BY text""",
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-group on content, min-id representative."""
    return exact_dedup.dedup_exact(_t(spark, sf_dir, "documents"))


@register(
    "dedup_normalized",
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
       FROM documents
       GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))""",
)
def q_dedup_normalized(spark, sf_dir):
    """Near-exact dedup on case/punct/whitespace-normalized text."""
    return exact_dedup.dedup_normalized(_t(spark, sf_dir, "documents"))


_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id AS doc, UNNEST(list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 0)),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
  FROM toks
), sizes AS (
  SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc
), rare AS (
  SELECT doc, sh FROM sh WHERE sh IN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 50)
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
       ROUND(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) AS jaccard
FROM common JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
WHERE ROUND(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) >= 0.5
"""


@register("ngram_jaccard_pairs", _JACCARD_SQL)
def q_ngram_jaccard_pairs(spark, sf_dir):
    """3-gram shingle Jaccard near-dup pairs with posting-list pruning
    (dedup.ngram) — the exact, oracle-checkable near-dup variant."""
    return ngram.jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


@register("minhash_dedup_pairs", None)  # Spark xxhash64-dependent
def q_minhash_dedup_pairs(spark, sf_dir):
    """MinHash+LSH banding candidates verified by exact Jaccard — the
    sub-quadratic scale path (see dedup.minhash; equivalence to brute
    force pinned in tests/test_dedup.py)."""
    return minhash.minhash_dedup_pairs(_t(spark, sf_dir, "documents"))


_WINNOW_SQL = r"""
WITH toks AS MATERIALIZED (
  SELECT doc_id AS doc,
         list_filter(string_split_regex(trim(regexp_replace(lower(text),
           '[^a-z0-9\s]', ' ', 'g')), '\s+'), x -> x <> '') AS tk
  FROM documents
), fps AS MATERIALIZED (
  SELECT doc, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(h) - 3, 0)),
           i -> list_min(h[i:i+3])))) AS fp
  FROM (
    SELECT doc,
           list_transform(generate_series(1, greatest(len(tk) - 3, 0)),
             i -> ('0x' || substr(md5(array_to_string(tk[i:i+3], ' ')),
                                  1, 8))::BIGINT) AS h
    FROM toks)
), rare AS MATERIALIZED (
  SELECT doc, fp FROM fps
  WHERE fp IN (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50)
)
SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc < b.doc
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""


@register("winnow_dup_pairs", _WINNOW_SQL)
def q_winnow_dup_pairs(spark, sf_dir):
    """Winnowing fingerprint near-dup pairs (dedup.winnow — Schleimer,
    Wilkerson & Aiken's MOSS selection): positional 4-gram md5 hashes,
    min of each 4-hash window, pairs sharing ≥3 selected fingerprints
    after max_df=50 hot-fingerprint pruning. Guarantees any
    sufficiently long shared passage is caught at ~2/(w+1) of full
    shingle storage — the local-similarity primitive between whole-doc
    fingerprints and shingle Jaccard. Map-only selection, posting-list
    pair search, fully oracle-checked (portable md5 lanes)."""
    return winnow.winnow_dup_pairs(_t(spark, sf_dir, "documents"))


def _minhash_md5_sql() -> str:
    lane = (
        lambda i: f"MIN(('0x' || substr(md5(g || '#{i}'), 1, 8))::BIGINT) AS m{i}"
    )
    bands, rows = minhash.BANDS, minhash.ROWS_PER_BAND
    lanes = ",\n         ".join(lane(i) for i in range(bands * rows))
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc, {bi} AS band_id, concat_ws(','"
        + "".join(f", m{bi * rows + r}" for r in range(rows))
        + ") AS band_val FROM sigs"
        for bi in range(bands)
    )
    return rf"""
WITH toks AS MATERIALIZED (
  SELECT doc_id AS doc,
         list_filter(string_split_regex(trim(regexp_replace(lower(text),
           '[^a-z0-9\s]', ' ', 'g')), '\s+'), x -> x <> '') AS tk
  FROM documents
), sh AS MATERIALIZED (
  SELECT doc, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 0)),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g
  FROM toks
), sigs AS MATERIALIZED (
  SELECT doc,
         {lanes}
  FROM sh GROUP BY doc
), bands AS (
{band_rows}
), cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc < b.doc
), shl AS MATERIALIZED (
  SELECT doc, list(DISTINCT g) AS gl FROM sh GROUP BY doc
)
SELECT doc_a, doc_b, CAST(c AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
FROM (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(la.gl, lb.gl)) AS BIGINT) AS c,
         CAST(len(la.gl) + len(lb.gl)
              - len(list_intersect(la.gl, lb.gl)) AS BIGINT) AS u
  FROM cand JOIN shl la ON la.doc = doc_a JOIN shl lb ON lb.doc = doc_b
)
WHERE c * 1000000 >= 500000 * u
"""


def _simhash_md5_sql() -> str:
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h{1 if i < 32 else 2} >> {i % 32}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    chunk_exprs = ",\n         ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN b{16 * j + r} > 0 THEN {1 << r} ELSE 0 END)"
            for r in range(16)
        )
        + f" AS BIGINT) AS c{j}"
        for j in range(4)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc, c0, c1, c2, c3, {j} AS chunk_id, c{j} AS chunk_val"
        " FROM sig"
        for j in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.c{j}, b.c{j}))" for j in range(4))
    return rf"""
WITH toks AS MATERIALIZED (
  SELECT doc_id AS doc,
         unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text),
           '[^a-z0-9\s]', ' ', 'g')), '\s+'), x -> x <> '')) AS tok
  FROM documents
), h AS MATERIALIZED (
  SELECT doc,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
  FROM toks
), bits AS MATERIALIZED (
  SELECT doc,
         {bit_sums}
  FROM h GROUP BY doc
), sig AS MATERIALIZED (
  SELECT doc,
         {chunk_exprs}
  FROM bits
), chunks AS (
{band_rows}
)
SELECT DISTINCT doc_a, doc_b, hamming FROM (
  SELECT a.doc AS doc_a, b.doc AS doc_b,
         CAST({ham} AS BIGINT) AS hamming
  FROM chunks a JOIN chunks b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
   AND a.doc < b.doc
)
WHERE hamming <= 3
"""


@register("simhash_md5_pairs", _simhash_md5_sql())
def q_simhash_md5_pairs(spark, sf_dir):
    """SimHash near-pairs within Hamming distance 3
    (dedup.simhash.simhash_md5_near_pairs, the one SimHash): md5-derived
    token bits and an unsigned 16-bit-chunk signature representation,
    so the whole pipeline — 64 bit-sums, chunking, pigeonhole band
    join, Hamming verify — hash-verifies against DuckDB."""
    return simhash.simhash_md5_near_pairs(_t(spark, sf_dir, "documents"))


@register("minhash_md5_pairs", _minhash_md5_sql())
def q_minhash_md5_pairs(spark, sf_dir):
    """Portable-hash MinHash+LSH (dedup.minhash.minhash_md5_pairs):
    md5-derived 32-bit lanes both engines compute bit-identically, so
    the FULL banding pipeline (signature, band join, exact-Jaccard
    verify) is hash-verified against DuckDB, not just rows-only — the
    scheme of every MinHash surface but chronobench's dedup phase,
    which times the xxhash64 ``minhash_dedup_pairs``."""
    return minhash.minhash_md5_pairs(_t(spark, sf_dir, "documents"))


def _admission_sql() -> str:
    """Oracle for near_dup_admission_report: the _minhash_md5_sql
    pipeline with the content-free md5 arriving/stored split applied
    at the band join and a per-ARRIVAL left-joined verdict instead of
    a pair list — generated from the Spark operator's banding scheme
    (minhash.BANDS, minhash.ROWS_PER_BAND)."""
    lane = (
        lambda i: f"MIN(('0x' || substr(md5(g || '#{i}'), 1, 8))::BIGINT) AS m{i}"
    )
    bands, rows = minhash.BANDS, minhash.ROWS_PER_BAND
    lanes = ",\n         ".join(lane(i) for i in range(bands * rows))
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc, {bi} AS band_id, concat_ws(','"
        + "".join(f", m{bi * rows + r}" for r in range(rows))
        + ") AS band_val FROM sigs"
        for bi in range(bands)
    )
    arr = (
        "(('0x' || substr(md5(CAST({d} AS VARCHAR)), 1, 4))::BIGINT % 5 = 0)"
    )
    return rf"""
WITH toks AS MATERIALIZED (
  SELECT doc_id AS doc,
         list_filter(string_split_regex(trim(regexp_replace(lower(text),
           '[^a-z0-9\s]', ' ', 'g')), '\s+'), x -> x <> '') AS tk
  FROM documents
), sh AS MATERIALIZED (
  SELECT doc, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 0)),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g
  FROM toks
), sigs AS MATERIALIZED (
  SELECT doc,
         {lanes}
  FROM sh GROUP BY doc
), bands AS (
{band_rows}
), cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS cand
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
  WHERE {arr.format(d="a.doc")} AND NOT {arr.format(d="b.doc")}
), shl AS MATERIALIZED (
  SELECT doc, list(DISTINCT g) AS gl FROM sh GROUP BY doc
), ver AS (
  SELECT doc_a, cand
  FROM (
    SELECT doc_a, cand,
           CAST(len(list_intersect(la.gl, lb.gl)) AS BIGINT) AS c,
           CAST(len(la.gl) + len(lb.gl)
                - len(list_intersect(la.gl, lb.gl)) AS BIGINT) AS u
    FROM cand JOIN shl la ON la.doc = doc_a JOIN shl lb ON lb.doc = cand
  )
  WHERE c * 1000000 >= 500000 * u
), agg AS (
  SELECT doc_a, MIN(cand) AS canonical_id FROM ver GROUP BY doc_a
)
SELECT d.doc_id,
       agg.canonical_id IS NOT NULL AS dup_of_corpus,
       agg.canonical_id
FROM documents d LEFT JOIN agg ON agg.doc_a = d.doc_id
WHERE {arr.format(d="d.doc_id")}
"""


def _arriving(c):
    """The batch admission reports' split: the content-free md5 16-bit
    id bucket sends 20 % of ids to the "arriving" side, the rest are
    "stored" (the oracles' ``arr`` predicate)."""
    return packing.md5_u16(c) % 5 == 0


def _admission_report(table: DataFrame, id_col: str, ver: DataFrame) -> DataFrame:
    """(id, dup_of_corpus, canonical_id) for EVERY arriving row of
    ``table``: the (id, canonical_id) verdicts left-joined back, so an
    arrival with no verified stored partner reports (false, NULL)."""
    return (
        table.filter(_arriving(F.col(id_col)))
        .select(id_col)
        .join(ver.hint("shuffle_hash"), id_col, "left")
        .select(
            id_col,
            F.col("canonical_id").isNotNull().alias("dup_of_corpus"),
            "canonical_id",
        )
    )


@register("near_dup_admission_report", _admission_sql())
def q_near_dup_admission_report(spark, sf_dir):
    """Batch near-dup ADMISSION report — the driver-hash-checked twin
    of the streaming admission family (streaming/docs.minhash_admit_
    stage): split the corpus by the content-free md5 doc_id bucket
    (20% "arriving", 80% "stored" — the md5 split-governance idiom),
    and emit for EVERY arriving doc whether it near-duplicates any
    stored doc under the md5-MinHash banding + exact-Jaccard ≥ 0.5
    verify, with the min stored partner as canonical — (doc_id,
    dup_of_corpus, canonical_id), the incremental crawl-ingest
    question as one batch query. The pair machinery is the LITERAL
    minhash_md5_pairs pipeline (dedup.minhash.md5_band_table /
    shingle_table — one definition), so this also gives the admission
    semantics cross-engine driver evidence the streaming surface
    cannot carry (its pytest pin covers drain equality; this covers
    the verdict math).

    Scale: one signature pass over the whole corpus (the band table is
    built once and split by a map-side flag predicate — no second
    tokenization), the band join touches only band-equal (arriving,
    stored) rows, the verify only candidates, and the verdict is one
    doc-keyed left join — the measured sub-quadratic minhash posture
    plus two linear joins. Docs with no shingles report non-dup, like
    the streaming stage."""
    docs = _t(spark, sf_dir, "documents")
    # r17: ONE persisted shingle table feeds the band table AND the
    # verify joins (the minhash_md5_pairs optimization applied to this
    # composite — band+verify used to shingle the corpus twice).
    sh = minhash.shingle_table(docs).persist()
    banded = minhash.md5_band_table_from_shingles(sh)
    cands = (
        _bands.band_join(
            banded.filter(_arriving(F.col("doc"))),
            banded.filter(~_arriving(F.col("doc"))),
        )
        .select(F.col("a.doc").alias("doc_id"), F.col("b.doc").alias("cand"))
        .distinct()
    )
    common, union = _bands.jaccard_sizes("sh_a", "sh_b", F.col("_c"))
    verdicts = (
        _bands.with_shingles(cands, sh, "doc_id", "cand")
        .withColumn("_c", common)
        .filter(F.col("_c") * 1_000_000 >= F.lit(500_000) * union)
        .groupBy("doc_id")
        .agg(F.min("cand").alias("canonical_id"))
    )
    return _admission_report(docs, "doc_id", verdicts)


_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> {a}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE))"
)


def _cos_sql(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"ROUND(({dot}) / (sqrt({na}) * sqrt({nb})), 6)"


@register(
    "topk_cosine",
    f"""SELECT q_id, n_id, sim FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                 {_cos_sql('q', 'c')} AS sim,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                    ORDER BY {_cos_sql('q', 'c')} DESC, c.vec_id) AS rnk
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id IN (0, 1, 2)) t
        WHERE rnk <= 10""",
)
def q_topk_cosine(spark, sf_dir):
    """Brute-force exact top-k cosine ANN baseline: 3 probe vectors vs
    the corpus, broadcast probes, sequential-fold float64 dot product."""
    embt = _t(spark, sf_dir, "embeddings")
    probes = embt.filter(F.col("vec_id").isin([0, 1, 2]))
    return similarity.topk_cosine(probes, embt, k=10)


def _lsh_pairs_sql() -> str:
    planes = emb_dedup.hyperplanes()
    sig = emb_dedup.sql_signature_expr("e.embedding", planes)
    return f"""
WITH sigs AS (
  SELECT e.vec_id, e.embedding, ({sig}) AS bucket FROM embeddings e
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_cos_sql('a', 'b')} AS cosine
FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_cos_sql('a', 'b')} >= 0.4
"""


def _ivf_topk_sql() -> str:
    planes = emb_dedup.hyperplanes(6)
    sig = emb_dedup.sql_signature_expr("e.embedding", planes)
    return f"""
WITH sigs AS (
  SELECT e.vec_id, e.embedding, ({sig}) AS bucket FROM embeddings e
), probes AS (
  SELECT vec_id AS q_id, embedding, bucket AS q_bucket FROM sigs WHERE vec_id IN (0, 1, 2)
)
SELECT q_id, n_id, sim FROM (
  SELECT p.q_id, s.vec_id AS n_id, {_cos_sql('s', 'p')} AS sim,
         ROW_NUMBER() OVER (PARTITION BY p.q_id
                            ORDER BY {_cos_sql('s', 'p')} DESC, s.vec_id) AS rnk
  FROM sigs s JOIN probes p ON s.bucket = p.q_bucket AND s.vec_id <> p.q_id) t
WHERE rnk <= 10
"""


@register("ivf_topk_cosine", _ivf_topk_sql())
def q_ivf_topk_cosine(spark, sf_dir):
    """IVF-style ANN top-k: the probe searches only its own LSH cell
    (coarse quantizer = random-hyperplane signature), exact cosine
    re-rank inside the cell — the sub-linear scale path next to the
    brute-force topk_cosine baseline. Literal hyperplanes make it fully
    oracle-checkable."""
    return emb_dedup.ivf_topk(_t(spark, sf_dir, "embeddings"), probe_ids=[0, 1, 2])


@register("embedding_near_pairs", _lsh_pairs_sql())
def q_embedding_near_pairs(spark, sf_dir):
    """Random-hyperplane LSH bucketing + exact cosine verify ≥ 0.4 —
    engine-portable (literal hyperplanes), so fully oracle-checked."""
    return emb_dedup.bucketed_near_pairs(_t(spark, sf_dir, "embeddings"), min_cosine=0.4)


@register(
    "doc_token_stats",
    """SELECT lang, COUNT(*) AS n_docs,
              CAST(SUM(len(list_filter(string_split(trim(lower(text)), ' '), x -> x <> ''))) AS DOUBLE) / COUNT(*) AS avg_tokens,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars
       FROM documents GROUP BY lang""",
)
def q_doc_token_stats(spark, sf_dir):
    """Per-language token statistics (text analysis surface)."""
    docs = _t(spark, sf_dir, "documents")
    ntok = text.token_count(F.col("text"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(ntok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "doc_quality",
    """SELECT doc_id,
              len(list_filter(string_split(trim(lower(text)), ' '), x -> x <> '')) AS n_tokens,
              len(list_distinct(list_filter(string_split(trim(lower(text)), ' '), x -> x <> ''))) AS n_distinct,
              ROUND(CAST(len(list_filter(string_split(trim(lower(text)), ' '), x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
                    / CAST(greatest(len(list_filter(string_split(trim(lower(text)), ' '), x -> x <> '')), 1) AS DOUBLE), 6) AS stop_ratio
       FROM documents""",
)
def q_doc_quality(spark, sf_dir):
    """Quality-scoring signals per document: token count, lexical
    diversity, stopword ratio (LLM-pipeline pre-filters)."""
    docs = _t(spark, sf_dir, "documents")
    # inline(array(struct)) = Generate node: evaluates the feature struct
    # exactly once per row and emits its fields as columns (a plain
    # multi-column select would re-evaluate the struct per extracted
    # field after CollapseProject)
    return docs.select("doc_id", F.inline(F.array(text.token_features(F.col("text")))))


@register(
    "doc_fingerprint",
    """SELECT doc_id,
              CASE WHEN text IS NULL THEN NULL ELSE
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(generate_series(1, length(text)), i -> CAST(ascii(text[i]) AS BIGINT))),
                  (acc, c) -> (acc * 31 + c) % 2147483647) END AS fp
       FROM documents""",
)
def q_doc_fingerprint(spark, sf_dir):
    """Rolling polynomial fingerprint over the document text — identical
    integer fold on both engines (functions.text.fingerprint)."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.aggregate(
        F.split("text", ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % F.lit(2147483647).cast("long"),
    )
    return docs.select("doc_id", fp.alias("fp"))


_BPE_PATTERN = "[a-z]+|[0-9]|[^a-z0-9 ]"


@register(
    "doc_bpe_token_count",
    f"""SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS BIGINT) AS n_bpe
        FROM documents""",
)
def q_doc_bpe_token_count(spark, sf_dir):
    """BPE-ish tokenizer proxy: word runs + single digits + punctuation
    as separate tokens via one vectorized regex pass (the LLM-pipeline
    token-counting primitive; identical RE semantics on both engines)."""
    docs = _t(spark, sf_dir, "documents")
    n = F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PATTERN), F.lit(0)))
    return docs.select("doc_id", n.cast("bigint").alias("n_bpe"))


_CHUNK = 10

_CHUNK_SQL = f"""
SELECT doc_id, CAST(g.i AS INT) AS chunk_idx,
       array_to_string(tk[(g.i*{_CHUNK}+1):(g.i*{_CHUNK}+{_CHUNK})], ' ') AS chunk_text
FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) t,
     LATERAL (SELECT unnest(generate_series(0,
               CAST(ceil(len(tk) / {_CHUNK}.0) - 1 AS INT))) AS i) g
"""


@register("doc_chunks_udtf", _CHUNK_SQL)
def q_doc_chunks_udtf(spark, sf_dir):
    """Python UDTF (table function) extension point: chunk each document
    into fixed-size token windows — the LLM-pipeline sharding primitive
    (context-window packing). One row in, N rows out via LATERAL; the
    chunking is deterministic string math, so the UDTF path is fully
    oracle-checked. Scale note: UDTFs run Arrow-batched per partition;
    the lateral join is map-side (no shuffle)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx: int, chunk_text: string")
    class ChunkDoc:
        def eval(self, text: str, size: int):
            toks = text.split(" ") if text else []
            for i in range(0, len(toks), size):
                yield i // size, " ".join(toks[i : i + size])

    catalog.register_views(spark, sf_dir)
    spark.udtf.register("chunk_doc", ChunkDoc)
    return spark.sql(
        f"SELECT d.doc_id, c.chunk_idx, c.chunk_text "
        f"FROM documents d, LATERAL chunk_doc(d.text, {_CHUNK}) c"
    )


# Shared CTE text so doc_pack_chunks and packing_efficiency can never
# drift (the CDC single-source-of-truth rule): offs(doc_id, shard,
# n_tokens, start_off) over 8 md5-free id shards.
_PACK_OFFS_CTE = """toks AS (
           SELECT doc_id, doc_id % 8 AS shard,
                  CAST(len(list_filter(string_split(trim(lower(text)), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents
       ), offs AS (
           SELECT doc_id, shard, n_tokens,
                  -- CAST: DuckDB window SUM(BIGINT) yields HUGEINT, which
                  -- pandas renders as float64 and the driver hash then
                  -- disagrees with Spark's int64 despite equal values.
                  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
           FROM toks WHERE n_tokens > 0
       )"""


@register(
    "doc_pack_chunks",
    f"""WITH {_PACK_OFFS_CTE}
       SELECT doc_id, shard, n_tokens, start_off,
              CAST(start_off // 2048 AS BIGINT) AS pack_id,
              CAST((start_off + n_tokens - 1) // 2048 - start_off // 2048 + 1 AS BIGINT) AS packs_spanned
       FROM offs""",
)
def q_doc_pack_chunks(spark, sf_dir):
    """Sequence packing for training batches: concat-and-chunk each
    shard's token stream into 2048-token context windows (see
    functions/packing.py for the scheme and why sharding keeps the
    prefix-sum window partitioned — no global sort at 100 TB)."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        text.token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    return packing.pack_offsets(base).select(
        "doc_id", "shard", "n_tokens", "start_off", "pack_id", "packs_spanned"
    )


@register(
    "embedding_quant_int8",
    """WITH s AS (
           SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS sc
           FROM embeddings
       ), q AS (
           SELECT vec_id, sc,
                  CASE WHEN sc = 0
                       THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                       ELSE list_transform(embedding, x ->
                            least(CAST(127 AS BIGINT),
                                  greatest(CAST(-127 AS BIGINT),
                                           CAST(floor(x::DOUBLE / sc + 0.5) AS BIGINT))))
                  END AS qv
           FROM s
       )
       SELECT vec_id, ROUND(sc, 6) AS qscale,
              CAST(list_sum(qv) AS BIGINT) AS q_sum,
              CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
              CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max,
              len(list_filter(qv, v -> abs(v) = 127)) AS n_sat
       FROM q""",
)
def q_embedding_quant_int8(spark, sf_dir):
    """Int8 embedding quantization (the ANN-index compression step):
    per-vector scale + exact integer summary of the code vector. All
    codegen column math; one map-only pass over the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.inline(F.array(similarity.int8_quant_stats(F.col("embedding"))))
    )


@register(
    "doc_split_assign",
    """SELECT doc_id, lang,
              CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                   WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
                   ELSE 'test' END AS split
       FROM documents""",
)
def q_doc_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment by md5 nibble of the doc
    id — content-free and stable under corpus growth (a doc's split
    never depends on other rows), and portable hashing means a full
    cross-engine oracle (unlike the xxhash64 MinHash)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", packing.md5_split(F.col("doc_id")).alias("split")
    )


@register(
    "lang_id_pred",
    """WITH tk AS (
           SELECT lang, text,
                  list_filter(
                      string_split_regex(
                          trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')),
                          '\\s+'),
                      t -> t <> '') AS toks
           FROM documents
       ), scored AS (
           SELECT lang,
                  list_aggregate([
                      struct_pack(score := CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to'], t))) AS BIGINT), lang := 'en'),
                      struct_pack(score := CAST(len(list_filter(toks, t -> list_contains(['el','la','de','que'], t))) AS BIGINT), lang := 'es'),
                      struct_pack(score := CAST(len(list_filter(toks, t -> list_contains(['le','la','et','les'], t))) AS BIGINT), lang := 'fr'),
                      struct_pack(score := CAST(len(list_filter(toks, t -> list_contains(['der','die','und','das'], t))) AS BIGINT), lang := 'de'),
                      struct_pack(score := CAST(CASE WHEN regexp_matches(text, '[一-鿿]') THEN 1000 ELSE 0 END AS BIGINT), lang := 'zh')
                  ], 'max') AS g
           FROM tk
       )
       SELECT lang,
              CASE WHEN g.score > 0 THEN g.lang ELSE 'unk' END AS pred,
              COUNT(*) AS n_docs
       FROM scored GROUP BY 1, 2""",
)
def q_lang_id_pred(spark, sf_dir):
    """Language-ID heuristic: predicted vs labeled language counts.

    The heuristic (argmax over marker-token counts, CJK by codepoint,
    lexicographic struct tie-break) IS cross-engine expressible —
    Spark's array_max over struct(score, lang) and DuckDB's
    list_aggregate(..., 'max') compare identically — so this carries a
    full value oracle despite being a heuristic."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", text.lang_id(F.col("text")).alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "pattern_view_click_purchase",
    """WITH flt AS (
           SELECT user_id, event_id, ts, event_type FROM events
           WHERE event_type IN ('view', 'click', 'purchase')
       ), led AS (
           SELECT user_id, event_id, ts, event_type,
                  LEAD(event_type, 1) OVER w AS t2,
                  LEAD(event_type, 2) OVER w AS t3,
                  LEAD(event_id, 1) OVER w AS k2,
                  LEAD(event_id, 2) OVER w AS k3,
                  LEAD(ts, 2) OVER w AS ts3
           FROM flt
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       )
       SELECT user_id, event_id AS k_start, k2 AS k_mid, k3 AS k_end,
              ts AS ts_start, ts3 AS ts_end
       FROM led
       WHERE event_type = 'view' AND t2 = 'click' AND t3 = 'purchase'
         AND CAST(floor(epoch(ts3)) AS BIGINT)
             - CAST(floor(epoch(ts)) AS BIGINT) <= 86400""",
)
def q_pattern_view_click_purchase(spark, sf_dir):
    """Sequence-pattern matching (MATCH_RECOGNIZE-lite): contiguous
    view → click → purchase runs per user within one day, over the
    pattern-filtered stream (operators.windows.pattern_triple). One
    window shuffle; overlapping matches all reported — per-row
    match-start detection keeps the operator stateless across matches
    and therefore embarrassingly parallel."""
    return windows.pattern_triple(
        _t(spark, sf_dir, "events"),
        "user_id",
        ("view", "click", "purchase"),
        within_seconds=86400,
    )


@register("sketch_rollup_users", None)  # datasketches HLL — engine-specific
def q_sketch_rollup_users(spark, sf_dir):
    """Mergeable-sketch rollup: per-day HLL sketches of distinct users,
    then one sketch-union for the whole range — the pattern a 100 TB
    rollup uses (store a kilobyte sketch per partition, merge sketches
    instead of re-scanning raw data; partial aggregation applies to the
    sketch build AND the union). Estimates are deterministic for fixed
    input but datasketches-specific, so this is rows-only;
    tests/test_operators.py pins the estimates against exact distinct
    counts with the configured error bound."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_day = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("bucket"),
        F.hll_sketch_estimate("sk").alias("est_users"),
    )
    total = daily.agg(
        F.lit("total").alias("bucket"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
    )
    return per_day.unionByName(total)


@register(
    "distinct_rollup_users",
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events GROUP BY 1
       UNION ALL
       SELECT 'total' AS bucket,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events""",
)
def q_distinct_rollup_users(spark, sf_dir):
    """EXACT distinct-user rollup — the hash-checkable twin of
    [[sketch_rollup_users]] (same (bucket, count) output shape), so the
    sketch family follows the repo's exact-counterpart convention
    (mad_outliers / value_percentiles / minhash_md5 precedent) and its
    driver slot is gradeable; tests pin sketch-vs-exact agreement
    within the HLL error bound.

    Scale: ONE corpus scan dedups to the (day, user) pair table — the
    shuffle carries distinct pairs only (map-side partial dedup), never
    raw events — then BOTH rollup levels aggregate that reduced table:
    per-day counts are a partial-agged groupBy, and the grand total
    re-dedups pairs by user (a second, much smaller shuffle over
    |distinct pairs| rows, ≪ re-scanning events; persist holds 2
    narrow columns). This is the exact-arithmetic mirror of the sketch
    rollup's partial-union tree."""
    ev = _t(spark, sf_dir, "events")
    pairs = (
        ev.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "bucket"
            ),
            "user_id",
        )
        .distinct()
        .persist()
    )
    per_day = pairs.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    total = pairs.select("user_id").distinct().agg(
        F.lit("total").alias("bucket"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    return per_day.unionByName(total)


@register(
    "inverted_index_terms",
    """WITH toks AS (
           SELECT doc_id,
                  unnest(list_distinct(list_filter(
                      string_split_regex(
                          trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')),
                          '\\s+'),
                      t -> t <> ''))) AS term
           FROM documents
       )
       SELECT term, COUNT(*) AS df,
              array_to_string((list_sort(list(doc_id)))[1:100], ',') AS postings
       FROM toks GROUP BY term""",
)
def q_inverted_index_terms(spark, sf_dir):
    """Inverted-index build over the documents table: term → document
    frequency + bounded sorted posting list (100 lowest doc ids). The
    search/retrieval-side operator the LLM pipeline uses next to the
    dedup posting lists; aggregation state stays bounded per term
    (functions.text.inverted_index docstring). The posting array is
    projected to CSV for the compare harness (row-sorting over list
    columns is undefined in pandas)."""
    docs = _t(spark, sf_dir, "documents")
    idx = text.inverted_index(docs)
    return idx.select(
        "term", "df", F.array_join("postings", ",").alias("postings")
    )


@register(
    "multimodal_payload_meta",
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
              CAST(octet_length(encode(text)) // 100 + 1 AS BIGINT) AS n_frames
       FROM documents""",
)
def q_multimodal_payload_meta(spark, sf_dir):
    """Multimodal plumbing: text re-encoded as an opaque binary payload
    column (the reference's Row.Data analog, row.go:9) with typed
    metadata; the decode/feature UDF path lives in
    chronobase_spark.functions.multimodal (stubbed decode)."""
    docs = _t(spark, sf_dir, "documents")
    plen = F.length(F.encode("text", "UTF-8")).cast("bigint")
    return docs.select("doc_id", plen.alias("payload_len")).withColumn(
        "n_frames", F.expr("CAST(payload_len DIV 100 + 1 AS BIGINT)")
    )


@register(
    "multimodal_decode_features",
    """WITH d AS (
         SELECT doc_id, text,
                octet_length(encode(text)) AS n,
                GREATEST(CAST(CEIL(octet_length(encode(text)) / 48.0) AS INT), 1) AS h
         FROM documents
       )
       SELECT doc_id,
              'image/x-portable-pixmap' AS media_type,
              CAST(11 + length(CAST(h AS VARCHAR)) + h * 48 AS BIGINT) AS n_bytes,
              CAST(16 AS INT) AS width,
              CAST(h AS INT) AS height,
              CAST(COALESCE(list_sum(list_transform(generate_series(1, n),
                     i -> CASE WHEN (i - 1) % 3 = 0 THEN ascii(text[i]) ELSE 0 END)), 0) AS BIGINT) AS r_sum,
              CAST(COALESCE(list_sum(list_transform(generate_series(1, n),
                     i -> CASE WHEN (i - 1) % 3 = 1 THEN ascii(text[i]) ELSE 0 END)), 0) AS BIGINT) AS g_sum,
              CAST(COALESCE(list_sum(list_transform(generate_series(1, n),
                     i -> CASE WHEN (i - 1) % 3 = 2 THEN ascii(text[i]) ELSE 0 END)), 0) AS BIGINT) AS b_sum
       FROM d""",
)
def q_multimodal_decode_features(spark, sf_dir):
    """The multimodal decode path END-TO-END with a REAL image decoder:
    each document becomes a spec-valid binary PPM (P6) file built
    JVM-side (raster = document bytes zero-padded to 16×h×3), and the
    Arrow-batched mapInPandas decoder parses the netpbm header
    (whitespace/comment tokenizer) and computes numpy channel
    statistics over the raster — real pixels, no codec stub
    (functions.multimodal.decode_ppm). Channel SUMS keep the features
    integer-exact, so the oracle reproduces them from the text bytes:
    byte i (ASCII corpus ⇒ ascii(char) == byte) lands in channel
    (i-1) mod 3, padding contributes zero. The reference carries media
    as an opaque Row.Data []byte (row.go:9) and can do none of this."""
    from chronobase_spark.functions import multimodal

    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_ppm(multimodal.to_ppm_payload(docs))


@register(
    "multimodal_frame_sample",
    """SELECT doc_id, CAST(f.frame_idx AS INT) AS frame_idx,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
       FROM documents,
            LATERAL (SELECT unnest(generate_series(0, CAST(octet_length(encode(text)) // 100 AS INT))) AS frame_idx) f""",
)
def q_multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling fan-out plumbing: one row per (doc, frame offset)
    via native explode — the shape a video frame sampler produces, no
    Python in the loop."""
    from chronobase_spark.functions import multimodal

    docs = _t(spark, sf_dir, "documents")
    return multimodal.frame_sample(multimodal.to_payload(docs))


@register(
    "shipping_priority_top10",
    """SELECT l.l_orderkey,
              CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
              o.o_orderdate, o.o_orderpriority
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
         AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
       ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
       LIMIT 10""",
)
def q_shipping_priority_top10(spark, sf_dir):
    """TPC-H Q3 shape: selective dimension filter → customer into
    orders (size-based autoBroadcast keeps it map-side at small SFs;
    the filtered set is still SF-proportional, so no forced hint —
    commit 2e89033 rule) → shuffle join lineitem on orderkey →
    grouped revenue →
    global top-10 (TakeOrderedAndProject: each partition keeps 10 rows,
    the driver merges 10×partitions, never a full sort). Revenue summed
    as exact decimal so the top-10 cut is deterministic; final ordering
    tie-breaks to be total."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(
            o.join(c, o.o_custkey == c.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "full_outer_user_activity",
    """SELECT COALESCE(c.user_id, p.user_id) AS user_id,
              COALESCE(c.n_clicks, 0) AS n_clicks,
              COALESCE(p.n_purchases, 0) AS n_purchases
       FROM (SELECT user_id, COUNT(*) AS n_clicks FROM events
             WHERE event_type = 'click' GROUP BY user_id) c
       FULL OUTER JOIN (SELECT user_id, COUNT(*) AS n_purchases FROM events
             WHERE event_type = 'purchase' GROUP BY user_id) p
       ON c.user_id = p.user_id""",
)
def q_full_outer_user_activity(spark, sf_dir):
    """Full outer join: click vs purchase counts per user, keeping users
    who only ever did one of the two. Both sides are pre-aggregated
    (map-side partial) before the join, so the join input is
    users-sized, not events-sized — the order matters at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return (
        c.alias("c")
        .join(p.alias("p"), F.col("c.user_id") == F.col("p.user_id"), "full_outer")
        .select(
            F.coalesce(F.col("c.user_id"), F.col("p.user_id")).alias("user_id"),
            F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
            F.coalesce(F.col("n_purchases"), F.lit(0)).alias("n_purchases"),
        )
    )


@register(
    "value_ntiles",
    """SELECT event_id,
              NTILE(4) OVER w AS quartile,
              ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
              ROUND(CUME_DIST() OVER w, 6) AS cume
       FROM events
       WINDOW w AS (PARTITION BY event_type
                    ORDER BY value NULLS LAST, event_id)""",
)
def q_value_ntiles(spark, sf_dir):
    """Distribution window functions (ntile / percent_rank / cume_dist)
    in one window pass: the ordering tie-breaks on event_id so every
    rank is unique and the rational-arithmetic outputs hash-match the
    oracle exactly. NULLS LAST pinned explicitly — Spark defaults
    NULLS FIRST ascending, DuckDB NULLS LAST (r7 nully-differential
    finding; tests/test_null_oracle.py)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), "event_id"
    )
    return ev.select(
        "event_id",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_SQL = "SELECT date_trunc('day', ts) AS day, " + ", ".join(
    f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _PIVOT_TYPES
) + " FROM events GROUP BY date_trunc('day', ts)"


@register("pivot_daily_type_counts", _PIVOT_SQL)
def q_pivot_daily_type_counts(spark, sf_dir):
    """Pivot (long→wide): daily event counts, one column per event type.
    The value list is explicit, so Spark skips the extra distinct-values
    job and the plan is a single hash aggregation — at scale an
    unbounded ``pivot()`` without values is two passes and an
    arbitrarily wide row; always pin the columns."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", _PIVOT_TYPES)
        .count()
        .na.fill(0, _PIVOT_TYPES)
    )


@register(
    "unpivot_part_metrics",
    """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
       UNION ALL
       SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part""",
)
def q_unpivot_part_metrics(spark, sf_dir):
    """Unpivot (wide→long): part numeric features melted to
    (key, metric, val) rows — ``df.unpivot`` expands map-side (no
    shuffle, no UDF), the shape feature-store exports want."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_size").cast("double").alias("p_size"), "p_retailprice"
    )
    return part.unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "val")


@register(
    "range_frame_hour_sum",
    """SELECT user_id, event_id, ts,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
              ) AS DOUBLE) AS hour_sum
       FROM events""",
)
def q_range_frame_hour_sum(spark, sf_dir):
    """Event-time RANGE window frame: per-user trailing-1-hour sum
    (windows.range_frame_sum) — the time-based frame the reference's
    (key, ts) model implies but its API cannot express."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    return windows.range_frame_sum(
        ev, "user_id", "ts", "value", 3600, alias="hour_sum"
    ).select("user_id", "event_id", "ts", "hour_sum")


@register(
    "latest_per_user",
    """SELECT user_id, event_id, ts, event_type, value FROM (
         SELECT user_id, event_id, ts, event_type, value,
                ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events) t
       WHERE rn = 1""",
)
def q_latest_per_user(spark, sf_dir):
    """Latest event per user — the canonical TSDB 'current value per
    series' read (timeseries.latest_per_key)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return timeseries.latest_per_key(ev, "user_id")


@register(
    "tfidf_top_terms",
    """WITH toks AS (
         SELECT doc_id, unnest(string_split_regex(lower(text), ' +')) AS term
         FROM documents
       ), tf AS (
         SELECT doc_id, term, COUNT(*) AS tf
         FROM toks WHERE term <> '' GROUP BY doc_id, term
       ), dfreq AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
       n AS (SELECT COUNT(*) AS n_docs FROM documents)
       SELECT doc_id, term, tf, score FROM (
         SELECT tf.doc_id, tf.term, tf.tf,
                CAST(tf.tf AS DOUBLE) * n.n_docs / dfreq.df_docs AS score,
                ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                  ORDER BY CAST(tf.tf AS DOUBLE) * n.n_docs / dfreq.df_docs DESC,
                           tf.term) AS rn
         FROM tf JOIN dfreq USING (term) CROSS JOIN n) t
       WHERE rn <= 3""",
)
def q_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per document (text.tfidf_top_terms) — linear
    IDF N/df keeps the scores integer-ratio doubles, so the oracle
    hash-matches without rounding."""
    return text.tfidf_top_terms(_t(spark, sf_dir, "documents"))


@register(
    "stratified_sample_langs",
    """SELECT lang, COUNT(*) AS n_sampled
       FROM documents
       WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
             CASE lang WHEN 'de' THEN '4000' WHEN 'en' THEN '8000'
                       WHEN 'es' THEN '4000' WHEN 'fr' THEN '4000'
                       WHEN 'zh' THEN '1999' END
       GROUP BY lang""",
)
def q_stratified_sample_langs(spark, sf_dir):
    """Stratified training-mix sampling with a DETERMINISTIC
    hash-threshold sampler: keep a doc iff its md5 16-bit bucket falls
    under its language's fraction (packing.md5_stratified_keep). Same
    map-only, shuffle-free scaling as ``sampleBy``, but membership is a
    pure function of doc_id — rerunnable, stable under corpus growth,
    and portable md5 makes the whole sample cross-engine
    oracle-checkable (r3 advice: the sampleBy(seed) predecessor was the
    last fixable no-oracle row)."""
    docs = _t(spark, sf_dir, "documents")
    frac = {"en": 0.5, "de": 0.25, "es": 0.25, "fr": 0.25, "zh": 0.1}
    keep = packing.md5_stratified_keep(F.col("doc_id"), F.col("lang"), frac)
    return docs.filter(keep).groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


@register(
    "props_map_stats",
    """SELECT k.key AS prop_key, COUNT(*) AS n,
              CAST(SUM(TRY_CAST(json_extract_string(props, '$."' || k.key || '"')
                                AS BIGINT)) AS BIGINT) AS total
       FROM events, LATERAL (SELECT unnest(json_keys(props)) AS key) k
       GROUP BY k.key""",
)
def q_props_map_stats(spark, sf_dir):
    """Map-type functions: parse the JSON props column into a
    map<string,string>, explode its entries, and aggregate per key —
    the generic path for semi-structured payloads whose key set is not
    known at query time (vs. props_typed_extract, which pins a schema).
    from_json + explode are codegen'd; no Python in the loop.

    Values parse as strings + try_cast so both engines agree on
    non-integer values (NULL, dropped by SUM) instead of Spark nulling
    vs DuckDB rounding; the oracle's outer CAST collapses DuckDB's
    HUGEINT sum (float64 via pandas — r3's hash mismatch) to BIGINT."""
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        ev.select(F.explode(m).alias("prop_key", "pval"))
        .groupBy("prop_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("pval").try_cast("bigint")).alias("total"),
        )
    )


@register(
    "pandas_udf_norm_len",
    """SELECT doc_id,
              CAST(length(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS BIGINT) AS n_norm_chars
       FROM documents""",
)
def q_pandas_udf_norm_len(spark, sf_dir):
    """Scalar pandas_udf (Arrow-vectorized Python): whitespace-collapsed
    lowercase length per document. Completes the Python-extension trio
    (scalar pandas_udf here, grouped-agg UDAF in udaf_median_value,
    UDTF in doc_chunks_udtf); the string math is deterministic, so the
    UDF path is fully oracle-checked. In production prefer the native
    expression (see the oracle SQL) — this exists to pin the Arrow
    batch path's semantics."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def norm_len(s: pd.Series) -> pd.Series:
        # nullable Int64, not int64: NULL text must stay NULL (the
        # oracle's LENGTH(NULL) is NULL); plain int64 raises on NaN.
        return (
            s.str.lower()
            .str.strip()
            .str.replace(r" +", " ", regex=True)
            .str.len()
            .astype("Int64")
        )

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", norm_len("text").alias("n_norm_chars"))


@register(
    "gap_fill_locf",
    """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                  COUNT(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
           FROM events GROUP BY 1, 2
       ), spine AS (
           SELECT event_type, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket_ts
           FROM (SELECT event_type, date_trunc('hour', MIN(ts)) AS b0,
                        date_trunc('hour', MAX(ts)) AS b1
                 FROM events GROUP BY 1)
       )
       SELECT s.event_type, s.bucket_ts,
              COALESCE(h.n_events, 0) AS n_events,
              last_value(h.avg_value IGNORE NULLS) OVER (
                  PARTITION BY s.event_type ORDER BY s.bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_locf
       FROM spine s
       LEFT JOIN hourly h
         ON s.event_type = h.event_type AND s.bucket_ts = h.bucket_ts""",
)
def q_gap_fill_locf(spark, sf_dir):
    """Time-series gap fill: hourly densification per event_type with
    last-observation-carried-forward for empty buckets — the canonical
    TSDB read the reference's (key, ts) model implies (row.go:6-10) but
    its bucket-less scan can't express (table.go:122-163). Spine rows
    are generated on executors (sequence + explode per key); the join
    and LOCF window share the event_type hash partitioning."""
    return timeseries.gap_fill_locf(_t(spark, sf_dir, "events"), "event_type")


@register(
    "gap_fill_interp",
    """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
           FROM events GROUP BY 1, 2
       ), spine AS (
           SELECT event_type, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket_ts
           FROM (SELECT event_type, date_trunc('hour', MIN(ts)) AS b0,
                        date_trunc('hour', MAX(ts)) AS b1
                 FROM events GROUP BY 1)
       ), filled AS (
           SELECT s.event_type, s.bucket_ts, h.avg_value,
                  last_value(h.avg_value IGNORE NULLS) OVER (
                      PARTITION BY s.event_type ORDER BY s.bucket_ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
                  last_value(CASE WHEN h.avg_value IS NOT NULL THEN s.bucket_ts END
                             IGNORE NULLS) OVER (
                      PARTITION BY s.event_type ORDER BY s.bucket_ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
                  first_value(h.avg_value IGNORE NULLS) OVER (
                      PARTITION BY s.event_type ORDER BY s.bucket_ts
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
                  first_value(CASE WHEN h.avg_value IS NOT NULL THEN s.bucket_ts END
                              IGNORE NULLS) OVER (
                      PARTITION BY s.event_type ORDER BY s.bucket_ts
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
           FROM spine s
           LEFT JOIN hourly h
             ON s.event_type = h.event_type AND s.bucket_ts = h.bucket_ts
       )
       SELECT event_type, bucket_ts,
              CASE WHEN avg_value IS NOT NULL THEN avg_value
                   ELSE prev_v + (next_v - prev_v)
                        * ((epoch(bucket_ts) - epoch(prev_t))
                           / (epoch(next_t) - epoch(prev_t)))
              END AS avg_value_interp
       FROM filled""",
)
def q_gap_fill_interp(spark, sf_dir):
    """Gap fill with linear interpolation — the continuous-signal
    companion to gap_fill_locf. Empty hourly buckets get
    prev + (next-prev) * elapsed/span from the neighboring observed
    buckets; spine bounds are observed buckets so no extrapolation.
    Bucket averages are exact DECIMAL sums divided once (deterministic,
    unrounded); the interpolation itself is bit-identical arithmetic on
    both engines and stays unrounded."""
    return timeseries.gap_fill_interp(_t(spark, sf_dir, "events"), "event_type")


@register(
    "counter_rate",
    """WITH x AS (
           SELECT event_id, value,
                  LAG(value) OVER w AS prev_v,
                  CAST(floor(epoch(ts)) AS BIGINT)
                    - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       )
       SELECT event_id,
              CASE WHEN prev_v IS NULL THEN NULL
                   WHEN value - prev_v >= 0 THEN value - prev_v
                   ELSE value END AS increase,
              CASE WHEN prev_v IS NULL OR gap_s <= 0 THEN NULL
                   ELSE (CASE WHEN value - prev_v >= 0 THEN value - prev_v
                              ELSE value END) / gap_s
              END AS rate_per_s
       FROM x""",
)
def q_counter_rate(spark, sf_dir):
    """PromQL-style increase/rate per user: value delta since the
    previous sample with counter-reset handling (negative delta → the
    raw value is the increase), divided by the whole-second gap. The
    monitoring read implied by the reference's (key, ts) counter rows;
    single window shuffle, no rounding (bit-identical single division,
    FIXTURES.md rule)."""
    df = windows.counter_rate(_t(spark, sf_dir, "events"), "user_id")
    return df.select("event_id", "increase", "rate_per_s")


@register(
    "multimodal_resize_meta",
    """SELECT doc_id,
              CAST((octet_length(encode(text)) + 3) // 4 AS BIGINT) AS n_bytes_resized,
              CAST(4 AS INT) AS scale_denom
       FROM documents""",
)
def q_multimodal_resize_meta(spark, sf_dir):
    """The multimodal resize path end-to-end: opaque payload →
    mapInPandas resize_stub (keep every 4th byte — deterministic stand-in
    for a pixel/PCM resampler) → typed metadata out. The byte math is
    exact, so even this Arrow-UDF stage gets a full SQL oracle."""
    from chronobase_spark.functions import multimodal

    docs = _t(spark, sf_dir, "documents")
    resized = multimodal.resize_stub(multimodal.to_payload(docs))
    return resized.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes_resized"),
        F.col("meta.scale_denom").alias("scale_denom"),
    )


# ---------------------------------------------------------------------------
# M2+ — extended analytical surface: sequence/funnel analysis, conditional
# aggregation, histograms, distribution-exact moments, more join shapes
# ---------------------------------------------------------------------------


@register(
    "funnel_stage_counts",
    """WITH stage AS (
         SELECT user_id,
                MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
         FROM events GROUP BY user_id)
       SELECT COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
              COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 END) AS n_view_click,
              COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click THEN 1 END) AS n_full_funnel
       FROM stage""",
)
def q_funnel_stage_counts(spark, sf_dir):
    """Ordered-funnel analysis (view → click → purchase): one hash
    aggregate per user computes the first timestamp of each stage via
    conditional MIN, then a global conditional COUNT rolls up how many
    users reached each stage *in order*. Scale: one shuffle on user_id
    with map-side partials, then a tiny all-to-one final — no joins, no
    per-event state. The sequencing predicate (t2 > t1) is what the
    reference's flat scan (table.go:122-163) cannot express."""
    ev = _t(spark, sf_dir, "events")
    stage = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    reached_view = F.col("t_view").isNotNull()
    reached_click = reached_view & (F.col("t_click") > F.col("t_view"))
    reached_full = reached_click & (F.col("t_purchase") > F.col("t_click"))
    return stage.agg(
        F.count(F.when(reached_view, 1)).alias("n_view"),
        F.count(F.when(reached_click, 1)).alias("n_view_click"),
        F.count(F.when(reached_full, 1)).alias("n_full_funnel"),
    )


@register(
    "priority_return_counts",
    """SELECT o_orderpriority,
              COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
              COUNT(CASE WHEN l_returnflag <> 'R' THEN 1 END) AS n_kept
       FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority""",
)
def q_priority_return_counts(spark, sf_dir):
    """TPC-H Q12-shaped conditional aggregation: large-large equi-join
    (orders ⋈ lineitem on the shared orderkey — SMJ/shuffle-hash at
    scale, both sides shuffle once on the same key) followed by
    CASE-WHEN pivoted counts per priority class."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        F.count(F.when(F.col("l_returnflag") != "R", 1)).alias("n_kept"),
    )


_DEC_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


@register(
    "promo_revenue_ratio",
    f"""SELECT date_trunc('month', l_shipdate) AS ship_month,
              100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                    THEN {_DEC_DISC_PRICE}
                                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                    / CAST(SUM({_DEC_DISC_PRICE}) AS DOUBLE) AS promo_pct
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
       GROUP BY date_trunc('month', l_shipdate)""",
)
def q_promo_revenue_ratio(spark, sf_dir):
    """TPC-H Q14-shaped promo ratio per ship month: fact-side filter
    pushed to the parquet scan, join to the part dimension left to
    size-based autoBroadcast (part grows with SF — a forced hint would
    OOM the driver at 100×; at bench SFs the size check keeps it
    map-side anyway), conditional decimal-exact revenue sums, ratio
    taken in double at the end (identical IEEE op order on both
    engines). One shuffle on the month key at worst."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    disc = F.expr(_DEC_DISC_PRICE)
    zero = F.lit(0).cast("decimal(18,4)")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(zero))
    total = F.sum(disc)
    return (
        j.groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            (F.lit(100.0) * promo.cast("double") / total.cast("double")).alias(
                "promo_pct"
            )
        )
    )


@register(
    "value_histogram",
    """SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
              COUNT(*) AS n,
              MIN(value) AS lo,
              MAX(value) AS hi
       FROM events GROUP BY 1""",
)
def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram over the measure column: bucket id from
    IEEE floor-division (bit-identical across engines), counts and
    exact min/max per bucket. Map-side partial aggregation makes this a
    constant-width shuffle regardless of row count — the standard
    profile for distribution monitoring over a 100 TB fact table."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / F.lit(50.0)).cast("bigint").alias("bucket")
    return ev.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@register(
    "percent_rank_value",
    """SELECT event_id, event_type, value,
              percent_rank() OVER (PARTITION BY event_type
                                   ORDER BY value NULLS LAST,
                                            event_id) AS pct_rank,
              cume_dist() OVER (PARTITION BY event_type
                                ORDER BY value NULLS LAST,
                                         event_id) AS cume
       FROM events WHERE event_type IN ('purchase', 'error')""",
)
def q_percent_rank_value(spark, sf_dir):
    """Relative-rank window functions (percent_rank / cume_dist):
    integer-ratio doubles, so cross-engine exact. Completes the ranking
    family (row_number/rank/dense_rank/ntile elsewhere). The (value,
    event_id) order key makes ranks deterministic under ties; NULLS
    LAST pinned explicitly on both engines (r7 nully-differential
    finding)."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), "event_id"
    )
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "returned_customer_revenue",
    f"""SELECT c_custkey, c_name, n_name, revenue FROM (
         SELECT c_custkey, c_name, n_name,
                CAST(SUM({_DEC_DISC_PRICE}) AS DOUBLE) AS revenue
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name, n_name) t
       ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def q_returned_customer_revenue(spark, sf_dir):
    """TPC-H Q10-shaped: who returned the most revenue. Lineitem
    revenue is pre-aggregated per orderkey BEFORE any join (r17, guide
    §2.2 partial aggregation: the orderkey exchange ships one decimal
    per order instead of price+discount per item, and the fact-fact
    join handles order-level rows — decimal sums are exact and
    associative, so the per-customer totals are bit-identical); the
    customer join is left to size-based autoBroadcast (customer is
    SF-proportional — forcing the hint OOMs at 100×, while at 100 TB
    the plan correctly degrades to a keyed shuffle join); nation
    (25 rows, constant) keeps its hint. Decimal-exact revenue, global
    top-20 (TakeOrderedAndProject — no full sort at scale). The
    returnflag filter reaches the parquet scan."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    disc = F.expr(_DEC_DISC_PRICE)
    li_rev = li.groupBy("l_orderkey").agg(F.sum(disc).alias("rev_dec"))
    j = (
        li_rev.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("rev_dec").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "large_order_customers",
    """SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN (SELECT l_orderkey,
                    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300) big
         ON o_orderkey = big.l_orderkey""",
)
def q_large_order_customers(spark, sf_dir):
    """TPC-H Q18-shaped: orders whose total quantity exceeds a
    threshold. The heavy side aggregates lineitem per orderkey FIRST
    (map-side partials shrink the shuffle), the HAVING filter then cuts
    the join input to the rare large orders — aggregate-then-join, the
    order that survives a 100× scale-up. The customer join carries no
    hint: customer is SF-proportional, so size-based autoBroadcast
    keeps it map-side at bench SFs and degrades it to a shuffle join
    at 100 TB instead of OOMing the driver."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(agg.dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@register(
    "error_after_purchase",
    """SELECT user_id, event_id, ts FROM (
         SELECT user_id, event_id, ts, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_type
         FROM events) t
       WHERE event_type = 'error' AND prev_type = 'purchase'""",
)
def q_error_after_purchase(spark, sf_dir):
    """Sequence-pattern detection: flag events whose immediate
    predecessor in the per-user timeline was a purchase and which are
    themselves errors — lag() over the (ts, key) order the reference
    sorts tablets by (tablet.go:124-132) but never exposes as a query.
    One shuffle on user_id; the pattern predicate is codegen'd."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter((F.col("event_type") == "error") & (F.col("prev_type") == "purchase"))
        .select("user_id", "event_id", "ts")
    )


@register(
    "moment_stats_by_type",
    """SELECT event_type, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_value,
              (CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
              / (COUNT(*) - 1) AS var_value,
              SQRT((CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
              / (COUNT(*) - 1)) AS stddev_value
       FROM events GROUP BY event_type""",
)
def q_moment_stats_by_type(spark, sf_dir):
    """Sample variance / stddev per key via ORDER-INSENSITIVE moments:
    exact decimal Σx and Σx², combined into var = (Σx² − (Σx)²/n)/(n−1)
    in double at the very end. Native stddev_samp accumulates doubles in
    partition order and cannot hash-match a single-threaded oracle;
    exact decimal moments are associative, so any shuffle order gives
    the same bits — the same trick dsum uses, extended to second
    moments. sqrt is IEEE correctly-rounded → identical on both
    engines."""
    ev = _t(spark, sf_dir, "events")
    dx = F.col("value").cast("decimal(18,2)")
    sum_x = F.sum(dx).cast("double")
    sum_x2 = F.sum(dx * dx).cast("double")
    n = F.count(F.lit(1))
    var = (sum_x2 - sum_x * sum_x / n) / (n - F.lit(1))
    return ev.groupBy("event_type").agg(
        n.alias("n"),
        (sum_x / n).alias("mean_value"),
        var.alias("var_value"),
        F.sqrt(var).alias("stddev_value"),
    )


@register(
    "cheapest_supplier_per_part",
    """SELECT l_partkey, s_suppkey, s_acctbal FROM (
         SELECT ps.l_partkey, s.s_suppkey, s.s_acctbal,
                ROW_NUMBER() OVER (PARTITION BY ps.l_partkey
                                   ORDER BY s.s_acctbal, s.s_suppkey) AS rn
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN supplier s ON ps.l_suppkey = s.s_suppkey
         WHERE s.s_acctbal IS NOT NULL) t
       WHERE rn = 1""",
)
def q_cheapest_supplier_per_part(spark, sf_dir):
    """TPC-H Q2-shaped argmin-per-group: for every part ever shipped,
    the cheapest supplier that shipped it. Implemented as min(struct(
    acctbal, suppkey)) after the supplier join (autoBroadcast-sized:
    supplier is SF-proportional, so no forced hint) — lexicographic
    struct min
    IS argmin-with-tiebreak, it is associative (map-side partial
    aggregation), and duplicates from repeat shipments can't change a
    min, so no distinct is needed: ONE shuffle on l_partkey total. The
    row_number-over-window formulation (the oracle SQL) would pay a
    distinct shuffle plus a window sort on top. NULL-balance suppliers
    are excluded on BOTH engines (a struct min would sort Spark's
    nulls FIRST while the oracle window sorts them LAST — the r7
    nully-differential finding; an unknown balance can't be
    'cheapest')."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    sup = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal").isNotNull())
        .select("s_suppkey", "s_acctbal")
    )
    j = li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
    best = F.min(F.struct("s_acctbal", "s_suppkey")).alias("best")
    return (
        j.groupBy("l_partkey")
        .agg(best)
        .select(
            "l_partkey",
            F.col("best.s_suppkey").alias("s_suppkey"),
            F.col("best.s_acctbal").alias("s_acctbal"),
        )
    )


@register(
    "embedding_dim_stats",
    """SELECT dim, COUNT(*) AS n,
              CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(18,8))) AS DOUBLE) AS sum_val
       FROM (SELECT generate_subscripts(embedding, 1) AS dim,
                    unnest(embedding) AS e
             FROM embeddings) t
       GROUP BY dim""",
)
def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension statistics over the embedding matrix (the feature-
    normalization precursor every embedding pipeline needs): posexplode
    to (dim, value), decimal-exact per-dim sums (order-insensitive →
    cross-engine exact despite float inputs). 64 groups regardless of
    corpus size — the shuffle is constant-width; at 100 TB this is one
    map-side-combined pass."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("pos", "e"))
    return (
        ex.groupBy((F.col("pos") + 1).alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("e").cast("double").cast("decimal(18,8)"))
            .cast("double")
            .alias("sum_val"),
        )
    )


@register(
    "dedup_canonical_map",
    """SELECT doc_id,
              MIN(doc_id) OVER (PARTITION BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS canonical_id,
              doc_id <> MIN(doc_id) OVER (PARTITION BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS is_duplicate
       FROM documents""",
)
def q_dedup_canonical_map(spark, sf_dir):
    """Keep-one dedup as a MAPPING rather than a projection: every
    doc_id paired with the canonical (minimum) id of its normalized-
    text duplicate cluster — what a pipeline joins back onto the corpus
    to drop or downweight duplicates without losing row identity
    (dedup.exact.canonical_map)."""
    return exact_dedup.canonical_map(_t(spark, sf_dir, "documents"))


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


@register(
    "profile_columns",
    " UNION ALL ".join(
        f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
               COUNT(DISTINCT {c}) AS n_distinct,
               MIN({c}) AS min_val, MAX({c}) AS max_val
        FROM lineitem"""
        for c in _PROFILE_COLS
    ),
)
def q_profile_columns(spark, sf_dir):
    """Data-profiling operator (the describe() a training pipeline runs
    before trusting a table): per-column row count, exact distinct
    count, min, max — computed in ONE scan with all aggregates fused
    (Spark plans multi-distinct via a single Expand), then unpivoted to
    one row per column. The oracle's UNION ALL of three scans is the
    semantic spec; the engine pays one."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.countDistinct(c).alias(f"d_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    one = li.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"d_{c}").alias("n_distinct"),
            F.col(f"min_{c}").alias("min_val"),
            F.col(f"max_{c}").alias("max_val"),
        )
        for c in _PROFILE_COLS
    ]
    return one.select(F.explode(F.array(*per_col)).alias("s")).select("s.*")


_CLUSTER_SQL = f"""
WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM documents
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
)
SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
"""


@register("dup_clusters", _CLUSTER_SQL)
def q_dup_clusters(spark, sf_dir):
    """Transitive near-duplicate clusters: Jaccard pairs (the exact
    near-dup stage) closed under connectivity by iterative min-label
    propagation (dedup.cluster.connected_components) — a genuinely
    iterative distributed algorithm, still fully oracle-checked because
    DuckDB expresses the same fixpoint as a recursive CTE (min
    reachable id == converged min-label). Every document appears;
    singletons map to themselves."""
    from chronobase_spark.dedup import cluster

    docs = _t(spark, sf_dir, "documents")
    # persist: the CC's symmetrization union reads the pair list twice
    # in the one job that materializes its edge list; no later round
    # reads it again. At 100 TB the pairs WOULD be a materialized table
    # between the two stages.
    pairs = (
        ngram.jaccard_pairs(docs, threshold=0.5)
        .select("doc_a", "doc_b")
        .persist()
    )
    return cluster.assign_clusters(docs, pairs)


# ---------------------------------------------------------------------------
# M6 round 2 — repetition filtering + IVF centroid train/assign (SURVEY §2.4)
# ---------------------------------------------------------------------------

_REPETITION_SQL = """
SELECT doc_id,
       len(tk) AS n_tokens,
       CASE WHEN len(tk) = 0 THEN 0.0
            ELSE ROUND(CAST(list_max(list_transform(list_distinct(tk),
                            t -> len(list_filter(tk, x -> x = t)))) AS DOUBLE)
                 / CAST(len(tk) AS DOUBLE), 6) END AS top_token_ratio,
       CASE WHEN len(grams) = 0 THEN 0.0
            ELSE ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                 / CAST(len(grams) AS DOUBLE), 6) END AS dup_2gram_ratio
FROM (
  SELECT doc_id, tk,
         list_transform(range(1, greatest(len(tk), 1)),
                        i -> tk[i] || ' ' || tk[i + 1]) AS grams
  FROM (SELECT doc_id,
               list_filter(string_split(trim(lower(coalesce(text, ''))), ' '),
                           x -> x <> '') AS tk
        FROM documents)
)
"""


@register("doc_repetition", _REPETITION_SQL)
def q_doc_repetition(spark, sf_dir):
    """Gopher/MassiveText-style repetition signals per document:
    most-frequent-token fraction and duplicate-bigram fraction — the
    standard boilerplate/spam pre-filters for LLM training corpora.

    Scale shape (r17, guide §2.2): BOTH signals are now pure per-row
    expressions — the top-token stage is text.top_token_stats (max run
    length over the sorted token array; the values equal the old
    explode → (doc, token) count → per-doc max/sum chain by
    construction), so the query is MAP-ONLY: zero shuffles, zero
    joins, where it previously shuffled every token instance of the
    corpus twice and joined the result back to the spine. Docs with no
    tokens still appear (ratios 0) — top_token_stats folds NULL/empty
    text to (0, 0), the exact rows the old left join's NULL path
    produced (coalesce(n_tok, 0)). Input spread (catalog.spread —
    identity at scale): the sort+fold is heavy-CPU map work that
    serializes on an unsplittable scan (interleaved A/B at sf0.1:
    old chain 1.12 s → map-only 0.92 → map-only+spread 0.73, r17,
    OPTIMIZATION_r17.md family D)."""
    docs = catalog.spread(_t(spark, sf_dir, "documents"), key="doc_id")
    # bind the fold structs under named columns first (the repo's
    # bind-then-project convention: CollapseProject keeps non-cheap
    # expressions in their own projection, so each fold runs once).
    # No F.inline here: a generator in the same select strips sibling
    # structs' field aliases to col1/col2 (observed on Spark 4.1).
    grams = docs.select(
        "doc_id",
        text.bigram_dup_stats(F.col("text")).alias("_bds"),
        text.top_token_stats(F.col("text")).alias("_tts"),
    ).select(
        "doc_id",
        F.col("_bds.n_grams").alias("n_grams"),
        F.col("_bds.n_distinct_grams").alias("n_distinct_grams"),
        F.col("_tts.n_tok").alias("n_tok"),
        F.col("_tts.top_c").alias("top_c"),
    )
    n_tokens = F.col("n_tok").cast("bigint")
    return (
        grams
        .select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            F.when(
                n_tokens > 0,
                F.round(F.col("top_c").cast("double") / n_tokens.cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("top_token_ratio"),
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    F.lit(1.0)
                    - F.col("n_distinct_grams").cast("double")
                    / F.col("n_grams").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_2gram_ratio"),
        )
    )


# Micro-integer exact sum, then ONE double division — identical
# operands divide identically on both engines, so no rounding of the
# quotient (which flaked 1-in-640 components at sf0.1) and no 6-dp
# round of raw float32 components (Spark rounds shortest decimal
# strings, DuckDB scaled binaries — FIXTURES.md quantization rule).
_CENTROID_AVG_SQL = (
    "CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0) "
    "AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1000000.0)"
)

_CENTROID_SQL = f"""
SELECT label, i - 1 AS pos, {_CENTROID_AVG_SQL} AS avg_v
FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
WHERE embedding IS NOT NULL
GROUP BY label, i
"""


@register("embedding_centroids", _CENTROID_SQL)
def q_embedding_centroids(spark, sf_dir):
    """Per-label elementwise mean embedding — the IVF/k-means centroid
    "update" step (functions.similarity.label_centroids). Emitted as
    (label, pos, avg_v) rows so the oracle hash-compares scalars, not
    arrays."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return (
        ex.groupBy("label", "pos")
        .agg(
            (
                F.sum(
                    F.round(F.col("v").cast("double") * F.lit(1000000.0), 0).cast(
                        "bigint"
                    )
                ).cast("double")
                / (F.count(F.lit(1)) * F.lit(1000000.0))
            ).alias("avg_v")
        )
        .select("label", F.col("pos").cast("bigint").alias("pos"), "avg_v")
    )


_SQDIST_SQL = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> (e.embedding[i]::DOUBLE - c.cvec[i]) * (e.embedding[i]::DOUBLE - c.cvec[i])))"
)

_ASSIGN_SQL = f"""
WITH cent AS (
  SELECT label AS clabel, i AS pos, {_CENTROID_AVG_SQL} AS avg_v
  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
  WHERE embedding IS NOT NULL
  GROUP BY label, i
), cvecs AS (
  SELECT clabel, list(avg_v ORDER BY pos) AS cvec FROM cent GROUP BY clabel
), best AS (
  SELECT e.vec_id, e.label, c.clabel,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND({_SQDIST_SQL}, 6), c.clabel) AS rnk
  FROM embeddings e CROSS JOIN cvecs c
  WHERE e.embedding IS NOT NULL
)
SELECT label, clabel AS assigned, COUNT(*) AS n_vecs
FROM best WHERE rnk = 1 GROUP BY label, clabel
"""


@register("ivf_assign_counts", _ASSIGN_SQL)
def q_ivf_assign_counts(spark, sf_dir):
    """IVF/k-means "assign" step: nearest label-centroid per vector by
    squared L2, reported as a (true label × assigned centroid) count
    matrix — the clustering-quality confusion table.

    Scale shape: centroids are |labels|·dim aggregates (broadcast);
    the corpus streams through the distance cross-join once; the argmin
    is a single min(struct) shuffle with map-side partials
    (functions.similarity.assign_nearest_centroid); the final count
    matrix is ≤ |labels|² rows."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.label_centroids(emb)
    assigned = similarity.assign_nearest_centroid(
        emb.select("vec_id", "label", "embedding"), cents
    )
    return assigned.groupBy("label", "assigned").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )


# k and iters appear in BOTH the Python call and the oracle CTE via
# these module constants (the semdedup_scaled shared-constant rule) so
# they cannot silently desynchronize. iters is fixed at 2 = the seeds
# round plus ONE Lloyd update, unrolled in the oracle as chained
# MATERIALIZED CTEs (plain DuckDB CTEs inline and go exponential on
# iterative shapes — FIXTURES.md).
_KMEANS_K = 8

# Shared CTE chain: seeds → first assignment → exact-mean update →
# final assignment (a2). Both the kmeans query and the IVF search
# built on its cells consume a2, so quantizer and searcher can never
# desynchronize.
_KMEANS_CTES = f"""seeds AS MATERIALIZED (
  SELECT vec_id AS clabel, list_transform(embedding, x -> x::DOUBLE) AS cvec
  FROM embeddings WHERE embedding IS NOT NULL AND vec_id < {_KMEANS_K}
), a1 AS MATERIALIZED (
  SELECT vec_id, assigned FROM (
    SELECT e.vec_id, c.clabel AS assigned,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND({_SQDIST_SQL}, 6), c.clabel) AS rnk
    FROM embeddings e CROSS JOIN seeds c
    WHERE e.embedding IS NOT NULL) t
  WHERE rnk = 1
), c1 AS MATERIALIZED (
  SELECT assigned AS clabel, i AS pos, {_CENTROID_AVG_SQL} AS avg_v
  FROM a1 JOIN embeddings e USING (vec_id)
  CROSS JOIN generate_series(1, 64) AS t(i)
  GROUP BY assigned, i
), cv1 AS MATERIALIZED (
  SELECT clabel, list(avg_v ORDER BY pos) AS cvec FROM c1 GROUP BY clabel
), a2 AS MATERIALIZED (
  SELECT vec_id, assigned, dist FROM (
    SELECT e.vec_id, c.clabel AS assigned, ROUND({_SQDIST_SQL}, 6) AS dist,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND({_SQDIST_SQL}, 6), c.clabel) AS rnk
    FROM embeddings e CROSS JOIN cv1 c
    WHERE e.embedding IS NOT NULL) t
  WHERE rnk = 1
)"""

_KMEANS_SQL = f"""
WITH {_KMEANS_CTES}
SELECT vec_id, assigned, dist FROM a2
"""


@register("kmeans_lloyd_assign", _KMEANS_SQL)
def q_kmeans_lloyd_assign(spark, sf_dir):
    """Unsupervised k-means (Lloyd's) over the embedding corpus:
    deterministic seeds (vec_id < k), one exact-arithmetic update
    round, final assignment with rounded-distance argmin — the trained
    coarse quantizer IVF/SemDeDup assume, and the registry's only
    ITERATIVE embedding operator (embedding_centroids/ivf_assign_counts
    are its two steps run once, supervised by the true label).

    Scale shape: per round, centroids broadcast (k·dim), corpus
    streams once through the assign pass, centroid update is a
    partial-agged (label, pos) aggregate; the one corpus-keyed shuffle
    is the vec_id join gluing assignment to vector (shuffle_hash).
    See functions.similarity.kmeans_lloyd."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kmeans_lloyd(emb, k=_KMEANS_K)


_KMEANS_PROBE_IDS = (0, 1, 2)
_KMEANS_TOPK = 10

_KMEANS_IVF_SQL = f"""
WITH {_KMEANS_CTES},
cells AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, a.assigned
  FROM embeddings e JOIN a2 a USING (vec_id)
), probes AS (
  SELECT vec_id AS q_id, embedding, assigned AS q_cell
  FROM cells WHERE vec_id IN {_KMEANS_PROBE_IDS}
)
SELECT q_id, n_id, sim FROM (
  SELECT p.q_id, s.vec_id AS n_id, {_cos_sql('s', 'p')} AS sim,
         ROW_NUMBER() OVER (PARTITION BY p.q_id
                            ORDER BY {_cos_sql('s', 'p')} DESC, s.vec_id) AS rnk
  FROM cells s JOIN probes p ON s.assigned = p.q_cell AND s.vec_id <> p.q_id) t
WHERE rnk <= {_KMEANS_TOPK}
"""


@register("ivf_kmeans_topk", _KMEANS_IVF_SQL)
def q_ivf_kmeans_topk(spark, sf_dir):
    """ANN top-k over the TRAINED coarse quantizer: each probe searches
    only its own Lloyd's-k-means cell, exact cosine re-rank inside the
    cell — the canonical IVF composition (train → assign → search)
    that ivf_topk_cosine approximates with untrained random
    hyperplanes. Oracle shares the quantizer's whole CTE chain
    (_KMEANS_CTES) plus the probe/k constants, so searcher and
    quantizer cannot desynchronize.

    Scale shape: quantizer cost is the kmeans_lloyd_assign shape; the
    search adds one vec_id-keyed shuffle_hash join gluing cells to
    vectors, a |probes|-row broadcast, and a per-probe top-k window
    over single-cell candidates (~n/k rows per probe, never the
    corpus)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_kmeans_topk(
        emb,
        probe_ids=list(_KMEANS_PROBE_IDS),
        k=_KMEANS_TOPK,
        kmeans_k=_KMEANS_K,
    )


_DECONTAM_SQL = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id, source, UNNEST(list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 0)),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
  FROM toks
), bench AS (
  SELECT DISTINCT sh FROM sh WHERE source = 'src0'
)
SELECT s.doc_id, COUNT(*) AS n_overlap
FROM sh s JOIN bench b ON s.sh = b.sh
WHERE s.source <> 'src0'
GROUP BY s.doc_id
HAVING COUNT(*) >= 3
"""


@register("decontam_overlap", _DECONTAM_SQL)
def q_decontam_overlap(spark, sf_dir):
    """Test-set decontamination: corpus docs sharing ≥3 distinct
    3-gram shingles with the benchmark partition (source='src0' stands
    in for an eval suite). The benchmark shingle set broadcasts (eval
    suites are small by nature); the corpus streams through once
    (dedup.ngram.contamination_overlap)."""
    docs = _t(spark, sf_dir, "documents")
    return ngram.contamination_overlap(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    )


_OHLC_SQL = """
WITH ranked AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, bucket_ts,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_v,
       MAX(value) AS high_v,
       MIN(value) AS low_v,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_v,
       COUNT(*) AS n_events
FROM ranked GROUP BY event_type, bucket_ts
"""


@register("ohlc_hourly", _OHLC_SQL)
def q_ohlc_hourly(spark, sf_dir):
    """Hourly OHLC (open/high/low/close) bars per event type — the
    classic TSDB downsampling rollup. Open/close are argmin/argmax over
    event time, implemented as min/max of struct(ts, event_id, value):
    lexicographic struct extrema ARE argmin/argmax with a deterministic
    (ts, event_id) tie-break, they are associative (map-side partial
    aggregation), so the whole bar is ONE shuffle on (type, hour) — no
    window sort, no second pass. The oracle's double-ROW_NUMBER
    formulation would pay two window sorts."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    return (
        ev.groupBy(F.col("event_type"), bucket.alias("bucket_ts"))
        .agg(
            F.min(F.struct("ts", "event_id", "value")).alias("_o"),
            F.max(F.struct("ts", "event_id", "value")).alias("_c"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "bucket_ts",
            F.col("_o.value").alias("open_v"),
            "high_v",
            "low_v",
            F.col("_c.value").alias("close_v"),
            "n_events",
        )
    )


_EWMA_SQL = """
WITH RECURSIVE o AS (
  SELECT user_id, event_id, ts, value,
         DATE_TRUNC('day', ts) AS seg,
         ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('day', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
), pre AS (
  SELECT user_id, seg, rn, event_id, ts, value,
         0.5 * value AS bj, CAST(0.5 AS DOUBLE) AS aj
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.seg, o.rn, o.event_id, o.ts, o.value,
         0.5 * o.value + 0.5 * pre.bj, 0.5 * pre.aj
  FROM o JOIN pre ON o.user_id = pre.user_id AND o.seg = pre.seg
                 AND o.rn = pre.rn + 1
), summ AS (
  SELECT user_id, seg,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seg) AS k,
         ARG_MAX(aj, rn) AS a_tot,
         ARG_MAX(bj, rn) AS b_end,
         ARG_MIN(value, rn) AS first_v
  FROM pre GROUP BY user_id, seg
), chain AS (
  SELECT user_id, seg, k, first_v AS yin, a_tot, b_end
  FROM summ WHERE k = 1
  UNION ALL
  SELECT s.user_id, s.seg, s.k, c.a_tot * c.yin + c.b_end, s.a_tot, s.b_end
  FROM summ s JOIN chain c ON s.user_id = c.user_id AND s.k = c.k + 1
)
SELECT p.user_id, p.event_id, p.ts, p.value, p.aj * c.yin + p.bj AS ewma
FROM pre p JOIN chain c ON p.user_id = c.user_id AND p.seg = c.seg
"""

@register("ewma_user_value", _EWMA_SQL)
def q_ewma_user_value(spark, sf_dir):
    """Per-user exponentially-weighted moving average of value (α=0.5)
    — exponential smoothing, the time-series operator SQL windows can't
    express (each output depends on the previous OUTPUT, not a frame of
    inputs).

    Spark shape — associative affine-segment composition, bounded state
    everywhere (replaces the r1–r4 full-history collect_list fold):
    each EWMA step is the affine map y → 0.5·y + 0.5·v, and affine maps
    compose associatively, so per-user histories are segmented by
    calendar day and each segment folds INDEPENDENTLY to a zero-start
    prefix (b_j = EWMA of the segment as if entered with y=0) plus the
    exact power-of-two decay a_j = 2^-j. A window over (user) ordered
    by segment chains the boundary value yin(k) = a_tot·yin(k-1) +
    b_end by folding each day's prefix of per-segment summaries (≤
    #days structs, not #events — r6: this fused the r5 groupBy-collect
    + explode + join-back into the segment groupBy plus ONE window
    exchange), and every row's output is one multiply-add:
    ewma_j = a_j·yin + b_j. Memory per task is one (user, day) group —
    at 100 TB you pick the bucket width to match per-key density; no
    state ever holds a full history.

    Bit-exactness is BY CONSTRUCTION, not luck: the DuckDB oracle
    mirrors the identical op DAG (same zero-start fold, same
    boundary-chain multiply-add, same final combine), every multiply is
    by a power of two (exact in IEEE 754), and each addition appears at
    the same point in both engines, so both round identically. The
    first row stays exact too: yin(first segment) = v_1 gives
    0.5·v_1 + 0.5·v_1 = v_1. In exact arithmetic this equals the plain
    sequential recurrence; in floats it is the same well-defined
    segmented association on both sides (a plain-sequential oracle
    would differ by final-ulp rounding placement, so the oracle states
    the segmented DAG explicitly). Full mechanics + scale notes:
    operators.timeseries.segmented_ewma. NULL observations are
    excluded on BOTH engines up front (a NULL poisons DuckDB's
    recursive chain differently from the window fold — r7
    nully-differential finding; EWMA is defined over observed
    values)."""
    return timeseries.segmented_ewma(
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "ts", "value")
    )


_OUTLIER_SQL = """
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_v,
         CASE WHEN COUNT(*) > 1 THEN
           SQRT((CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
                / (COUNT(*) - 1)) END AS std_v
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       ROUND((e.value - s.mean_v) / s.std_v, 6) AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE s.std_v > 0 AND ABS((e.value - s.mean_v) / s.std_v) > 2.5
"""


@register("value_outliers_by_type", _OUTLIER_SQL)
def q_value_outliers_by_type(spark, sf_dir):
    """Z-score outlier detection per event type — the aggregate-then-
    join-back anomaly scan. Per-type mean/std come from the
    order-insensitive exact-decimal moments (same machinery as
    ``moment_stats_by_type``, so both engines derive bit-identical
    statistics); the tiny stats table broadcasts back onto the corpus
    (one scan, no second shuffle) and the z threshold compares
    identical doubles.

    ANSI hardening: the driver's session runs Spark 4 default-ANSI,
    where double division by zero THROWS. Singleton groups (n−1 = 0)
    and zero-variance groups are guarded out identically in both
    engines (the oracle's CASE/WHERE mirror the when/filter), so a
    corpus with such groups drops their rows instead of erroring."""
    ev = _t(spark, sf_dir, "events")
    dx = F.col("value").cast("decimal(18,2)")
    sum_x = F.sum(dx).cast("double")
    sum_x2 = F.sum(dx * dx).cast("double")
    n = F.count(F.lit(1))
    var = (sum_x2 - sum_x * sum_x / n) / (n - F.lit(1))
    stats = ev.groupBy("event_type").agg(
        (sum_x / n).alias("mean_v"),
        F.sqrt(F.when(n > 1, var)).alias("std_v"),
    ).filter(F.col("std_v") > 0)
    z = (F.col("value") - F.col("mean_v")) / F.col("std_v")
    return (
        ev.select("event_id", "event_type", "value")
        .join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.5)
        .select(
            "event_id", "event_type", "value", F.round(z, 6).alias("zscore")
        )
    )


_TWA_SQL = """
WITH d AS (
  SELECT user_id, value,
         epoch_us(ts) AS ts_us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_us
  FROM events
), seg AS (
  SELECT user_id,
         CAST(ROUND(value, 6) AS DECIMAL(20,6))
           * CAST(next_us - ts_us AS DECIMAL(18,0)) AS weighted,
         next_us - ts_us AS dur_us
  FROM d WHERE next_us IS NOT NULL
)
SELECT user_id,
       CAST(SUM(weighted) AS VARCHAR) AS tw_weighted_sum,
       CAST(SUM(dur_us) AS BIGINT) AS total_us
FROM seg GROUP BY user_id
"""


@register("time_weighted_avg", _TWA_SQL)
def q_time_weighted_avg(spark, sf_dir):
    """Per-user time-weighted average value — the TSDB aggregate where
    each observation counts for how LONG it held, not how often it was
    sampled (irregular series make plain avg() meaningless). Each
    segment's weight is its duration to the next event (lead window,
    one shuffle on user_id); the weighted sum runs value·µs as exact
    DECIMAL so it is order-insensitive and engine-identical. The
    compared output is the exact numerator serialized as a fixed-scale
    decimal string plus the BIGINT denominator — r3's hash mismatch was
    a final rounded double division, and even a bare decimal(38,6)→
    double cast differs by one ulp between engines (Spark rounds the
    BigDecimal correctly; DuckDB divides int128 by 10^6 in double
    arithmetic), so the only portable exact form is the string. The
    caller divides tw_weighted_sum/total_us for the average (guard
    total_us=0: the all-duplicate-ts user has no segments)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        "value",
        # cast: events.ts reads as TIMESTAMP_NTZ, which unix_micros
        # rejects; with the session pinned to UTC the cast is exact.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.lead(F.unix_micros(F.col("ts").cast("timestamp"))).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    dur = F.col("next_us") - F.col("ts_us")
    weighted = F.round(F.col("value"), 6).cast("decimal(20,6)") * dur.cast(
        "decimal(18,0)"
    )
    return (
        d.select("user_id", weighted.alias("weighted"), dur.alias("dur_us"))
        .groupBy("user_id")
        .agg(
            F.sum("weighted").cast("string").alias("tw_weighted_sum"),
            F.sum("dur_us").alias("total_us"),
        )
    )


_COHORT_SQL = """
WITH firsts AS (
  SELECT user_id, ts,
         date_trunc('week', MIN(ts) OVER (PARTITION BY user_id)) AS cohort_week
  FROM events
)
SELECT cohort_week,
       CAST((epoch(date_trunc('week', ts)) - epoch(cohort_week))
            / (7 * 86400) AS BIGINT) AS week_offset,
       COUNT(DISTINCT user_id) AS n_active
FROM firsts
GROUP BY cohort_week, week_offset
"""


@register("weekly_cohort_retention", _COHORT_SQL)
def q_weekly_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen week, counted
    distinct in each subsequent week offset — the standard
    retention/churn report. The cohort label is a window min over
    user_id (one shuffle, no self-join); the matrix is a distinct-count
    aggregate over (cohort, offset). Week truncation starts Monday in
    both engines; the offset is exact integer epoch arithmetic."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    cohort = F.date_trunc("week", F.min("ts").over(w))
    week = F.date_trunc("week", F.col("ts"))
    offset = (
        (F.unix_timestamp(week) - F.unix_timestamp(cohort)) / (7 * 86400)
    ).cast("bigint")
    return (
        ev.select(
            "user_id",
            cohort.alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


_FUNNEL_SQL = """
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split(trim(lower(coalesce(text, ''))), ' '),
                     x -> x <> '') AS tk
  FROM documents
), s AS (
  SELECT lang,
         len(tk) AS n,
         CAST(len(list_filter(tk, x -> x IN
              ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
           / CAST(greatest(len(tk), 1) AS DOUBLE) AS stop_r,
         CASE WHEN len(tk) = 0 THEN 0.0
              ELSE CAST(list_max(list_transform(list_distinct(tk),
                     t2 -> len(list_filter(tk, x -> x = t2)))) AS DOUBLE)
                   / CAST(len(tk) AS DOUBLE) END AS top_r
  FROM t
)
SELECT lang,
       CASE WHEN n < 25 THEN 'too_short'
            WHEN top_r > 0.125 THEN 'low_diversity'
            WHEN stop_r > 0.12 THEN 'stopword_heavy'
            ELSE 'keep' END AS verdict,
       COUNT(*) AS n_docs
FROM s
GROUP BY lang, verdict
"""


@register("quality_filter_funnel", _FUNNEL_SQL)
def q_quality_filter_funnel(spark, sf_dir):
    """The composed pre-training quality funnel: every document gets its
    first-failing rule (length floor → repetition ceiling → stopword
    ceiling, the Gopher-rule ordering) and the result is the per-language
    keep/drop report a pipeline operator reads before materializing the
    filtered corpus.

    Scale shape (r17, guide §2.2): every signal is now a per-row
    expression — the most-frequent-token ratio comes from
    text.top_token_stats (max run length over the sorted token array;
    identical values to the old explode → count → max/sum chain by
    construction), so the whole funnel is map-only expressions + ONE
    tiny (lang × verdict) aggregate, where it previously shuffled
    every token instance of the corpus twice and joined the result
    back. All thresholds are plain comparisons on bit-identical IEEE
    division results, so the oracle splits rows identically (NULL/empty
    text folds to n_tok 0 → too_short, the old join-NULL path). Input
    spread (catalog.spread — identity at scale): the sort+fold
    serializes on an unsplittable scan (OPTIMIZATION_r17.md family D)."""
    docs = catalog.spread(_t(spark, sf_dir, "documents"), key="doc_id")
    feats = docs.select(
        "lang",
        text.token_features(F.col("text")).alias("_tf"),
        text.top_token_stats(F.col("text")).alias("_tts"),
    ).select(
        "lang",
        F.col("_tf.stop_ratio").alias("stop_ratio"),
        F.col("_tts.n_tok").alias("n_tok"),
        F.col("_tts.top_c").alias("top_c"),
    )
    n = F.col("n_tok")
    top_r = F.when(
        n > 0, F.col("top_c").cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))
    verdict = (
        F.when(n < 25, F.lit("too_short"))
        .when(top_r > 0.125, F.lit("low_diversity"))
        .when(F.col("stop_ratio") > 0.12, F.lit("stopword_heavy"))
        .otherwise(F.lit("keep"))
    )
    return (
        feats.select("lang", verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SPAN_W = 8

_REPEATED_SPANS_SQL = f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')),
                   '\\s+'),
               t -> t <> '') AS toks
    FROM documents
), sp AS (
    SELECT doc_id,
           md5(array_to_string(list_slice(toks, i, i + {_SPAN_W - 1}), ' ')) AS span_hash
    FROM tk, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(toks) - {_SPAN_W - 1}, 0))) AS i
    ) g
)
SELECT span_hash,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences
FROM sp GROUP BY span_hash HAVING COUNT(DISTINCT doc_id) >= 2
"""


@register("repeated_spans", _REPEATED_SPANS_SQL)
def q_repeated_spans(spark, sf_dir):
    """Substring-level (span) dedup signal, the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" exact-
    substring family re-expressed relationally: every 8-token rolling
    span is hashed (portable md5, so fully oracle-checkable) and spans
    occurring in ≥2 distinct documents surface with their doc- and
    occurrence-counts — the candidate set a span-removal pass consumes.

    Scale: each token starts at most one span, so the explode is
    token-linear (~1× the corpus token count, no shingle blowup). The
    distinct-doc count expands to two partial-agged exchanges — first
    on (span_hash, doc_id), then on span_hash, both well-spread
    128-bit-hash keys — and the ≥2-docs filter rides the final agg; no
    joins anywhere. At 100 TB this is the candidate stage of the
    ExactSubstr pipeline, with the suffix-array replaced by hash
    aggregation that AQE can re-balance. Input spread (catalog.spread —
    identity at scale): the per-span md5 map serializes on an
    unsplittable scan (interleaved A/B at sf0.1: 1.06 s → 0.73 s, r17,
    OPTIMIZATION_r17.md family D)."""
    docs = catalog.spread(_t(spark, sf_dir, "documents"), key="doc_id")
    spans = text.span_hashes("toks", _SPAN_W)
    return (
        docs.select("doc_id", text.tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(spans).alias("span_hash"))
        .groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


_SOURCE_MIX_SQL = """
WITH per_source AS (
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(
               string_split_regex(
                   trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')),
                   '\\s+'),
               t -> t <> ''))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
), tot AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
           COUNT(*) AS n_sources
    FROM per_source
)
SELECT source, n_docs, n_tokens,
       CAST(n_docs AS DOUBLE) / total_docs AS actual_frac,
       (CAST(total_docs AS DOUBLE) / n_sources) / n_docs AS mix_weight
FROM per_source, tot
"""


@register("source_mix_weights", _SOURCE_MIX_SQL)
def q_source_mix_weights(spark, sf_dir):
    """Training-mix rebalancing: per-source document and token counts,
    the source's actual share of the corpus, and the resampling weight
    that flattens it to a uniform target mix (weight = target_frac /
    actual_frac) — the number a sampler multiplies per-doc keep
    probabilities by when composing a corpus from skewed sources.

    All arithmetic is exact-integer until two final IEEE double
    divisions (int÷int is correctly rounded and engine-identical —
    unlike decimal→double casts, see time_weighted_avg). Scale: one
    partial-agged groupBy on source plus a broadcast of the single
    global-totals row; token counting is the same map-side expression
    as doc_token_stats."""
    docs = _t(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(text.tokens(F.col("text")))).alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_docs").alias("total_docs"), F.count(F.lit(1)).alias("n_sources")
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_docs").cast("double") / F.col("total_docs")).alias("actual_frac"),
        (
            (F.col("total_docs").cast("double") / F.col("n_sources"))
            / F.col("n_docs")
        ).alias("mix_weight"),
    )


_SPAN_ASSIGN_SQL = f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')),
                   '\\s+'),
               t -> t <> '') AS toks
    FROM documents
), sp AS (
    SELECT DISTINCT doc_id,
           md5(array_to_string(list_slice(toks, i, i + {_SPAN_W - 1}), ' ')) AS span_hash
    FROM tk, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(toks) - {_SPAN_W - 1}, 0))) AS i
    ) g
), canon AS (
    SELECT doc_id, span_hash,
           MIN(doc_id) OVER (PARTITION BY span_hash) AS canonical_doc
    FROM sp
)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN canonical_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removable
FROM canon GROUP BY doc_id
"""


@register("span_dedup_assign", _SPAN_ASSIGN_SQL)
def q_span_dedup_assign(spark, sf_dir):
    """Stage 2 of span-level dedup (the removal assignment that consumes
    [[repeated_spans]]'s candidates): per document, how many of its
    distinct 8-token spans also occur in a lower-id document — those
    are the spans an ExactSubstr pass would cut, with the min-doc-id
    occurrence kept as canonical. Emits per-doc span totals and
    removable counts (the byte-savings report that decides whether the
    pass is worth running on a corpus).

    Scale: distinct spans per doc bound the state (a doc contributes
    each span once); the canonical assignment is one window min over
    span_hash — the same well-spread 128-bit key as repeated_spans —
    and the per-doc rollup shuffles on doc_id. No joins, no
    collect. Input spread (catalog.spread — identity at scale): the
    per-span md5 map serializes on an unsplittable scan (the
    repeated_spans A/B, r17)."""
    docs = catalog.spread(_t(spark, sf_dir, "documents"), key="doc_id")
    spans = text.span_hashes("toks", _SPAN_W)
    sp = (
        docs.select("doc_id", text.tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(spans).alias("span_hash"))
        .distinct()
    )
    w = Window.partitionBy("span_hash")
    return (
        sp.withColumn("canonical_doc", F.min("doc_id").over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("canonical_doc") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_removable"),
        )
    )


_QUALITY_TOPQ_SQL = """
WITH scored AS (
    SELECT doc_id, lang,
           len(list_distinct(list_filter(string_split(trim(lower(text)), ' '),
                                         x -> x <> ''))) AS score
    FROM documents
), hist AS (
    SELECT lang, score, COUNT(*) AS n FROM scored GROUP BY lang, score
), cum AS (
    SELECT lang, score, n,
           CAST(SUM(n) OVER (PARTITION BY lang ORDER BY score DESC) AS BIGINT)
               AS n_ge,
           CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS total
    FROM hist
), thresholds AS (
    SELECT lang, MAX(score) AS thr
    FROM cum WHERE n_ge * 2 >= total GROUP BY lang
)
SELECT s.lang,
       COUNT(*) AS n_kept,
       CAST(SUM(s.score) AS BIGINT) AS kept_distinct_sum,
       MIN(s.score) AS kept_min_score
FROM scored s JOIN thresholds t ON s.lang = t.lang AND s.score >= t.thr
GROUP BY s.lang
"""


@register("quality_topq_filter", _QUALITY_TOPQ_SQL)
def q_quality_topq_filter(spark, sf_dir):
    """Dynamic quality thresholding: keep each language's top half of
    documents by lexical diversity (distinct-token count), ties at the
    boundary score kept inclusively — the per-stratum percentile cut a
    curated training mix applies when absolute quality thresholds don't
    transfer across languages.

    Scale: the naive formulation (percent_rank windowed over lang)
    dies at 100 TB — a window partition is ATOMIC, so one dominant
    language becomes one task sorting its whole corpus slice, and AQE
    cannot split it. Instead the quantile is found on the per-(lang,
    score) HISTOGRAM: one partial-agged groupBy shrinks the corpus to
    |langs|·|score values| rows, the cumulative count and threshold
    (largest score whose ≥-count covers half the stratum) are windowed
    over that tiny table, and the threshold broadcast-joins back for a
    map-side filter + rollup. All-integer arithmetic ⇒ exact oracle."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "lang", text.space_distinct_tokens(F.col("text")).alias("score")
    )
    hist = scored.groupBy("lang", "score").agg(F.count(F.lit(1)).alias("n"))
    w_ge = (
        Window.partitionBy("lang")
        .orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "score",
        F.sum("n").over(w_ge).alias("n_ge"),
        F.sum("n").over(w_all).alias("total"),
    )
    thresholds = (
        cum.filter(F.col("n_ge") * 2 >= F.col("total"))
        .groupBy("lang")
        .agg(F.max("score").alias("thr"))
    )
    s, t = scored.alias("s"), thresholds.alias("t")
    return (
        s.join(
            F.broadcast(t),
            (F.col("s.lang") == F.col("t.lang"))
            & (F.col("s.score") >= F.col("t.thr")),
        )
        .select(F.col("s.lang").alias("lang"), F.col("s.score").alias("score"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("score").alias("kept_distinct_sum"),
            F.min("score").alias("kept_min_score"),
        )
    )


_BRAND_ABOVE_AVG_SQL = """
SELECT p_partkey, p_brand, p_retailprice
FROM part p
WHERE CAST(p_retailprice AS DECIMAL(12,2))
      * (SELECT COUNT(*) FROM part p2 WHERE p2.p_brand = p.p_brand)
      > (SELECT SUM(CAST(p_retailprice AS DECIMAL(12,2)))
         FROM part p2 WHERE p2.p_brand = p.p_brand)
"""


@register("sql_brand_above_avg", _BRAND_ABOVE_AVG_SQL)
def q_sql_brand_above_avg(spark, sf_dir):
    """The engine's SQL surface end-to-end: registers the corpus as
    views and runs a correlated-scalar-subquery query VERBATIM through
    ``spark.sql`` — Catalyst decorrelates both subqueries into one
    brand-level aggregate joined back (no per-row re-execution, which
    is how the same text scales to 100 TB). The above-average
    comparison is cross-multiplied (price·count > sum) in exact
    DECIMAL, so no division/rounding can differ between engines —
    doubles summed in arbitrary partition order would flip boundary
    rows."""
    catalog.register_views(spark, sf_dir)
    return spark.sql(_BRAND_ABOVE_AVG_SQL)


_COUNTER_RESETS_SQL = """
WITH x AS (
    SELECT user_id, value,
           LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v
    FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN prev_v IS NOT NULL AND value < prev_v
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_deltas
FROM x GROUP BY user_id
"""


@register("counter_resets", _COUNTER_RESETS_SQL)
def q_counter_resets(spark, sf_dir):
    """PromQL ``resets()`` per series: how many times the counter value
    dropped between consecutive samples — the companion read to
    counter_rate (a counter that resets often is restarting or being
    scraped from multiple instances, and its rate() output is suspect).
    Pure integer comparison on the same lag window counter_rate uses,
    then a per-key rollup: one window shuffle on user_id reused by the
    aggregation's partitioning, nothing engine-specific."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "value",
            F.lag("value").over(w).alias("prev_v"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("prev_v").isNotNull() & (F.col("value") < F.col("prev_v")),
                    1,
                ).otherwise(0)
            ).alias("n_resets"),
            (F.count(F.lit(1)) - 1).alias("n_deltas"),
        )
    )


_SEASONAL_OUTLIER_SQL = """
WITH q AS (
    SELECT event_type, hour(ts) AS hod,
           quantile_cont(value, 0.25) AS q1,
           quantile_cont(value, 0.75) AS q3
    FROM events GROUP BY 1, 2
)
SELECT e.event_type, hour(e.ts) AS hod,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                       OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       MIN(q.q1 - 1.5 * (q.q3 - q.q1)) AS lo_fence,
       MAX(q.q3 + 1.5 * (q.q3 - q.q1)) AS hi_fence
FROM events e
JOIN q ON e.event_type = q.event_type AND hour(e.ts) = q.hod
GROUP BY 1, 2
"""


@register("seasonal_outlier_counts", _SEASONAL_OUTLIER_SQL)
def q_seasonal_outlier_counts(spark, sf_dir):
    """Seasonal-baseline anomaly detection: Tukey fences per
    (event_type, hour-of-day) stratum — the TSDB pattern where "normal"
    depends on the time of day, so a global z-score (see
    value_outliers_by_type) misfires on daily-cycled series. Exact
    interpolated quartiles (Spark ``percentile`` and DuckDB
    ``quantile_cont`` produce bit-identical linear interpolation —
    verified empirically) make the fences and counts hash-exact.

    Scale: one partial-agged shuffle builds the |types|·24-row quantile
    table (percentile's per-group state is the value multiset — bounded
    per stratum here; at unbounded cardinality swap in approx_percentile
    and drop the oracle); it broadcasts back for a map-side fence test +
    rollup. No window over raw rows."""
    ev = _t(spark, sf_dir, "events")
    hod = F.hour("ts")
    q = ev.groupBy("event_type", hod.alias("hod")).agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    e, qq = ev.alias("e"), q.alias("q")
    return (
        e.join(
            F.broadcast(qq),
            (F.col("e.event_type") == F.col("q.event_type"))
            & (F.hour("e.ts") == F.col("q.hod")),
        )
        .select(
            F.col("e.event_type").alias("event_type"),
            F.hour("e.ts").alias("hod"),
            F.col("e.value").alias("value"),
            lo.alias("lo"),
            hi.alias("hi"),
        )
        .groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.min("lo").alias("lo_fence"),
            F.max("hi").alias("hi_fence"),
        )
    )


_OHLC_DAILY_SQL = """
WITH ranked AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
), hourly AS (
  SELECT event_type, bucket_ts,
         MAX(CASE WHEN rn_a = 1 THEN value END) AS open_v,
         MAX(value) AS high_v,
         MIN(value) AS low_v,
         MAX(CASE WHEN rn_d = 1 THEN value END) AS close_v,
         COUNT(*) AS n_events
  FROM ranked GROUP BY event_type, bucket_ts
)
, hranked AS (
  SELECT *, date_trunc('day', bucket_ts) AS day_ts,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', bucket_ts)
                            ORDER BY bucket_ts) AS hrn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', bucket_ts)
                            ORDER BY bucket_ts DESC) AS hrn_d
  FROM hourly
)
SELECT event_type, day_ts,
       MAX(CASE WHEN hrn_a = 1 THEN open_v END) AS open_v,
       MAX(high_v) AS high_v,
       MIN(low_v) AS low_v,
       MAX(CASE WHEN hrn_d = 1 THEN close_v END) AS close_v,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM hranked GROUP BY event_type, day_ts
"""


@register("ohlc_daily_rollup", _OHLC_DAILY_SQL)
def q_ohlc_daily_rollup(spark, sf_dir):
    """Continuous-aggregate rollup: DAILY OHLC bars computed FROM the
    hourly bars, not from raw events — the hypertable pattern
    (TimescaleDB continuous aggregates / Druid rollup): materialize the
    fine-grained bar once, answer every coarser window from it. At
    100 TB the daily query reads |types|·24 hourly rows per day instead
    of re-scanning raw events — here expressed as one chained
    aggregation so Catalyst pipelines both levels (the hourly shuffle
    output IS partitioned by a prefix-compatible key, and both levels
    are min/max(struct) argmin/argmax partial aggs; day open/close =
    the earliest/latest HOUR's open/close, bucket_ts is unique per
    (type, hour) so struct extrema are deterministic)."""
    hourly = q_ohlc_hourly(spark, sf_dir)
    day = F.date_trunc("day", F.col("bucket_ts"))
    return (
        hourly.groupBy(F.col("event_type"), day.alias("day_ts"))
        .agg(
            F.min(F.struct("bucket_ts", "open_v")).alias("_o"),
            F.max(F.struct("bucket_ts", "close_v")).alias("_c"),
            F.max("high_v").alias("high_v"),
            F.min("low_v").alias("low_v"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            "event_type",
            "day_ts",
            F.col("_o.open_v").alias("open_v"),
            "high_v",
            "low_v",
            F.col("_c.close_v").alias("close_v"),
            "n_events",
        )
    )


_VALUE_HISTOGRAM_SQL = """
SELECT event_type,
       CAST(FLOOR(value / 25.0) AS INT) AS bucket,
       CAST(FLOOR(value / 25.0) AS INT) * 25.0 AS bucket_lo,
       COUNT(*) AS n
FROM events
GROUP BY event_type, CAST(FLOOR(value / 25.0) AS INT)
"""


@register("value_histogram_by_type", _VALUE_HISTOGRAM_SQL)
def q_value_histogram_by_type(spark, sf_dir):
    """Fixed-width value histogram PER EVENT TYPE — the observability
    heatmap primitive (Grafana heatmap rows; the existing global
    `value_histogram` keeps the single-distribution profile, this one
    is the per-series stratification). Bucketing is a map-side expression, so the whole histogram
    is ONE partial-agged shuffle whose cardinality is |types|·|buckets|
    regardless of corpus size — the aggregation state, not the data,
    bounds memory at 100 TB. value/25.0 and floor round identically in
    IEEE doubles on both engines, so the bucket ids are exact."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / F.lit(25.0)).cast("int")
    return (
        ev.groupBy(F.col("event_type"), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * F.lit(25.0)).alias("bucket_lo"),
            "n",
        )
    )


_PIVOT_DAILY_SQL = """
SELECT date_trunc('day', ts) AS day_ts,
       COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
       COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_error
FROM events GROUP BY date_trunc('day', ts)
"""


@register("pivot_daily_event_counts", _PIVOT_DAILY_SQL)
def q_pivot_daily_event_counts(spark, sf_dir):
    """PIVOT: long→wide reshaping of the per-day event-type counts —
    the relational operator every BI layer reaches for and the
    reference's single-scan surface cannot express. The pivot VALUES
    are declared explicitly, which is the 100 TB-safe form: Spark skips
    the extra distinct-values collection pass and plans one partial-
    agged aggregation with |values| conditional counts (exactly the
    oracle's FILTER clauses) — schema is static, no data-dependent
    column explosion."""
    ev = _t(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "signup", "error"]
    wide = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day_ts"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    renamed = wide.select(
        "day_ts", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )
    return renamed


_PQ_CTES = """
WITH ex AS (
  SELECT (i - 1) // 8 AS subspace, label AS code,
         ((i - 1) % 8) + 1 AS pos,
         embedding[i] AS v
  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
  WHERE embedding IS NOT NULL
), cent AS (
  SELECT subspace, code, pos,
         CAST(FLOOR((2 * CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1000000.0, 0)
                    AS BIGINT)) AS BIGINT) + COUNT(*))
              / (2 * COUNT(*))) AS BIGINT) AS c_u
  FROM ex GROUP BY subspace, code, pos
), book AS (
  SELECT subspace, code, list(c_u ORDER BY pos) AS cvec_u
  FROM cent GROUP BY subspace, code
), sub AS (
  SELECT e.vec_id, s.s AS subspace,
         list_transform(generate_series(1, 8),
           j -> CAST(ROUND(CAST(e.embedding[s.s * 8 + j] AS DOUBLE)
                     * 1000000.0, 0) AS BIGINT)) AS subvec_u
  FROM embeddings e CROSS JOIN generate_series(0, 7) AS s(s)
  WHERE e.embedding IS NOT NULL
), best AS (
  SELECT u.vec_id, u.subspace, b.code,
         list_sum(list_transform(generate_series(1, 8),
           j -> (u.subvec_u[j] - b.cvec_u[j]) * (u.subvec_u[j] - b.cvec_u[j])))
             AS dist_u2,
         ROW_NUMBER() OVER (
           PARTITION BY u.vec_id, u.subspace
           ORDER BY list_sum(list_transform(generate_series(1, 8),
             j -> (u.subvec_u[j] - b.cvec_u[j]) * (u.subvec_u[j] - b.cvec_u[j]))),
             b.code) AS rnk
  FROM sub u JOIN book b ON u.subspace = b.subspace
)"""

_PQ_SQL = (
    _PQ_CTES
    + """
SELECT subspace, code, COUNT(*) AS n_vecs,
       CAST(SUM(dist_u2) AS BIGINT) AS err_sum_u2
FROM best WHERE rnk = 1 GROUP BY subspace, code
"""
)

_PQ_ADC_SQL = (
    _PQ_CTES
    + """, probe AS (
  SELECT s.s AS subspace,
         list_transform(generate_series(1, 8),
           j -> CAST(ROUND(CAST(e.embedding[s.s * 8 + j] AS DOUBLE)
                     * 1000000.0, 0) AS BIGINT)) AS psub_u
  FROM embeddings e CROSS JOIN generate_series(0, 7) AS s(s)
  WHERE e.vec_id = 0
), lut AS (
  SELECT b.subspace, b.code,
         list_sum(list_transform(generate_series(1, 8),
           j -> (p.psub_u[j] - b.cvec_u[j]) * (p.psub_u[j] - b.cvec_u[j])))
             AS pdist_u2
  FROM book b JOIN probe p ON b.subspace = p.subspace
)
SELECT vec_id, adc_u2 FROM (
  SELECT v.vec_id, CAST(SUM(l.pdist_u2) AS BIGINT) AS adc_u2
  FROM (SELECT vec_id, subspace, code FROM best WHERE rnk = 1) v
  JOIN lut l ON v.subspace = l.subspace AND v.code = l.code
  WHERE v.vec_id <> 0
  GROUP BY v.vec_id) t
ORDER BY adc_u2, vec_id LIMIT 10
"""
)


def _ivf_pq_ctes() -> str:
    """The shared IVF-PQ oracle stages (appended after _PQ_CTES):
    signatures, probe bucket, cell candidates, probe subvectors, and
    the ADC lookup table — ONE definition for the search oracle and
    the recall oracle that evaluates it, so a shape change (planes,
    quantization, tie-breaks) can never desynchronize them."""
    planes = emb_dedup.hyperplanes(6)
    sig = emb_dedup.sql_signature_expr("e.embedding", planes)
    return f""", sigs AS (
  SELECT e.vec_id, ({sig}) AS bucket FROM embeddings e
), qb AS (
  SELECT bucket AS q_bucket FROM sigs WHERE vec_id = 0
), cand AS (
  SELECT s.vec_id FROM sigs s JOIN qb ON s.bucket = qb.q_bucket
  WHERE s.vec_id <> 0
), probe AS (
  SELECT s.s AS subspace,
         list_transform(generate_series(1, 8),
           j -> CAST(ROUND(CAST(e.embedding[s.s * 8 + j] AS DOUBLE)
                     * 1000000.0, 0) AS BIGINT)) AS psub_u
  FROM embeddings e CROSS JOIN generate_series(0, 7) AS s(s)
  WHERE e.vec_id = 0
), lut AS (
  SELECT b.subspace, b.code,
         list_sum(list_transform(generate_series(1, 8),
           j -> (p.psub_u[j] - b.cvec_u[j]) * (p.psub_u[j] - b.cvec_u[j])))
             AS pdist_u2
  FROM book b JOIN probe p ON b.subspace = p.subspace
)"""


_IVF_PQ_TOP10 = """SELECT vec_id, adc_u2 FROM (
  SELECT v.vec_id, CAST(SUM(l.pdist_u2) AS BIGINT) AS adc_u2
  FROM (SELECT vec_id, subspace, code FROM best WHERE rnk = 1) v
  JOIN cand c ON v.vec_id = c.vec_id
  JOIN lut l ON v.subspace = l.subspace AND v.code = l.code
  GROUP BY v.vec_id) t
ORDER BY adc_u2, vec_id LIMIT 10"""


def _ivf_pq_sql() -> str:
    return _PQ_CTES + _ivf_pq_ctes() + "\n" + _IVF_PQ_TOP10 + "\n"


@register("ivf_pq_search", _ivf_pq_sql())
def q_ivf_pq_search(spark, sf_dir):
    """IVF-PQ top-10 for probe vec 0 (dedup.embedding.ivf_pq_topk):
    LSH-cell routing (coarse quantizer) + PQ asymmetric-distance
    ranking — the full FAISS-style composition whose query cost is one
    cell of 8-byte codes. The cell candidate set grows with the corpus
    so it is semi-joined shuffle_hash, never broadcast; codebooks are
    trained corpus-wide. Integer-exact ADC ⇒ full oracle."""
    return emb_dedup.ivf_pq_topk(_t(spark, sf_dir, "embeddings"), probe_id=0)


def _ann_recall_sql() -> str:
    cos = _cos_sql("q", "c")
    return (
        _PQ_CTES
        + _ivf_pq_ctes()
        + f""", approx AS (
  {_IVF_PQ_TOP10}
), exact AS (
  SELECT n_id FROM (
    SELECT c.vec_id AS n_id,
           ROW_NUMBER() OVER (ORDER BY {cos} DESC, c.vec_id) AS rnk
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id = 0) t
  WHERE rnk <= 10
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(*) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall_at_10
FROM approx JOIN exact ON approx.vec_id = exact.n_id
"""
    )


@register("ann_recall_at_10", _ann_recall_sql())
def q_ann_recall_at_10(spark, sf_dir):
    """ANN index-quality evaluation: recall@10 of the IVF-PQ search
    against exact-cosine ground truth for probe vec 0 — the
    operational metric a vector platform monitors when tuning
    num_planes/m (FAISS's own benchmark protocol). Ground truth is
    probe-restricted (one broadcast-probe pass, the topk_cosine
    baseline shape — linear, not all-pairs); the hit count is an
    integer intersection and recall one int/int division, so the
    metric is fully oracle-checked."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = similarity.topk_cosine(
        emb.filter(F.col("vec_id") == 0), emb, k=10
    ).select(F.col("n_id"))
    approx = emb_dedup.ivf_pq_topk(emb, probe_id=0).select(F.col("vec_id").alias("n_id"))
    return approx.join(exact, "n_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)).cast("double") / F.lit(10).cast("double")).alias(
            "recall_at_10"
        ),
    )


@register("pq_adc_search", _PQ_ADC_SQL)
def q_pq_adc_search(spark, sf_dir):
    """PQ asymmetric-distance (ADC) top-10 search for probe vec 0
    (similarity.pq_adc_topk — the FAISS IVF-PQ query path): the probe
    stays exact, corpus vectors are their 8-byte PQ codes, and
    distance is a sum of broadcast-LUT lookups — at 100 TB the search
    reads codes, never full-precision vectors. All LUT entries and ADC
    sums are exact BIGINT micro² arithmetic (pq_assign's integer
    rule), so the ranking is fully oracle-checked."""
    return similarity.pq_adc_topk(_t(spark, sf_dir, "embeddings"), probe_id=0)


@register("pq_code_histogram", _PQ_SQL)
def q_pq_code_histogram(spark, sf_dir):
    """Product quantization over the embedding corpus: 8 subspaces × 8
    dims, label-seeded per-subspace codebooks, each subvector assigned
    its nearest code (functions.similarity.pq_assign — the compression
    layer an IVF index pairs with: 8 code bytes per vector instead of
    256 float bytes). Reported as the per-(subspace, code) assignment
    histogram plus the quantization-error sum. All distance math runs
    on 1e-6-quantized INTEGER components, so the argmin and the error
    sum are exact BIGINT arithmetic on both engines (FIXTURES.md rule:
    never hash a summed double — the 6-dp double-distance variant
    flaked one group in 80 at sf0.1 on a half-even boundary)."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = similarity.pq_assign(emb)
    return assigned.groupBy("subspace", "code").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("dist_u2").cast("bigint").alias("err_sum_u2"),
    )


_LTOB_SQL = """
WITH pts AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts, event_id, ts, value,
         epoch_us(ts) AS xu,
         CAST(ROUND(value * 1000000.0, 0) AS BIGINT) AS yu,
         epoch_us(ts) - epoch_us(date_trunc('hour', ts)) AS dx
  FROM events
), summ AS (
  SELECT event_type, bucket_ts, COUNT(*) AS n, SUM(dx) AS sxr, SUM(yu) AS sy,
         epoch_us(bucket_ts) AS start_c
  FROM pts GROUP BY event_type, bucket_ts
), nb AS (
  SELECT event_type, bucket_ts, start_c,
         LAG(n) OVER w AS n_p, LAG(sxr) OVER w AS sxr_p,
         LAG(sy) OVER w AS sy_p, LAG(start_c) OVER w AS start_p,
         LEAD(n) OVER w AS n_n, LEAD(sxr) OVER w AS sxr_n,
         LEAD(sy) OVER w AS sy_n, LEAD(start_c) OVER w AS start_n
  FROM summ
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
), scored AS (
  SELECT p.event_type, p.bucket_ts, p.event_id, p.ts, p.value, p.xu,
         ABS(
           (CAST(b.sxr_p + b.n_p * (b.start_p - b.start_c) AS DOUBLE) * CAST(b.n_n AS DOUBLE)
            - CAST(b.sxr_n + b.n_n * (b.start_n - b.start_c) AS DOUBLE) * CAST(b.n_p AS DOUBLE))
           * (CAST(p.yu AS DOUBLE) * CAST(b.n_p AS DOUBLE) - CAST(b.sy_p AS DOUBLE))
           - (CAST(b.sy_p AS DOUBLE) * CAST(b.n_n AS DOUBLE) - CAST(b.sy_n AS DOUBLE) * CAST(b.n_p AS DOUBLE))
           * (CAST(p.dx AS DOUBLE) * CAST(b.n_p AS DOUBLE) - CAST(b.sxr_p + b.n_p * (b.start_p - b.start_c) AS DOUBLE))
         ) AS score
  FROM pts p JOIN nb b USING (event_type, bucket_ts)
  WHERE b.n_p IS NOT NULL AND b.n_n IS NOT NULL
)
SELECT event_type, bucket_ts, event_id, ts, value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, bucket_ts
                                   ORDER BY score DESC, xu ASC, event_id ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


@register("downsample_ltob", _LTOB_SQL)
def q_downsample_ltob(spark, sf_dir):
    """Largest-Triangle-One-Bucket downsampling: one shape-preserving
    representative row per (event_type, hour) — the TSDB plotting
    primitive (TimescaleDB's lttb() hyperfunction family; Steinarsson
    2013). The parallel LTOB variant anchors each bucket's triangle on
    the NEIGHBOR BUCKET MEANS, so the whole reduction is two partial-agg
    shuffles plus a broadcast of the tiny per-bucket summary table —
    no sequential chain. Cross-engine exactness: integer µs/1e-6-value
    sums (bucket-relative, overflow-free at any density), mean
    denominators multiplied out of the argmax, and the one
    over-2^53 product evaluated as the identical double expression
    tree on both engines. Mechanics: operators.timeseries.
    ltob_downsample."""
    return timeseries.ltob_downsample(
        _t(spark, sf_dir, "events").select("event_type", "event_id", "ts", "value")
    )


_TREND_ORIGIN_US = 1_704_067_200_000_000  # TIMESTAMP '2024-01-01' in µs

_TREND_SQL = f"""
WITH pts AS (
  SELECT event_type,
         (epoch_us(ts) - {_TREND_ORIGIN_US}) // 1000000 AS xs,
         CAST(ROUND(value * 1000000.0, 0) AS BIGINT) AS yu
  FROM events
), sums AS (
  SELECT event_type,
         COUNT(*) AS n_events,
         CAST(SUM(xs) AS DOUBLE) AS sx,
         CAST(SUM(yu) AS DOUBLE) AS sy,
         CAST(SUM(CAST(xs * xs AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(xs * yu AS DECIMAL(28,0))) AS DOUBLE) AS sxy
  FROM pts GROUP BY event_type
)
SELECT event_type, n_events,
       (n_events * sxy - sx * sy) / (n_events * sxx - sx * sx) AS slope_uv_per_s,
       (sy - (n_events * sxy - sx * sy) / (n_events * sxx - sx * sx) * sx)
         / n_events AS intercept_uv
FROM sums
"""


@register("value_trend_by_type", _TREND_SQL)
def q_value_trend_by_type(spark, sf_dir):
    """Per-type ordinary-least-squares trend of value over time — the
    TSDB trend/forecast primitive (PromQL deriv(); TimescaleDB
    stats_agg slope). One partial-agg shuffle: the four moment sums
    (Σx, Σy, Σx², Σxy) are associative, so the slope is map-side
    combinable — no window, no second pass, and the shape is identical
    at 100 TB.

    Exactness: x is integer SECONDS since 2024-01-01 (integer div of
    exact µs — bounded so x² stays in BIGINT per row), y integer 1e-6
    units (multiply-then-round rule); the two product sums accumulate
    as DECIMAL(28,0)→38 so no scale overflows them; the final
    slope/intercept are computed in DOUBLE from identically-rounded
    operands via the identical expression tree on both engines, and
    emitted UNROUNDED (FIXTURES.md: never round a quotient)."""
    ev = _t(spark, sf_dir, "events")
    xs = F.expr(
        f"(unix_micros(cast(ts as timestamp)) - {_TREND_ORIGIN_US}) div 1000000"
    )
    yu = F.round(F.col("value").cast("double") * F.lit(1000000.0), 0).cast("bigint")
    pts = ev.select(F.col("event_type"), xs.alias("xs"), yu.alias("yu"))
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("xs").cast("double").alias("sx"),
        F.sum("yu").cast("double").alias("sy"),
        F.sum((F.col("xs") * F.col("xs")).cast("decimal(28,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("xs") * F.col("yu")).cast("decimal(28,0)"))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n_events").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        "event_type",
        "n_events",
        slope.alias("slope_uv_per_s"),
        ((F.col("sy") - slope * F.col("sx")) / n).alias("intercept_uv"),
    )


_REVSHARE_SQL = """
WITH per_nation AS (
  SELECT n.n_name,
         COUNT(*) AS n_orders,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
), tot AS (
  SELECT SUM(revenue) AS total_revenue FROM per_nation
)
SELECT n_name, n_orders, CAST(revenue AS VARCHAR) AS revenue,
       CAST(revenue AS DOUBLE) / CAST(total_revenue AS DOUBLE) AS revenue_share
FROM per_nation, tot
"""


@register("nation_revenue_share", _REVSHARE_SQL)
def q_nation_revenue_share(spark, sf_dir):
    """Ratio-to-report: each nation's share of total order revenue —
    the reporting primitive SQL calls RATIO_TO_REPORT (Oracle) or
    share-of-total windows. Shape: nation (25 rows, constant) joins
    broadcast; the customer join carries NO hint — customer is
    SF-proportional, so size-based autoBroadcast keeps it map-side at
    bench SFs and degrades to a keyed shuffle join at 100 TB. ONE
    revenue shuffle, then the 1-row total broadcasts
    back over the |nations| aggregate — never a SinglePartition window
    over data rows (a w := Window.partitionBy() here would serialize
    the corpus through one task at 100 TB). Share = one unrounded
    double division of exact DECIMAL sums (identical operands divide
    identically on both engines). The exact revenue crosses engines as
    TEXT (FIXTURES.md wide-decimal rule): DuckDB DECIMAL(38,2) reaches
    pandas as float64, so a raw decimal column hash-flakes on
    trailing-zero cents while both strings render scale-2 exactly."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    per_nation = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )
    )
    tot = per_nation.agg(F.sum("revenue").alias("total_revenue"))
    return per_nation.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "n_orders",
        F.col("revenue").cast("string").alias("revenue"),
        (F.col("revenue").cast("double") / F.col("total_revenue").cast("double")).alias(
            "revenue_share"
        ),
    )


_LEV_SQL = """
WITH d AS (
  SELECT doc_id, lang, text, substr(text, 1, 24) AS pre, length(text) AS len
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.pre = b.pre AND a.doc_id < b.doc_id
WHERE CAST(levenshtein(a.text, b.text) AS DOUBLE)
      <= 0.3 * CAST(greatest(a.len, b.len) AS DOUBLE)
"""


@register("levenshtein_near_pairs", _LEV_SQL)
def q_levenshtein_near_pairs(spark, sf_dir):
    """Character-level near-dup pairs: canopy blocking on (lang,
    24-char prefix) + exact Levenshtein verify at a 0.3 relative
    threshold (dedup.edit.levenshtein_near_pairs) — the edit-distance
    member of the near-dup family next to the set-based MinHash /
    SimHash / n-gram variants. Plain equi-join on the canopy key;
    length-gap pruning before the O(n·m) DP; integer distances, so
    fully oracle-checked."""
    from chronobase_spark.dedup import edit

    return edit.levenshtein_near_pairs(_t(spark, sf_dir, "documents"))


_ENTROPY_SQL = """
SELECT doc_id,
       CASE WHEN len(cs) > 0 THEN CAST(round((
              ln(CAST(len(cs) AS DOUBLE))
              - list_reduce(
                  list_prepend(0.0, list_transform(
                    list_transform(list_sort(list_distinct(cs)),
                                   c -> len(list_filter(cs, x -> x = c))),
                    n -> CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)))),
                  (acc, v) -> acc + v)
                / CAST(len(cs) AS DOUBLE)
            ) * 1000000.0, 0) AS BIGINT)
       END AS entropy_micro
FROM (SELECT doc_id,
             list_filter(string_split(text, ''), c -> c <> '') AS cs
      FROM documents)
"""


@register("char_entropy", _ENTROPY_SQL)
def q_char_entropy(spark, sf_dir):
    """Per-document Shannon character entropy in integer micro-nats
    (text.char_entropy) — the cheap gibberish/boilerplate quality
    signal. Map-only expression (no shuffle); per-char terms folded in
    sorted order so both engines sum bit-identical sequences. Input
    spread (catalog.spread — identity at scale): the entropy fold is
    heavy-CPU map work that serializes on an unsplittable scan
    (interleaved A/B at sf0.1: 1.12 s → 0.39 s, r17)."""
    docs = catalog.spread(_t(spark, sf_dir, "documents"), key="doc_id")
    return docs.select(
        "doc_id", text.char_entropy(F.col("text")).alias("entropy_micro")
    )


# The BM25 score expression, shared by the bm25/rrf oracles — written
# as the IDENTICAL tree functions.text.bm25_scores builds (same
# literals, same association), so ln() is the only transcendental and
# it sees identical double operands on both engines.
_BM25_SCORE = (
    "CAST(round(ln(1.0 + (CAST(n_docs AS DOUBLE) - df_docs + 0.5)"
    " / (df_docs + 0.5))"
    " * (tf.tf * 2.2)"
    " / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))"
    " * 1000000.0, 0) AS BIGINT)"
)

_BM25_BASE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), ' +')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), dfreq AS (
  SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term
), consts AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
)
"""

_BM25_SQL = (
    _BM25_BASE
    + f"""
SELECT doc_id, term, tf, score_micro FROM (
  SELECT tf.doc_id, tf.term, tf.tf, {_BM25_SCORE} AS score_micro,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY {_BM25_SCORE} DESC, tf.term) AS rn
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN consts
) t
WHERE rn <= 3
"""
)


@register("bm25_top_terms", _BM25_SQL)
def q_bm25_top_terms(spark, sf_dir):
    """Top-3 BM25 terms per document (text.bm25_top_terms) — the
    Robertson/Spärck Jones ranking function with Lucene's non-negative
    idf, next to the linear-idf tfidf_top_terms. Same scale shape:
    explode + two partial aggs, vocabulary broadcast, per-doc window.
    Scores are integer micro-units so ranking compares identically
    across engines."""
    return text.bm25_top_terms(_t(spark, sf_dir, "documents"))


_RRF_TERMS = ("spark", "vector", "customer")
_RRF_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)


def _rrf_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _RRF_TERMS)
    dot = _RRF_DOT.format(a="e.embedding", b="p.probe_vec")
    na = _RRF_DOT.format(a="e.embedding", b="e.embedding")
    nb = _RRF_DOT.format(a="p.probe_vec", b="p.probe_vec")
    cos = f"({dot}) / (sqrt({na}) * sqrt({nb}))"
    return (
        _BM25_BASE
        + f""", lex_all AS (
  SELECT doc_id, SUM(score_micro) AS lex_micro FROM (
    SELECT tf.doc_id, {_BM25_SCORE} AS score_micro
    FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN consts
    WHERE tf.term IN ({terms})) s
  GROUP BY doc_id
), lex AS (
  SELECT lex_doc, r_lex FROM (
    SELECT doc_id AS lex_doc,
           ROW_NUMBER() OVER (ORDER BY lex_micro DESC, doc_id) AS r_lex
    FROM lex_all) t
  WHERE r_lex <= 50
), probe AS (
  SELECT embedding AS probe_vec FROM embeddings WHERE vec_id = 0
), vec_all AS (
  SELECT e.vec_id,
         CAST(round(({cos}) * 1000000.0, 0) AS BIGINT) AS cos_micro
  FROM embeddings e CROSS JOIN probe p
  WHERE e.vec_id <> 0
), vec AS (
  SELECT vec_doc, r_vec FROM (
    SELECT vec_id AS vec_doc,
           ROW_NUMBER() OVER (ORDER BY cos_micro DESC, vec_id) AS r_vec
    FROM vec_all) t
  WHERE r_vec <= 50
)
SELECT COALESCE(lex_doc, vec_doc) AS doc_id, r_lex, r_vec,
       CAST(round((COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + r_lex AS DOUBLE),
                            CAST(0.0 AS DOUBLE))
                 + COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + r_vec AS DOUBLE),
                            CAST(0.0 AS DOUBLE))) * 1000000.0, 0)
            AS BIGINT) AS rrf_micro
FROM lex FULL OUTER JOIN vec ON lex_doc = vec_doc
ORDER BY rrf_micro DESC, doc_id LIMIT 20
"""
    )


@register("rrf_hybrid_topk", _rrf_sql())
def q_rrf_hybrid_topk(spark, sf_dir):
    """Hybrid retrieval: RRF fusion (k=60) of a BM25 lexical ranking
    for a 3-term query and an exact-cosine vector ranking to probe
    vec 0, top-20 fused (functions.retrieval.rrf_hybrid_topk).
    Each side reduces to its bounded top-50 with a distributed
    TakeOrderedAndProject before any global window, so the
    SinglePartition exchange carries ≤50 rows, never the corpus."""
    from chronobase_spark.functions import retrieval

    return retrieval.rrf_hybrid_topk(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        query_terms=_RRF_TERMS,
    )


_CMS_HASH = (
    "CAST(('0x' || substr(md5({seed}::VARCHAR || ':' || {key}::VARCHAR), 1, 8))"
    " AS BIGINT) % 512"
)

_CMS_SQL = f"""
WITH seeds AS (SELECT unnest(generate_series(0, 3)) AS seed),
hashed AS (
  SELECT s.seed, {_CMS_HASH.format(seed="s.seed", key="e.user_id")} AS bucket
  FROM events e CROSS JOIN seeds s
  WHERE e.user_id IS NOT NULL
),
counters AS (SELECT seed, bucket, COUNT(*) AS c FROM hashed GROUP BY seed, bucket),
probes AS (SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 0),
pb AS (
  SELECT p.user_id, s.seed, {_CMS_HASH.format(seed="s.seed", key="p.user_id")} AS bucket
  FROM probes p CROSS JOIN seeds s
),
est AS (
  SELECT user_id, MIN(COALESCE(c, 0)) AS est_count
  FROM pb LEFT JOIN counters USING (seed, bucket) GROUP BY user_id
),
exact AS (
  SELECT user_id, COUNT(*) AS exact_count
  FROM events WHERE user_id % 7 = 0 GROUP BY user_id
)
SELECT user_id, est_count, exact_count FROM est JOIN exact USING (user_id)
"""


@register("cms_user_counts", _CMS_SQL)
def q_cms_user_counts(spark, sf_dir):
    """Count-min-sketch point-frequency estimates vs exact counts for
    ~14% of users (functions.sketches) — the mergeable-summary answer
    to "how often does key X occur" in depth×width counter rows of
    state instead of a billion-distinct-key exact groupBy. md5-hashed,
    so — unlike the built-in binary count_min_sketch aggregate — the
    counters AND estimates are fully oracle-checked; the est ≥ exact
    overcount guarantee is pinned in pytest."""
    ev = _t(spark, sf_dir, "events")
    probes = ev.filter(F.col("user_id") % 7 == 0).select("user_id").distinct()
    counters = sketches.cms_build(ev, "user_id")
    est = sketches.cms_estimate(counters, probes, "user_id")
    exact = (
        ev.filter(F.col("user_id") % 7 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(exact, "user_id")


_PATH_SQL = """
SELECT user_id, n_events, path FROM (
  SELECT user_id, COUNT(*) AS n_events,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts NULLS LAST,
                                       event_id NULLS LAST) AS rn
    FROM events) t
  WHERE rn <= 20
  GROUP BY user_id) p
"""


@register("user_event_paths", _PATH_SQL)
def q_user_event_paths(spark, sf_dir):
    """Per-user chronological event-type path string (first 20 events)
    — the user-journey primitive behind funnel/path analysis. The rank
    cap runs BEFORE the ordered aggregation, so per-user state is
    bounded at 20 rows no matter how hot the user (the
    inverted_index_terms posting-cap pattern — an unbounded
    collect_list over a bot account's clickstream is the 100 TB
    failure mode this avoids); one shuffle on user_id, the aggregate
    reuses the window's partitioning. Determinism: total order
    (ts, event_id) with EXPLICIT NULLS LAST pinned on both engines
    (Spark defaults NULLS FIRST ascending, DuckDB NULLS LAST — r6
    advisor note), then the path concat sorts on the window's own
    unique non-null rank so the string order can never diverge from
    the rank order; NULL event types are skipped by both engines'
    ordered concat."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    capped = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20)
    return capped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path"),
    )


_TRANSITIONS_SQL = """
SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
FROM (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts NULLS LAST,
                                        event_id NULLS LAST) AS prev_type
  FROM events) t
WHERE prev_type IS NOT NULL AND event_type IS NOT NULL
GROUP BY prev_type, event_type
"""


@register("event_type_transitions", _TRANSITIONS_SQL)
def q_event_type_transitions(spark, sf_dir):
    """First-order Markov transition counts between consecutive event
    types per user — the behavioral-model counterpart of the
    contiguous-triple pattern match (pattern_view_click_purchase). One
    lag window hash-partitioned on user_id, then a partial-agged
    groupBy over the |types|² transition matrix — tiny output
    regardless of corpus size. All-integer, exact oracle. NULLS LAST
    pinned explicitly on both engines (divergent defaults — r6
    advisor note)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


_LATE_PRIO_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
)
GROUP BY o_orderpriority
"""


@register("late_order_priority", _LATE_PRIO_SQL)
def q_late_order_priority(spark, sf_dir):
    """TPC-H Q4 shape adapted to the corpus schema: orders per
    priority having at least one line shipped after the order date —
    a correlated EXISTS decorrelated into a LEFT SEMI join whose
    condition mixes the equi key with a cross-table inequality. The
    semi join shuffles on the order key (both sides fact-sized at
    100 TB; semi keeps the probe side from duplicating), then one
    partial-agged groupBy over |priorities| rows."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


_DISJ_REV_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1.00 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,2)))
            AS VARCHAR) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 35)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 40
       AND l.l_quantity BETWEEN 20 AND 50)
"""


@register("disjunctive_part_revenue", _DISJ_REV_SQL)
def q_disjunctive_part_revenue(spark, sf_dir):
    """TPC-H Q19 shape adapted to the corpus schema: revenue over a
    3-way DISJUNCTION of (brand, size-range, quantity-range) clauses —
    the predicate form that defeats naive single-column pushdown.
    Catalyst extracts the common sub-predicates it can (brand/size
    reach the part side; quantity stays on the fact scan). The part
    join carries NO hint — part is SF-proportional, so size-based
    autoBroadcast keeps it map-side at bench SFs and degrades to a
    keyed shuffle join at 100 TB instead of OOMing the driver.
    Revenue accumulates as exact
    DECIMAL and crosses engines as TEXT (FIXTURES.md wide-decimal
    rule), so the disjunction is fully oracle-checked."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(part, li.l_partkey == part.p_partkey)
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    pred = (
        ((brand == "Brand#1") & size.between(1, 15) & qty.between(1, 20))
        | ((brand == "Brand#2") & size.between(1, 25) & qty.between(10, 35))
        | ((brand == "Brand#3") & size.between(10, 40) & qty.between(20, 50))
    )
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1.00).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")).cast(
            "decimal(18,2)"
        )
    )
    return j.filter(pred).agg(rev.cast("string").alias("revenue"))


_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_TOKS = (
    "list_filter(string_split_regex(trim(regexp_replace(lower(text),"
    " '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x <> '')"
)

_CLEAN_CORPUS_SQL = f"""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents WHERE source <> 'src0'
), canon AS (
  SELECT doc_id,
         doc_id = MIN(doc_id) OVER (PARTITION BY {_NORM}) AS is_canonical
  FROM corpus
), ctoks AS (
  SELECT doc_id, {_TOKS} AS tk FROM corpus
), csh AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 0)),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
  FROM ctoks
), bench AS (
  SELECT DISTINCT UNNEST(list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 0)),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
  FROM (SELECT {_TOKS} AS tk FROM documents WHERE source = 'src0') b
), contam AS (
  SELECT s.doc_id FROM csh s JOIN bench b ON s.sh = b.sh
  GROUP BY s.doc_id HAVING COUNT(*) >= 3
), feats AS (
  SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct
  FROM ctoks
)
SELECT c.lang,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN k.is_canonical THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_dedup,
       CAST(SUM(CASE WHEN k.is_canonical AND m.doc_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_after_decontam,
       CAST(SUM(CASE WHEN k.is_canonical AND m.doc_id IS NULL
                     AND f.n_tokens >= 20 AND f.n_distinct * 4 >= f.n_tokens
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
FROM corpus c
JOIN canon k ON c.doc_id = k.doc_id
JOIN feats f ON c.doc_id = f.doc_id
LEFT JOIN contam m ON c.doc_id = m.doc_id
GROUP BY c.lang
"""


@register("clean_corpus_counts", _CLEAN_CORPUS_SQL)
def q_clean_corpus_counts(spark, sf_dir):
    """The end-to-end training-data funnel as ONE query: per language,
    corpus size after each cleaning stage — exact-dedup canonical
    selection (dedup.exact.canonical_map), benchmark decontamination
    (dedup.ngram.contamination_overlap vs the src0 eval partition),
    and a token-quality gate (≥20 tokens, type-token ratio ≥ 1/4 via
    integer cross-multiplication — no division to round). Composes
    three operator families the registry also checks individually;
    every stage is deterministic so the whole funnel is
    oracle-checked. Scale shape: one normalized-text window shuffle,
    one broadcast eval-shingle probe, map-side token features, and a
    doc_id join of the (corpus-derived, shuffle_hash-hinted)
    contaminated-id set — nothing quadratic."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    canon = exact_dedup.canonical_map(corpus).select("doc_id", "is_duplicate")
    contam = (
        ngram.contamination_overlap(corpus, docs.filter(F.col("source") == "src0"))
        .select("doc_id")
        .withColumn("_contam", F.lit(True))
    )
    # one tokenization pass via the bundled struct (token_count +
    # distinct_token_count as separate expressions would each build
    # their own regex+split pipeline — the with_tokens re-evaluation
    # trap)
    feats = corpus.select(
        "doc_id", "lang", text.token_features(F.col("text")).alias("_tf")
    ).select(
        "doc_id",
        "lang",
        F.col("_tf.n_tokens").alias("n_tokens"),
        F.col("_tf.n_distinct").alias("n_distinct"),
    )
    j = (
        feats.join(canon.hint("shuffle_hash"), "doc_id")
        .join(contam.hint("shuffle_hash"), "doc_id", "left")
    )
    k1 = ~F.col("is_duplicate")
    k2 = k1 & F.col("_contam").isNull()
    k3 = (
        k2
        & (F.col("n_tokens") >= 20)
        & (F.col("n_distinct") * 4 >= F.col("n_tokens"))
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(k1, 1).otherwise(0)).alias("n_after_dedup"),
        F.sum(F.when(k2, 1).otherwise(0)).alias("n_after_decontam"),
        F.sum(F.when(k3, 1).otherwise(0)).alias("n_clean"),
    )


_ORDER_DIST_SQL = """
SELECT n_orders, COUNT(*) AS n_customers FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey) t
GROUP BY n_orders
"""


@register("customer_order_distribution", _ORDER_DIST_SQL)
def q_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: the distribution of customers by order count,
    including zero-order customers (LEFT join + COUNT(col) counts only
    matched orders). The double aggregation's second level sees
    |distinct counts| rows — tiny at any scale; the first groupBy
    partial-aggregates on the customer key the join already shuffled
    on, so AQE can reuse the exchange."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


_LAPSED_CUTOFF = "2000-01-01"

_LAPSED_RICH_SQL = f"""
WITH pos AS (
  SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer WHERE c_acctbal > 0.0
), tot AS (
  SELECT COUNT(*) AS n, SUM(bal) AS s FROM pos
)
SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_custs,
       CAST(SUM(c.bal) AS VARCHAR) AS total_bal
FROM pos c CROSS JOIN tot
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.bal * tot.n > tot.s
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '{_LAPSED_CUTOFF} 00:00:00')
GROUP BY n.n_name
"""


@register("lapsed_rich_customers", _LAPSED_RICH_SQL)
def q_lapsed_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape, churn edition: customers with an above-average
    positive balance and NO order since the cutoff — the
    re-engagement target list, per nation. The average is never
    divided: the threshold compares bal·n > Σbal in exact DECIMAL
    (FIXTURES.md cross-multiplication rule); the NOT EXISTS
    decorrelates to a LEFT ANTI join whose orders side is
    date-pruned BEFORE the join (the filter reaches the scan); the
    1-row totals and the nation dimension broadcast; the per-nation
    balance sum crosses engines as TEXT (wide-decimal rule)."""
    cust = _t(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0.0).select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    tot = pos.agg(F.count(F.lit(1)).alias("n"), F.sum("bal").alias("s"))
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(f"{_LAPSED_CUTOFF} 00:00:00"))
        .select("o_custkey")
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    lapsed = pos.join(recent, pos.c_custkey == recent.o_custkey, "left_anti")
    rich = lapsed.crossJoin(F.broadcast(tot)).filter(
        F.col("bal") * F.col("n") > F.col("s")
    )
    return (
        rich.join(F.broadcast(nation), rich.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum("bal").cast("string").alias("total_bal"),
        )
    )


_SMALL_QTY_SQL = """
WITH pf AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#2'
), th AS (
  SELECT l_partkey,
         SUM(CAST(l_quantity AS BIGINT)) AS sq,
         COUNT(*) AS cnt
  FROM lineitem JOIN pf ON l_partkey = p_partkey
  GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN th ON l.l_partkey = th.l_partkey
WHERE CAST(l.l_quantity AS BIGINT) * 5 * th.cnt < th.sq
"""


@register("small_quantity_revenue", _SMALL_QTY_SQL)
def q_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from lineitem rows whose quantity is
    below 20% of that part's average quantity — the correlated scalar
    aggregate (`0.2 * avg(l_quantity)` per part) decorrelated into an
    aggregate-then-join, exactly what Catalyst's DecorrelateInnerQuery
    produces. Scale shape: the brand-filtered part set prunes BOTH
    lineitem passes (map-side at small SFs via autoBroadcast; a
    constant fraction of part stays SF-proportional, so the join
    degrades to shuffle at 100× instead of forcing a driver
    materialization), the per-part aggregate shrinks to
    |filtered parts| rows before the shuffle_hash re-join on the
    well-spread part key, and the threshold never divides — quantity
    is integer-exact, so `qty·5·cnt < Σqty` is the FIXTURES
    cross-multiplication of `qty < 0.2·avg` in pure BIGINT. Revenue
    crosses engines as TEXT (wide-decimal rule)."""
    pf = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#2")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lif = li.join(pf, li.l_partkey == pf.p_partkey).drop("p_partkey")
    th = lif.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sq"),
        F.count(F.lit(1)).alias("cnt"),
    )
    joined = lif.join(th.hint("shuffle_hash"), "l_partkey")
    return (
        joined.filter(
            F.col("l_quantity").cast("bigint") * 5 * F.col("cnt") < F.col("sq")
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("string")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_TOP_VOLUME_SQL = """
SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, c.c_name,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 250)
GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice, c.c_name
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


@register("top_volume_orders", _TOP_VOLUME_SQL)
def q_top_volume_orders(spark, sf_dir):
    """TPC-H Q18 shape: the top-100 largest-volume orders, where
    "large" is an IN over a grouped-HAVING subquery on the same fact
    table. The IN decorrelates to a LEFT SEMI join: lineitem
    pre-aggregates per orderkey with map-side partials, the HAVING cut
    leaves only the rare big orders, and the semi join keeps orders
    from duplicating against multi-line matches. The quantity re-sum
    then re-joins lineitem on the SAME orderkey partitioning (the
    shuffle is reused), the customer join is left to size-based
    autoBroadcast (customer is SF-proportional — no forced hint; at
    100 TB the plan degrades to a shuffle join), and the final top-100
    is a TakeOrderedAndProject — no global sort. All-integer
    quantities; o_totalprice is a raw stored double (passthrough)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("tq"))
        .filter(F.col("tq") > 250)
        .select("l_orderkey")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o_big = orders.join(
        big.hint("shuffle_hash"),
        orders.o_orderkey == big.l_orderkey,
        "left_semi",
    )
    return (
        o_big.join(cust, o_big.o_custkey == cust.c_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice", "c_name")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .select(
            "o_orderkey", "o_orderdate", "o_totalprice", "c_name", "total_qty"
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


_SOLE_LATE_SQL = """
WITH fo AS (
  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
), fl AS (
  SELECT l.l_orderkey, l.l_suppkey,
         (l.l_shipdate > fo.o_orderdate + INTERVAL 60 DAY) AS late
  FROM lineitem l JOIN fo ON l.l_orderkey = fo.o_orderkey
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM fl l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE l1.late
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM fl l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
"""


@register("sole_late_supplier", _SOLE_LATE_SQL)
def q_sole_late_supplier(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finalized multi-supplier order ("late" adapted to this schema:
    shipped more than 60 days after the order date). The stacked
    correlated subqueries decorrelate into one LEFT SEMI (EXISTS:
    some OTHER supplier contributed a line) and one LEFT ANTI
    (NOT EXISTS: no OTHER supplier was also late) — both equi-keyed on
    orderkey with the supplier-inequality as the join residual, so
    every self-join shuffles on the well-spread order key and nothing
    plans a BNLJ. The status filter prunes the orders scan before the
    fact-fact join; the supplier name join carries no hint (supplier
    is SF-proportional — autoBroadcast keeps it map-side at bench SFs
    and degrades to a shuffle join at 100 TB); the final top-100 is a
    TakeOrderedAndProject. All-integer counts, timestamp comparisons
    exact on both engines."""
    fo = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    fl = li.join(fo, li.l_orderkey == fo.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    l1 = fl.filter("late").select(
        F.col("l_orderkey").alias("k1"), F.col("l_suppkey").alias("s1")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = fl.filter("late").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    blocked = l1.join(
        l2.hint("shuffle_hash"),
        (F.col("k1") == F.col("k2")) & (F.col("s1") != F.col("s2")),
        "left_semi",
    ).join(
        l3.hint("shuffle_hash"),
        (F.col("k1") == F.col("k3")) & (F.col("s1") != F.col("s3")),
        "left_anti",
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blocked.join(sup, F.col("s1") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


_DOMINANT_SUPP_SQL = """
WITH pf AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#3'
), sp AS (
  SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sq
  FROM lineitem JOIN pf ON l_partkey = p_partkey
  GROUP BY 1, 2
), pt AS (
  SELECT l_partkey, SUM(sq) AS tq FROM sp GROUP BY 1
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT sp.l_suppkey
  FROM sp JOIN pt ON sp.l_partkey = pt.l_partkey
  WHERE sp.sq * 100 > pt.tq * 15)
ORDER BY s_suppkey
"""


@register("dominant_part_suppliers", _DOMINANT_SUPP_SQL)
def q_dominant_part_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who shipped >15% of a brand's total
    quantity for some part — an IN over an aggregate-of-aggregate
    (per-(supplier, part) sums compared against per-part totals
    derived from the SAME aggregate). The inner threshold join reuses
    the first aggregate's partkey shuffle; the per-part totals are a
    second map-side-partial rollup OF the first aggregate (never a
    second corpus scan); the IN decorrelates to a LEFT SEMI against
    the supplier dimension. Threshold is a BIGINT
    cross-multiplication (sq·100 > tq·15) — no division anywhere."""
    pf = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity"
    )
    sp = (
        li.join(pf, li.l_partkey == pf.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sq"))
    )
    pt = sp.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    dominating = (
        sp.join(pt.hint("shuffle_hash"), "l_partkey")
        .filter(F.col("sq") * 100 > F.col("tq") * 15)
        .select("l_suppkey")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sup.join(
            dominating.hint("shuffle_hash"),
            sup.s_suppkey == dominating.l_suppkey,
            "left_semi",
        )
        .orderBy("s_suppkey")
    )


_N_BPE_MERGES = 12


@register("bpe_merge_training", bpe.bpe_merges_oracle_sql(_N_BPE_MERGES))
def q_bpe_merge_training(spark, sf_dir):
    """Real BPE merge training (Sennrich et al. 2016) over the document
    corpus: the iterative highest-pair-count merge loop, not a fixed
    vocab count (doc_bpe_token_count counts; this trains). The corpus
    collapses once into a Heaps'-bounded word-frequency vocab; each of
    the 12 rounds is one vocab-sized pair-count shuffle + a 1-row
    argmax collect (dedup/cluster.py's convergence-scalar pattern),
    then a map-side literal replace. Exact integer pair counts,
    deterministic lexicographic tie-break; the DuckDB oracle unrolls
    the identical algorithm into 12 chained CTE stages (see
    functions/bpe.py for the boundary-guard encoding that makes a
    merge a portable string replace)."""
    docs = _t(spark, sf_dir, "documents")
    return bpe.bpe_merges(spark, docs, n_merges=_N_BPE_MERGES)


@register(
    "doc_bpe_trained_tokens", bpe.doc_token_counts_oracle_sql(_N_BPE_MERGES)
)
def q_doc_bpe_trained_tokens(spark, sf_dir):
    """Tokenizer application: per-document token counts under the
    12-merge BPE trained on this very corpus — the count a sequence
    packer or context budget actually consumes (doc_bpe_token_count
    uses a fixed regex vocab; this uses the TRAINED segmentation).
    Because a word's segmentation depends only on the word, the corpus
    is never re-segmented: the trained vocab carries each word's final
    symbol count and the per-doc sum is explode + shuffle_hash vocab
    join + one partial-agged groupBy. Exact integers end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    return bpe.doc_trained_token_counts(spark, docs, n_merges=_N_BPE_MERGES)


_NATION_PAIR_SQL = """
WITH sn AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2')
), cn AS (
  SELECT c_custkey, n_name AS cust_nation
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2')
), oc AS (
  SELECT o_orderkey, cust_nation
  FROM orders JOIN cn ON o_custkey = c_custkey
)
SELECT supp_nation, cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN sn ON l_suppkey = s_suppkey
JOIN oc ON l_orderkey = o_orderkey
WHERE supp_nation <> cust_nation
GROUP BY supp_nation, cust_nation, EXTRACT(year FROM l_shipdate)
"""


@register("nation_pair_trade", _NATION_PAIR_SQL)
def q_nation_pair_trade(spark, sf_dir):
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    ship year — the two-sided dimension filter where the SAME nation
    dim constrains both the supplier side and the customer side, and
    the pair predicate (supp ≠ cust within the filtered pair) runs
    AFTER both joins. Scale shape: both nation filters cut their
    fan-out joins to ~2/25 of suppliers/customers BEFORE any fact row
    moves; the supplier- and customer-side maps are still
    SF-proportional, so they carry no broadcast hint (autoBroadcast
    keeps them map-side at small SFs, shuffle at 100×); the only big
    shuffle is the lineitem ⋈ orders equi-join on the well-spread
    order key (shuffle_hash, never broadcast). Revenue is the
    decimal-exact discounted price cast to DOUBLE at the very end
    (monthly_order_revenue pattern); the year is integer."""
    pair = ("NATION_1", "NATION_2")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cn = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    oc = (
        _t(spark, sf_dir, "orders")
        .join(cn, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    disc_price = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    )
    return (
        li.join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            oc.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            F.sum(disc_price).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_MARKET_SHARE_SQL = """
WITH rn AS (
  SELECT c_custkey
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), sn AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
), vol AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         supp_nation,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2))
              - CAST(l_discount AS DECIMAL(18,2))) AS v
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  JOIN sn ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN rn ON o_custkey = c_custkey
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN v
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(v) AS DOUBLE) AS mkt_share,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM vol
GROUP BY o_year
"""


@register("nation_market_share", _MARKET_SHARE_SQL)
def q_nation_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's market share of the PROMO-part
    volume sold into a region, by order year — the conditional-
    aggregate ratio (CASE inside SUM over the same rows as the
    denominator), which needs ONE pass where a naive twin-query port
    would scan twice. Scale shape: the part-type filter prunes
    lineitem first (most selective), the region-filtered customer set
    joins into orders, supplier joins nation — each a constant
    FRACTION of an SF-proportional table, so none carries a forced
    broadcast hint (autoBroadcast keeps them map-side at small SFs) —
    and the single big shuffle is lineitem ⋈ orders on the order key.
    Exactness: both sums are decimal-exact, cast to DOUBLE once, and
    the share is one unrounded division of those exact operands (the
    FIXTURES-sanctioned form)."""
    rn = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").join(
                    F.broadcast(
                        _t(spark, sf_dir, "region").filter(
                            F.col("r_name") == "ASIA"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    pf = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = _t(spark, sf_dir, "orders").join(
        rn, F.col("o_custkey") == F.col("c_custkey")
    )
    v = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    ).alias("v")
    vol = (
        _t(spark, sf_dir, "lineitem")
        .join(pf, F.col("l_partkey") == F.col("p_partkey"))
        .join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            "supp_nation",
            v,
        )
    )
    zero = F.expr("CAST(0 AS DECIMAL(18,2))")
    return vol.groupBy("o_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("v")).otherwise(
                    zero
                )
            ).cast("double")
            / F.sum("v").cast("double")
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_LATE_PRIORITY_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus
"""


@register("late_line_priority", _LATE_PRIORITY_SQL)
def q_late_line_priority(spark, sf_dir):
    """TPC-H Q12 shape (shipmode → linestatus on this schema): for
    lines shipped more than 90 days after their order date, count
    high- vs low-priority orders per line status — the twin
    conditional-count aggregate over a fact-fact join where the
    predicate needs columns from BOTH sides (shipdate vs orderdate),
    so it can only run as a join residual, never a scan pushdown.
    Scale shape: one shuffle on the well-spread order key
    (shuffle_hash), map-side partial counts into a |statuses|-sized
    result. All-integer outputs; timestamp arithmetic exact on both
    engines (sole_late_supplier precedent)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders.hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_TOP_SUPPLIER_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2))
                - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS VARCHAR) AS total_rev
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
"""


@register("top_supplier_revenue", _TOP_SUPPLIER_SQL)
def q_top_supplier_revenue(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) whose one-quarter revenue
    equals the maximum over all suppliers — the aggregate-of-an-
    aggregate scalar subquery (MAX over a GROUP BY), the decorrelation
    shape the registry's scalar-subquery queries (orders_above_avg)
    don't cover because here the subquery and the outer query share
    the SAME derived table. Scale shape: the quarter filter prunes the
    lineitem scan (min/max stats), ONE shuffle builds the per-supplier
    revenue table, the 1-row MAX broadcasts back onto it (never a
    global window), and the supplier name join is left to size-based
    autoBroadcast (supplier is SF-proportional — no forced hint).
    Exactness: revenue stays decimal end-to-end, the tie comparison is
    exact decimal equality on both engines, and the output crosses as
    TEXT (wide-decimal rule)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    disc_price = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(disc_price).alias("total_rev"))
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("string").alias("total_rev"),
        )
    )


_BIGRAM_LM_SQL = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(coalesce(text, ''))), ' '),
                     x -> x <> '') AS tk
  FROM documents
), dg AS (
  SELECT doc_id, g.w1, g.gram, COUNT(*) AS tf
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(tk), 1)),
                                 i -> {'w1': tk[i],
                                       'gram': tk[i] || ' ' || tk[i + 1]}))
             AS g
    FROM tk
  )
  GROUP BY doc_id, g.w1, g.gram
), gc AS (
  SELECT w1, gram, SUM(tf) AS c12 FROM dg GROUP BY w1, gram
), lc AS (
  SELECT w1, SUM(c12) AS c1 FROM gc GROUP BY w1
), vocab AS (
  SELECT COUNT(DISTINCT t) AS v
  FROM (SELECT unnest(tk) AS t FROM tk)
), lm AS (
  SELECT gram,
         CAST(round(ln((CAST(c12 AS DOUBLE) + 1.0)
                       / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE)))
                    * 1000000.0, 0) AS BIGINT) AS term_micro
  FROM gc JOIN lc USING (w1) CROSS JOIN vocab
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_grams,
       CAST(SUM(tf * term_micro) AS BIGINT) AS logprob_micro
FROM dg JOIN lm USING (gram)
GROUP BY doc_id
"""


@register("bigram_lm_logprob", _BIGRAM_LM_SQL)
def q_bigram_lm_logprob(spark, sf_dir):
    """Corpus-trained bigram language-model log-probability per
    document (text.bigram_lm_scores) — the perplexity-style quality
    ranking signal (CCNet/KenLM filtering shape, with the corpus as
    its own in-domain LM). Add-one smoothing over the corpus
    vocabulary; each gram's ln P(w2|w1) is quantized to integer
    micro-nats BEFORE the per-doc weighted sum, so the total is an
    order-free exact integer on both engines. Plan: three partial-
    agged hash aggregations + one gram-keyed shuffle_hash join (hot
    grams are AQE-skew territory, and the per-doc TF collapse bounds
    the fan-in); the vocabulary size is a 1-row broadcast."""
    return text.bigram_lm_scores(_t(spark, sf_dir, "documents"))


_KN_LM_SQL = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(coalesce(text, ''))), ' '),
                     x -> x <> '') AS tk
  FROM documents
), dg AS (
  SELECT doc_id, g.gram, COUNT(*) AS tf
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(tk), 1)),
                                 i -> {'gram': tk[i] || ' ' || tk[i + 1]}))
             AS g
    FROM tk
  )
  GROUP BY doc_id, g.gram
), gc AS (
  SELECT gram, CAST(SUM(tf) AS BIGINT) AS c12 FROM dg GROUP BY gram
), gs AS (
  SELECT gram, c12,
         split_part(gram, ' ', 1) AS w1,
         split_part(gram, ' ', 2) AS w2
  FROM gc
), ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS n1
  FROM gs GROUP BY w1
), cont AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont FROM gs GROUP BY w2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM gc
), lm AS (
  SELECT gram,
         CAST(round(ln(
             (CAST(c12 AS DOUBLE) - 0.5) / CAST(c1 AS DOUBLE)
             + ((0.5 * CAST(n1 AS DOUBLE)) / CAST(c1 AS DOUBLE))
               * (CAST(ncont AS DOUBLE) / CAST(n_types AS DOUBLE))
           ) * 1000000.0, 0) AS BIGINT) AS term_micro
  FROM gs JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_grams,
       CAST(SUM(tf * term_micro) AS BIGINT) AS kn_logprob_micro
FROM dg JOIN lm USING (gram)
GROUP BY doc_id
"""


@register("kn_bigram_logprob", _KN_LM_SQL)
def q_kn_bigram_logprob(spark, sf_dir):
    """Interpolated Kneser-Ney bigram log-probability per document
    (text.kn_bigram_scores) — the state-of-practice n-gram smoothing
    (Chen & Goodman 1999) next to the add-one model
    (`bigram_lm_logprob`), ranking documents by continuation-aware
    probability instead of raw-count probability. Integer micro-nat
    terms on an explicitly parenthesized identical op tree make the
    per-doc totals exact cross-engine integers; plan shape is the
    bigram-LM family's (vocab-bounded aggregates, word-keyed LM
    assembly joins, one gram-keyed shuffle_hash score join)."""
    return text.kn_bigram_scores(_t(spark, sf_dir, "documents"))


_QW_SAMPLE_SQL = """
WITH scored AS (
  SELECT source,
         len(list_distinct(list_filter(
             string_split(trim(lower(coalesce(text, ''))), ' '),
             x -> x <> ''))) AS n_distinct,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
           AS bucket
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN bucket * 64 < least(n_distinct, 64) * 65536
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN bucket * 64 < least(n_distinct, 64) * 65536
                     THEN n_distinct ELSE 0 END) AS BIGINT)
         AS kept_distinct_sum
FROM scored
GROUP BY source
"""


@register("quality_weighted_sample", _QW_SAMPLE_SQL)
def q_quality_weighted_sample(spark, sf_dir):
    """Importance-weighted corpus thinning: each document's keep
    probability is proportional to its OWN quality signal (lexical
    diversity, capped at 64 distinct tokens → p = min(d, 64)/64), so
    low-quality docs are downsampled hard while high-quality docs all
    survive — the per-document generalization of the per-stratum
    sampler (stratified_sample_langs), i.e. soft quality filtering
    instead of a hard threshold cut.

    Membership is a pure function of doc_id (portable md5 16-bit
    bucket, packing.md5_stratified_keep trick): rerunnable, partition-
    layout-independent, cross-engine checkable. The accept test is the
    FIXTURES cross-multiplication — ``bucket·64 < min(d,64)·65536`` in
    pure BIGINT, no float threshold anywhere. Map-only predicate + one
    partial-agged groupBy(source); nothing shuffles before the
    |sources|-sized aggregate. NULL text coalesces to '' (n_distinct
    0 ⇒ keep false). The keep flag is one column, text.diversity_keep,
    shared with the streaming twin (streaming/docs.weighted_sample_stage),
    so the per-row flags are identical and the drained-equal pin is
    exact."""
    docs = _t(spark, sf_dir, "documents")
    n_distinct, keep = text.diversity_keep(F.col("doc_id"), F.col("text"))
    scored = docs.select(
        "source", n_distinct.alias("n_distinct"), keep.alias("keep")
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("keep"), F.col("n_distinct")).otherwise(0)).alias(
            "kept_distinct_sum"
        ),
    )


_MIX_TEMP_SQL = """
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), tot AS (
  SELECT SUM(n_docs) AS total FROM counts
), temped AS (
  SELECT source, n_docs,
         CAST(round(pow(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE), 0.7)
                    * 1000000.0, 0) AS BIGINT) AS t_micro
  FROM counts CROSS JOIN tot
), denom AS (
  SELECT SUM(t_micro) AS t_sum FROM temped
)
SELECT source, n_docs, t_micro,
       CAST(t_micro AS DOUBLE) / CAST(t_sum AS DOUBLE) AS mix_share
FROM temped CROSS JOIN denom
"""


@register("source_mix_temperature", _MIX_TEMP_SQL)
def q_source_mix_temperature(spark, sf_dir):
    """Temperature-scaled source mixing: resampling shares
    ``p_i^α / Σ p_j^α`` with α = 0.7 — the multilingual/multi-source
    rebalancing rule from the public XLM-R / GPT-3 data recipes
    (upweights small sources, flattens the head) next to the uniform
    target of source_mix_weights.

    Exactness: counts are integers, p_i is one exact int÷int double,
    pow(p, 0.7) is the only transcendental and both engines evaluate
    it on identical doubles — its result is quantized to integer
    micro-units BEFORE the normalizing sum (FIXTURES rule), so the
    denominator is an exact integer sum in any order and the final
    share is one unrounded division of exact operands. Scale: one
    partial-agged groupBy(source) collapses the corpus to |sources|
    rows; the two global scalars are 1-row broadcasts over that tiny
    table."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("total"))
    temped = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(
            F.pow(
                F.col("n_docs").cast("double") / F.col("total").cast("double"),
                F.lit(0.7),
            )
            * F.lit(1000000.0),
            0,
        )
        .cast("bigint")
        .alias("t_micro"),
    )
    denom = temped.agg(F.sum("t_micro").alias("t_sum"))
    return temped.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_docs",
        "t_micro",
        (F.col("t_micro").cast("double") / F.col("t_sum").cast("double")).alias(
            "mix_share"
        ),
    )


_REGIONAL_CHEAPEST_SQL = """
WITH rs AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE' AND s_acctbal IS NOT NULL
), ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), costed AS (
  SELECT p.p_partkey, rs.s_suppkey, rs.s_name, rs.n_name, rs.s_acctbal
  FROM part p
  JOIN ps ON p.p_partkey = ps.l_partkey
  JOIN rs ON ps.l_suppkey = rs.s_suppkey
  WHERE p.p_size = 15
), mins AS (
  SELECT p_partkey, MIN(s_acctbal) AS min_bal FROM costed GROUP BY p_partkey
)
SELECT c.p_partkey, c.s_suppkey, c.s_name, c.n_name, c.s_acctbal
FROM costed c
JOIN mins m ON c.p_partkey = m.p_partkey AND c.s_acctbal = m.min_bal
ORDER BY c.s_acctbal, c.n_name, c.s_name, c.p_partkey
LIMIT 100
"""


@register("regional_cheapest_supplier", _REGIONAL_CHEAPEST_SQL)
def q_regional_cheapest_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each size-15 part, EVERY European supplier
    whose account balance equals that part's regional minimum — the
    correlated per-group scalar-MIN subquery decorrelated into
    aggregate-then-equality-re-join. Distinct from
    cheapest_supplier_per_part (single-winner argmin via min(struct)):
    Q2's contract returns ALL tied minimum rows, which forces the
    min-equality join back instead of a struct argmin. Scale shape:
    the region/nation/size dims filter BEFORE any fact row moves
    (nation/region broadcast — constant 25/5 rows; the filtered
    part/supplier sets are SF-proportional and carry no hint); the
    size-15 part filter semi-prunes lineitem BEFORE the part-supplier
    pair distinct (r17, guide §2.2: the distinct used to shuffle every
    (partkey, suppkey) pair and only then drop the ~98 % of parts the
    filter rejects; filtering first shuffles ~2 % of the bytes, and
    distinct-after-an-equi-filter-on-the-key commutes, so the rows are
    identical); the distinct is one shuffle on the
    well-spread part key and the mins table re-joins on that SAME key
    (shuffle_hash, partitioning reused); the final top-100 is a
    TakeOrderedAndProject. s_acctbal is a raw stored double on both
    engines, so the min-equality compares identical bits; NULL
    balances are excluded up front on both engines (null-contract
    rule)."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nat = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    rs = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal").isNotNull())
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pf = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey")
    )
    ps = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(pf, F.col("l_partkey") == F.col("p_partkey"))
        .distinct()
    )
    costed = (
        ps.join(rs, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "s_suppkey", "s_name", "n_name", "s_acctbal")
    )
    mins = costed.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        costed.join(
            mins.hint("shuffle_hash"),
            (F.col("p_partkey") == F.col("m_partkey"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("p_partkey", "s_suppkey", "s_name", "n_name", "s_acctbal")
        .orderBy("s_acctbal", "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "window_value_extrema",
    """SELECT event_id, user_id, event_type,
              first_value(value) OVER w AS first_v,
              last_value(value) OVER w AS last_v,
              nth_value(value, 3) OVER w AS third_v
       FROM events WHERE event_type IN ('purchase', 'error')
       WINDOW w AS (PARTITION BY user_id, event_type
                    ORDER BY ts NULLS LAST, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)""",
)
def q_window_value_extrema(spark, sf_dir):
    """first_value / last_value / nth_value over an explicit unbounded
    ROWS frame — the value-extraction window family (the ranking and
    offset families live in rank_lead_purchases / value_ntiles). The
    full-partition frame is the case where last_value's DEFAULT frame
    (unbounded preceding → current row) silently returns the current
    row instead — pinning the explicit frame on both engines is the
    point. Partitioned by (user_id, event_type): per-user partitions
    stay small and spread at 100 TB (an event_type-only partition
    would be atomic and unsplittable). Raw-double passthrough values;
    NULLS LAST + event_id tie-break pinned (null-contract rule); both
    engines default RESPECT NULLS for nth_value."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy(F.col("ts").asc_nulls_last(), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(w).alias("last_v"),
        F.nth_value("value", 3).over(w).alias("third_v"),
    )


_ZIPF_K = 200

_ZIPF_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), ' +')) AS term FROM documents
), freqs AS (
  SELECT term, COUNT(*) AS freq FROM toks WHERE term <> '' GROUP BY term
), top AS (
  SELECT term, freq FROM freqs ORDER BY freq DESC, term LIMIT {_ZIPF_K}
), pts AS (
  SELECT CAST(round(ln(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term)
                            AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS y
  FROM top
), sums AS (
  SELECT COUNT(*) AS n_terms,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(28,0))) AS DOUBLE) AS sxy
  FROM pts
)
SELECT n_terms,
       (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx) AS zipf_slope
FROM sums
"""


@register("token_zipf_slope", _ZIPF_SQL)
def q_token_zipf_slope(spark, sf_dir):
    """Zipf's-law exponent of the corpus: OLS slope of ln(freq) on
    ln(rank) over the top-200 (_ZIPF_K) terms — the standard
    corpus-health statistic (natural language sits near −1; a flat or
    cliff-shaped head flags boilerplate or template spam). Scale
    shape: one vocabulary groupBy (partial-agged), then a distributed
    TakeOrderedAndProject bounds the head to 200 rows BEFORE the only
    global window — SinglePartition carries 200 rows, never the
    vocabulary (the rrf/quality_topq bounded-head rule). Exactness:
    the ln terms are micro-quantized BIGINTs (rank and freq are exact
    integers, so both engines feed ln identical doubles), the moment
    sums are exact integer/decimal aggregates, and the slope is the
    value_trend_by_type closed form over exact operands."""
    docs = _t(spark, sf_dir, "documents")
    freqs = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " +")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = freqs.orderBy(F.col("freq").desc(), "term").limit(_ZIPF_K)
    w = Window.orderBy(F.col("freq").desc(), "term")
    pts = top.select(
        F.round(
            F.log(F.row_number().over(w).cast("double")) * F.lit(1000000.0), 0
        )
        .cast("bigint")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")) * F.lit(1000000.0), 0)
        .cast("bigint")
        .alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,0)"))
        .cast("double")
        .alias("sxy"),
    )
    return sums.select(
        "n_terms",
        (
            (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("zipf_slope"),
    )


_SIGNAL_CORR_SQL = """
WITH sig AS (
  SELECT lang,
         CAST(least(len(list_distinct(list_filter(
             string_split(trim(lower(text)), ' '), t -> t <> ''))), 1000)
           AS BIGINT) AS x,
         (CASE WHEN length(text) > 0 THEN
            CAST(round((ln(CAST(length(text) AS DOUBLE))
              - list_reduce(
                  list_prepend(CAST(0 AS DOUBLE),
                    list_transform(
                      list_sort(list_distinct(list_filter(string_split(text, ''), c -> c <> ''))),
                      c -> CAST(len(list_filter(string_split(text, ''), x2 -> x2 = c)) AS DOUBLE)
                           * ln(CAST(len(list_filter(string_split(text, ''), x2 -> x2 = c)) AS DOUBLE)))),
                  (acc, v) -> acc + v)
                / CAST(length(text) AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
          END + 500) // 1000 AS y
  FROM documents
), moments AS (
  SELECT lang,
         COUNT(*) AS n_docs,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(28,0))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,0))) AS DOUBLE) AS sxy
  FROM sig WHERE y IS NOT NULL GROUP BY lang
)
SELECT lang, n_docs,
       CASE WHEN (n_docs * sxx - sx * sx) * (n_docs * syy - sy * sy) > 0
            THEN (n_docs * sxy - sx * sy)
                 / (sqrt(n_docs * sxx - sx * sx) * sqrt(n_docs * syy - sy * sy))
       END AS pearson_r
FROM moments
"""


@register("quality_signal_corr", _SIGNAL_CORR_SQL)
def q_quality_signal_corr(spark, sf_dir):
    """Per-language Pearson correlation between two independent quality
    signals — capped lexical diversity and character entropy — the
    signal-agreement diagnostic a pipeline runs before composing
    filters (highly-correlated signals are redundant; anti-correlated
    ones flag a broken heuristic). Scale shape: both signals are
    map-only codegen expressions, then ONE partial-agged groupBy(lang)
    carries six exact integer/decimal moments; nothing global.
    Exactness: x is an exact capped integer, y is integer milli-nats
    ((micro + 500) div 1000 — pure integer arithmetic on the sorted-
    fold entropy), the cross-moments are exact DECIMAL(28,0) sums, and
    the final r uses only IEEE-exact ops on those operands (sqrt is
    correctly rounded per IEEE-754, so it is as portable as division);
    zero-variance groups emit NULL on both engines. Entropy-less docs
    (empty/NULL text) are excluded on both engines (null-contract
    rule). Input spread (catalog.spread): both signals are heavy-CPU
    per-row folds that serialize on an unsplittable scan (the
    char_entropy A/B, r17)."""
    docs = catalog.spread(_t(spark, sf_dir, "documents"), key="doc_id")
    ntok = text.space_distinct_tokens(F.col("text")).cast("bigint")
    # inline(array(struct)) = the Generate barrier (plans/barrier.py
    # convention, r18): a plain alias let the isNotNull filter inline
    # the WHOLE char-entropy sorted fold and re-evaluate it per row
    # (the 1480-char Filter condition in the r17 plans — the heaviest
    # duplicated predicate in the registry); behind the Generate the
    # filter and the milli-nat rescale read the materialized value.
    sig = (
        docs.select(
            "lang",
            F.inline(
                F.array(
                    F.struct(
                        F.least(ntok, F.lit(1000)).alias("x"),
                        text.char_entropy(F.col("text")).alias("ent_micro"),
                    )
                )
            ),
        )
        .filter(F.col("ent_micro").isNotNull())
        .select(
            "lang", "x", F.expr("div(ent_micro + 500, 1000)").alias("y")
        )
    )
    m = sig.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,0)"))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,0)"))
        .cast("double")
        .alias("sxy"),
    )
    varx = F.col("n_docs") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n_docs") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n_docs") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "lang",
        "n_docs",
        F.when(
            varx * vary > 0, cov / (F.sqrt(varx) * F.sqrt(vary))
        ).alias("pearson_r"),
    )


_CROSS_SOURCE_SQL = f"""
WITH pairs AS MATERIALIZED (
{_minhash_md5_sql()}
)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs
JOIN documents sa ON doc_a = sa.doc_id
JOIN documents sb ON doc_b = sb.doc_id
GROUP BY 1, 2
"""


@register("cross_source_dup_matrix", _CROSS_SOURCE_SQL)
def q_cross_source_dup_matrix(spark, sf_dir):
    """Cross-source contamination matrix: near-duplicate pair counts
    between every (unordered) pair of corpus sources — the report a
    training-mix owner reads to find which feeds plagiarize which
    (within-source duplication dedups harmlessly; CROSS-source overlap
    silently reweights the mix and leaks eval material). Composes the
    fully oracle-checked md5 MinHash+LSH pair pipeline
    (dedup.minhash.minhash_md5_pairs) with two source-label joins on
    the doc keys (shuffle_hash — the label map is corpus-sized, never
    broadcast) and one tiny |sources|² aggregate; least/greatest
    canonicalizes the pair order identically on both engines. Output
    is all-integer."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash.minhash_md5_pairs(docs).select("doc_a", "doc_b")
    src = docs.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# iteration count shared by the Spark loop and the oracle's unrolled
# CTE chain (the semdedup_scaled shared-constant rule)
_PAGERANK_ITERS = 2


def _pagerank_iter_cte(i: int) -> str:
    prev = "r0" if i == 1 else f"r{i - 1}"
    return f"""m{i} AS MATERIALIZED (
  SELECT e.e_dst AS node, SUM(r.rank_micro // d.degree) AS s
  FROM edges e
  JOIN {prev} r ON e.e_src = r.node
  JOIN deg d ON e.e_src = d.e_src
  GROUP BY e.e_dst
), r{i} AS MATERIALIZED (
  SELECT node, CAST(150000 + (850 * s) // 1000 AS BIGINT) AS rank_micro
  FROM m{i}
)"""


_PAGERANK_SQL = (
    f"""
WITH pairs AS MATERIALIZED (
{_minhash_md5_sql()}
), edges AS MATERIALIZED (
  SELECT doc_a AS e_src, doc_b AS e_dst FROM pairs
  UNION ALL
  SELECT doc_b AS e_src, doc_a AS e_dst FROM pairs
), deg AS MATERIALIZED (
  SELECT e_src, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY e_src
), r0 AS MATERIALIZED (
  SELECT e_src AS node, CAST(1000000 AS BIGINT) AS rank_micro FROM deg
), """
    + ",\n".join(_pagerank_iter_cte(i) for i in range(1, _PAGERANK_ITERS + 1))
    + f"""
SELECT d.e_src AS doc_id, d.degree, r.rank_micro
FROM deg d JOIN r{_PAGERANK_ITERS} r ON d.e_src = r.node
"""
)


@register("dup_graph_pagerank", _PAGERANK_SQL)
def q_dup_graph_pagerank(spark, sf_dir):
    """PageRank centrality over the near-duplicate graph (nodes = docs
    in ≥1 md5-MinHash pair, symmetric edges): the canonical-pick
    signal "which copy is the hub" — complements min-id CC
    (dup_clusters) the way argmax complements argmin. Pure-BIGINT
    power iteration (rank div degree messages, constant teleport
    150000 micro, damping 850/1000), so the fixed {2}-round loop
    unrolls to identical truncating integer arithmetic in both
    engines; the oracle's CTE chain is generated from the SAME
    iteration count (dedup.cluster.graph_pagerank).

    Scale shape: per round one src-keyed shuffle_hash join + one
    partial-agged dst sum, both linear in |edges|; pairs persisted
    once (each round's lineage references them; at 100 TB they'd be
    a materialized table between stages, the dup_clusters note)."""
    from chronobase_spark.dedup import cluster

    docs = _t(spark, sf_dir, "documents")
    pairs = (
        minhash.minhash_md5_pairs(docs)
        .select("doc_a", "doc_b")
        .persist()
    )
    return cluster.graph_pagerank(pairs, iters=_PAGERANK_ITERS)


_HOLT_SQL = """
WITH RECURSIVE o AS (
  SELECT user_id, event_id, ts, value,
         DATE_TRUNC('day', ts) AS seg,
         ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('day', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
), rec AS (
  SELECT user_id, seg, rn, event_id, ts, value,
         CAST(value AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.seg, o.rn, o.event_id, o.ts, o.value,
         0.5 * CAST(o.value AS DOUBLE) + 0.5 * (r.l + r.b) AS l,
         0.5 * ((0.5 * CAST(o.value AS DOUBLE) + 0.5 * (r.l + r.b)) - r.l)
           + 0.5 * r.b AS b
  FROM rec r JOIN o ON o.user_id = r.user_id AND o.seg = r.seg
                   AND o.rn = r.rn + 1
)
SELECT user_id, event_id, ts, value, l AS level, b AS trend FROM rec
"""


@register("holt_daily_smoothing", _HOLT_SQL)
def q_holt_daily_smoothing(spark, sf_dir):
    """Holt's linear (double-exponential) smoothing per user with
    daily state reset — level AND trend per observation, the two-state
    upgrade over ewma_user_value for drifting series (Holt 1957).
    Sequential recurrence folded inside ONE bounded (user, day) group
    (sorted HOF fold — the segmented_ewma memory rule: per-task state
    is a key-day group, never a full history); the daily reset makes
    days embarrassingly parallel. α = β = 0.5 ⇒ every coefficient
    multiply is an exact power of two, and the oracle's recursive CTE
    states the IDENTICAL operation tree in the identical (ts,
    event_id) order (the level expression inlined twice in the trend
    update on BOTH engines), so every float rounds at the same point.
    NULL observations excluded up front on both engines."""
    return timeseries.holt_daily_smoothing(
        _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query (driver smoke): reference read path (inclusive
    time-range scan, O1/O2) + first analytical step (per-type stats) —
    the Spark analog of the reference demo main.go:80-99."""
    ev = timeseries.time_range_scan(
        _t(spark, sf_dir, "events"), "2024-01-05 00:00:00", "2024-01-25 00:00:00"
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        agg.dsum("value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Round 8 — completing the 22 TPC-H shapes (Q5, Q6, Q9, Q11, Q16) and the
# PII-scrub / semantic-dedup LLM-pipeline passes
# ---------------------------------------------------------------------------

_LOCAL_SUPP_SQL = """
WITH sr AS (
  SELECT s_suppkey, s_nationkey, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
), co AS (
  SELECT o_orderkey, c_nationkey
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
)
SELECT sr.n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN sr ON l_suppkey = sr.s_suppkey
JOIN co ON l_orderkey = co.o_orderkey AND co.c_nationkey = sr.s_nationkey
GROUP BY sr.n_name
"""


@register("local_supplier_revenue", _LOCAL_SUPP_SQL)
def q_local_supplier_revenue(spark, sf_dir):
    """TPC-H Q5 shape: revenue per nation where the customer and the
    supplier are LOCAL to each other (c_nationkey = s_nationkey),
    suppliers restricted to one region, orders to one year. The
    signature Q5 move is that the nation key arrives from TWO
    independent join paths and must agree — the equi-join condition
    pairs the fact's supplier side with the order's customer side.
    Scale shape: nation and region (25/5 rows, SF-invariant) broadcast
    explicitly; supplier and customer are SF-PROPORTIONAL, so their
    joins carry no hint — size-based autoBroadcast handles small SFs
    and at 100 TB they become key-partitioned shuffle joins on their
    own. The year filter prunes the orders scan; the one guaranteed
    big shuffle is lineitem ⋈ filtered-orders on the well-spread order
    key (shuffle_hash — both sides fact-scale at 100 TB). Revenue is
    the exact decimal discounted price, crossing engines as TEXT
    (FIXTURES wide-decimal rule)."""
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sr = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    co = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00"))
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    disc_price = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    )
    return (
        li.join(sr, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            co.hint("shuffle_hash"),
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(disc_price).cast("string").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_DISC_FORECAST_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS revenue_gain,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
"""


@register("discount_revenue_forecast", _DISC_FORECAST_SQL)
def q_discount_revenue_forecast(spark, sf_dir):
    """TPC-H Q6 shape: the revenue that would be gained by eliminating
    a band of small discounts on low-quantity lines in one ship year —
    a pure scan-filter-aggregate with NO join, the canonical predicate
    -pushdown benchmark. All three conjuncts (ship-year range,
    discount band, quantity cap) reach the Parquet scan as
    PushedFilters, so at 100 TB the year range prunes row groups via
    footer min/max before a single page decodes. The double BETWEEN
    compares the same stored doubles against the same literals on both
    engines (bit-identical outcome); the gained revenue is
    price·discount in exact DECIMAL (every discount is a 2-dp value,
    so the 4,2 cast is exact on both engines), crossing as TEXT."""
    li = _t(spark, sf_dir, "lineitem")
    gain = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(gain).cast("string").alias("revenue_gain"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_PROFIT_SQL = """
SELECT n_name, CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS profit,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name, EXTRACT(year FROM l_shipdate)
"""


@register("product_profit_by_nation_year", _PROFIT_SQL)
def q_product_profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape: profit on one product line, broken out by the
    supplier's nation and the ship year (the schema has no partsupp /
    supplycost, so profit is the discounted price — the shape is the
    substring part filter fanned across every dimension). Scale: the
    nation map (25 rows) broadcasts explicitly; the LIKE-filtered part
    list and the supplier→nation map are SF-PROPORTIONAL, so they
    carry no broadcast hint — autoBroadcast keeps them map-side while
    they fit, and at 100 TB they degrade gracefully to key-partitioned
    shuffle joins instead of OOMing the driver. Profit crosses engines
    as TEXT (wide-decimal rule); a NULL ship date groups as the NULL
    year on both engines."""
    pf = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    disc_price = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    )
    return (
        li.join(pf, F.col("l_partkey") == F.col("p_partkey"))
        .join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name", F.year("l_shipdate").cast("bigint").alias("ship_year"))
        .agg(
            F.sum(disc_price).cast("string").alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_IMPORTANT_PARTS_SQL = """
WITH pv AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2))
                - CAST(l_discount AS DECIMAL(18,2)))) AS part_value,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_partkey
), tot AS (
  SELECT SUM(part_value) AS total_value, COUNT(*) AS n_parts FROM pv
)
SELECT l_partkey, CAST(part_value AS VARCHAR) AS part_value,
       CAST(n_lines AS BIGINT) AS n_lines
FROM pv, tot
WHERE CAST(part_value AS DECIMAL(26,4)) * CAST(2 * n_parts AS DECIMAL(11,0))
      > CAST(3 AS DECIMAL(1,0)) * CAST(total_value AS DECIMAL(35,4))
"""


@register("important_part_values", _IMPORTANT_PARTS_SQL)
def q_important_part_values(spark, sf_dir):
    """TPC-H Q11 shape: parts whose accumulated revenue exceeds a
    threshold share of the global total (here 1.5× the mean per-part
    value, so the cut is scale-invariant as |parts| grows with the
    corpus) — the grouped aggregate filtered by a scalar subquery over
    its own re-aggregation. Scale: one partial-agged shuffle to
    |parts| rows, the grand total reduces those (never the fact table)
    to ONE row that broadcasts back over the per-part aggregate; the
    threshold compare is exact decimal cross-multiplication with
    CONTROLLED widths — part_value·(2·n_parts) as (26,4)×(11,0) →
    (38,4) and 3·total as (1,0)×(35,4) → (37,4), both ≤ 38 digits so
    NEITHER engine leaves exact decimal (unbounded widths would make
    Spark round via precision-loss adjustment while DuckDB falls back
    to DOUBLE — a borderline part could flip). The bounds hold far
    past 100 TB: (26,4) carries 10^22 of per-part revenue, (35,4)
    10^31 of corpus total, (11,0) 10^11 parts. Values cross engines
    as TEXT (wide-decimal rule)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    disc_price = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    )
    pv = li.groupBy("l_partkey").agg(
        F.sum(disc_price).alias("part_value"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    tot = pv.agg(
        F.sum("part_value").alias("total_value"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.col("part_value").cast("decimal(26,4)")
            * (F.col("n_parts") * 2).cast("decimal(11,0)")
            > F.lit(3).cast("decimal(1,0)")
            * F.col("total_value").cast("decimal(35,4)")
        )
        .select(
            "l_partkey",
            F.col("part_value").cast("string").alias("part_value"),
            "n_lines",
        )
    )


_SUPP_CNT_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey IS NOT NULL
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@register("supplier_count_by_part_attrs", _SUPP_CNT_SQL)
def q_supplier_count_by_part_attrs(spark, sf_dir):
    """TPC-H Q16 shape: how many distinct suppliers can deliver each
    (brand, type, size) combination, excluding one brand and the
    suppliers with "complaints" (negative balance stands in for the
    comment scan — the schema has no s_comment). The two signature
    moves: a NOT IN over a subquery (decorrelated to a LEFT ANTI
    join — sound only when BOTH sides are null-free: the subquery's
    s_suppkey is non-null by the ingest contract, and the PROBE side
    gets an explicit l_suppkey IS NOT NULL on both engines, because
    NOT IN filters a NULL probe while an anti join keeps it), and
    COUNT(DISTINCT) over a group (expand + two-phase partial agg).
    Scale: the filtered part map and bad-supplier list are
    SF-PROPORTIONAL, so neither carries a broadcast hint —
    autoBroadcast keeps them map-side while small; at 100 TB they
    become key-partitioned shuffle joins instead of driver OOMs."""
    pf = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .filter(F.col("l_suppkey").isNotNull())
    )
    return (
        li.join(pf, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            bad,
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


_PII_AUG_SQL = """
  SELECT doc_id, source,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                           4, '0')
                 ELSE '' END AS t
  FROM documents WHERE text IS NOT NULL
"""

_PII_DET_SQL = """
  SELECT doc_id, source, t,
         CAST(len(regexp_extract_all(t,
              '[a-z0-9]+@[a-z0-9]+\\.[a-z]+')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT)
           AS n_phones,
         regexp_replace(regexp_replace(t,
              '[a-z0-9]+@[a-z0-9]+\\.[a-z]+', '<EMAIL>', 'g'),
              '555-[0-9]{4}', '<PHONE>', 'g') AS redacted
  FROM aug
"""


def _pii_detected(spark, sf_dir):
    """Shared PII pipeline: deterministic PII injection (the synthetic
    corpus is digit-free, so the fixture plants emails/phones derived
    from doc_id — identically on both engines) followed by the real
    detect/redact pass from functions.text."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    d = docs.select("doc_id", "source", aug.alias("t"))
    return d.select(
        "doc_id",
        "source",
        "t",
        text.email_count(F.col("t")).cast("bigint").alias("n_emails"),
        text.phone_count(F.col("t")).cast("bigint").alias("n_phones"),
        text.redact_pii(F.col("t")).alias("redacted"),
    )


@register(
    "pii_redact_docs",
    f"""WITH aug AS ({_PII_AUG_SQL}), det AS ({_PII_DET_SQL})
SELECT doc_id, n_emails, n_phones, redacted
FROM det WHERE doc_id < 40""",
)
def q_pii_redact_docs(spark, sf_dir):
    """PII scrubbing, document level: count email/phone-shaped spans
    and replace each with a typed placeholder — the pre-training scrub
    pass every public corpus pipeline runs (the C4/Dolma cleaning
    step). The regex subset is chosen to evaluate identically under
    Java (Spark) and RE2 (DuckDB), so the full redacted TEXT is
    oracle-compared byte-for-byte. Map-only per row — zero shuffles at
    any scale; the doc_id < 40 cut keeps the driver diff bounded while
    pii_source_stats covers the full corpus."""
    return (
        _pii_detected(spark, sf_dir)
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "n_emails", "n_phones", "redacted")
    )


@register(
    "pii_source_stats",
    f"""WITH aug AS ({_PII_AUG_SQL}), det AS ({_PII_DET_SQL})
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_pii,
       CAST(SUM(n_emails) AS BIGINT) AS total_emails,
       CAST(SUM(n_phones) AS BIGINT) AS total_phones,
       CAST(SUM(length(redacted)) AS BIGINT) AS redacted_chars
FROM det GROUP BY source""",
)
def q_pii_source_stats(spark, sf_dir):
    """PII scrubbing, corpus level: per-source detection and redaction
    totals — the audit report a scrub pass emits before a training
    run. Scale shape: the regexp count/replace is map-only over the
    scan, then ONE partial-agged groupBy to |sources| rows; nothing
    else moves. NULL text is excluded up front on both engines
    (explicit null contract)."""
    det = _pii_detected(spark, sf_dir)
    return det.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("n_emails") + F.col("n_phones") > 0, 1).otherwise(0)
        ).alias("docs_with_pii"),
        F.sum("n_emails").alias("total_emails"),
        F.sum("n_phones").alias("total_phones"),
        F.sum(F.length("redacted").cast("bigint")).alias("redacted_chars"),
    )


def _semdedup_sql() -> str:
    planes = emb_dedup.hyperplanes()
    sig = emb_dedup.sql_signature_expr("e.embedding", planes)
    return f"""
WITH sigs AS (
  SELECT e.vec_id, e.embedding, CAST(({sig}) AS BIGINT) AS cell
  FROM embeddings e WHERE e.embedding IS NOT NULL
), drops AS (
  SELECT DISTINCT b.vec_id
  FROM sigs a JOIN sigs b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a', 'b')} >= 0.35
)
SELECT s.vec_id, s.cell, (d.vec_id IS NULL) AS kept
FROM sigs s LEFT JOIN drops d ON s.vec_id = d.vec_id
"""


@register("semantic_dedup_assign", _semdedup_sql())
def q_semantic_dedup_assign(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): LSH
    cells as the clustering, then within each cell every vector with a
    smaller-id near-duplicate at cosine ≥ 0.35 is dropped — the keep/
    drop ASSIGNMENT for the whole corpus, not just the pair list
    (embedding_near_pairs). Literal hyperplanes + rounded cosine make
    the whole decision oracle-checkable. See dedup.embedding.
    semantic_dedup for the 100 TB shape (cell-bucketed pairs, keyed
    keep-flag join, zero corpus broadcasts)."""
    return emb_dedup.semantic_dedup(_t(spark, sf_dir, "embeddings"))


# The corpus-scaled SemDeDup parameters, defined ONCE and consumed by
# BOTH the oracle CTEs and the registered Spark calls below — any edit
# changes query and oracle together, so they cannot silently
# desynchronize (r9 advisor note: the CTE used to hardcode 16/32 while
# the Python call was parameterized).
_SEMDEDUP_MAX_PLANES = 16
_SEMDEDUP_CELL_SIZE = 32
_SEMDEDUP_MIN_COSINE = 0.35


def _semdedup_scaled_ctes() -> str:
    """The corpus-scaled SemDeDup decision as reusable CTEs (sigs0 →
    nn → kk → sigs → drops), shared by semantic_dedup_scaled and the
    composed pretrain_pipeline_report."""
    planes = emb_dedup.hyperplanes(_SEMDEDUP_MAX_PLANES)
    sig = emb_dedup.sql_signature_expr("e.embedding", planes)
    return f"""sigs0 AS (
  SELECT e.vec_id, e.embedding, CAST(({sig}) AS BIGINT) AS sig
  FROM embeddings e WHERE e.embedding IS NOT NULL
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sigs0
), kk AS (
  SELECT COALESCE(list_min(list_filter(range(1, {_SEMDEDUP_MAX_PLANES + 1}),
           k -> (CAST(1 AS BIGINT) << k) * {_SEMDEDUP_CELL_SIZE} >= n)),
         CAST({_SEMDEDUP_MAX_PLANES} AS BIGINT)) AS k
  FROM nn
), sigs AS (
  SELECT s.vec_id, s.embedding,
         s.sig & ((CAST(1 AS BIGINT) << k) - 1) AS cell
  FROM sigs0 s, kk
), drops AS (
  SELECT DISTINCT b.vec_id
  FROM sigs a JOIN sigs b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a', 'b')} >= {_SEMDEDUP_MIN_COSINE}
)"""


def _semdedup_scaled_sql() -> str:
    return f"""
WITH {_semdedup_scaled_ctes()}
SELECT s.vec_id, s.cell, (d.vec_id IS NULL) AS kept
FROM sigs s LEFT JOIN drops d ON s.vec_id = d.vec_id
"""


@register("semantic_dedup_scaled", _semdedup_scaled_sql())
def q_semantic_dedup_scaled(spark, sf_dir):
    """SemDeDup with a CORPUS-SCALED quantizer — the 100 TB variant of
    semantic_dedup_assign. A fixed cell count makes the within-cell
    pairwise pass Σ cell² ≈ n²/cells (quadratic); here the active
    plane count k is the smallest with 2^k · 32 ≥ n, so cells grow
    with the corpus, expected cell size stays ≈ 32, and pair work
    stays LINEAR (measured: SCALING.md round-10 semantic_dedup column,
    64× data → 3.1× wall). k derives from one
    partial-agged count broadcast back as a 1-row mask — an integer
    threshold test (no float log2), so DuckDB computes the identical
    k and the whole adaptive decision stays hash-checked. See
    dedup.embedding.semantic_dedup_scaled."""
    return emb_dedup.semantic_dedup_scaled(
        _t(spark, sf_dir, "embeddings"),
        target_cell_size=_SEMDEDUP_CELL_SIZE,
        max_planes=_SEMDEDUP_MAX_PLANES,
        min_cosine=_SEMDEDUP_MIN_COSINE,
    )


def _semantic_admission_sql() -> str:
    """Oracle for semantic_admission_report: the corpus-scaled
    quantizer (16-plane signature masked to k, with k derived from the
    STORED count — frozen-model semantics) plus the content-free md5
    arriving/stored split applied at the cell join and a per-ARRIVAL
    left-joined verdict — the _admission_sql convention transplanted to
    the embedding member. Shares the plane literals and the integer k
    rule with _semdedup_scaled_ctes (one quantizer definition)."""
    planes = emb_dedup.hyperplanes(_SEMDEDUP_MAX_PLANES)
    sig = emb_dedup.sql_signature_expr("e.embedding", planes)
    arr = "(('0x' || substr(md5(CAST({d} AS VARCHAR)), 1, 4))::BIGINT % 5 = 0)"
    return f"""
WITH sigs0 AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, CAST(({sig}) AS BIGINT) AS sig,
         {arr.format(d="e.vec_id")} AS is_arr
  FROM embeddings e WHERE e.embedding IS NOT NULL
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sigs0 WHERE NOT is_arr
), kk AS (
  SELECT COALESCE(list_min(list_filter(range(1, {_SEMDEDUP_MAX_PLANES + 1}),
           k -> (CAST(1 AS BIGINT) << k) * {_SEMDEDUP_CELL_SIZE} >= n)),
         CAST({_SEMDEDUP_MAX_PLANES} AS BIGINT)) AS k
  FROM nn
), sigs AS (
  SELECT s.vec_id, s.embedding, s.is_arr,
         s.sig & ((CAST(1 AS BIGINT) << k) - 1) AS cell
  FROM sigs0 s, kk
), ver AS (
  SELECT a.vec_id AS vid, MIN(b.vec_id) AS canonical_id
  FROM sigs a JOIN sigs b ON a.cell = b.cell
  WHERE a.is_arr AND NOT b.is_arr
    AND {_cos_sql('a', 'b')} >= {_SEMDEDUP_MIN_COSINE}
  GROUP BY a.vec_id
)
SELECT e.vec_id,
       v.canonical_id IS NOT NULL AS dup_of_corpus,
       v.canonical_id
FROM embeddings e LEFT JOIN ver v ON v.vid = e.vec_id
WHERE {arr.format(d="e.vec_id")}
"""


@register("semantic_admission_report", _semantic_admission_sql())
def q_semantic_admission_report(spark, sf_dir):
    """Batch semantic ADMISSION report: the embedding admission stage
    (streaming/docs.semantic_admit_stage) applied to a static split, so
    stream and batch share one definition and the DuckDB oracle checks
    it. Split the corpus by the content-free md5 vec_id bucket (20%
    "arriving", 80% "stored" — the near_dup_admission_report split
    idiom), freeze the stored side with
    dedup.embedding.semantic_cell_model_scaled (the corpus-scaled
    quantizer that is the admission default for growing stores), and
    run the stage over the arrivals with the model's k planes and the
    0.35 cosine floor: for EVERY arriving vector, whether any stored
    vector in its cell passes the exact rounded cosine verify, with
    the min stored partner as canonical — (vec_id, dup_of_corpus,
    canonical_id).

    Scale: the stored model is one signature pass persisted once
    (frozen-model posture — re-read, never recomputed); the arriving
    fold is map-only per row; the cell join touches only cell-equal
    (arriving, stored) rows with expected cell size ≈ 32 BY
    CONSTRUCTION (the scaled-k rule), so per-arrival verify fan-out
    stays constant as the store grows. NULL arriving embeddings
    verify against nothing and report (false, NULL) — every arrival
    gets a verdict, the admission contract."""
    embt = _t(spark, sf_dir, "embeddings")
    cells, k = emb_dedup.semantic_cell_model_scaled(
        embt.filter(~_arriving(F.col("vec_id"))),
        target_cell_size=_SEMDEDUP_CELL_SIZE,
        max_planes=_SEMDEDUP_MAX_PLANES,
    )
    # one literal event time: the stage's verdict window then holds
    # every candidate of an arrival, so it emits one row per arrival
    arriving = embt.filter(_arriving(F.col("vec_id"))).withColumn(
        "ingest_ts", F.lit(0).cast("timestamp")
    )
    return docstream.semantic_admit_stage(
        arriving, cells, num_planes=k, min_cosine=_SEMDEDUP_MIN_COSINE
    ).select("vec_id", "dup_of_corpus", "canonical_id")


def _pipeline_sql() -> str:
    return f"""
WITH {_semdedup_scaled_ctes()}, sem AS (
  SELECT s.vec_id AS doc_id, (d.vec_id IS NULL) AS kept
  FROM sigs s LEFT JOIN drops d ON s.vec_id = d.vec_id
), corpus AS (
  SELECT doc_id, lang, text FROM documents
), canon AS (
  SELECT doc_id,
         doc_id = MIN(doc_id) OVER (PARTITION BY {_NORM}) AS is_canonical
  FROM corpus
), tkd AS (
  SELECT doc_id, {_TOKS} AS toks FROM corpus
), sp AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(toks, i, i + {_SPAN_W - 1}), ' '))
           AS span_hash
  FROM tkd, LATERAL (
      SELECT unnest(generate_series(1, greatest(len(toks) - {_SPAN_W - 1}, 0)))
        AS i
  ) g
), spc AS (
  SELECT doc_id,
         MIN(doc_id) OVER (PARTITION BY span_hash) AS canonical_doc
  FROM sp
), spanstats AS (
  SELECT doc_id, COUNT(*) AS n_spans,
         SUM(CASE WHEN canonical_doc < doc_id THEN 1 ELSE 0 END) AS n_removable
  FROM spc GROUP BY doc_id
), feats AS (
  SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
  FROM tkd
), flags AS (
  SELECT c.lang, f.n_tokens,
         k.is_canonical AS k1,
         k.is_canonical AND COALESCE(s.kept, TRUE) AS k2,
         k.is_canonical AND COALESCE(s.kept, TRUE)
           AND NOT COALESCE(2 * t.n_removable > t.n_spans, FALSE) AS k3,
         k.is_canonical AND COALESCE(s.kept, TRUE)
           AND NOT COALESCE(2 * t.n_removable > t.n_spans, FALSE)
           AND f.n_tokens >= 20 AND f.n_distinct * 4 >= f.n_tokens AS k4
  FROM corpus c
  JOIN canon k ON c.doc_id = k.doc_id
  JOIN feats f ON c.doc_id = f.doc_id
  LEFT JOIN sem s ON c.doc_id = s.doc_id
  LEFT JOIN spanstats t ON c.doc_id = t.doc_id
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_exact,
       CAST(SUM(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_semantic,
       CAST(SUM(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_span,
       CAST(SUM(CASE WHEN k4 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(SUM(CASE WHEN k4 THEN n_tokens ELSE 0 END) AS BIGINT)
         AS packed_tokens,
       CAST((SUM(CASE WHEN k4 THEN n_tokens ELSE 0 END) + 2047) // 2048
            AS BIGINT) AS n_packs
FROM flags GROUP BY lang
"""


@register("pretrain_pipeline_report", _pipeline_sql())
def q_pretrain_pipeline_report(spark, sf_dir):
    """The FULL pre-training data path as ONE oracle-checked query:
    per language, corpus survival through exact dedup → semantic
    dedup (SemDeDup, corpus-scaled quantizer) → span-level dedup
    (ExactSubstr majority-removable gate) → quality funnel, then the
    packed 2048-token context-window count the survivors fill — the
    number a training run actually budgets against. Extends
    clean_corpus_counts with the embedding-space and span stages so
    every dedup family the registry checks individually is also
    checked COMPOSED (stage interactions included).

    Pipeline semantics: each gate applies cumulatively; a doc with no
    embedding passes the semantic gate (no signal ≠ duplicate) and a
    doc with no 8-token span passes the span gate. One tokenization
    defines both the quality features and the packing token count
    (n_packs = ceil over the integer token sum — exact on both
    engines via (x + 2047) DIV 2048).

    Scale shape: every stage is the registry-checked distributed
    shape it composes — one normalized-text window shuffle (exact),
    cell-keyed pair joins + 1-row k broadcast (semantic), one
    span-hash window + doc rollup (span), map-side features — then
    four doc_id-keyed shuffle_hash joins and ONE |langs| aggregate.
    Nothing corpus-sized is broadcast, windowed globally, or
    collected. The span/feature base is spread (catalog.spread —
    identity at scale): its per-span md5 + token-feature folds
    serialize on an unsplittable scan (the repeated_spans A/B, r17)."""
    docs = _t(spark, sf_dir, "documents")
    base = catalog.spread(docs, key="doc_id").select(
        "doc_id", "lang", text.tokens(F.col("text")).alias("toks")
    )
    canon = exact_dedup.canonical_map(docs).select("doc_id", "is_duplicate")
    sem = emb_dedup.semantic_dedup_scaled(
        _t(spark, sf_dir, "embeddings"),
        target_cell_size=_SEMDEDUP_CELL_SIZE,
        max_planes=_SEMDEDUP_MAX_PLANES,
        min_cosine=_SEMDEDUP_MIN_COSINE,
    ).select(F.col("vec_id").alias("doc_id"), "kept")
    spans = text.span_hashes("toks", _SPAN_W)
    sp = base.select("doc_id", F.explode(spans).alias("span_hash")).distinct()
    spanstats = (
        sp.withColumn(
            "canonical_doc",
            F.min("doc_id").over(Window.partitionBy("span_hash")),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("canonical_doc") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_removable"),
        )
    )
    feats = base.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )
    j = (
        feats.join(canon.hint("shuffle_hash"), "doc_id")
        .join(sem.hint("shuffle_hash"), "doc_id", "left")
        .join(spanstats.hint("shuffle_hash"), "doc_id", "left")
    )
    k1 = ~F.col("is_duplicate")
    k2 = k1 & F.coalesce(F.col("kept"), F.lit(True))
    k3 = k2 & ~F.coalesce(
        F.col("n_removable") * 2 > F.col("n_spans"), F.lit(False)
    )
    k4 = (
        k3
        & (F.col("n_tokens") >= 20)
        & (F.col("n_distinct") * 4 >= F.col("n_tokens"))
    )
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(k1, 1).otherwise(0)).alias("n_after_exact"),
            F.sum(F.when(k2, 1).otherwise(0)).alias("n_after_semantic"),
            F.sum(F.when(k3, 1).otherwise(0)).alias("n_after_span"),
            F.sum(F.when(k4, 1).otherwise(0)).alias("n_clean"),
            F.sum(F.when(k4, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("packed_tokens"),
        )
        .withColumn(
            "n_packs",
            F.expr("CAST((packed_tokens + 2047) DIV 2048 AS BIGINT)"),
        )
    )


# ---------------------------------------------------------------------------
# Round 10 — TS autocorrelation + categorical corpus statistics
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3)

_ACF_SQL = f"""
WITH base AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day, ts, event_id,
         CAST(ROUND(value * 1000000.0, 0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
), led AS (
  SELECT event_type, x,
         LEAD(x, 1) OVER w AS y1,
         LEAD(x, 2) OVER w AS y2,
         LEAD(x, 3) OVER w AS y3
  FROM base
  WINDOW w AS (PARTITION BY event_type, day ORDER BY ts, event_id)
), pairs AS (
  SELECT event_type, t.lag, x,
         CASE t.lag WHEN 1 THEN y1 WHEN 2 THEN y2 ELSE y3 END AS y
  FROM led CROSS JOIN (SELECT CAST(unnest({list(_ACF_LAGS)}) AS BIGINT) AS lag) t
  WHERE CASE t.lag WHEN 1 THEN y1 WHEN 2 THEN y2 ELSE y3 END IS NOT NULL
), m AS (
  SELECT event_type, lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM pairs GROUP BY event_type, lag
), v AS (
  SELECT event_type, lag, n_pairs,
         CAST(CAST(n_pairs * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS varx,
         CAST(CAST(n_pairs * syy - sy * sy AS VARCHAR) AS DOUBLE) AS vary,
         CAST(CAST(n_pairs * sxy - sx * sy AS VARCHAR) AS DOUBLE) AS cov,
         (n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0) AS ok
  FROM m
)
SELECT event_type, lag, n_pairs,
       CASE WHEN ok THEN cov / (sqrt(varx) * sqrt(vary)) END AS acf
FROM v
"""


@register("value_autocorr_daily", _ACF_SQL)
def q_value_autocorr_daily(spark, sf_dir):
    """Intraday lag-k autocorrelation of the value series per event
    type (k = 1..3): the seasonality/memory diagnostic behind "is EWMA
    enough or do we need Holt" — Pearson r between x_t and x_{t+k}
    within each (event_type, day) segment, moments pooled across days
    per (event_type, lag).

    Scale shape: lead windows partition on (event_type, DAY) — the
    bounded-fold rule (a per-type-only window would make one executor
    own a whole type's 100 TB history); one explode (|lags| = 3 rows
    per observation) and ONE partial-agged groupBy carrying six exact
    moments; nothing global. Exactness: x is micro-quantized BIGINT
    (multiply-then-ROUND at digit 0 — the LTTB/TWA-proven recipe),
    products fit BIGINT (|x| ≤ 5.6e8 at the observed value range) and
    sum as exact DECIMAL (HUGEINT in the oracle); varx/vary/cov stay
    in EXACT integer arithmetic (≤32 digits, inside decimal(38,0) /
    HUGEINT), and the single int→double conversion goes through a
    STRING round-trip on BOTH engines — string→double parsing is
    correctly rounded everywhere, whereas Spark's BigDecimal→double
    vs DuckDB's HUGEINT→double diverge by 1 ulp above 2^53 (measured:
    sf0.1 MISMATCHed with direct casts, 2/15 acf values off at the
    16th digit). The final r is then IEEE-exact ops on identical
    doubles; zero-variance groups emit NULL on both engines (the
    quality_signal_corr recipe). NULL values are excluded up front
    (null-contract rule)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = F.round(F.col("value").cast("double") * F.lit(1000000.0), 0).cast(
        "bigint"
    )
    base = ev.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        "ts",
        "event_id",
        x.alias("x"),
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    led = base.select(
        "event_type",
        "x",
        *[F.lead("x", k).over(w).alias(f"y{k}") for k in _ACF_LAGS],
    )
    pairs = (
        led.select(
            "event_type",
            "x",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("bigint").alias("lag"),
                            F.col(f"y{k}").alias("y"),
                        )
                        for k in _ACF_LAGS
                    ]
                )
            ).alias("p"),
        )
        .select("event_type", F.col("p.lag").alias("lag"), "x", F.col("p.y").alias("y"))
        .filter(F.col("y").isNotNull())
    )
    m = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("x").cast("decimal(28,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(28,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,0)")).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,0)")).alias("sxy"),
    )
    # Exact integer moments: n is ≤8 digits, sxx ≤23 digits, sx² ≤32
    # digits — every product/difference fits decimal(38,0), so varx/
    # vary/cov are EXACT integers on both engines.
    n_dec = F.col("n_pairs").cast("decimal(12,0)")
    varx = n_dec * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n_dec * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n_dec * F.col("sxy") - F.col("sx") * F.col("sy")
    # The one int→double conversion goes through a string round-trip:
    # string→double is correctly rounded on both engines, direct
    # decimal/HUGEINT→double is not (1-ulp sf0.1 mismatch, docstring).
    to_d = lambda c: c.cast("string").cast("double")  # noqa: E731
    v = m.select(
        "event_type",
        "lag",
        "n_pairs",
        to_d(varx).alias("varx"),
        to_d(vary).alias("vary"),
        to_d(cov).alias("cov"),
        ((varx > 0) & (vary > 0)).alias("ok"),
    )
    return v.select(
        "event_type",
        "lag",
        "n_pairs",
        F.when(
            F.col("ok"),
            F.col("cov") / (F.sqrt(F.col("varx")) * F.sqrt(F.col("vary"))),
        ).alias("acf"),
    )


_PMI_CELLS_SQL = """
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source
), marg AS (
  SELECT lang, source, n_docs,
         SUM(n_docs) OVER (PARTITION BY lang) AS c_l,
         SUM(n_docs) OVER (PARTITION BY source) AS c_s,
         SUM(n_docs) OVER () AS n
  FROM cells
)
SELECT lang, source, n_docs,
       CAST(ROUND(ln(CAST(CAST(CAST(n_docs AS HUGEINT) * n AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(c_l * c_s AS VARCHAR) AS DOUBLE))
                  * 1000000.0, 0) AS BIGINT) AS pmi_micro
FROM marg
"""


@register("lang_source_pmi", _PMI_CELLS_SQL)
def q_lang_source_pmi(spark, sf_dir):
    """Pointwise mutual information of every observed (lang, source)
    cell — the mixture diagnostic behind source-mixing decisions: a
    strongly positive PMI cell means a source is a de-facto proxy for
    a language (dropping the source silently drops the language), a
    negative cell flags a source whose coverage of that language is
    thinner than independence predicts.

    Scale shape: ONE partial-agged groupBy(lang, source) reduces the
    corpus to a CONSTANT-size cell table (|langs| x |sources|); the
    marginal/total windows run on those constant rows only — the
    zipf/rrf bounded-head rule, never a corpus-sized window.
    Exactness: counts are exact BIGINT/decimal; the PMI operand is a
    ratio of two exact integer products (n_docs*N, c_l*c_s — kept in
    decimal(38,0)/HUGEINT, they exceed BIGINT at 100 TB doc counts)
    converted via the STRING round-trip (the value_autocorr_daily
    rule: string->double parses correctly rounded on both engines,
    direct wide-int->double casts diverge by 1 ulp past 2^53), so ln
    sees identical doubles and the result is micro-quantized."""
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    as_dec = lambda c: F.col(c).cast("decimal(28,0)")  # noqa: E731
    marg = cells.select(
        "lang",
        "source",
        "n_docs",
        F.sum(as_dec("n_docs")).over(Window.partitionBy("lang")).alias("c_l"),
        F.sum(as_dec("n_docs"))
        .over(Window.partitionBy("source"))
        .alias("c_s"),
        F.sum(as_dec("n_docs")).over(Window.partitionBy()).alias("n"),
    )
    to_d = lambda c: c.cast("string").cast("double")  # noqa: E731
    ratio = to_d(as_dec("n_docs") * F.col("n")) / to_d(
        F.col("c_l") * F.col("c_s")
    )
    return marg.select(
        "lang",
        "source",
        "n_docs",
        F.round(F.log(ratio) * F.lit(1000000.0), 0)
        .cast("bigint")
        .alias("pmi_micro"),
    )


_MI_SQL = """
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c_ls
  FROM documents GROUP BY lang, source
), marg AS (
  SELECT lang, source, c_ls,
         SUM(c_ls) OVER (PARTITION BY lang) AS c_l,
         SUM(c_ls) OVER (PARTITION BY source) AS c_s,
         SUM(c_ls) OVER () AS n
  FROM cells
), pmi AS (
  SELECT c_ls, n,
         CAST(ROUND(ln(CAST(CAST(CAST(c_ls AS HUGEINT) * n AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(c_l * c_s AS VARCHAR) AS DOUBLE))
                    * 1000000.0, 0) AS BIGINT) AS pmi_micro
  FROM marg
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(CAST(SUM(CAST(c_ls AS HUGEINT) * pmi_micro) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(n AS VARCHAR) AS DOUBLE) AS mi_micro_nats
FROM pmi GROUP BY n
"""


@register("lang_source_mi", _MI_SQL)
def q_lang_source_mi(spark, sf_dir):
    """Corpus-level mutual information I(lang; source) in micro-nats —
    the single-number redundancy score between the two partitioning
    dimensions (0 = independent, ln(min(|L|,|S|)) = one determines the
    other). The plug-in estimator over observed cells: I = (1/N) *
    sum_cells c_ls * pmi(cell), with pmi the micro-quantized cell PMI
    of lang_source_pmi.

    Scale shape: identical to lang_source_pmi — one corpus groupBy,
    then constant-row windows and a constant-row final aggregate.
    Exactness: the weighted sum uses the QUANTIZED integer PMIs, so
    sum(c_ls * pmi_micro) is EXACT integer arithmetic (decimal(38,0) /
    HUGEINT — summation order cannot matter), string-routed to double
    for the single final division by N. Determinism never rests on a
    float summation order (the sequential-fold rule made unnecessary
    by integer weights)."""
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("c_ls")
    )
    as_dec = lambda c: F.col(c).cast("decimal(28,0)")  # noqa: E731
    marg = cells.select(
        "c_ls",
        F.sum(as_dec("c_ls")).over(Window.partitionBy("lang")).alias("c_l"),
        F.sum(as_dec("c_ls")).over(Window.partitionBy("source")).alias("c_s"),
        F.sum(as_dec("c_ls")).over(Window.partitionBy()).alias("n"),
    )
    to_d = lambda c: c.cast("string").cast("double")  # noqa: E731
    ratio = to_d(as_dec("c_ls") * F.col("n")) / to_d(
        F.col("c_l") * F.col("c_s")
    )
    pmi = marg.select(
        "c_ls",
        "n",
        F.round(F.log(ratio) * F.lit(1000000.0), 0)
        .cast("bigint")
        .alias("pmi_micro"),
    )
    return pmi.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        (
            to_d(F.sum((as_dec("c_ls") * F.col("pmi_micro")).cast("decimal(38,0)")))
            / to_d(F.col("n"))
        ).alias("mi_micro_nats"),
    ).select(
        F.col("n").cast("bigint").alias("n_docs"),
        "n_cells",
        "mi_micro_nats",
    )


# One-sided CUSUM drift threshold, in micro value-units of cumulative
# positive deviation from the segment mean. Shared between the Spark
# query and the oracle (the semdedup_scaled shared-constant rule).
# 400 units sits near the observed peak-CUSUM median at sf0.01 (~47%
# of day-segments alarm), so both alarm branches stay exercised.
_CUSUM_H_MICRO = 400_000_000

_CUSUM_SQL = f"""
WITH base AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day, ts, event_id,
         CAST(ROUND(value * 1000000.0, 0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
), seg AS (
  SELECT event_type, day, ts, event_id, x,
         COUNT(*) OVER w_all AS n,
         SUM(CAST(x AS HUGEINT)) OVER w_all AS s
  FROM base
  WINDOW w_all AS (PARTITION BY event_type, day)
), pre AS (
  SELECT event_type, day, n,
         SUM(CAST(n AS HUGEINT) * x - s) OVER w_ord AS p,
         ROW_NUMBER() OVER w_ord AS idx
  FROM seg
  WINDOW w_ord AS (PARTITION BY event_type, day ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), cus AS (
  SELECT event_type, day, n, idx,
         p - LEAST(CAST(0 AS HUGEINT), MIN(p) OVER w2) AS cusum
  FROM pre
  WINDOW w2 AS (PARTITION BY event_type, day ORDER BY idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day,
       CAST(MAX(n) AS BIGINT) AS n_obs,
       CAST(COUNT(*) FILTER (
         WHERE cusum > CAST(n AS HUGEINT) * {_CUSUM_H_MICRO}) AS BIGINT)
         AS n_alarms,
       CAST(MIN(CASE WHEN cusum > CAST(n AS HUGEINT) * {_CUSUM_H_MICRO}
                     THEN idx END) AS BIGINT) AS first_alarm_idx
FROM cus GROUP BY event_type, day
"""


@register("cusum_changepoints", _CUSUM_SQL)
def q_cusum_changepoints(spark, sf_dir):
    """One-sided CUSUM changepoint detection (Page 1954) per
    (event_type, day) segment: alarms where the cumulative positive
    deviation of the value series from the segment mean exceeds
    _CUSUM_H_MICRO — the standard sequential drift detector a metrics
    pipeline runs before trusting a day's data.

    The recurrence S_t = max(0, S_{t-1} + d_t) is NOT associative, but
    it has the exact prefix closed form S_t = P_t - min(0, min_{j<=t}
    P_j) with P the prefix sum of deviations — so the whole detector
    is two ordered windows (prefix sum, prefix min) inside bounded
    (event_type, day) partitions, zero iteration, zero driver loops.
    Deviations are n-SCALED to stay integer (d_t = n*x_t - sum_seg
    avoids the non-integer mean; the alarm test compares against n*H),
    and all prefix algebra runs in exact decimal(38,0)/HUGEINT — at a
    1e9-row day-segment n^2*x exceeds BIGINT, which silent-overflows,
    so the wide type is the 100 TB posture, not pedantry. Outputs are
    pure integers (counts + first alarm index): no division, no
    doubles, no summation-order hazard anywhere. Explicit ROWS frames
    pinned on both engines (RANGE would include ts peers)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = F.round(F.col("value").cast("double") * F.lit(1000000.0), 0).cast(
        "bigint"
    )
    base = ev.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        "ts",
        "event_id",
        x.alias("x"),
    )
    w_all = Window.partitionBy("event_type", "day")
    as_dec = lambda c: c.cast("decimal(28,0)")  # noqa: E731
    seg = base.select(
        "event_type",
        "day",
        "ts",
        "event_id",
        "x",
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum(as_dec(F.col("x"))).over(w_all).alias("s"),
    )
    w_ord = (
        Window.partitionBy("event_type", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = as_dec(F.col("n")) * as_dec(F.col("x")) - F.col("s")
    pre = seg.select(
        "event_type",
        "day",
        "n",
        F.sum(d).over(w_ord).alias("p"),
        F.row_number()
        .over(
            Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
        )
        .cast("bigint")
        .alias("idx"),
    )
    w2 = (
        Window.partitionBy("event_type", "day")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = pre.select(
        "event_type",
        "day",
        "n",
        "idx",
        (
            F.col("p")
            - F.least(F.lit(0).cast("decimal(38,0)"), F.min("p").over(w2))
        ).alias("cusum"),
    )
    alarm = F.col("cusum") > as_dec(F.col("n")) * F.lit(_CUSUM_H_MICRO).cast(
        "decimal(28,0)"
    )
    return cus.groupBy("event_type", "day").agg(
        F.max("n").cast("bigint").alias("n_obs"),
        F.count(F.when(alarm, F.lit(1))).cast("bigint").alias("n_alarms"),
        F.min(F.when(alarm, F.col("idx"))).cast("bigint").alias(
            "first_alarm_idx"
        ),
    )


# Per-cluster survivor quota for the diversity sample (D4 posture:
# equalize cluster mass). 40 < the ~62-vec mean cell size at sf0.01,
# so most cells thin while small cells pass whole — both branches of
# the keep rule stay exercised. Shared with the oracle via f-string.
_DIVERSITY_QUOTA = 40

_CLUSTER_SAMPLE_SQL = f"""
WITH {_KMEANS_CTES},
cnt AS (
  SELECT assigned, COUNT(*) AS c FROM a2 GROUP BY assigned
), sel AS (
  SELECT a.assigned, a.vec_id, c.c,
         CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 4))
              AS BIGINT) AS bucket
  FROM a2 a JOIN cnt c USING (assigned)
)
SELECT assigned,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN bucket * c < {_DIVERSITY_QUOTA} * 65536
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN bucket * c < {_DIVERSITY_QUOTA} * 65536
                     THEN vec_id ELSE 0 END) AS BIGINT) AS kept_id_sum
FROM sel GROUP BY assigned
"""


@register("cluster_balanced_sample", _CLUSTER_SAMPLE_SQL)
def q_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced diversity sampling (the D4 recipe, Tirumala et
    al. 2023: dedup then DIVERSIFY by equalizing k-means cluster mass):
    every vector keeps with probability min(1, quota/|cell|) under its
    trained Lloyd's cell, so over-represented semantic regions thin
    toward the per-cluster quota while rare regions survive whole.

    Determinism/exactness: the keep test is the quality_weighted_sample
    pure-BIGINT cross-multiplication — md5 16-bit bucket of vec_id
    versus quota·65536/|cell| rearranged to integers — and the oracle
    shares the quantizer's entire CTE chain (_KMEANS_CTES) plus the
    quota constant, so sampler and quantizer cannot desynchronize.
    Content-free hash ⇒ rerunnable and stable under re-partitioning.

    Scale shape: quantizer cost is kmeans_lloyd_assign's (broadcast
    centroids, corpus streamed once per round); on top of it ONE
    k-row cell-count aggregate joined back (autoBroadcast — constant
    k rows, never SF-proportional) and one map-side keep test; final
    output is k rows."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = similarity.kmeans_lloyd(emb, k=_KMEANS_K).select(
        "vec_id", "assigned"
    )
    cnt = assigned.groupBy("assigned").agg(
        F.count(F.lit(1)).alias("c")
    )
    bucket = packing.md5_u16(F.col("vec_id"))
    sel = assigned.join(cnt, "assigned").select(
        "assigned", "vec_id", "c", bucket.alias("bucket")
    )
    keep = F.col("bucket") * F.col("c") < F.lit(_DIVERSITY_QUOTA * 65536)
    return sel.groupBy("assigned").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.count(F.when(keep, F.lit(1))).cast("bigint").alias("n_kept"),
        F.sum(F.when(keep, F.col("vec_id")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_id_sum"),
    )


# Fixed-reference Page CUSUM constants: K_REF is the known target mean
# (the corpus value mean ~49.6 units), H the alarm threshold — ~1/3 of
# sf0.01 day-segments alarm, so both branches stay exercised. Shared
# with the oracle AND the streaming twin (streaming/ingest).
_CUSUM_K_REF_MICRO = 50_000_000
_CUSUM_H_FIXED_MICRO = 500_000_000

_CUSUM_REF_SQL = f"""
WITH base AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day, ts, event_id,
         CAST(ROUND(value * 1000000.0, 0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
), pre AS (
  SELECT event_type, day,
         SUM(CAST(x - {_CUSUM_K_REF_MICRO} AS HUGEINT)) OVER w AS p,
         ROW_NUMBER() OVER w AS idx
  FROM base
  WINDOW w AS (PARTITION BY event_type, day ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), cus AS (
  SELECT event_type, day, idx,
         p - LEAST(CAST(0 AS HUGEINT), MIN(p) OVER w2) AS cusum
  FROM pre
  WINDOW w2 AS (PARTITION BY event_type, day ORDER BY idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(COUNT(*) FILTER (WHERE cusum > {_CUSUM_H_FIXED_MICRO})
            AS BIGINT) AS n_alarms,
       CAST(MIN(CASE WHEN cusum > {_CUSUM_H_FIXED_MICRO} THEN idx END)
            AS BIGINT) AS first_alarm_idx,
       CAST(MAX(cusum) AS BIGINT) AS peak_cusum_micro
FROM cus GROUP BY event_type, day
"""


@register("cusum_fixed_ref", _CUSUM_REF_SQL)
def q_cusum_fixed_ref(spark, sf_dir):
    """Page's CUSUM against a KNOWN reference mean (the textbook
    monitoring form: K_REF is the in-control target, not estimated
    from the window) per (event_type, day) — the single-pass variant
    of cusum_changepoints, and the form a STREAMING monitor can
    maintain incrementally (see streaming/ingest.streaming_cusum_
    alarms, pinned drained-equal to this prefix algebra).

    Same exact prefix closed form (S_t = P_t − min(0, min_j P_j)),
    but deviations x − K are plain micro-BIGINTs (no n-scaling needed
    when the reference is a constant); prefix sums still run in
    decimal(38,0)/HUGEINT — a 1e9-row day at max deviation reaches
    5.6e17 which FITS bigint, but the margin is one order, not a
    posture. Pure-integer outputs incl. the peak excursion."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = F.round(F.col("value").cast("double") * F.lit(1000000.0), 0).cast(
        "bigint"
    )
    base = ev.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        "ts",
        "event_id",
        x.alias("x"),
    )
    w_ord = (
        Window.partitionBy("event_type", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (F.col("x") - F.lit(_CUSUM_K_REF_MICRO)).cast("decimal(28,0)")
    pre = base.select(
        "event_type",
        "day",
        F.sum(d).over(w_ord).alias("p"),
        F.row_number()
        .over(
            Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
        )
        .cast("bigint")
        .alias("idx"),
    )
    w2 = (
        Window.partitionBy("event_type", "day")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = pre.select(
        "event_type",
        "day",
        "idx",
        (
            F.col("p")
            - F.least(F.lit(0).cast("decimal(38,0)"), F.min("p").over(w2))
        ).alias("cusum"),
    )
    alarm = F.col("cusum") > F.lit(_CUSUM_H_FIXED_MICRO).cast(
        "decimal(28,0)"
    )
    return cus.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.count(F.when(alarm, F.lit(1))).cast("bigint").alias("n_alarms"),
        F.min(F.when(alarm, F.col("idx"))).cast("bigint").alias(
            "first_alarm_idx"
        ),
        F.max("cusum").cast("bigint").alias("peak_cusum_micro"),
    )


_XCORR_SQL = """
WITH mins AS (
  SELECT event_type AS t, DATE_TRUNC('minute', ts) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, DATE_TRUNC('minute', ts)
), days AS (
  SELECT CAST(COUNT(DISTINCT DATE_TRUNC('day', ts)) AS BIGINT) AS nd
  FROM events
), stats AS (
  SELECT t, SUM(CAST(c AS HUGEINT)) AS sx, SUM(CAST(c AS HUGEINT) * c) AS sxx
  FROM mins GROUP BY t
), xy AS (
  SELECT a.t AS ta, b.t AS tb, SUM(CAST(a.c AS HUGEINT) * b.c) AS sxy
  FROM mins a JOIN mins b ON a.b = b.b AND a.t < b.t
  GROUP BY a.t, b.t
), pairs AS (
  SELECT sa.t AS ta, sb.t AS tb, sa.sx AS sx, sa.sxx AS sxx,
         sb.sx AS sy, sb.sxx AS syy,
         COALESCE(xy.sxy, CAST(0 AS HUGEINT)) AS sxy,
         CAST(1440 AS HUGEINT) * d.nd AS n
  FROM stats sa JOIN stats sb ON sa.t < sb.t
  LEFT JOIN xy ON xy.ta = sa.t AND xy.tb = sb.t
  CROSS JOIN days d
)
SELECT ta AS type_a, tb AS type_b, CAST(n AS BIGINT) AS n_buckets,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
         / (sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
            * sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
       END AS corr_xy
FROM pairs
"""


@register("event_type_minute_corr", _XCORR_SQL)
def q_event_type_minute_corr(spark, sf_dir):
    """Cross-correlation of per-minute arrival counts between every
    event-type pair — "does the error rate track the purchase rate":
    Pearson r over the complete minute grid of all observed days.

    The zero-count buckets a naive join would need a densified spine
    for contribute NOTHING to any moment sum — only to n. So n comes
    from arithmetic (1440 × distinct days, both engines exact) and
    every sum from the sparse non-zero buckets: sx/sxx per type from
    one groupBy, sxy per pair from ONE bucket-keyed equi self-join
    (the only corpus-proportional shuffle; a.t < b.t halves it),
    pairs with no co-active minute kept by a left join with sxy=0.
    The |types|² pair frame and the 1-row day count are constant-size
    broadcasts. Exactness: all moments are exact HUGEINT/decimal
    integers, string-routed to double for the closed-form r
    (value_autocorr_daily recipe); zero-variance pairs NULL on both
    engines."""
    ev = _t(spark, sf_dir, "events")
    mins = ev.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("minute", "ts").alias("b"),
    ).agg(F.count(F.lit(1)).alias("c"))
    days = ev.agg(
        F.countDistinct(F.date_trunc("day", "ts")).cast("bigint").alias("nd")
    )
    as_dec = lambda c: c.cast("decimal(28,0)")  # noqa: E731
    stats = mins.groupBy("t").agg(
        F.sum(as_dec(F.col("c"))).alias("sx"),
        F.sum(as_dec(F.col("c") * F.col("c"))).alias("sxx"),
    )
    a = mins.select(
        F.col("t").alias("ta"), F.col("b").alias("ab"), F.col("c").alias("ca")
    )
    b = mins.select(
        F.col("t").alias("tb"), F.col("b").alias("bb"), F.col("c").alias("cb")
    )
    xy = (
        a.join(b, (F.col("ab") == F.col("bb")) & (F.col("ta") < F.col("tb")))
        .groupBy("ta", "tb")
        .agg(F.sum(as_dec(F.col("ca") * F.col("cb"))).alias("sxy"))
    )
    sa = stats.select(
        F.col("t").alias("ta"), F.col("sx").alias("sx"), F.col("sxx").alias("sxx")
    )
    sb = stats.select(
        F.col("t").alias("tb"), F.col("sx").alias("sy"), F.col("sxx").alias("syy")
    )
    pairs = (
        sa.join(sb, F.col("ta") < F.col("tb"))
        .join(xy, ["ta", "tb"], "left")
        .crossJoin(days)
        .select(
            "ta",
            "tb",
            "sx",
            "sxx",
            "sy",
            "syy",
            F.coalesce(F.col("sxy"), F.lit(0).cast("decimal(38,0)")).alias(
                "sxy"
            ),
            (F.lit(1440).cast("decimal(28,0)") * as_dec(F.col("nd"))).alias(
                "n"
            ),
        )
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    to_d = lambda c: c.cast("string").cast("double")  # noqa: E731
    return pairs.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("n").cast("bigint").alias("n_buckets"),
        F.when(
            (varx > 0) & (vary > 0),
            to_d(cov) / (F.sqrt(to_d(varx)) * F.sqrt(to_d(vary))),
        ).alias("corr_xy"),
    )


# Collocation ranking constants, shared with the oracle via f-string.
_COLLOC_MIN_SUPPORT = 5
_COLLOC_TOPK = 50

_COLLOC_SQL = f"""
WITH tk AS (
  SELECT list_filter(string_split(trim(lower(coalesce(text, ''))), ' '),
                     x -> x <> '') AS tk
  FROM documents
), g AS (
  SELECT unnest(list_transform(range(1, greatest(len(tk), 1)),
                               i -> {{'w1': tk[i], 'w2': tk[i + 1],
                                     'gram': tk[i] || ' ' || tk[i + 1]}})) AS s
  FROM tk
), gc AS (
  SELECT s.gram AS gram, s.w1 AS w1, s.w2 AS w2,
         CAST(COUNT(*) AS BIGINT) AS c12
  FROM g GROUP BY s.gram, s.w1, s.w2
), lc AS (
  SELECT w1, SUM(CAST(c12 AS HUGEINT)) AS c1 FROM gc GROUP BY w1
), rc AS (
  SELECT w2, SUM(CAST(c12 AS HUGEINT)) AS c2 FROM gc GROUP BY w2
), tot AS (
  SELECT SUM(CAST(c12 AS HUGEINT)) AS tb FROM gc
), scored AS (
  SELECT gram, c12,
         CAST(ROUND(ln(CAST(CAST(CAST(c12 AS HUGEINT) * tb AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(c1 * c2 AS VARCHAR) AS DOUBLE))
                    * 1000000.0, 0) AS BIGINT) AS pmi_micro
  FROM gc JOIN lc USING (w1) JOIN rc USING (w2) CROSS JOIN tot
  WHERE c12 >= {_COLLOC_MIN_SUPPORT}
)
SELECT gram, c12, pmi_micro FROM scored
ORDER BY pmi_micro DESC, gram LIMIT {_COLLOC_TOPK}
"""


@register("collocation_topk", _COLLOC_SQL)
def q_collocation_topk(spark, sf_dir):
    """Top-k collocations by pointwise mutual information over the
    bigram event space (Church & Hanks 1990): PMI = ln(c12·T /
    (c1·c2)) with T total bigram instances and c1/c2 the left/right
    marginals — the classic phrase-extraction ranking, with a minimum
    support floor so PMI's rare-pair bias cannot promote hapaxes.

    Scale shape: gram/marginal aggregates are vocabulary-sized
    partial-agged groupBys; the candidate←marginal joins are
    vocab-keyed shuffles (the support filter shrinks the probe side
    first); T is a 1-row broadcast; the final top-k is a distributed
    TakeOrderedAndProject bounded to k rows BEFORE anything global
    (zipf bounded-head rule). Exactness: normalizing over the BIGRAM
    space keeps every product ≤ T² (inside decimal(38,0)/HUGEINT,
    where a unigram-normalized PMI's c12·N² would overflow at 100 TB
    token counts); string-route to double, micro-quantized ln; ties
    broken on the gram string."""
    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(text.lm_grams(F.col("text"))).alias("gram")
    )
    parts = F.split(F.col("gram"), " ")
    # persist: gc feeds FOUR consumers (marginals, total, candidates) —
    # without materialization each branch re-scans and re-explodes the
    # whole corpus (the bigram_lm_scores diamond-DAG pattern; measured
    # 10.3 s -> ~3 s at sf0.1). Vocabulary-sized, Heaps'-bounded.
    gc = (
        grams.select(
            "gram",
            parts.getItem(0).alias("w1"),
            parts.getItem(1).alias("w2"),
        )
        .groupBy("gram", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist()
    )
    as_dec = lambda c: c.cast("decimal(28,0)")  # noqa: E731
    lc = gc.groupBy("w1").agg(F.sum(as_dec(F.col("c12"))).alias("c1"))
    rc = gc.groupBy("w2").agg(F.sum(as_dec(F.col("c12"))).alias("c2"))
    tot = gc.agg(F.sum(as_dec(F.col("c12"))).alias("tb"))
    cand = gc.filter(F.col("c12") >= _COLLOC_MIN_SUPPORT)
    to_d = lambda c: c.cast("string").cast("double")  # noqa: E731
    scored = (
        cand.join(lc, "w1")
        .join(rc, "w2")
        .crossJoin(tot)
        .select(
            "gram",
            "c12",
            F.round(
                F.log(
                    to_d(as_dec(F.col("c12")) * F.col("tb"))
                    / to_d(F.col("c1") * F.col("c2"))
                )
                * F.lit(1000000.0),
                0,
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.col("pmi_micro").desc(), "gram"
    ).limit(_COLLOC_TOPK)


@register(
    "bpe_lang_fertility", bpe.lang_fertility_oracle_sql(_N_BPE_MERGES)
)
def q_bpe_lang_fertility(spark, sf_dir):
    """Tokenizer fertility by language under the corpus-trained BPE —
    mean subword tokens per word, the multilingual-fairness metric a
    tokenizer report leads with (a language the merges under-serve
    pays proportionally more context budget per word). Same trained
    vocab + shuffle_hash application shape as doc_bpe_trained_tokens,
    aggregated to |langs| rows; fertility is one unrounded division
    of exact integer totals (identical doubles on both engines)."""
    docs = _t(spark, sf_dir, "documents")
    return bpe.lang_fertility(spark, docs, n_merges=_N_BPE_MERGES)


_LSH_RECALL_SQL = f"""
WITH truth AS (
  SELECT doc_a, doc_b FROM ({_JACCARD_SQL}) x
), found AS (
  SELECT doc_a, doc_b FROM ({_minhash_md5_sql()}) x
), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM truth),
f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM found),
c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM truth JOIN found USING (doc_a, doc_b))
SELECT t.n AS n_truth, f.n AS n_found, c.n AS n_common,
       CASE WHEN t.n > 0 THEN CAST(c.n AS DOUBLE) / CAST(t.n AS DOUBLE) END
         AS lsh_recall,
       CASE WHEN f.n > 0 THEN CAST(c.n AS DOUBLE) / CAST(f.n AS DOUBLE) END
         AS lsh_precision
FROM t, f, c
"""


@register("minhash_lsh_recall", _LSH_RECALL_SQL)
def q_minhash_lsh_recall(spark, sf_dir):
    """LSH index-quality evaluation: recall and precision of the
    md5-MinHash banding pipeline against the exact shingle-Jaccard
    pair finder at the SAME threshold and shingle definition — the
    ann_recall_at_10 metric for the near-dup family (LSH parameters
    tune recall; this query is what a pipeline tunes them WITH).

    Both sides are the registry's own pinned operators composed
    unchanged (ngram.jaccard_pairs truth / minhash.minhash_md5_pairs
    found); the intersection is one (doc_a, doc_b)-keyed join of two
    pair tables (each already sub-quadratic), and the three counts are
    1-row scalar aggregates crossed together — constant-size, reviewed.
    Truth carries the documented max_df posting-list pruning; the
    metric therefore reads as recall AGAINST THE PRUNED exact finder
    (identically on both engines). Divisions are exact-int operands
    with zero-count guards NULL on both engines.

    Each pair table is referenced twice (scalar count + intersection
    join) — deliberately WITHOUT persist: the double reference shares
    its shuffles via ReuseExchange, and an explicit cache measured
    neutral-to-negative (A/B min-of-3 at sf0.1: 5.15 s uncached vs
    5.68 s cached — materialization cost exceeds the reuse win when
    the exchanges already dedup). A second r17 sharing attempt — ONE
    persisted shingle table feeding BOTH finders via *_from_shingles
    entry points — measured WORSE the same way (interleaved min-of-5:
    old 5.33 s / new 6.15 s, OPTIMIZATION_r17.md family J): the shared
    cache must materialize serially and the truth side then re-reads
    it through three explodes, while the independent finders' two
    tokenize passes overlap across cores as parallel stages. Kept
    independent; at 100 TB the second corpus pass trades against a
    corpus-sized cache write + three cached re-reads, so the sharing
    is not a clear scale win either."""
    docs = _t(spark, sf_dir, "documents")
    truth = ngram.jaccard_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    found = minhash.minhash_md5_pairs(docs).select(
        "doc_a", "doc_b"
    )
    t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    f_ = found.agg(F.count(F.lit(1)).cast("bigint").alias("n_found"))
    c = truth.join(found, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    return (
        t.crossJoin(f_)
        .crossJoin(c)
        .select(
            "n_truth",
            "n_found",
            "n_common",
            F.when(
                F.col("n_truth") > 0,
                F.col("n_common").cast("double")
                / F.col("n_truth").cast("double"),
            ).alias("lsh_recall"),
            F.when(
                F.col("n_found") > 0,
                F.col("n_common").cast("double")
                / F.col("n_found").cast("double"),
            ).alias("lsh_precision"),
        )
    )


_TRIANGLE_SQL = f"""
WITH edges AS (
  SELECT doc_a AS a, doc_b AS b FROM ({_minhash_md5_sql()}) x
), wedges AS (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM edges e1 JOIN edges e2 ON e1.b = e2.a
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM wedges w JOIN edges e3 ON w.a = e3.a AND w.c = e3.b
), nn AS (
  SELECT CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes
  FROM (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
), ne AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges
)
SELECT n_nodes, n_edges, n_triangles FROM nn, ne, tri
"""


@register("dup_graph_triangles", _TRIANGLE_SQL)
def q_dup_graph_triangles(spark, sf_dir):
    """Triangle count of the near-duplicate graph — the clustering-
    coefficient numerator that tells DENSE duplicate families (cliques
    from template spam) apart from CHAINS (incremental edits), which
    min-label CC and PageRank cannot distinguish.

    The classic ordered-wedge algorithm: edges are already oriented
    a < b by construction, so every triangle a<b<c is counted exactly
    once as wedge (a-b, b-c) closed by edge (a, c) — two node-keyed
    equi-joins on the (small, sub-quadratic) pair table, no
    per-triangle dedup pass. Edges persist once for their three
    consumers. Scalar outputs; the count aggregates are the reviewed
    1-row pattern."""
    docs = _t(spark, sf_dir, "documents")
    edges = (
        minhash.minhash_md5_pairs(docs)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .persist()
    )
    e1 = edges.alias("e1")
    e2 = edges.hint("shuffle_hash").alias("e2")
    wedges = e1.join(e2, F.col("e1.b") == F.col("e2.a")).select(
        F.col("e1.a").alias("wa"), F.col("e1.b").alias("wb"), F.col("e2.b").alias("wc")
    )
    e3 = edges.hint("shuffle_hash").alias("e3")
    tri = wedges.join(
        e3, (F.col("wa") == F.col("e3.a")) & (F.col("wc") == F.col("e3.b"))
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
    )
    base = nodes.agg(
        F.countDistinct("node").cast("bigint").alias("n_nodes")
    ).crossJoin(edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
    return base.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


# Top-k |covariance| dim pairs to report; shared with the oracle.
_DIMCOV_TOPK = 20

_DIMCOV_SQL = f"""
WITH ex AS (
  SELECT vec_id, i - 1 AS pos,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0) AS BIGINT)
           AS x
  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
  WHERE embedding IS NOT NULL
), dimstats AS (
  SELECT pos, SUM(CAST(x AS HUGEINT)) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM ex GROUP BY pos
), xy AS (
  SELECT a.pos AS pos_a, b.pos AS pos_b,
         SUM(CAST(a.x AS HUGEINT) * b.x) AS sxy
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos < b.pos
  GROUP BY a.pos, b.pos
), cov AS (
  SELECT pos_a, pos_b, da.n AS n_vecs,
         da.n * sxy - da.s * db.s AS cov_i
  FROM xy JOIN dimstats da ON xy.pos_a = da.pos
          JOIN dimstats db ON xy.pos_b = db.pos
)
SELECT pos_a, pos_b, n_vecs,
       CAST(CAST(cov_i AS VARCHAR) AS DOUBLE) AS cov_scaled
FROM cov
ORDER BY abs(cov_i) DESC, pos_a, pos_b LIMIT {_DIMCOV_TOPK}
"""


@register("embedding_dim_cov_topk", _DIMCOV_SQL)
def q_embedding_dim_cov_topk(spark, sf_dir):
    """Top-k most-covarying embedding dimension pairs — the whitening /
    PCA-prep diagnostic (strongly covarying dims mean the cosine
    metric double-counts a direction; a whitening step or PQ subspace
    rotation is warranted). Reports n·Σxy − Σx·Σy per (dim_a, dim_b)
    in micro²-units, ranked by magnitude.

    Scale shape (r17 optimization, guide §2.4 — remove shuffles
    outright): the Σxy cross-products are generated MAP-SIDE by a
    nested posexplode (pos_a over the vector, pos_b over the
    remaining slice — constant 2016 codegen'd pair rows/vector,
    LINEAR in the corpus) feeding a partial-agged 2016-cell
    aggregate, so NOTHING corpus-sized is ever exchanged. This
    replaces a vec_id-keyed self-join of the exploded (vec, pos, x)
    table, which shuffled corpus×64 rows on BOTH join sides before
    producing the identical product multiset (plan diff: the corpus
    ShuffledHashJoin and its two wide exchanges are gone; surviving
    exchanges carry ≤2016 partial cells / 64 marginals per map
    partition, plus the spread repartition — identity at scale; the
    unsplittable local scan otherwise serializes the 2016
    products/vector on one core, measured 4.1 s vs 1.6 s). The
    dim-stats marginals project off the SAME spread+posexplode
    subtree (one scan; interleaved A/B min-of-5: old 2.21 s → new
    1.67 s, OPTIMIZATION_r17.md family J). The ORDER is
    decided on EXACT decimal/HUGEINT integers (ranking on a rounded
    double could reorder knife-edge ties), then the winning values
    take the string-route to double for output; top-k is a
    distributed TakeOrderedAndProject over 2016 cells."""
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    as_dec = lambda c: c.cast("decimal(28,0)")  # noqa: E731
    micro = lambda c: (  # noqa: E731 — the one x quantization rule
        F.round(c.cast("double") * F.lit(1000000.0), 0).cast("bigint")
    )
    lead = catalog.spread(emb, key="vec_id").select(
        F.posexplode(F.col("embedding")).alias("pos_a", "va"),
        F.col("embedding"),
    )
    # Marginals from the SAME spread+posexplode subtree as the pair leg
    # (one scan; the identical Exchange subtree is runtime-reused), so
    # the per-element quantize+sum work parallelizes with the rest.
    dimstats = lead.select(
        F.col("pos_a").alias("pos"), micro(F.col("va")).alias("x")
    ).groupBy("pos").agg(
        F.sum(as_dec(F.col("x"))).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    trail = lead.select(
        "pos_a",
        micro(F.col("va")).alias("xa"),
        F.posexplode(
            F.slice(
                F.col("embedding"),
                F.col("pos_a") + 2,
                F.greatest(
                    F.size("embedding") - F.col("pos_a") - 1, F.lit(0)
                ),
            )
        ).alias("k", "vb"),
    )
    xy = (
        trail.select(
            "pos_a",
            (F.col("pos_a") + 1 + F.col("k")).alias("pos_b"),
            (as_dec(F.col("xa")) * as_dec(micro(F.col("vb")))).alias("p"),
        )
        .groupBy("pos_a", "pos_b")
        .agg(F.sum("p").alias("sxy"))
    )
    da = dimstats.select(
        F.col("pos").alias("pos_a"), F.col("s").alias("sa"), F.col("n").alias("n_vecs")
    )
    db = dimstats.select(F.col("pos").alias("pos_b"), F.col("s").alias("sb"))
    cov = (
        xy.join(da, "pos_a")
        .join(db, "pos_b")
        .select(
            "pos_a",
            "pos_b",
            "n_vecs",
            (
                as_dec(F.col("n_vecs")) * F.col("sxy")
                - F.col("sa") * F.col("sb")
            ).alias("cov_i"),
        )
    )
    return (
        cov.orderBy(F.abs(F.col("cov_i")).desc(), "pos_a", "pos_b")
        .limit(_DIMCOV_TOPK)
        .select(
            "pos_a",
            "pos_b",
            "n_vecs",
            F.col("cov_i").cast("string").cast("double").alias("cov_scaled"),
        )
    )


# Shared CTE text so cdc_chunk_dedup and cdc_incremental_ingest can
# never drift from each other (r9 advisor rule: generate shared SQL
# constants from ONE place): chunks(doc_id, source, ch, clen).
_CDC_CHUNKS_CTE = f"""cut AS (
  SELECT doc_id, source, text,
         list_prepend(0, list_append(
           CASE WHEN length(text) >= {cdc.CDC_WINDOW} THEN
             list_filter(generate_series({cdc.CDC_WINDOW}, length(text)),
               i -> list_reduce(
                      list_prepend(CAST(0 AS BIGINT),
                        list_transform(generate_series(i - {cdc.CDC_WINDOW - 1}, i),
                                       j -> CAST(ascii(text[j]) AS BIGINT))),
                      (acc, c) -> (acc * 31 + c) % {cdc.CDC_PRIME})
                    % {cdc.CDC_MOD} = 0)
           ELSE CAST([] AS BIGINT[]) END, length(text))) AS bs
  FROM documents
  WHERE text IS NOT NULL
), chunks AS (
  SELECT doc_id, source,
         md5(substr(text, CAST(bs[CAST(g.i AS INT)] AS INT) + 1,
                    CAST(bs[CAST(g.i AS INT) + 1] - bs[CAST(g.i AS INT)] AS INT))) AS ch,
         CAST(bs[CAST(g.i AS INT) + 1] - bs[CAST(g.i AS INT)] AS INT) AS clen
  FROM cut, LATERAL (SELECT unnest(generate_series(1, len(bs) - 1)) AS i) g
  WHERE bs[CAST(g.i AS INT) + 1] > bs[CAST(g.i AS INT)]
)"""

_CDC_SQL = f"""
WITH {_CDC_CHUNKS_CTE}, per_chunk AS (
  SELECT source, ch, COUNT(*) AS cnt, MIN(clen) AS clen
  FROM chunks GROUP BY source, ch
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
       CAST(SUM(cnt * clen) AS BIGINT) AS chars_total,
       CAST(SUM(clen) AS BIGINT) AS chars_distinct,
       CAST(SUM(cnt * clen) - SUM(clen) AS DOUBLE)
         / CAST(SUM(cnt * clen) AS DOUBLE) AS dedup_save_ratio
FROM per_chunk GROUP BY source
"""


@register("cdc_chunk_dedup", _CDC_SQL)
def q_cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunking dedup accounting (dedup.cdc): rolling
    polynomial hash cuts chunk boundaries wherever the trailing-window
    hash ≡ 0 (mod 64), then chunk-level exact dedup per source reports
    the byte savings a chunk store would realize. Unlike fixed-width
    chunking (doc_chunks_udtf), boundaries depend on LOCAL content
    only, so an insertion realigns at the next surviving boundary —
    the property that makes CDC the standard chunker for crawl-snapshot
    dedup (shift-resilience pinned in tests/test_dedup.py).

    Scale shape: the chunker is map-only codegen (no UDF, no shuffle);
    dedup groups 16-byte md5 keys with map-side partial aggregation,
    so shuffle bytes track DISTINCT chunks, not corpus bytes. The save
    ratio is one double division of exact integer sums — cross-engine
    exact without rounding. NULL-text docs are excluded on both
    engines (they have no chunkable content)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return cdc.chunk_dedup_stats(docs)


_HARDNEG_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)


def _hardneg_cos(a: str, b: str) -> str:
    dot = _HARDNEG_DOT.format(a=a, b=b)
    na = _HARDNEG_DOT.format(a=a, b=a)
    nb = _HARDNEG_DOT.format(a=b, b=b)
    return f"ROUND(({dot}) / (sqrt({na}) * sqrt({nb})), 6)"


_HARDNEG_SQL = f"""
WITH pool AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL
), probes AS (
  SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
  FROM pool WHERE vec_id % 100 = 7 ORDER BY vec_id LIMIT 1000
), scored AS (
  SELECT p.q_id, c.vec_id AS n_id, c.label AS n_label, p.q_label,
         {_hardneg_cos('p.q_vec', 'c.embedding')} AS sim
  FROM pool c JOIN probes p ON c.vec_id <> p.q_id
), pos AS (
  SELECT q_id, n_id, sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
  FROM scored WHERE n_label = q_label
), neg AS (
  SELECT q_id, n_id, sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
  FROM scored WHERE n_label <> q_label
)
SELECT p.q_id,
       p.n_id AS pos_id, p.sim AS pos_sim,
       n.n_id AS neg_id, n.sim AS neg_sim,
       p.sim - n.sim AS margin
FROM pos p JOIN neg n ON p.q_id = n.q_id
WHERE p.rnk = 1 AND n.rnk = 1
"""


@register("hard_negative_mining", _HARDNEG_SQL)
def q_hard_negative_mining(spark, sf_dir):
    """Contrastive-training hard-negative mining: for each probe
    vector, the most-similar SAME-label neighbor (hardest positive)
    and the most-similar DIFFERENT-label neighbor (hardest negative),
    plus the margin between them — the pair-selection step that feeds
    triplet/InfoNCE training, and a labeling-quality diagnostic
    (negative margins flag probes whose nearest neighbor belongs to a
    different class: mislabeled or boundary examples).

    Scale shape: the probe set is HARD-CAPPED at 1000 rows (1% of ids,
    then orderBy(vec_id).limit — a true size bound, so the broadcast
    stays legitimate at any SF; the cap is a no-op at bench scales
    where 1% of the corpus is ≤ 20 probes). The corpus streams through
    ONCE computing the float64 cosine fold; both argmaxes are ONE
    conditional min(struct) aggregate with map-side partials — no
    window over the corpus, no second pass. Mining hard negatives for
    EVERY corpus vector is a different workload: that is the IVF cell
    restriction of ivf_topk_cosine applied per-cell, never this
    broadcast leg. Similarity is rounded to 6dp before ranking
    (rank boundaries deterministic cross-engine; ties break by
    candidate id — encoded as min(struct(-sim, n_id))); the margin is
    the raw difference of the two rounded sims, bit-identical on both
    engines. Probes lacking any same-label or any different-label
    counterpart drop (both aggregates must produce a winner)."""
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("label").isNotNull() & F.col("embedding").isNotNull()
    )
    # norms projected once per row below the join on both sides (r17;
    # similarity.cosine_pre's join-path note) — bit-identical sim.
    probes = (
        emb.filter(F.col("vec_id") % 100 == 7)
        .orderBy("vec_id")
        .limit(1000)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            similarity.norm(F.col("embedding")).alias("q_nrm"),
            F.col("label").alias("q_label"),
        )
    )
    cand = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_vec"),
        similarity.norm(F.col("embedding")).alias("n_nrm"),
        F.col("label").alias("n_label"),
    )
    pairs = cand.crossJoin(F.broadcast(probes)).filter(
        F.col("n_id") != F.col("q_id")
    )
    sim = F.round(
        similarity.cosine_pre(
            F.col("q_vec"), F.col("n_vec"), F.col("q_nrm"), F.col("n_nrm")
        ),
        6,
    )
    scored = pairs.select(
        "q_id",
        "n_id",
        sim.alias("sim"),
        (F.col("n_label") == F.col("q_label")).alias("same"),
    )
    best = F.struct((-F.col("sim")).alias("ns"), F.col("n_id").alias("nid"))
    g = scored.groupBy("q_id").agg(
        F.min(F.when(F.col("same"), best)).alias("p"),
        F.min(F.when(~F.col("same"), best)).alias("n"),
    )
    return g.filter(
        F.col("p").isNotNull() & F.col("n").isNotNull()
    ).select(
        "q_id",
        F.col("p.nid").alias("pos_id"),
        (-F.col("p.ns")).alias("pos_sim"),
        F.col("n.nid").alias("neg_id"),
        (-F.col("n.ns")).alias("neg_sim"),
        (-F.col("p.ns") - -F.col("n.ns")).alias("margin"),
    )


@register(
    "label_balance_plan",
    """WITH per AS (
         SELECT label, COUNT(*) AS n FROM embeddings
         WHERE label IS NOT NULL GROUP BY label
       ), tot AS (
         SELECT SUM(n) AS total, COUNT(*) AS n_labels, MAX(n) AS max_n FROM per
       )
       SELECT label,
              CAST(n AS BIGINT) AS n,
              CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
              CAST(total AS DOUBLE) / CAST(n_labels * n AS DOUBLE) AS inv_freq_weight,
              CAST(ceil(CAST(max_n AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
                AS oversample_factor
       FROM per, tot""",
)
def q_label_balance_plan(spark, sf_dir):
    """Class-balance report + oversampling plan over the labeled
    embedding corpus: per-label share, the inverse-frequency loss
    weight total/(|labels|·n) (mean weight 1 by construction), and the
    integer repeat factor ceil(max_n/n) a balanced-epoch sampler would
    apply — the class-imbalance audit that precedes classifier-head or
    contrastive training.

    Scale shape: one partial-agged |labels|-group aggregate; the 1-row
    totals broadcast back (the source_mix_weights pattern — no second
    corpus pass). Every output is an exact integer or a single double
    division of exact integers — cross-engine exact, no rounding."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    per = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tot = per.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_labels"),
        F.max("n").alias("max_n"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "label",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / F.col("total").cast("double")).alias("share"),
        (
            F.col("total").cast("double")
            / (F.col("n_labels") * F.col("n")).cast("double")
        ).alias("inv_freq_weight"),
        F.ceil(F.col("max_n").cast("double") / F.col("n").cast("double"))
        .cast("bigint")
        .alias("oversample_factor"),
    )


_LEAK_SQL = f"""
WITH sp AS (
  SELECT doc_id,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), pr AS (
  SELECT doc_a, doc_b FROM ({_minhash_md5_sql()}) x
)
SELECT least(sa.split, sb.split) AS split_lo,
       greatest(sa.split, sb.split) AS split_hi,
       (least(sa.split, sb.split) <> greatest(sa.split, sb.split)) AS crosses_split,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pr
JOIN sp sa ON pr.doc_a = sa.doc_id
JOIN sp sb ON pr.doc_b = sb.doc_id
GROUP BY 1, 2, 3
"""


@register("split_leakage_report", _LEAK_SQL)
def q_split_leakage_report(spark, sf_dir):
    """Train/val/test leakage audit: near-duplicate pairs (the pinned
    md5-MinHash banding pipeline at jaccard ≥ 0.5) classified by the
    split each side lands in under the content-free md5 assignment
    (doc_split_assign). Pairs with crosses_split=true are LEAKS — a
    near-copy of a training document sitting in val/test silently
    inflates eval scores, which is why dedup must run BEFORE splitting
    (the composed pretrain_pipeline_report ordering); this query is
    the audit that proves it, and its within-split counts are the
    residual dup mass each split still carries.

    Scale shape: composes two registry-pinned operators unchanged —
    the banded LSH pair generation (shuffle_hash self-join on band
    keys, never all-pairs) and the map-only split expression; the two
    split lookups are doc_id-keyed equi-joins against the pair set
    (|pairs| rows, far below corpus), and the final aggregate has ≤ 6
    grouped rows. Everything is md5-derived, so the WHOLE audit is
    hash-checked cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash.minhash_md5_pairs(docs).select(
        "doc_a", "doc_b"
    )
    sp = docs.select(
        "doc_id", packing.md5_split(F.col("doc_id")).alias("split")
    )
    sa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("_sa"))
    sb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("_sb"))
    j = pairs.join(sa, "doc_a").join(sb, "doc_b")
    lo = F.least("_sa", "_sb")
    hi = F.greatest("_sa", "_sb")
    return (
        j.select(
            lo.alias("split_lo"),
            hi.alias("split_hi"),
            (lo != hi).alias("crosses_split"),
        )
        .groupBy("split_lo", "split_hi", "crosses_split")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _jl_planes():
    """16×64 literal Gaussian JL projection matrix (hyperplanes
    machinery, its own seed so the matrix is not the LSH family's)."""
    return emb_dedup.hyperplanes(16, seed=97)


def _jl_sql() -> str:
    planes = _jl_planes()
    rows = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in r) + "]" for r in planes
    )
    diff = "(a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)"
    d2o = (
        f"list_sum(list_transform(generate_series(1, 64), "
        f"i -> {diff} * {diff}))"
    )
    d2p = (
        f"list_sum(list_transform(list_transform([{rows}], "
        f"r -> list_sum(list_transform(generate_series(1, 64), "
        f"i -> {diff} * r[i]))), x -> x * x))"
    )
    return f"""
SELECT id_a, id_b, d2_orig, d2_proj,
       CASE WHEN d2_orig > 0 THEN d2_proj / (16.0 * d2_orig) END AS distortion
FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {d2o} AS d2_orig,
         {d2p} AS d2_proj
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 20 AND b.vec_id < 20
    AND a.embedding IS NOT NULL AND b.embedding IS NOT NULL) t
"""


@register("jl_distance_preservation", _jl_sql())
def q_jl_distance_preservation(spark, sf_dir):
    """Johnson-Lindenstrauss random-projection dimensionality reduction
    (64 → 16) with a distance-preservation audit: for every pair in a
    bounded probe set, the original squared L2 distance, the projected
    squared distance, and the distortion d²_proj/(k·d²_orig) — the JL
    lemma says distortion concentrates near 1, which is what makes a
    16-dim sketch usable for coarse candidate generation at 1/4 the
    scan bytes (the index-build decision this audit feeds; mean
    distortion ≈ 1 pinned in pytest).

    Scale shape: the probe set is a LITERAL id bound (vec_id < 20 —
    constant rows at any SF; the 20×20 non-equi pair frame broadcasts
    one tiny side, reviewed in the plan allowlist). Projection at
    corpus scale is the map-only 16-fold expression — this query's
    audit form only pays it on probe pairs. The projected distance is
    computed as <a−b, R_j> per plane (diff-then-project ≡
    project-then-diff by linearity, halving the fold count); every
    fold is the sequential float64 fold both engines share, and the
    distortion is one multiply+divide on identical doubles — no
    rounding anywhere."""
    emb = _t(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") < 20) & F.col("embedding").isNotNull()
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    diff = F.zip_with(
        F.col("va"), F.col("vb"), lambda x, y: x.cast("double") - y.cast("double")
    )
    d2o = F.aggregate(
        F.transform(diff, lambda d: d * d), F.lit(0.0), lambda acc, v: acc + v
    )
    planes = _jl_planes()
    pd_terms = []
    for r in planes:
        lits = F.array(*[F.lit(float(x)) for x in r])
        pd_terms.append(
            F.aggregate(
                F.zip_with(diff, lits, lambda d, p: d * p),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    d2p = F.lit(0.0)
    for t in pd_terms:
        d2p = d2p + t * t
    out = pairs.select(
        "id_a",
        "id_b",
        d2o.alias("d2_orig"),
        d2p.alias("d2_proj"),
    )
    return out.select(
        "*",
        F.when(
            F.col("d2_orig") > 0, F.col("d2_proj") / (F.lit(16.0) * F.col("d2_orig"))
        ).alias("distortion"),
    )


@register("dup_clusters_star", _CLUSTER_SQL)
def q_dup_clusters_star(spark, sf_dir):
    """Transitive near-dup clusters by ALTERNATING star contraction
    (dedup.cluster.connected_components_star — Kiveris et al. SoCC'14)
    over the same Jaccard pair graph as dup_clusters, hash-checked
    against the same recursive-CTE oracle. Exists because min-label
    propagation needs DIAMETER rounds: a 100 TB near-dup graph with
    chained borderline pairs (crawl mirrors citing mirrors) can be
    hundreds of hops deep, while star contraction is O(log²) rounds on
    ANY shape (10 rounds on a 400-hop path, pinned in pytest, where
    min-label's 25-round budget aborts). Both implementations share
    the output contract; a pipeline picks min-label for clique soup
    (cheaper round) and star for unknown/adversarial graphs."""
    from chronobase_spark.dedup import cluster

    docs = _t(spark, sf_dir, "documents")
    pairs = (
        ngram.jaccard_pairs(docs, threshold=0.5)
        .select("doc_a", "doc_b")
        .persist()
    )
    return cluster.assign_clusters_star(docs, pairs)


_CDC_INCR_SQL = f"""
WITH {_CDC_CHUNKS_CTE}, old_store AS (
  SELECT DISTINCT ch FROM chunks WHERE doc_id % 2 = 0
), new_pc AS (
  SELECT source, ch, COUNT(*) AS cnt, MIN(clen) AS clen
  FROM chunks WHERE doc_id % 2 = 1 GROUP BY source, ch
), flagged AS (
  SELECT n.source, n.cnt, n.clen, (o.ch IS NOT NULL) AS known
  FROM new_pc n LEFT JOIN old_store o ON n.ch = o.ch
)
SELECT source,
       CAST(SUM(cnt * clen) AS BIGINT) AS chars_arriving,
       CAST(SUM(CASE WHEN known THEN 0 ELSE clen END) AS BIGINT) AS chars_stored,
       CAST(SUM(CASE WHEN known THEN clen ELSE 0 END) AS BIGINT) AS chars_hit,
       CAST(SUM(cnt * clen) - SUM(CASE WHEN known THEN 0 ELSE clen END) AS DOUBLE)
         / CAST(SUM(cnt * clen) AS DOUBLE) AS store_savings_ratio
FROM flagged GROUP BY source
"""


@register("cdc_incremental_ingest", _CDC_INCR_SQL)
def q_cdc_incremental_ingest(spark, sf_dir):
    """Incremental crawl-snapshot ingest cost against an existing CDC
    chunk store: even-id documents play the PREVIOUS snapshot (the
    store), odd-id documents the ARRIVING one. Per source: bytes
    arriving, bytes the store must actually write (distinct unseen
    chunks), bytes satisfied by cross-snapshot hits, and the storage
    savings ratio — the number that justifies CDC over whole-document
    dedup between crawls, where most documents change slightly and
    fixed chunking would re-store everything downstream of each edit.

    Scale shape: ONE chunker pass over the corpus (map-only) split by
    id parity; the store membership test is a chunk_md5-keyed LEFT
    join of two distinct-chunk tables with map-side partial aggs on
    both sides — shuffle bytes track distinct chunks, never corpus
    bytes. Per-source accounting deduplicates within (source, chunk)
    — a global store would dedup across sources too; the per-source
    split keeps the attribution a mixing pipeline needs. The savings
    ratio is one double division of exact integer sums. The oracle
    shares its chunker CTE text with cdc_chunk_dedup (single source of
    truth, r9 advisor drift rule)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ct = cdc.chunk_table(docs).persist()
    old_store = (
        ct.filter(F.col("doc_id") % 2 == 0).select("chunk_md5").distinct()
    )
    new_pc = (
        ct.filter(F.col("doc_id") % 2 == 1)
        .groupBy("source", "chunk_md5")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("chunk_len").alias("clen"))
    )
    flagged = new_pc.join(
        old_store.withColumn("known", F.lit(True)).hint("shuffle_hash"),
        "chunk_md5",
        "left",
    ).select(
        "source", "cnt", "clen", F.coalesce("known", F.lit(False)).alias("known")
    )
    arriving = F.sum(F.col("cnt") * F.col("clen"))
    stored = F.sum(F.when(F.col("known"), 0).otherwise(F.col("clen")))
    hit = F.sum(F.when(F.col("known"), F.col("clen")).otherwise(0))
    return flagged.groupBy("source").agg(
        arriving.alias("chars_arriving"),
        stored.alias("chars_stored"),
        hit.alias("chars_hit"),
        ((arriving - stored).cast("double") / arriving.cast("double")).alias(
            "store_savings_ratio"
        ),
    )


def _whiten_sql() -> str:
    zden = "sqrt(CAST(CAST(st.n * st.q - st.s * st.s AS VARCHAR) AS DOUBLE))"
    znum = "CAST(CAST(st.n * ex.x - st.s AS VARCHAR) AS DOUBLE)"
    wdot = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> {a}.zvec[i] * {b}.zvec[i]))"
    )
    wcos = (
        f"ROUND(({wdot.format(a='p', b='c')}) / "
        f"(sqrt({wdot.format(a='p', b='p')}) * sqrt({wdot.format(a='c', b='c')})), 6)"
    )
    raw_dot = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> {a}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE))"
    )
    raw_cos = (
        f"ROUND(({raw_dot.format(a='q', b='c')}) / "
        f"(sqrt({raw_dot.format(a='q', b='q')}) * sqrt({raw_dot.format(a='c', b='c')})), 6)"
    )
    return f"""
WITH ex AS (
  SELECT vec_id, i AS pos,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS x
  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
  WHERE embedding IS NOT NULL
), st AS (
  SELECT pos, SUM(CAST(x AS HUGEINT)) AS s,
         SUM(CAST(x AS HUGEINT) * x) AS q,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ex GROUP BY pos
), z AS (
  SELECT ex.vec_id, ex.pos, {znum} / {zden} AS zval
  FROM ex JOIN st ON ex.pos = st.pos
), zv AS (
  SELECT vec_id, list(zval ORDER BY pos) AS zvec FROM z GROUP BY vec_id
), wtop AS (
  SELECT q_id, n_id FROM (
    SELECT p.vec_id AS q_id, c.vec_id AS n_id,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {wcos} DESC, c.vec_id) AS rnk
    FROM zv c JOIN zv p ON c.vec_id <> p.vec_id
    WHERE p.vec_id IN (0, 1, 2)) t
  WHERE rnk <= 10
), rawtop AS (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {raw_cos} DESC, c.vec_id) AS rnk
    FROM embeddings c JOIN embeddings q
      ON c.vec_id <> q.vec_id
    WHERE q.vec_id IN (0, 1, 2)
      AND q.embedding IS NOT NULL AND c.embedding IS NOT NULL) t
  WHERE rnk <= 10
)
SELECT q_id, CAST(COUNT(*) AS BIGINT) AS overlap_at_10
FROM wtop JOIN rawtop USING (q_id, n_id)
GROUP BY q_id
"""


@register("whitened_topk_overlap", _whiten_sql())
def q_whitened_topk_overlap(spark, sf_dir):
    """Whitening ACTION for the embedding_dim_cov_topk diagnostic:
    z-score every dimension (diagonal whitening — mean-center, unit
    variance), redo exact top-10 cosine for the probe set, and report
    the per-probe overlap with the RAW top-10. Low overlap means
    high-variance dimensions were dominating the raw metric and a
    whitening step materially changes (usually improves) neighbor
    quality — the go/no-go number for inserting the transform before
    index build.

    Cross-engine exactness: per-dim stats are exact integer micro
    sums (HUGEINT / decimal(28,0)); z = (n·x − S)/√(n·Q − S²) is
    derived from those integers with ONE string-routed cast to double
    per operand (the dim-cov precedent — decimal→double direct can
    differ in the last ulp), so both engines build bit-identical
    z-vectors; both rankings round to 6dp before rank with id
    tie-break; the overlap count is a plain integer.

    Scale shape: one posexplode (64 rows/vector) into a 64-row stats
    aggregate that BROADCASTS back (constant), one |corpus| array
    rebuild keyed on vec_id, then the capped-probe broadcast scan of
    topk_cosine — no window over the corpus except per-probe ranking
    of (probe, id, sim) triples."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    dec = lambda c: c.cast("decimal(28,0)")  # noqa: E731
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        "pos",
        F.round(F.col("v").cast("double") * F.lit(1000000.0), 0)
        .cast("bigint")
        .alias("x"),
    )
    st = ex.groupBy("pos").agg(
        F.sum(dec(F.col("x"))).alias("s"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("q"),
        F.count(F.lit(1)).alias("n"),
    )
    znum = (dec(F.col("n")) * dec(F.col("x")) - F.col("s")).cast("string").cast(
        "double"
    )
    zden = F.sqrt(
        (dec(F.col("n")) * F.col("q") - F.col("s") * F.col("s"))
        .cast("string")
        .cast("double")
    )
    z = ex.join(F.broadcast(st), "pos").select(
        "vec_id", "pos", (znum / zden).alias("zval")
    )
    zv = z.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "zval"))),
            lambda s: s["zval"],
        ).alias("zvec")
    )
    wtop = similarity.topk_cosine(
        zv.filter(F.col("vec_id").isin([0, 1, 2])),
        zv,
        k=10,
        vec_col="zvec",
    ).select("q_id", "n_id")
    rawtop = similarity.topk_cosine(
        emb.filter(F.col("vec_id").isin([0, 1, 2])), emb, k=10
    ).select("q_id", "n_id")
    return (
        wtop.join(rawtop, ["q_id", "n_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("overlap_at_10"))
    )


_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM documents
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
),
clusters AS (
  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
),
sp AS (
  SELECT doc_id,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT c.doc_id,
       so.split AS split_orig,
       sc.split AS split_fixed,
       (so.split <> sc.split) AS reassigned
FROM clusters c
JOIN sp so ON c.doc_id = so.doc_id
JOIN sp sc ON c.cluster_id = sc.doc_id
"""


@register("leakage_safe_split", _SAFE_SPLIT_SQL)
def q_leakage_safe_split(spark, sf_dir):
    """Leakage-SAFE train/val/test assignment — the FIX for what
    split_leakage_report measures: every near-dup cluster moves
    wholesale to the split its canonical member (min doc id) hashes
    to, so no cluster can ever span train and eval. Emits the original
    and corrected assignment plus a reassigned flag per document; the
    corrected column is what the packing/mixing stages downstream
    should consume. Composes three pinned operators unchanged (Jaccard
    pairs → min-label CC → md5 split), so the whole artifact is
    hash-checked cross-engine, including the recursive-CTE oracle for
    the transitive closure.

    Scale shape: inherits dup_clusters' CC posture (edge list
    materialized once, per-round join + min-aggregate on checkpointed
    labels, scalar-only driver traffic); the split expressions are
    map-only md5 nibbles; the final form is two
    doc_id-keyed equi-joins (cluster table ⋈ split table twice — the
    second keyed on cluster_id, whose values ARE doc ids)."""
    from chronobase_spark.dedup import cluster

    docs = _t(spark, sf_dir, "documents")
    pairs = (
        ngram.jaccard_pairs(docs, threshold=0.5)
        .select("doc_a", "doc_b")
        .persist()
    )
    clusters = cluster.assign_clusters(docs, pairs)
    sp = docs.select(
        "doc_id", packing.md5_split(F.col("doc_id")).alias("split")
    )
    so = sp.select(
        F.col("doc_id"), F.col("split").alias("split_orig")
    )
    sc = sp.select(
        F.col("doc_id").alias("cluster_id"), F.col("split").alias("split_fixed")
    )
    return (
        clusters.join(so, "doc_id")
        .join(sc, "cluster_id")
        .select(
            "doc_id",
            "split_orig",
            "split_fixed",
            (F.col("split_orig") != F.col("split_fixed")).alias("reassigned"),
        )
    )


_WAV_ABS = "abs(ascii(text[i]) - 96) * 256"

_WAV_SQL = f"""
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
)
SELECT doc_id,
       'audio/wav' AS media_type,
       CAST(44 + 2 * n AS BIGINT) AS n_bytes,
       CASE WHEN text IS NULL THEN NULL ELSE CAST(8000 AS INT) END AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST((n * 1000) // 8000 AS BIGINT) AS duration_ms,
       CAST(CASE WHEN text IS NULL THEN NULL ELSE COALESCE(
         list_max(list_transform(generate_series(1, n), i -> {_WAV_ABS})), 0)
         END AS INT) AS peak_abs,
       CAST(CASE WHEN text IS NULL THEN NULL ELSE COALESCE(
         list_sum(list_transform(generate_series(1, n), i -> {_WAV_ABS})), 0)
         END AS BIGINT) AS sum_abs,
       CAST(CASE WHEN text IS NULL THEN NULL ELSE COALESCE(
         list_sum(list_transform(generate_series(2, n),
           i -> CASE WHEN (ascii(text[i-1]) - 96) * (ascii(text[i]) - 96) < 0
                THEN 1 ELSE 0 END)), 0) END AS BIGINT) AS zero_crossings
FROM d
"""


@register("multimodal_wav_features", _WAV_SQL)
def q_multimodal_wav_features(spark, sf_dir):
    """The multimodal AUDIO decode path END-TO-END with a REAL codec:
    each document becomes a spec-valid RIFF/WAVE file (PCM16 mono
    8 kHz, samples = (byte−96)·256, built JVM-side — stdlib ``wave``
    opens every payload, pinned in pytest), and the Arrow-batched
    mapInPandas decoder walks the RIFF chunks (fmt validation + data
    extraction) and computes numpy waveform statistics: duration,
    integer peak/abs-energy, and strict-sign zero crossings (which
    count word-boundary transitions under the 96-centering — a real
    audio-shaped signal, not a checksum). Completes the media triple
    next to the PPM image path and the frame-sampling video shape;
    the reference carries media as opaque Row.Data bytes (row.go:9).

    All features are integer-exact, so the oracle reproduces them
    from the source bytes (ASCII corpus ⇒ ascii(char) == byte). Scale
    shape: payload synthesis is map-only column algebra; the decoder
    is partition-preserving mapInPandas — waveform bytes never leave
    the executor, only fixed-width feature rows flow on. NULL text ⇒
    NULL features on both engines."""
    from chronobase_spark.functions import multimodal

    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_wav(multimodal.to_wav_payload(docs))


_WRS_K = 100

_WRS_SQL = f"""
WITH w AS (
  SELECT doc_id, source, greatest(n_chars, 1) AS wt,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#wrs'), 1, 8))::BIGINT
               AS DOUBLE) + 0.5) / 4294967296.0 AS u
  FROM documents
)
SELECT doc_id, source, CAST(wt AS BIGINT) AS wt,
       ROUND(ln(u) / wt, 6) AS wrs_key
FROM w
ORDER BY ROUND(ln(u) / wt, 6) DESC, doc_id
LIMIT {_WRS_K}
"""


@register("weighted_reservoir_sample", _WRS_SQL)
def q_weighted_reservoir_sample(spark, sf_dir):
    """Weighted sampling WITHOUT replacement at exact size k
    (Efraimidis-Spirakis A-ES): each document draws a deterministic
    md5 uniform u and ranks by ln(u)/w — the top k ARE a weighted
    sample without replacement, unlike the Bernoulli accept test of
    quality_weighted_sample whose output SIZE is itself random (the
    two primitives serve different pipeline stages: rate-controlled
    filtering vs fixed-budget selection). Weight = document length
    here; any positive score plugs in.

    Determinism/portability: u = (md5-uint32 + 0.5)/2^32 is identical
    integer arithmetic on both engines; ln(u)/w is the documented
    ulp-bounded transcendental class (part_feature_scalars precedent,
    hash-green since r4), and the RANK key is the 6dp-ROUNDED value
    with doc_id tie-break, so a last-ulp libm divergence cannot
    reorder the cut. Scale shape: one map-only pass (no shuffle to
    score) into a distributed TakeOrderedAndProject top-k — never a
    global sort, never a single-partition window; the classic
    one-pass distributed weighted sampler."""
    docs = _t(spark, sf_dir, "documents")
    wt, key = packing.aes_key(F.col("doc_id"), F.col("n_chars"))
    return (
        docs.select("doc_id", "source", wt.alias("wt"), key.alias("wrs_key"))
        .orderBy(F.col("wrs_key").desc(), "doc_id")
        .limit(_WRS_K)
    )


_STRATEGY_SQL = f"""
WITH {_CDC_CHUNKS_CTE}, cdc_old AS (
  SELECT DISTINCT ch FROM chunks WHERE doc_id % 2 = 0
), cdc_new AS (
  SELECT source, ch, MIN(clen) AS clen
  FROM chunks WHERE doc_id % 2 = 1 GROUP BY source, ch
), cdc_stored AS (
  SELECT n.source,
         SUM(CASE WHEN o.ch IS NULL THEN n.clen ELSE 0 END) AS cdc_chars
  FROM cdc_new n LEFT JOIN cdc_old o ON n.ch = o.ch GROUP BY n.source
), docs_old AS (
  SELECT DISTINCT md5(text) AS dh FROM documents
  WHERE text IS NOT NULL AND doc_id % 2 = 0
), docs_new AS (
  SELECT source, md5(text) AS dh, MIN(length(text)) AS dlen
  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1
  GROUP BY source, md5(text)
), doc_stored AS (
  SELECT n.source,
         SUM(CASE WHEN o.dh IS NULL THEN n.dlen ELSE 0 END) AS doc_chars
  FROM docs_new n LEFT JOIN docs_old o ON n.dh = o.dh GROUP BY n.source
)
SELECT source,
       CAST(doc_chars AS BIGINT) AS chars_stored_doc_dedup,
       CAST(cdc_chars AS BIGINT) AS chars_stored_cdc,
       CAST(doc_chars - cdc_chars AS BIGINT) AS cdc_advantage_chars
FROM doc_stored JOIN cdc_stored USING (source)
"""


@register("dedup_strategy_compare", _STRATEGY_SQL)
def q_dedup_strategy_compare(spark, sf_dir):
    """Head-to-head storage cost of the two incremental-ingest dedup
    strategies on the SAME snapshot split (even ids = store, odd =
    arriving): whole-document exact dedup (store distinct text md5s)
    vs content-defined chunking (store distinct chunk md5s). CDC can
    never store MORE (a fully-duplicate doc shares all its chunks)
    and wins exactly by the partially-overlapping mass — the quantity
    this report isolates per source (cdc_advantage_chars), turning
    cdc_incremental_ingest's ratio into an apples-to-apples decision
    number against the cheaper whole-doc strategy.

    Scale shape: the doc-level side is one map-only md5 + two
    partial-agged distinct-hash tables and a hash-keyed left join
    (identical shape to the CDC side, minus the chunker); integers
    end-to-end. The oracle reuses the shared CDC chunker CTE text
    (single source of truth)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ct = cdc.chunk_table(docs)
    cdc_old = ct.filter(F.col("doc_id") % 2 == 0).select("chunk_md5").distinct()
    cdc_new = (
        ct.filter(F.col("doc_id") % 2 == 1)
        .groupBy("source", "chunk_md5")
        .agg(F.min("chunk_len").alias("clen"))
    )
    cdc_stored = (
        cdc_new.join(
            cdc_old.withColumn("known", F.lit(True)).hint("shuffle_hash"),
            "chunk_md5",
            "left",
        )
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("known"), 0).otherwise(F.col("clen"))).alias(
                "cdc_chars"
            )
        )
    )
    # Generate barrier (plans/barrier.py convention, r18): the store
    # side's distinct dh feeds a join, and the inferred join-key
    # isnotnull used to inline md5(text) and re-hash every store doc in
    # the Filter; behind the barrier it reads the materialized column.
    dh = docs.select(
        "doc_id",
        "source",
        F.inline(
            F.array(
                F.struct(
                    F.md5("text").alias("dh"), F.length("text").alias("dlen")
                )
            )
        ),
    )
    docs_old = dh.filter(F.col("doc_id") % 2 == 0).select("dh").distinct()
    docs_new = (
        dh.filter(F.col("doc_id") % 2 == 1)
        .groupBy("source", "dh")
        .agg(F.min("dlen").alias("dlen"))
    )
    doc_stored = (
        docs_new.join(
            docs_old.withColumn("known", F.lit(True)).hint("shuffle_hash"),
            "dh",
            "left",
        )
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("known"), 0).otherwise(F.col("dlen"))).alias(
                "doc_chars"
            )
        )
    )
    return doc_stored.join(cdc_stored, "source").select(
        "source",
        F.col("doc_chars").cast("bigint").alias("chars_stored_doc_dedup"),
        F.col("cdc_chars").cast("bigint").alias("chars_stored_cdc"),
        (F.col("doc_chars") - F.col("cdc_chars"))
        .cast("bigint")
        .alias("cdc_advantage_chars"),
    )


_LPA_ROUNDS = 2


def _lpa_sql() -> str:
    ctes = []
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        ctes.append(
            f"""r{i}c AS (
  SELECT e.u AS nid, {prev}.lbl AS lbl, COUNT(*) AS c
  FROM e JOIN {prev} ON e.v = {prev}.id GROUP BY e.u, {prev}.lbl
), l{i} AS (
  SELECT nid AS id, lbl FROM (
    SELECT nid, lbl,
           ROW_NUMBER() OVER (PARTITION BY nid ORDER BY c DESC, lbl) AS rnk
    FROM r{i}c) t
  WHERE rnk = 1
)"""
        )
        prev = f"l{i}"
    joined = ",\n".join(ctes)
    return f"""
WITH pairs AS MATERIALIZED ({_minhash_md5_sql()}),
e AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM e),
{joined}
SELECT id, lbl AS community FROM l{_LPA_ROUNDS}
"""


@register("dup_graph_communities", _lpa_sql())
def q_dup_graph_communities(spark, sf_dir):
    """Deterministic label-propagation communities over the near-dup
    graph (dedup.cluster.label_propagation): nodes adopt their
    neighbors' most frequent label, ties to the smaller — converging
    toward DENSE groups, so template-spam cliques stay separate even
    when a borderline bridge pair would fuse them into one connected
    component. Completes the dup-graph analytics set (min-label CC,
    star CC, PageRank centrality, triangle density).

    The classic algorithm breaks ties randomly; pinning (count DESC,
    label ASC) makes the FIXED {_LPA_ROUNDS}-round unroll identical
    arithmetic in both engines, so the oracle is a chained-CTE mirror
    generated from the same round count (the dup_graph_pagerank
    pattern). Scale shape: per round one node-keyed shuffle_hash join
    + one partial-agged (node, label) count + min(struct) argmax —
    linear in |edges|, nothing driver-side."""
    from chronobase_spark.dedup import cluster

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash.minhash_md5_pairs(docs).select(
        "doc_a", "doc_b"
    )
    return cluster.label_propagation(pairs, rounds=_LPA_ROUNDS)


_PACK_EFF_SQL = f"""
WITH {_PACK_OFFS_CTE}
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST((MAX(start_off + n_tokens) + 2047) // 2048 AS BIGINT) AS n_packs,
       CAST(SUM(n_tokens) AS DOUBLE)
         / CAST(((MAX(start_off + n_tokens) + 2047) // 2048) * 2048 AS DOUBLE)
         AS fill_ratio,
       CAST(SUM(CASE WHEN (start_off + n_tokens - 1) // 2048
                       <> start_off // 2048 THEN 1 ELSE 0 END) AS BIGINT)
         AS boundary_crossing_docs
FROM offs GROUP BY shard
"""


@register("packing_efficiency", _PACK_EFF_SQL)
def q_packing_efficiency(spark, sf_dir):
    """Packing-efficiency report for the 2048-token sequence packer:
    per shard, how many context windows the stream fills, the fill
    ratio (all windows are full except each shard's tail — concat-
    and-chunk wastes only the final partial window, unlike
    document-per-window padding which wastes the complement of EVERY
    document), and how many documents straddle a window boundary (the
    count an attention-masking or doc-boundary-loss policy needs to
    budget for). The go/no-go numbers for the packing scheme.

    One groupBy over the SAME prefix-sum offsets doc_pack_chunks
    emits; the oracle reuses that query's CTE text verbatim (shared
    constant — single source of truth). Integer outputs plus one
    integer-ratio double division; the per-shard window stays
    partitioned by shard (never a global sort, the packing.py scale
    note)."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        text.token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    offs = packing.pack_offsets(base)
    end = F.col("start_off") + F.col("n_tokens")
    crosses = F.col("packs_spanned") > 1
    per = offs.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.floor((F.max(end) + 2047) / 2048).cast("bigint").alias("n_packs"),
        F.sum(F.when(crosses, 1).otherwise(0)).alias("boundary_crossing_docs"),
    )
    return per.select(
        "shard",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        "n_packs",
        (
            F.col("total_tokens").cast("double")
            / (F.col("n_packs") * 2048).cast("double")
        ).alias("fill_ratio"),
        F.col("boundary_crossing_docs").cast("bigint").alias(
            "boundary_crossing_docs"
        ),
    )


# derived from the ONE stopword list (functions/text.STOPWORDS) so the
# SQL oracle, the batch signal struct, and the streaming stage all count
# the same words
_DATACARD_STOPS = ",".join(f"'{s}'" for s in text.STOPWORDS)

_DATACARD_SQL = f"""
WITH tk AS (
  SELECT source, lang, md5(text) AS h, n_chars,
         list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
), sig AS (
  SELECT source, lang, h, n_chars,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         len(list_filter(toks, x -> x IN ({_DATACARD_STOPS}))) AS n_stop
  FROM tk
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dup_docs,
       CAST(SUM(n_distinct) AS BIGINT) AS distinct_token_sum,
       CAST(SUM(n_stop) AS DOUBLE)
         / CAST(greatest(SUM(n_tokens), 1) AS DOUBLE) AS stop_ratio
FROM sig GROUP BY source, lang
"""


@register("corpus_datacard", _DATACARD_SQL)
def q_corpus_datacard(spark, sf_dir):
    """The corpus datasheet ("datasheets for datasets" shape): one
    report per (source, language) cell with the numbers a training-mix
    decision reads first — volume (docs, tokens, chars), exact-dup
    mass (docs minus distinct content hashes), lexical-diversity mass,
    and the stopword share. Pipelines publish this next to the data;
    every column here is derived by the SAME expressions the dedicated
    audits use (doc_token_stats tokens, doc_quality stopword list,
    dedup_exact's content hash), so the card cannot disagree with
    them.

    Scale shape: one map-only signal pass over the scan, then ONE
    partial-agged groupBy to |sources|×|langs| cells; the dup count
    rides the same aggregate as COUNT(DISTINCT h) (Spark plans the
    distinct via a partial expand, never a second scan). Exact
    integers plus two integer-ratio double divisions."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # the per-doc signal struct is the SHARED definition the streaming
    # datacard_stage emits (functions/text.datacard_signals) — batch
    # card and in-stream signals can never drift
    sig = docs.select(
        "source",
        "lang",
        "n_chars",
        text.datacard_signals(F.col("text")).alias("_s"),
    ).select(
        "source",
        "lang",
        "n_chars",
        F.col("_s.h").alias("h"),
        F.col("_s.n_tokens").alias("n_tokens"),
        F.col("_s.n_distinct").alias("n_distinct"),
        F.col("_s.n_stop").alias("n_stop"),
    )
    return sig.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_tokens"
        ),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.count(F.lit(1)) - F.countDistinct("h")).cast("bigint").alias(
            "n_exact_dup_docs"
        ),
        F.sum("n_distinct").cast("bigint").alias("distinct_token_sum"),
        (
            F.sum("n_stop").cast("double")
            / F.greatest(F.sum("n_tokens"), F.lit(1)).cast("double")
        ).alias("stop_ratio"),
    )


_MAD_SQL = """
WITH v AS (
  SELECT event_type,
         CAST(ROUND(value * 1000000.0, 0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
), med AS (
  SELECT event_type, quantile_cont(x, 0.5) AS med_micro FROM v GROUP BY event_type
), dev AS (
  SELECT v.event_type, v.x, m.med_micro, abs(v.x - m.med_micro) AS adev
  FROM v JOIN med m ON v.event_type = m.event_type
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad_micro FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(d.med_micro) AS med_micro,
       MIN(m.mad_micro) AS mad_micro,
       CAST(SUM(CASE WHEN d.adev > 3.0 * m.mad_micro THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


@register("mad_outliers_by_type", _MAD_SQL)
def q_mad_outliers_by_type(spark, sf_dir):
    """Robust outlier detection via median absolute deviation — the
    estimator that survives what the suite's quantile-fence and
    z-score detectors cannot: up to 50% contamination (a z-score's
    own mean/σ are dragged by the outliers being hunted; MAD's
    breakdown point is 0.5). Flags |x − med| > 3·MAD per event type.

    Cross-engine exactness: values micro-quantize to BIGINT
    (multiply-then-round), and BOTH medians sit at p=0.5 where linear
    interpolation is exactly (a+b)/2 — halving and summing integers
    (then half-integers) is exact in float64, so Spark's percentile
    and DuckDB's quantile_cont agree bit-for-bit regardless of their
    interpolation formula's operation order (NOT true at other p —
    keep robust quantiles at 0.5). Scale shape: two partial-agged
    per-type aggregates and one type-keyed join back — medians are
    sort-based within type partitions; at 100 TB swap in
    approx_percentile like the approx_value_percentiles path."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        F.round(F.col("value") * F.lit(1000000.0), 0).cast("bigint").alias("x"),
    )
    med = v.groupBy("event_type").agg(
        F.percentile(F.col("x"), F.lit(0.5)).alias("med_micro")
    )
    dev = v.join(med, "event_type").select(
        "event_type",
        "med_micro",
        F.abs(F.col("x") - F.col("med_micro")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad_micro")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("med_micro").alias("med_micro"),
            F.min("mad_micro").alias("mad_micro"),
            F.sum(
                F.when(F.col("adev") > F.lit(3.0) * F.col("mad_micro"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


_BURST_SQL = """
WITH gaps AS (
  SELECT event_type,
         CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (
              PARTITION BY event_type, user_id ORDER BY ts, event_id)) AS BIGINT)
           AS gap_us
  FROM events
), g AS (
  SELECT event_type, gap_us FROM gaps WHERE gap_us IS NOT NULL
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(gap_us AS HUGEINT)) AS s,
         SUM(CAST(gap_us AS HUGEINT) * gap_us) AS q
  FROM g GROUP BY event_type
)
SELECT event_type, n,
       CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mean_gap_us,
       (sqrt(CAST(CAST(n * q - s * s AS VARCHAR) AS DOUBLE))
          - CAST(CAST(s AS VARCHAR) AS DOUBLE))
       / (sqrt(CAST(CAST(n * q - s * s AS VARCHAR) AS DOUBLE))
          + CAST(CAST(s AS VARCHAR) AS DOUBLE)) AS burstiness
FROM m
"""


@register("event_burstiness", _BURST_SQL)
def q_event_burstiness(spark, sf_dir):
    """Goh-Barabási burstiness of inter-event times per event type:
    B = (σ−μ)/(σ+μ) over per-user gap sequences — B≈0 is a Poisson
    arrival process, B→1 is bursty (heavy-tailed gaps), B<0 is
    pacemaker-regular. The single number that tells whether an event
    stream's load can be capacity-planned on averages or needs burst
    headroom.

    Exactness: gaps are exact integer microseconds from the ordered
    per-(type, user) lag; σ and μ both scale by 1/n, so B reduces to
    (√(n·Q − S²) − S)/(√(n·Q − S²) + S) on exact HUGEINT/decimal
    moments with ONE string-routed double cast per operand — identical
    arithmetic on both engines, no variance-formula order ambiguity.
    Scale shape: the lag window partitions by (type, user) — bounded
    partitions, no global sort — and the moments partial-aggregate to
    |types| rows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        "event_type",
        (us - F.lag(us).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec(F.col("gap_us"))).alias("s"),
        F.sum(dec(F.col("gap_us")) * F.col("gap_us")).alias("q"),
    )
    s_d = F.col("s").cast("string").cast("double")
    root = F.sqrt(
        (dec(F.col("n")) * F.col("q") - F.col("s") * F.col("s"))
        .cast("string")
        .cast("double")
    )
    return m.select(
        "event_type",
        "n",
        (s_d / F.col("n").cast("double")).alias("mean_gap_us"),
        ((root - s_d) / (root + s_d)).alias("burstiness"),
    )


_TPL_W = text.TEMPLATE_WIDTH
_TPL_MIN = 3

_TPL_SQL = f"""
WITH tk AS (
  SELECT doc_id, source,
         list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
), ends AS (
  SELECT doc_id, source, 'prefix' AS kind,
         md5(array_to_string(toks[1:{_TPL_W}], ' ')) AS h
  FROM tk WHERE len(toks) >= {_TPL_W}
  UNION ALL
  SELECT doc_id, source, 'suffix' AS kind,
         md5(array_to_string(toks[len(toks) - {_TPL_W - 1}:len(toks)], ' ')) AS h
  FROM tk WHERE len(toks) >= {_TPL_W}
)
SELECT kind, h,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc
FROM ends GROUP BY kind, h
HAVING COUNT(*) >= {_TPL_MIN}
"""


@register("boilerplate_templates", _TPL_SQL)
def q_boilerplate_templates(spark, sf_dir):
    """Boilerplate/template detection: groups of documents sharing an
    identical {_TPL_W}-token prefix or suffix (headers, footers,
    licence blocks, scraper chrome) — the C4-style cleanup target that
    near-dup pipelines MISS because the shared span is a small
    fraction of each document (jaccard below any sane threshold).
    Groups of ≥{_TPL_MIN} docs are emitted with their source spread
    (n_sources > 1 ⇒ scraper chrome rather than a single site's
    house style — different removal policy).

    Scale shape: one map-only tokenize + two md5s per doc, one
    partial-agged (kind, h) groupBy; shuffle rows = 2·docs of fixed
    width, output only the template groups. Fully hash-checked (md5
    over the joined token span, identical on both engines)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # the end-hash struct is the SHARED definition the streaming
    # template_stage emits (functions/text.template_end_hashes) — NULL
    # fields for short docs, which the filters below drop exactly like
    # the former explicit size gate. inline(array(struct)) = the
    # Generate barrier (plans/barrier.py convention, r18): a plain
    # `_e` alias let CollapseProject inline the tokenize+2×md5 struct
    # into BOTH branch filters and BOTH field extractions — up to four
    # evaluations per row (the 500+-char Filter conditions in the r17
    # plans); behind the Generate each branch filters/reads the
    # materialized fields. The struct itself is never NULL (only its
    # fields are), so inline emits exactly one row per doc.
    ends = docs.select(
        "doc_id",
        "source",
        F.inline(F.array(text.template_end_hashes(F.col("text")))),
    )
    pre = ends.filter(F.col("prefix_h").isNotNull()).select(
        "doc_id",
        "source",
        F.lit("prefix").alias("kind"),
        F.col("prefix_h").alias("h"),
    )
    suf = ends.filter(F.col("suffix_h").isNotNull()).select(
        "doc_id",
        "source",
        F.lit("suffix").alias("kind"),
        F.col("suffix_h").alias("h"),
    )
    return (
        pre.unionAll(suf)
        .groupBy("kind", "h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .filter(F.col("n_docs") >= _TPL_MIN)
    )


@register("mad_outliers_approx", None)  # sketch medians are engine-specific
def q_mad_outliers_approx(spark, sf_dir):
    """The 100 TB path of ``mad_outliers_by_type``: both medians via
    ``approx_percentile`` (KLL-style mergeable sketch — per-partition
    partial sketches merge map-side, no per-group sort), exactly the
    swap the exact query's docstring prescribes. Same micro-quantized
    integers and the same |x − med| > 3·MAD fence, so the two queries
    differ only in the quantile engine; pytest pins them against each
    other at sf0.001 (approx medians land within one inter-element gap
    of the interpolated exact median, so fence counts track closely).

    Sketch outputs are engine-specific (no DuckDB oracle) — the driver
    records a rows-only check, the exact twin carries the full
    cross-engine hash, mirroring the value_percentiles /
    approx_value_percentiles pairing.

    The quantized projection persists: `v` feeds the med sketch, the
    dev projection, and (via dev) the mad sketch + fence count — the
    r11 plan dump showed 3 FileScans of events and the med_micro
    sketch computed twice with no ReuseExchange across the legs.
    A/B at sf0.1 (min-of-3 collect path, r12):
    no persist 0.97 s / persist v 0.73 s / persist dev 0.91 s — the
    2-column quantized cache wins and is the lightest footprint at
    100 TB (bigint+string vs dev's extra med/adev columns). Honest
    counter-reading: the noop-sink bench harness moved 0.52 → 0.76 s
    on the same change (cache materialization serializes what the
    uncached plan overlapped, and at sf0.1 the saved scans are
    trivial). Kept anyway: the decision variable at real scale is
    corpus reads (3 → 1), which no toy fixture can price — the
    inverse of the minhash_lsh_recall call, where the reused
    exchanges already deduplicated the heavy stage and a cache bought
    nothing."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        F.round(F.col("value") * F.lit(1000000.0), 0).cast("bigint").alias("x"),
    ).persist()
    med = v.groupBy("event_type").agg(
        F.percentile_approx(F.col("x"), F.lit(0.5), F.lit(10000)).alias(
            "med_micro"
        )
    )
    dev = v.join(med, "event_type").select(
        "event_type",
        "med_micro",
        F.abs(F.col("x") - F.col("med_micro")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile_approx(F.col("adev"), F.lit(0.5), F.lit(10000)).alias(
            "mad_micro"
        )
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("med_micro").cast("bigint").alias("med_micro"),
            F.min("mad_micro").cast("bigint").alias("mad_micro"),
            F.sum(
                F.when(F.col("adev") > F.lit(3) * F.col("mad_micro"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


_KL_SQL = """
WITH tk AS (
  SELECT source,
         unnest(list_filter(string_split(trim(lower(text)), ' '),
                            x -> x <> '')) AS tok
  FROM documents WHERE text IS NOT NULL
), st AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
  FROM tk GROUP BY source, tok
), s AS (
  SELECT source, CAST(SUM(c_st) AS BIGINT) AS c_s FROM st GROUP BY source
), t AS (
  SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY tok
), tot AS (
  SELECT CAST(SUM(c_t) AS BIGINT) AS c FROM t
)
SELECT st.source,
       MIN(s.c_s) AS n_tokens,
       CAST(SUM(st.c_st * CAST(ROUND(LN(
              (CAST(st.c_st AS DOUBLE) * CAST(tot.c AS DOUBLE))
              / (CAST(s.c_s AS DOUBLE) * CAST(t.c_t AS DOUBLE))
            ) * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS kl_micro_sum,
       CAST(SUM(st.c_st * CAST(ROUND(LN(
              (CAST(st.c_st AS DOUBLE) * CAST(tot.c AS DOUBLE))
              / (CAST(s.c_s AS DOUBLE) * CAST(t.c_t AS DOUBLE))
            ) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
         / (CAST(MIN(s.c_s) AS DOUBLE) * 1000000.0) AS kl_nats
FROM st
JOIN s ON st.source = s.source
JOIN t ON st.tok = t.tok
CROSS JOIN tot
GROUP BY st.source
"""


@register("source_unigram_kl", _KL_SQL)
def q_source_unigram_kl(spark, sf_dir):
    """Training-mix drift per source: KL divergence D(P_source ‖
    P_corpus) of unigram token distributions — the single number that
    says how far each source's vocabulary usage sits from the corpus
    it is being mixed into (the CCNet/DoReMi-style domain-weighting
    signal; a source with high KL dominates or starves rare tokens
    under naive proportional mixing). Completes the corpus-statistics
    family next to the PMI/MI association audits (`lang_source_pmi`),
    which measure CELL association, not distribution distance.

    Exactness: every probability is a ratio of exact BIGINT counts;
    each log-ratio term is quantized to integer micro-nats with the
    SAME explicit cast/op order on both engines (the bigram-LM
    pattern), summed exactly as c_st-weighted BIGINTs, and divided
    once by the exact token total — one double division per output
    row. KL ≥ 0 up to quantization, pinned in pytest. Scale shape:
    explode + two vocab-bounded partial-agged groupBys, a tok-keyed
    join of vocab-sized tables, a |sources|-row reduce — the tfidf
    family's cost, linear in corpus tokens."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tk = docs.select(
        "source", F.explode(text.tokens(F.col("text"))).alias("tok")
    )
    st = tk.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_st")
    )
    s = st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("c_s"))
    t = st.groupBy("tok").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    tot = t.agg(F.sum("c_t").cast("bigint").alias("c"))
    term = (
        F.round(
            F.log(
                (F.col("c_st").cast("double") * F.col("c").cast("double"))
                / (F.col("c_s").cast("double") * F.col("c_t").cast("double"))
            )
            * F.lit(1000000.0),
            0,
        ).cast("bigint")
    )
    j = (
        st.join(s.hint("shuffle_hash"), "source")
        .join(t.hint("shuffle_hash"), "tok")
        .crossJoin(F.broadcast(tot))
    )
    return (
        j.select("source", "c_s", (F.col("c_st") * term).alias("w"))
        .groupBy("source")
        .agg(
            F.min("c_s").alias("n_tokens"),
            F.sum("w").cast("bigint").alias("kl_micro_sum"),
            (
                F.sum("w").cast("bigint").cast("double")
                / (F.min("c_s").cast("double") * F.lit(1000000.0))
            ).alias("kl_nats"),
        )
    )


# Benford first-digit probabilities log10(1 + 1/d), computed ONCE in
# Python and injected as identical literals into BOTH engines — never
# let two libm log10's disagree by an ulp.
_BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}

_BENFORD_SQL = f"""
WITH v AS (
  SELECT event_type, CAST(ROUND(value * 1000000.0, 0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND value > 0
), d AS (
  SELECT event_type,
         CAST(substr(CAST(x AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM v WHERE x > 0
), n AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_total
  FROM d GROUP BY event_type
)
SELECT d.event_type, d.digit,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS DOUBLE) / CAST(MIN(n.n_total) AS DOUBLE) AS share,
       CASE d.digit {' '.join(f'WHEN {k} THEN {v!r}' for k, v in _BENFORD_P.items())}
       END AS benford_p,
       CAST(COUNT(*) AS DOUBLE) / CAST(MIN(n.n_total) AS DOUBLE)
         - CASE d.digit {' '.join(f'WHEN {k} THEN {v!r}' for k, v in _BENFORD_P.items())}
           END AS excess
FROM d JOIN n ON d.event_type = n.event_type
GROUP BY d.event_type, d.digit
"""


@register("benford_first_digit", _BENFORD_SQL)
def q_benford_first_digit(spark, sf_dir):
    """Benford's-law audit of event values per type: the first
    significant digit of naturally occurring multi-scale quantities
    follows log10(1+1/d); synthetic, capped, or fabricated value
    streams don't — the classic forensic screen for instrumented
    metrics (fraud analytics' digit test, applied to telemetry).
    Emits per (type, digit) the observed share against the Benford
    probability and the excess.

    Exactness: the first digit comes from the STRING of the
    micro-quantized BIGINT (never a libm log10 of the value — a power
    of 10 boundary would flip digits between engines), and the nine
    Benford constants are Python-computed literals injected into both
    engines, so the only floating arithmetic is one division and one
    subtraction of identical operands. Scale shape: map-only digit
    extraction + one partial-agged groupBy to ≤ 9·|types| rows, plus
    a type-keyed count join — nothing corpus-sized shuffles twice."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    v = ev.select(
        "event_type",
        F.round(F.col("value") * F.lit(1000000.0), 0).cast("bigint").alias("x"),
    ).filter(F.col("x") > 0)
    d = v.select(
        "event_type",
        F.substring(F.col("x").cast("string"), 1, 1).cast("bigint").alias("digit"),
    )
    n = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    benford = F.create_map(
        *[F.lit(x) for kv in _BENFORD_P.items() for x in kv]
    )[F.col("digit")]
    return (
        d.join(n.hint("shuffle_hash"), "event_type")
        .groupBy("event_type", "digit")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (
                F.count(F.lit(1)).cast("double")
                / F.min("n_total").cast("double")
            ).alias("share"),
            F.min(benford).alias("benford_p"),
            (
                F.count(F.lit(1)).cast("double")
                / F.min("n_total").cast("double")
                - F.min(benford)
            ).alias("excess"),
        )
    )


_SESSW_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
       CAST(epoch_us(MAX(ts)) + 1800000000 AS BIGINT) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""


@register("user_sessions_native", _SESSW_SQL)
def q_user_sessions_native(spark, sf_dir):
    """Sessionization via Spark's NATIVE ``session_window`` in batch
    mode — the third leg pinning the suite's three session shapes to
    one semantics: the gaps-and-islands batch twin (``user_sessions``),
    the streaming session aggregation (streaming/ingest.py), and this
    native-operator form all implement "gap > 30 min ⇒ new session"
    (probed this round: session_window MERGES a gap of exactly 1800 s,
    matching the islands rule's strict >). Emits one row per session
    with its true extent — start = first event, end = last event +
    gap (the session_window contract) — in exact epoch-microseconds.

    The oracle rebuilds the same sessions by cumulative new-session
    flags; ties inside a session don't disturb membership (gap 0
    always merges), so LAG's event_id tie-break only stabilizes the
    flag positions, not the grouping. Scale shape: session_window is
    a single (user_id)-keyed shuffle + in-partition merge sort — the
    same cost as one window function, no iterative merging."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            # NTZ→LTZ cast is exact under the catalog's pinned UTC zone
            # (events.ts may arrive TIMESTAMP_NTZ; unix_micros needs LTZ)
            F.unix_micros(
                F.col("session_window.start").cast("timestamp")
            ).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end").cast("timestamp")).alias(
                "session_end_us"
            ),
            "n_events",
        )
    )


def _raster_constants() -> tuple[int, int, int]:
    """(w, g, min_bytes) for the PPM-raster oracles, DERIVED from the
    engine's canonical definitions (r12 advice: inline literal copies
    in _RASTER_TOPK_SQL could silently diverge from the Spark side if
    PPM_WIDTH / PHASH_GRID / MIN_PAYLOAD_BYTES ever changed)."""
    from chronobase_spark.dedup import phash as _ph
    from chronobase_spark.functions import multimodal as _mm

    return _mm.PPM_WIDTH, _mm.PHASH_GRID, _ph.MIN_PAYLOAD_BYTES


def _raster_grid_cte() -> str:
    """Shared DuckDB CTE prefix (d → by → cells → grid) decoding each
    gated document's PPM raster into the g×g pooling grid — ONE
    builder for both raster oracles (_phash_sql, _raster_topk_sql) so
    their decode semantics can never drift apart."""
    w, g, min_bytes = _raster_constants()
    return f"""WITH d AS MATERIALIZED (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         GREATEST(CAST(CEIL(octet_length(encode(text)) / {w * 3}.0) AS INT), 1) AS h
  FROM documents
  WHERE text IS NOT NULL AND octet_length(encode(text)) >= {min_bytes}
), by AS MATERIALIZED (
  SELECT doc_id,
         ((((i - 1) // 3) // {w}) * {g}) // h AS gr,
         ((((i - 1) // 3) % {w}) * {g}) // {w} AS gc,
         ascii(text[i]) AS v
  FROM d, LATERAL unnest(generate_series(1, n)) AS t(i)
), cells AS MATERIALIZED (
  SELECT doc_id, gr, gc, SUM(v) AS s FROM by GROUP BY doc_id, gr, gc
), grid AS MATERIALIZED (
  SELECT d.doc_id, gg.gr, gg.gc, COALESCE(c.s, 0) AS s
  FROM d
  CROSS JOIN (SELECT a.gr, b.gc
              FROM (SELECT unnest(generate_series(0, {g - 1})) AS gr) a,
                   (SELECT unnest(generate_series(0, {g - 1})) AS gc) b) gg
  LEFT JOIN cells c ON c.doc_id = d.doc_id AND c.gr = gg.gr AND c.gc = gg.gc
)"""


def _phash_sql() -> str:
    _w, g, _min_bytes = _raster_constants()
    chunk_exprs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN gr // 2 = {j} THEN bit * (1 << ((gr % 2) * {g} + gc))"
        f" ELSE 0 END) AS BIGINT) AS c{j}"
        for j in range(4)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, c0, c1, c2, c3, {j} AS chunk_id, c{j} AS chunk_val"
        " FROM sig"
        for j in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.c{j}, b.c{j}))" for j in range(4))
    return f"""
{_raster_grid_cte()}, bits AS MATERIALIZED (
  SELECT l.doc_id, l.gr, l.gc,
         CASE WHEN l.s > r.s THEN 1 ELSE 0 END AS bit
  FROM grid l JOIN grid r
    ON r.doc_id = l.doc_id AND r.gr = l.gr AND r.gc = (l.gc + 1) % {g}
), sig AS MATERIALIZED (
  SELECT doc_id,
         {chunk_exprs}
  FROM bits GROUP BY doc_id
), chunks AS (
{band_rows}
)
SELECT DISTINCT doc_a, doc_b, hamming FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST({ham} AS BIGINT) AS hamming
  FROM chunks a JOIN chunks b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
)
WHERE hamming <= 3
"""


@register("phash_near_pairs", _phash_sql())
def q_phash_near_pairs(spark, sf_dir):
    """Multimodal near-duplicate detection: 64-bit dHash over the REAL
    decoded PPM rasters (full netpbm header parse + integer numpy
    pooling — functions.multimodal.dhash_chunks), then the simhash
    family's chunk-LSH pigeonhole (4 x 16-bit bands, exact Hamming ≤ 3
    verify) — the perceptual-hash image dedup a pretraining media
    pipeline runs, completing the near-dup families (token MinHash /
    SimHash / winnowing / CDC / embedding SemDeDup) with their image
    member. Every step is deterministic integer math, so the oracle
    reproduces the hash from the document bytes (byte i of the raster
    is byte i of the ASCII text, padding contributes zero — the
    multimodal_decode_features contract) and the FULL pipeline
    hash-verifies cross-engine; a pytest pin additionally proves the
    banded result equals brute-force all-pairs Hamming ≤ 3
    (pigeonhole completeness). Images under 8 raster rows are gated
    out (dedup.phash.MIN_PAYLOAD_BYTES): their empty pooling rows
    collapse into one degenerate LSH bucket — the thumbnail skip every
    production image-dedup applies. Scale: map-only decode (payload
    bytes never shuffle; 4 ints per image do), banded self-join, no
    all-pairs path."""
    from chronobase_spark.dedup import phash

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.length(F.encode("text", "UTF-8")) >= phash.MIN_PAYLOAD_BYTES)
    )
    return phash.phash_near_pairs(docs)


def _phash_admission_sql() -> str:
    """Oracle for phash_admission_report: the _phash_sql raster/dHash
    CTEs (shared _raster_grid_cte — one decode definition) with the
    content-free md5 arriving/stored split applied at the chunk join
    and a per-ARRIVAL left-joined verdict over ALL arriving documents
    including sub-gate ones — the _admission_sql convention
    transplanted to the image member."""
    _w, g, _min_bytes = _raster_constants()
    chunk_exprs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN gr // 2 = {j} THEN bit * (1 << ((gr % 2) * {g} + gc))"
        f" ELSE 0 END) AS BIGINT) AS c{j}"
        for j in range(4)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, c0, c1, c2, c3, {j} AS chunk_id, c{j} AS chunk_val"
        " FROM sig"
        for j in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.c{j}, b.c{j}))" for j in range(4))
    arr = "(('0x' || substr(md5(CAST({d} AS VARCHAR)), 1, 4))::BIGINT % 5 = 0)"
    return f"""
{_raster_grid_cte()}, bits AS MATERIALIZED (
  SELECT l.doc_id, l.gr, l.gc,
         CASE WHEN l.s > r.s THEN 1 ELSE 0 END AS bit
  FROM grid l JOIN grid r
    ON r.doc_id = l.doc_id AND r.gr = l.gr AND r.gc = (l.gc + 1) % {g}
), sig AS MATERIALIZED (
  SELECT doc_id,
         {chunk_exprs}
  FROM bits GROUP BY doc_id
), chunks AS (
{band_rows}
), ver AS (
  SELECT a.doc_id AS doc, MIN(b.doc_id) AS canonical_id
  FROM chunks a JOIN chunks b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
  WHERE {arr.format(d="a.doc_id")} AND NOT {arr.format(d="b.doc_id")}
    AND {ham} <= 3
  GROUP BY a.doc_id
)
SELECT d.doc_id,
       v.canonical_id IS NOT NULL AS dup_of_corpus,
       v.canonical_id
FROM documents d LEFT JOIN ver v ON v.doc = d.doc_id
WHERE {arr.format(d="d.doc_id")}
"""


@register("phash_admission_report", _phash_admission_sql())
def q_phash_admission_report(spark, sf_dir):
    """Batch image ADMISSION report — the driver-hash-checked twin of
    the image admission stage (streaming/docs.phash_admit_stage),
    completing cross-engine evidence for all three admission members
    (text: near_dup_admission_report; embedding:
    semantic_admission_report; image: here): split the corpus by the
    content-free md5 doc_id bucket (20% "arriving", 80% "stored"),
    build the chunk table ONCE with the LITERAL streaming model
    builder's table (dedup.phash.dhash_chunk_table — one decode +
    banding definition), split it by the map-side arriving flag, band
    arriving × stored on any shared 16-bit chunk, verify exact
    popcount Hamming ≤ 3 over the full 64-bit dHash (the pigeonhole
    guarantee makes the banded verdict EQUAL brute force), and emit
    for EVERY arriving document — including sub-gate thumbnails and
    NULL payloads, which carry no chunks and report (false, NULL) —
    the (doc_id, dup_of_corpus, canonical_id) verdict. The verdict
    math is the streaming stage's (dup iff ANY verified candidate,
    canonical = min matched corpus id); its drained-equal pytest pin
    covers stream/batch equality, this covers the math against an
    independent engine.

    Scale: ONE map-only decode pass persisted and split by flag
    (payload bytes never shuffle — doc_id + 4 ints do), the chunk join
    touches only chunk-equal (arriving, stored) rows, and the verdict
    is one doc-keyed left join — phash_near_pairs' measured posture
    plus two linear joins."""
    from chronobase_spark.dedup import phash

    docs = _t(spark, sf_dir, "documents")
    gated = docs.filter(
        F.col("text").isNotNull()
        & (F.length(F.encode("text", "UTF-8")) >= phash.MIN_PAYLOAD_BYTES)
    )
    # persist: the decode feeds both sides of the arriving/stored
    # split — one raster pass (the md5_band_table convention)
    chunked = phash.dhash_chunk_table(gated).persist()
    ver = (
        _bands.band_join(
            chunked.filter(_arriving(F.col("doc"))),
            chunked.filter(~_arriving(F.col("doc"))),
            keys=_bands.CHUNK_KEYS,
        )
        .filter(_bands.chunk_hamming("a.c", "b.c", phash.CHUNKS) <= 3)
        .groupBy(F.col("a.doc").alias("doc_id"))
        .agg(F.min(F.col("b.doc")).alias("canonical_id"))
    )
    return _admission_report(docs, "doc_id", ver)


_JM_LM_SQL = """
WITH tk AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split(trim(lower(coalesce(text, ''))), ' '),
                     x -> x <> '') AS tk
  FROM documents
), tr AS MATERIALIZED (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
         tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS gram
  FROM tk, LATERAL unnest(range(1, greatest(len(tk) - 1, 1))) AS t(i)
), dg AS MATERIALIZED (
  SELECT doc_id, gram, COUNT(*) AS tf FROM tr GROUP BY doc_id, gram
), tc AS MATERIALIZED (
  SELECT w1, w2, w3, gram, CAST(COUNT(*) AS BIGINT) AS c123
  FROM tr GROUP BY w1, w2, w3, gram
), pc AS (
  SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12p FROM tc GROUP BY w1, w2
), bg AS MATERIALIZED (
  SELECT tk[i] AS b1, tk[i + 1] AS b2
  FROM tk, LATERAL unnest(range(1, greatest(len(tk), 1))) AS t(i)
), bc AS MATERIALIZED (
  SELECT b1, b2, CAST(COUNT(*) AS BIGINT) AS c23 FROM bg GROUP BY b1, b2
), b1c AS (
  SELECT b1, CAST(SUM(c23) AS BIGINT) AS c2p FROM bc GROUP BY b1
), un AS MATERIALIZED (
  SELECT unnest(tk) AS w FROM tk
), uc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c3 FROM un GROUP BY w
), nt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM un
), lm AS (
  SELECT tc.gram,
         CAST(ROUND(LN(
             (0.5 * CAST(tc.c123 AS DOUBLE)) / CAST(pc.c12p AS DOUBLE)
           + (0.375 * CAST(bc.c23 AS DOUBLE)) / CAST(b1c.c2p AS DOUBLE)
           + (0.125 * CAST(uc.c3 AS DOUBLE)) / CAST(nt.n AS DOUBLE)
         ) * 1000000.0, 0) AS BIGINT) AS term_micro
  FROM tc
  JOIN pc ON pc.w1 = tc.w1 AND pc.w2 = tc.w2
  JOIN bc ON bc.b1 = tc.w2 AND bc.b2 = tc.w3
  JOIN b1c ON b1c.b1 = tc.w2
  JOIN uc ON uc.w = tc.w3
  CROSS JOIN nt
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_grams,
       CAST(SUM(tf * term_micro) AS BIGINT) AS jm_logprob_micro
FROM dg JOIN lm USING (gram)
GROUP BY doc_id
"""


@register("jm_trigram_logprob", _JM_LM_SQL)
def q_jm_trigram_logprob(spark, sf_dir):
    """Jelinek-Mercer interpolated TRIGRAM log-probability per document
    (text.jm_trigram_scores) — the third smoother in the LM-quality
    family (add-one bigram, Kneser-Ney bigram, JM trigram), extending
    the perplexity-style ranking signal to second-order context with
    exact binary-fraction mixture weights (1/2, 3/8, 1/8):

        P(w3|w1 w2) = λ3·c123/c12p + λ2·c23/c2p + λ1·c3/N

    Integer micro-nat terms on an explicitly parenthesized identical
    op tree make the per-doc totals exact cross-engine integers (the
    bigram-LM discipline). Plan shape: the per-doc trigram TF table
    persists (feeds corpus counts AND the score join); the bigram and
    unigram marginals derive from the trigram-TYPE table plus map-only
    edge corrections (text._jm_marginals — the _lm_vocab identity one
    order up, so the corpus is exploded ONCE; the oracle unnests each
    order directly, same counts); LM assembly is three vocab-bounded
    shuffle_hash joins + a 1-row broadcast; one gram-keyed
    shuffle_hash score join. The oracle reproduces the mixture from
    direct per-order unnests — identical counts, identical doubles."""
    return text.jm_trigram_scores(_t(spark, sf_dir, "documents"))


def _raster_topk_sql() -> str:
    _w, g, _min_bytes = _raster_constants()
    return f"""
{_raster_grid_cte()}, g AS MATERIALIZED (
  SELECT doc_id, list(s ORDER BY gr * {g} + gc) AS g FROM grid GROUP BY doc_id
), probes AS (
  SELECT doc_id AS probe_id, g AS pg FROM g WHERE doc_id % 101 = 0
  ORDER BY probe_id LIMIT 8
), scored AS (
  SELECT p.probe_id, c.doc_id,
         CAST(list_sum(list_transform(range(1, {g * g + 1}),
              i -> abs(p.pg[i] - c.g[i]))) AS BIGINT) AS l1_dist
  FROM probes p, g c WHERE c.doc_id <> p.probe_id
)
SELECT probe_id, doc_id, l1_dist, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT probe_id, doc_id, l1_dist,
         ROW_NUMBER() OVER (PARTITION BY probe_id
                            ORDER BY l1_dist, doc_id) AS rnk
  FROM scored
) WHERE rnk <= 10
"""


_RASTER_TOPK_SQL = _raster_topk_sql()


@register("raster_topk_l1", _RASTER_TOPK_SQL)
def q_raster_topk_l1(spark, sf_dir):
    """Multimodal similarity SEARCH over decoded image features: for a
    deterministic bounded probe set (gated doc_id % 101 == 0, lowest 8
    — the hard_negative_mining hard-cap pattern, so the broadcast is
    O(1) regardless of SF), the 10 nearest corpus rasters by integer
    L1 distance on the 8x8 pooling grid — the brute-force ANN baseline
    of the `topk_cosine` family applied to the REAL decoded image
    features (functions.multimodal.raster_grids), completing the
    multimodal pillar's search member next to its dedup member
    (`phash_near_pairs`). Rank is ROW_NUMBER over (distance, doc_id) —
    tie-stable and identical cross-engine; every distance is an exact
    integer, so the query hash-verifies fully. Scale: map-only decode
    (payload bytes never shuffle; 64 ints per image do), 8-row probe
    broadcast, per-probe bounded window (WindowGroupLimit pushes the
    top-10 below the shuffle); the same thumbnail gate as phash keeps
    grids fully covered."""
    from chronobase_spark.dedup import phash
    from chronobase_spark.functions import multimodal

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.length(F.encode("text", "UTF-8")) >= phash.MIN_PAYLOAD_BYTES)
    )
    grids = multimodal.raster_grids(multimodal.to_ppm_payload(docs))
    probes = (
        grids.filter(F.col("doc_id") % 101 == 0)
        .orderBy("doc_id")
        .limit(8)
        .select(F.col("doc_id").alias("probe_id"), F.col("g").alias("pg"))
    )
    l1 = F.aggregate(
        F.zip_with(F.col("pg"), F.col("g"), lambda a, b: F.abs(a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("l1_dist").asc(), F.col("doc_id").asc()
    )
    return (
        grids.crossJoin(F.broadcast(probes))
        .filter(F.col("doc_id") != F.col("probe_id"))
        .select("probe_id", "doc_id", l1.alias("l1_dist"))
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
    )


_BUDGET_SQL = """
WITH d AS MATERIALIZED (
  SELECT doc_id,
         len(list_distinct(list_filter(
             string_split(trim(lower(coalesce(text, ''))), ' '),
             x -> x <> ''))) AS score,
         len(list_filter(
             string_split(trim(lower(coalesce(text, ''))), ' '),
             x -> x <> '')) AS n_tokens
  FROM documents
), tot AS (
  SELECT (SUM(n_tokens) * 3) // 10 AS b FROM d
), c AS (
  SELECT doc_id, score, n_tokens,
         SUM(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id,
       CAST(score AS BIGINT) AS score,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       cum <= (SELECT b FROM tot) AS admitted
FROM c
"""


@register("token_budget_select", _BUDGET_SQL)
def q_token_budget_select(spark, sf_dir):
    """Data selection under a token BUDGET: admit documents in
    (quality desc, doc_id asc) order until 30% of the corpus' tokens
    are spent — the greedy knapsack a curated pretraining mix runs
    when the constraint is a token count, not a document fraction
    (`quality_topq_filter`'s sibling with a budget instead of a
    quantile). Emits every doc with its admitted flag so downstream
    packing/mixing can consume the column.

    Scale: the naive formulation is ONE global cumulative-sum window —
    a SinglePartition sort of the corpus, dead at 100 TB (the oracle
    uses it; DuckDB's scale is the fixture's). The Spark plan instead
    resolves the same deterministic set in three bounded steps: (1)
    the per-SCORE token histogram (partial-agged groupBy, |score
    values| rows) with a tiny-table cumulative picks the full buckets
    (bucket cum ≤ B) and the single boundary score; (2) docs above the
    boundary admit map-side; (3) ONLY the boundary bucket — one score
    class — pays an exact doc_id-ordered prefix sum, and even that is
    range-sharded (doc_id div 65536 → per-shard partials + a
    tiny-table shard-offset cumulative), the doc_pack_chunks
    distributed-loader pattern, so no corpus-sized window partition
    exists anywhere; recurse the same split if one score class ever
    outgrows a shard. Equality with the naive rule is by construction:
    admitted ⟺ inclusive global cum ≤ B, monotone in the (score desc,
    doc_id) order both plans share. All-integer arithmetic ⇒ exact
    oracle."""
    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    scored = docs.select(
        "doc_id",
        text.space_distinct_tokens(txt).cast("bigint").alias("score"),
        F.size(text.lm_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    b = scored.agg(
        F.expr("CAST(sum(n_tokens) * 3 DIV 10 AS BIGINT)").alias("b")
    )
    hist = scored.groupBy("score").agg(F.sum("n_tokens").alias("bucket_n"))
    w_cum = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        hist.withColumn("cum", F.sum("bucket_n").over(w_cum))
        .crossJoin(F.broadcast(b))
        .select(
            "score",
            "cum",
            (F.col("cum") - F.col("bucket_n")).alias("cum_before"),
            "b",
        )
    )
    # the single boundary score class: previous buckets fit, this one
    # crosses the budget (empty when the budget swallows every bucket)
    boundary = cum.filter(
        (F.col("cum_before") <= F.col("b")) & (F.col("cum") > F.col("b"))
    ).select(
        F.col("score").alias("b_score"),
        (F.col("b") - F.col("cum_before")).alias("remaining"),
    )
    full = cum.select("score", (F.col("cum") <= F.col("b")).alias("full_ok"))
    # exact prefix inside the boundary class WITHOUT a global window:
    # contiguous doc_id range shards -> in-shard window + tiny offset table
    bd = scored.join(
        F.broadcast(boundary), scored.score == boundary.b_score
    ).withColumn("rshard", F.expr("doc_id div 65536"))
    shard_tot = bd.groupBy("rshard").agg(F.sum("n_tokens").alias("sn"))
    w_off = Window.orderBy("rshard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = shard_tot.withColumn(
        "off", F.coalesce(F.sum("sn").over(w_off), F.lit(0))
    ).select("rshard", "off")
    w_in = (
        Window.partitionBy("rshard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # join offsets on rshard WITHOUT a broadcast: the shard table is
    # id_span/65536 rows (unbounded in principle), and the in-shard
    # window already partitioned by rshard, so the shuffle_hash join
    # reuses that partitioning with no extra exchange on the big side
    bd_adm = (
        bd.withColumn("in_cum", F.sum("n_tokens").over(w_in))
        .join(offsets.hint("shuffle_hash"), "rshard")
        .select(
            "doc_id",
            ((F.col("off") + F.col("in_cum")) <= F.col("remaining")).alias(
                "b_adm"
            ),
        )
    )
    return (
        scored.join(F.broadcast(full), "score")
        .join(bd_adm, "doc_id", "left")
        .select(
            "doc_id",
            "score",
            "n_tokens",
            F.coalesce(F.col("b_adm"), F.col("full_ok")).alias("admitted"),
        )
    )


def _dsir_sql(target_lang: str = "en", lang_col: str = "lang") -> str:
    """DuckDB oracle for dsir_select, GENERATED from the SAME
    parameters the Spark operator takes (target_lang / lang_col /
    bucket count) — the _raster_grid_cte pattern, so a non-default
    configuration stays oracle-checked instead of silently diverging
    from a hardcoded 'en'/4096 (r13 advice)."""
    b = float(text.DSIR_BUCKETS)
    return f"""
WITH tk AS (
  SELECT doc_id, {lang_col},
         list_filter(string_split(trim(lower(coalesce(text, ''))), ' '),
                     x -> x <> '') AS tk
  FROM documents
), db AS (
  SELECT doc_id, {lang_col},
         CAST(('0x' || substr(md5(g), 1, 3)) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, {lang_col},
           unnest(list_transform(range(1, greatest(len(tk), 1)),
                                 i -> tk[i] || ' ' || tk[i + 1])) AS g
    FROM tk
  )
  GROUP BY doc_id, {lang_col}, bucket
), craw AS (
  SELECT bucket, SUM(tf) AS c_r FROM db GROUP BY bucket
), ctgt AS (
  SELECT bucket, SUM(tf) AS c_t FROM db
  WHERE {lang_col} = '{target_lang}' GROUP BY bucket
), tots AS (
  SELECT (SELECT SUM(c_r) FROM craw) AS n_r,
         (SELECT COALESCE(SUM(c_t), 0) FROM ctgt) AS n_t
), ratio AS (
  SELECT craw.bucket,
         CAST(round(ln(((CAST(COALESCE(ctgt.c_t, 0) AS DOUBLE) + 1.0)
                        / (CAST(n_t AS DOUBLE) + {b!r}))
                       / ((CAST(craw.c_r AS DOUBLE) + 1.0)
                          / (CAST(n_r AS DOUBLE) + {b!r})))
                    * 1000000.0, 0) AS BIGINT) AS r_micro
  FROM craw LEFT JOIN ctgt ON craw.bucket = ctgt.bucket CROSS JOIN tots
), w AS (
  SELECT doc_id,
         CAST(SUM(db.tf) AS BIGINT) AS n_grams,
         CAST(SUM(db.tf * r_micro) AS BIGINT) AS w_micro
  FROM db JOIN ratio USING (bucket)
  GROUP BY doc_id
), mx AS (
  SELECT MAX(CAST(w_micro AS DOUBLE) / CAST(n_grams AS DOUBLE)) AS m FROM w
)
SELECT doc_id, n_grams, w_micro,
       ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                     AS BIGINT) AS DOUBLE) + 1.0) / 65536.0) * 1000000.0
         < CAST(w_micro AS DOUBLE) / CAST(n_grams AS DOUBLE) - m
         AS accepted
FROM w CROSS JOIN mx
"""


@register("dsir_select", _dsir_sql())
def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling toward a target domain (Xie et al.
    2023): hashed-bigram bucket log-ratio weights, per-gram-average
    self-normalized md5 acceptance — the distribution-MATCHED member
    of the selection family (quantile: quality_topq_filter; Bernoulli:
    quality_weighted_sample; fixed-k: weighted_reservoir_sample;
    diversity: cluster_balanced_sample; budget: token_budget_select).
    Target = the lang='en' slice of the corpus. Full plan-shape and
    exactness notes on functions/text.dsir_select."""
    return text.dsir_select(_t(spark, sf_dir, "documents"))


_CONTAINMENT_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text),
           '[^a-z0-9\s]', ' ', 'g')), '\s+'), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id AS doc, UNNEST(list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 0)),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
  FROM toks
), sizes AS (
  SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc
), rare AS (
  SELECT doc, sh FROM sh WHERE sh IN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 50)
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(COUNT(*) AS BIGINT) AS common
  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b, common,
       ROUND(CAST(common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE), 6) AS cont_a_in_b,
       ROUND(CAST(common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE), 6) AS cont_b_in_a
FROM common JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
WHERE ROUND(CAST(common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE), 6) >= 0.8
   OR ROUND(CAST(common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE), 6) >= 0.8
"""


@register("ngram_containment_pairs", _CONTAINMENT_SQL)
def q_ngram_containment_pairs(spark, sf_dir):
    """Directed shingle-CONTAINMENT near-dup pairs (dedup.ngram
    .containment_pairs): C(a→b) = common/|sh(a)| — the asymmetric
    companion to ngram_jaccard_pairs that catches a document quoted or
    embedded inside a larger one (full containment at near-zero
    Jaccard), the partial-copy case a resemblance-only dedup pass
    silently admits into a training corpus. Same posting-list-pruned
    sub-quadratic candidate shape and shuffle_hash discipline as the
    Jaccard finder; only the final projection differs, so the scale
    audit carries over."""
    return ngram.containment_pairs(_t(spark, sf_dir, "documents"))


_SEASONAL_DECOMP_SQL = """
WITH v AS (
  SELECT event_type, ts, event_id,
         CAST(round(value * 1000000.0, 0) AS BIGINT) AS v_micro
  FROM events WHERE value IS NOT NULL
), w AS (
  SELECT event_type, ts, v_micro,
         SUM(v_micro) OVER win AS sum_w,
         COUNT(*) OVER win AS n_w
  FROM v
  WINDOW win AS (PARTITION BY event_type, CAST(ts AS DATE)
                 ORDER BY ts, event_id
                 ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
)
SELECT event_type, hour(ts) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(round(CAST(SUM(25 * v_micro - sum_w) AS DOUBLE)
                  / (25.0 * COUNT(*)), 0) AS BIGINT) AS seasonal_micro
FROM w WHERE n_w = 25
GROUP BY 1, 2
"""


@register("seasonal_decompose_hod", _SEASONAL_DECOMP_SQL)
def q_seasonal_decompose_hod(spark, sf_dir):
    """Classical seasonal decomposition, hour-of-day profile: detrend
    each series by a 25-sample centered moving average (rows-based, so
    both engines frame identically on the (ts, event_id) total order;
    edge rows without a full window are dropped on both), then average
    the detrended residue per (event_type, hour) — the additive
    seasonal component next to the Tukey-fence consumer of the same
    stratification (seasonal_outlier_counts). Exactness: per-row
    micro-quantized values, and the detrended term is kept as the
    EXACT integer 25·v_micro − Σwindow (no per-row division), so the
    only rounding is the single final quotient of two exact integers
    — the FIXTURES quantization rule.

    Scale: the MA window partitions on (event_type, DAY), not
    event_type alone — |types| is small, so a type-keyed window would
    put a type's FULL history in one task at 100 TB (the
    value_autocorr_daily lesson). Day-scoping bounds every window sort
    to one day of one type; the cost is that each day's 12 edge rows
    lack a full 25-sample window and drop (identically on both
    engines) — the same edge rule the unpartitioned form applies at
    series ends, applied per day. Plan: one (type, day)-keyed window
    shuffle, then a |types|·24-row aggregate; no joins."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("event_type", F.to_date("ts"))
        .orderBy("ts", "event_id")
        .rowsBetween(-12, 12)
    )
    v_micro = F.round(F.col("value") * 1000000.0, 0).cast("bigint")
    windowed = ev.select(
        "event_type",
        "ts",
        v_micro.alias("v_micro"),
        F.sum(v_micro).over(w).alias("sum_w"),
        F.count(F.lit(1)).over(w).alias("n_w"),
    ).filter(F.col("n_w") == 25)
    return windowed.groupBy(
        "event_type", F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(
            F.sum(25 * F.col("v_micro") - F.col("sum_w")).cast("double")
            / (25.0 * F.count(F.lit(1))),
            0,
        )
        .cast("bigint")
        .alias("seasonal_micro"),
    )


_DOC_NOVELTY_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text),
           '[^a-z0-9\s]', ' ', 'g')), '\s+'), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id AS doc, UNNEST(list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 0)),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
  FROM toks
), first_seen AS (
  SELECT sh, MIN(doc) AS first_doc FROM sh GROUP BY sh
)
SELECT s.doc AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_sh,
       CAST(SUM(CASE WHEN f.first_doc = s.doc THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_sh,
       CAST(SUM(CASE WHEN f.first_doc = s.doc THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM sh s JOIN first_seen f ON s.sh = f.sh
GROUP BY s.doc
"""


@register("doc_novelty_ratio", _DOC_NOVELTY_SQL)
def q_doc_novelty_ratio(spark, sf_dir):
    """Marginal-novelty curve: per document (in doc_id order — the
    arrival-order proxy), the fraction of its distinct 3-gram shingles
    that no LOWER-id document contains. The corpus-redundancy report a
    crawl-curation pass reads before paying for dedup: a snapshot whose
    docs average ~0 novelty is re-crawl, one near 1.0 is fresh content
    — and per-doc novelty is itself an admission signal (keep the doc
    that INTRODUCED the content; the near-dup family then catches the
    re-phrasings). Shares the literal `ngram.shingles` definition with
    the pair finders, so "novel" means exactly "no shingle collision
    the Jaccard/containment sweeps would see".

    Scale shape: LINEAR in corpus shingles — unlike the pair finders
    there is no self-join and therefore no f² hot-shingle blowup (and
    no max_df pruning needed): one groupBy(sh).min(doc) over the
    posting table, one join back on sh (both sides corpus-derived →
    shuffle_hash, never broadcast), one groupBy(doc). First-seen
    attribution via min over a well-spread key is the same partial-agg
    shape the dedup canonical-map uses. Exactness: counts are exact
    ints; novelty is a SINGLE division of two exact ints — bit-identical
    across engines with no rounding (FIXTURES rule: never round what is
    already bit-exact)."""
    sh = (
        _t(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(ngram.shingles(F.col("text"))).alias("sh"),
        )
    )
    first_seen = sh.groupBy("sh").agg(F.min("doc").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc"), 1).otherwise(0)
    ).cast("bigint")
    return (
        sh.join(first_seen.hint("shuffle_hash"), "sh")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            novel.alias("novel_sh"),
            (novel.cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "novelty"
            ),
        )
    )


_ROLLING_MEDIAN_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(round(value * 1000000.0, 0) AS BIGINT)) AS BIGINT)
           AS day_micro
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), win AS (
  SELECT event_type, day, day_micro,
         quantile_disc(day_micro, 0.5) OVER w AS med7_micro,
         COUNT(*) OVER w AS n_w
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, day_micro, med7_micro
FROM win WHERE n_w = 7
"""


@register("rolling_median_daily", _ROLLING_MEDIAN_SQL)
def q_rolling_median_daily(spark, sf_dir):
    """Trailing 7-day rolling MEDIAN baseline of each event type's
    daily value total — the robust baseline an ops dashboard draws
    under the live series (a single anomalous day shifts a rolling
    mean but leaves the median untouched; the MAD/Tukey outlier family
    here consumes exactly this kind of robust center). Emits (type,
    day, day_micro, med7_micro) for days with a full 7-day trailing
    window; edge days drop identically on both engines.

    Exactness: per-row micro-quantized values sum to an exact BIGINT
    per day; the median of SEVEN ints is the 4th order statistic —
    Spark takes element_at(sort_array(collect_list), 4), the oracle
    quantile_disc(0.5), identical by construction (no interpolation
    ever happens, which is why the frame is pinned to exactly 7).

    Scale shape: the event-grain work is ONE partial-agged shuffle to
    (type, day) — the window then runs at DAY grain, where a
    type-keyed partition holds |days| rows (thousands at a decade of
    data), NOT a type's event history; this is the grain change that
    makes a type-only window safe here when the event-grain analytics
    (seasonal_decompose_hod) must day-scope instead. collect_list is
    bounded at 7 elements by the ROWS frame."""
    daily = (
        _t(spark, sf_dir, "events")
        # ts too: a NULL day would order NULLS FIRST in Spark's window
        # but NULLS LAST in DuckDB's — the day axis must be null-free
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 1000000.0, 0).cast("bigint")).alias(
                "day_micro"
            )
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return (
        daily.select(
            "event_type",
            "day",
            "day_micro",
            F.element_at(
                F.sort_array(F.collect_list("day_micro").over(w)), 4
            ).alias("med7_micro"),
            F.count(F.lit(1)).over(w).alias("n_w"),
        )
        .filter(F.col("n_w") == 7)
        .drop("n_w")
    )
