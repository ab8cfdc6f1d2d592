"""Relational and analytics driver queries: TPC-H-style joins and
aggregates, window and set operations, as-of/range/bucketed/salted
joins, CDC and history, resampling, behavioural analytics, statistics
and the declarative data-quality checks.

Every query takes ``(spark, sf_dir)`` and returns a DataFrame whose row
multiset the DuckDB oracle SQL next to it reproduces over the driver's
parquet tables.  Parity conventions: md5-derived randomness, per-row
IEEE doubles written identically on both engines, sums through the
µ-quantized integer helpers (``qhelpers``), explicit tie-break keys.

- ``asof_join``: pandas-``merge_asof``-style backward as-of join
  (operators/joins.py) — each click event gets the latest prior view of
  the same user, NULLed beyond a 30-minute tolerance.  The oracle is
  DuckDB's native ``ASOF LEFT JOIN`` (an independent engine-level
  implementation of the same semantics), with the tolerance applied as
  a post-projection.
- ``range_join``: interval-overlap join via bucket explode
  (operators/joins.py) — per-user error windows [ts, ts+10 min) against
  click windows [ts, ts+5 min).  The oracle is the plain inequality
  join DuckDB executes as an IEJoin.
- ``points_in_windows``: point-in-interval join — views landing inside
  error windows, point side never exploded.
- ``bucketed_join``: the bucketed inventory store (exports/store.py) —
  both sides of a cell-level join persisted with ``bucketBy(cell_id)``
  so Catalyst plans the join with ZERO exchanges (pinned in
  tests/test_plan_shapes.py).  At 100 TB this is the difference between
  re-shuffling the fact table on every remap/add/combine rerun and
  paying the partitioning once at write time; the reference's analogue
  is the weights ``.npz`` cache (emiproc/regrid.py:41-78).
- ``delta_totals``: incremental rollup maintenance — category/substance
  totals recomputed from pre-aggregated BASE state merged with a small
  DELTA batch, never rescanning the base facts.  Exactness survives the
  two-level aggregation because partial sums are µ-quantized
  (qhelpers.sumd), so merge(sumd parts) == sumd(whole) bit-for-bit; the
  oracle recomputes the totals from the full fact table in one pass.
- ``frame_sample``: video-frame-sampling plumbing on opaque binary
  payloads (operators/multimodal.py:110) — one row per sampled byte
  offset via ``posexplode(sequence(...))``, all JVM-side.  Real video
  decode needs codecs this container lacks; the partition-explosion
  shape, schema, and offset arithmetic are the real, tested part.
- ``scd2_history``: CDC changelog → type-2 dimension history
  (operators/history.py scd2_compact) — per-key state-change collapse
  with [valid_from, valid_to) validity, one exchange for the whole
  window chain.
- ``resample_locf``: irregular per-user series regularized onto an
  hourly lattice with last-observation-carried-forward across gaps —
  the events table is touched once (partial-aggregable max_by), only
  the bounded lattice is generated.
- ``zorder_layout``: Morton-key clustering made measurable — per
  curve-prefix bounding boxes over a 128×128 synthetic point set prove
  each prefix is a tight 2-D tile (the file-skipping guarantee);
  operators/layout.py, pure JVM bit arithmetic on both engines.
- ``salted_join``: the static skew-buster — fact side salted
  deterministically, dimension exploded n_salts×, results identical to
  the plain join (the oracle IS the plain join).
- ``funnel``: ordered view→click→purchase funnel over the events table
  (operators/behavior.funnel_counts) — strict-order step timestamps via
  one window chain, ONE exchange on the user key.
- ``cohort_retention``: weekly cohort retention matrix
  (operators/behavior.cohort_retention) — integer-nanosecond period
  arithmetic, plain COUNT over the per-(user, period) distinct set.
- ``pagerank``: 4 damped PageRank iterations over the bipartite
  user↔item click graph from the events table
  (operators/graph.pagerank) — per-iteration join + hash agg with
  quantized contributions; oracle unrolls the same 4 iterations.
- ``value_outliers``: per-group z-score anomaly screen from
  quantized-sum moments (operators/stats.value_outliers).
- ``rolling_features`` / ``active_users``: trailing RANGE-frame event
  features and the WAU distinct-actives rollup (operators/behavior).
- ``group_quantiles``: exact per-group type-7 percentiles via the
  histogram reduction (operators/stats.group_quantiles).
- ``nation_topk``: per-group top-k via rank window.
- ``resample_nulls``: ``resample_interp`` over events with NULL values
  injected on a deterministic predicate — driver-verifies the NULL
  semantics (NULL rows are not observations; their buckets interpolate
  as gaps) that the NULL-free testdata could never exercise.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.fixtures import NS_PER_DAY
from emiproc_spark.fixtures import events as _events
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.operators.layout import zorder_key_sql
from emiproc_spark.qhelpers import QSCALE, qd, sql_floor_div, sql_qd, sql_sumd, sumd


# ======================================================================
# TPC-H-style relational queries (joins / aggs / top-k)
# ======================================================================
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = fx.load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sumd("l_quantity").alias("sum_qty"),
            sumd("l_extendedprice").alias("sum_base_price"),
            sumd(disc_price).alias("sum_disc_price"),
            sumd(charge).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_Q1 = f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sumd('l_quantity')} AS sum_qty,
           {sql_sumd('l_extendedprice')} AS sum_base_price,
           {sql_sumd('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_sumd('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-join: lineitem⋈supplier⋈nation⋈region with
    broadcast dimension tables."""
    li = fx.load(spark, sf_dir, "lineitem")
    sup = fx.load(spark, sf_dir, "supplier")
    nat = fx.load(spark, sf_dir, "nation")
    reg = fx.load(spark, sf_dir, "region")
    dims = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_suppkey", "n_name", "r_name")
    )
    return (
        # dims carries one row per supplier — SF-scaled, so no forced
        # broadcast (AQE converts at runtime whenever it actually fits)
        li.join(dims, li["l_suppkey"] == dims["s_suppkey"])
        .groupBy("r_name", "n_name")
        .agg(
            sumd(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_REVENUE_BY_NATION = f"""
    SELECT r_name, n_name,
           {sql_sumd('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style top-k: revenue per customer, deterministic order.

    Ranking uses the decimal-exact revenue so both engines pick the same
    top rows; c_custkey breaks ties.
    """
    li = fx.load(spark, sf_dir, "lineitem")
    orders = fx.load(spark, sf_dir, "orders")
    cust = fx.load(spark, sf_dir, "customer")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        # customer is SF-scaled — leave the strategy to AQE
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(sumd(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )


SQL_TOP_CUSTOMERS = f"""
    SELECT c_custkey, c_name,
           {sql_sumd('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
"""


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style semi-join: orders with at least one line item
    shipped after the order date."""
    li = fx.load(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = fx.load(spark, sf_dir, "orders")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


SQL_ORDER_PRIORITY = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
    GROUP BY o_orderpriority
"""


# ======================================================================
# Events (time-series)
# ======================================================================

def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day aggregation.  ts is TIMESTAMP(NANOS) parquet which
    Spark reads via nanosAsLong — bucketing is integer arithmetic on the
    epoch-nanos value, timezone-free by construction."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("epoch_day", (F.col("ts") / F.lit(NS_PER_DAY)).cast("long"))
        .groupBy("epoch_day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            sumd("value").alias("sum_value"),
        )
    )


SQL_EVENTS_DAILY = f"""
    SELECT CAST(FLOOR(epoch_ns(ts) / {NS_PER_DAY}.0) AS BIGINT) AS epoch_day,
           event_type,
           COUNT(*) AS n_events,
           {sql_sumd('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
        )
    )


SQL_EVENTS_JSON_PROPS = """
    SELECT event_type,
           COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
"""


# ======================================================================
# Relational breadth: windows, grouping sets, set ops (SURVEY §2.8)
# ======================================================================
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer order total — a window frame with a fully
    deterministic ordering, so the sequential fold is bit-identical in
    both engines (no quantization needed)."""
    from pyspark.sql import Window

    orders = fx.load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # quantize inside the frame: engines associate window sums
    # differently (running fold vs segment tree), int64 sums don't care
    qv = F.floor(F.col("o_totalprice") * F.lit(QSCALE) + F.lit(0.5)).cast("long")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(qv).over(w).cast("double") / F.lit(QSCALE)).alias("running_total"),
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).alias("order_seq"),
    )


SQL_WINDOW_RUNNING_TOTAL = """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000.0 AS running_total,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS order_seq
    FROM orders
"""


def q_supplier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-rank suppliers by revenue within nation — ranking window
    over an exact (µ-quantized) aggregate."""
    from pyspark.sql import Window

    li = fx.load(spark, sf_dir, "lineitem")
    sup = fx.load(spark, sf_dir, "supplier")
    rev = (
        # supplier is SF-scaled — leave the strategy to AQE
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey", "s_suppkey")
        .agg(sumd("l_extendedprice").alias("revenue"))
    )
    w = Window.partitionBy("s_nationkey").orderBy(F.col("revenue").desc(), "s_suppkey")
    return rev.withColumn("rnk", F.dense_rank().over(w))


SQL_SUPPLIER_RANK = f"""
    WITH rev AS (
        SELECT s_nationkey, s_suppkey, {sql_sumd('l_extendedprice')} AS revenue
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
    )
    SELECT s_nationkey, s_suppkey, revenue,
           DENSE_RANK() OVER (PARTITION BY s_nationkey
                              ORDER BY revenue DESC, s_suppkey) AS rnk
    FROM rev
"""


def q_cube_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (category, substance) — full grouping-sets lattice with
    null markers replaced so the hash compare is unambiguous."""
    e = fx.emissions(spark, sf_dir)
    q = F.floor(F.col("value_kg_y") * F.lit(QSCALE) + F.lit(0.5)).cast("long")
    return (
        e.select("category", "substance", q.alias("v"))
        .cube("category", "substance")
        .agg(
            (F.sum("v").cast("double") / F.lit(QSCALE)).alias("total_kg_y"),
            F.count("*").alias("n_rows"),
        )
        .withColumn("category", F.coalesce("category", F.lit("__all__")))
        .withColumn("substance", F.coalesce("substance", F.lit("__all__")))
    )


SQL_CUBE_EMISSIONS = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT COALESCE(category, '__all__') AS category,
           COALESCE(substance, '__all__') AS substance,
           {sql_sumd('value_kg_y')} AS total_kg_y,
           COUNT(*) AS n_rows
    FROM e GROUP BY CUBE (category, substance)
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT/INTERSECT: customers with orders but none in 'F' status,
    and customers in both 'O' and 'F' — counted per branch."""
    orders = fx.load(spark, sf_dir, "orders")
    all_c = orders.select("o_custkey")
    f_c = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    o_c = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    no_f = all_c.subtract(f_c)  # EXCEPT (distinct) semantics
    both = o_c.intersect(f_c)
    return local_rows_df(spark, 
        [("except_f",), ("intersect_of",)], schema="branch string"
    ).join(
        no_f.agg(F.count("*").alias("n")).withColumn("branch", F.lit("except_f"))
        .unionByName(both.agg(F.count("*").alias("n")).withColumn("branch", F.lit("intersect_of"))),
        "branch",
    )


SQL_SET_OPS = """
    WITH no_f AS (
        SELECT DISTINCT o_custkey FROM (
            SELECT o_custkey FROM orders
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        )
    ),
    both_st AS (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT 'except_f' AS branch, COUNT(*) AS n FROM no_f
    UNION ALL
    SELECT 'intersect_of' AS branch, COUNT(*) AS n FROM both_st
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (30-minute
    inactivity gap): lag + cumulative-sum session ids, then per-user
    session stats — integer arithmetic throughout, fully deterministic."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ns = 30 * 60 * 1_000_000_000
    with_new = ev.withColumn(
        "new_session",
        F.when(
            (F.col("ts") - F.lag("ts").over(w)) > gap_ns, 1
        ).otherwise(F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)),
    )
    with_sid = with_new.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_sid.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


SQL_SESSIONIZE = f"""
    WITH w AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1
                    WHEN epoch_ns(ts) - epoch_ns(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                         > {30 * 60 * 1_000_000_000} THEN 1
                    ELSE 0 END AS new_session
        FROM events
    ),
    s AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM w
    )
    SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id
"""


NS_PER_MIN = 60 * 1_000_000_000

# DuckDB-side events with the same epoch-nanos ts the Spark fixture uses
EVENTS_NS_SQL = """
    SELECT event_id, user_id, epoch_ns(ts) AS ts, value, event_type
    FROM events
"""


# ======================================================================
# asof_join — backward as-of with tolerance (operators/joins.py)
# ======================================================================
ASOF_TOL = 30 * NS_PER_MIN


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.joins import asof_join

    ev = fx.events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(
        clicks, views, "ts", ["user_id"], ["view_value"], tolerance=ASOF_TOL
    )
    return out.select(
        "event_id", "user_id", "ts", "click_value", "view_value",
        F.col("ts_right").alias("view_ts"),
    )


SQL_ASOF_JOIN = f"""
    WITH ev AS ({EVENTS_NS_SQL}),
    c AS (SELECT event_id, user_id, ts, value AS click_value FROM ev
          WHERE event_type = 'click'),
    v AS (SELECT user_id, ts, value AS view_value FROM ev
          WHERE event_type = 'view')
    SELECT c.event_id, c.user_id, c.ts, c.click_value,
           CASE WHEN c.ts - v.ts <= {ASOF_TOL} THEN v.view_value END AS view_value,
           CASE WHEN c.ts - v.ts <= {ASOF_TOL} THEN v.ts END AS view_ts
    FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
"""


# ======================================================================
# range_join — interval overlap via bucket explode (operators/joins.py)
# ======================================================================
ERR_WIN = 10 * NS_PER_MIN
CLICK_WIN = 5 * NS_PER_MIN


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.joins import range_join

    ev = fx.events(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + ERR_WIN).alias("end"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + CLICK_WIN).alias("end"),
    )
    pairs = range_join(errors, clicks, ["user_id"], bucket=ERR_WIN)
    return pairs.select(
        "err_id",
        "click_id",
        "user_id",
        (F.least("end", "r_end") - F.greatest("start", "r_start")).alias("overlap_ns"),
    )


SQL_RANGE_JOIN = f"""
    WITH ev AS ({EVENTS_NS_SQL}),
    e AS (SELECT event_id AS err_id, user_id, ts AS start_,
                 ts + {ERR_WIN} AS end_ FROM ev WHERE event_type = 'error'),
    c AS (SELECT event_id AS click_id, user_id, ts AS start_,
                 ts + {CLICK_WIN} AS end_ FROM ev WHERE event_type = 'click')
    SELECT e.err_id, c.click_id, e.user_id,
           LEAST(e.end_, c.end_) - GREATEST(e.start_, c.start_) AS overlap_ns
    FROM e JOIN c ON e.user_id = c.user_id
                 AND e.start_ < e.end_ AND c.start_ < c.end_
                 AND e.start_ < c.end_ AND c.start_ < e.end_
"""


# ======================================================================
# points_in_windows — point-in-interval join (operators/joins.py)
# ======================================================================
def q_points_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.joins import point_in_range_join

    ev = fx.events(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + ERR_WIN).alias("end"),
    )
    hits = point_in_range_join(views, errors, ["user_id"], bucket=ERR_WIN)
    return hits.groupBy("user_id").agg(
        F.count("*").alias("n_hits"),
        F.countDistinct("view_id").alias("n_views_in_windows"),
        F.countDistinct("err_id").alias("n_windows_hit"),
    )


SQL_POINTS_IN_WINDOWS = f"""
    WITH ev AS ({EVENTS_NS_SQL}),
    v AS (SELECT event_id AS view_id, user_id, ts FROM ev
          WHERE event_type = 'view'),
    e AS (SELECT event_id AS err_id, user_id, ts AS start_,
                 ts + {ERR_WIN} AS end_ FROM ev WHERE event_type = 'error')
    SELECT v.user_id, COUNT(*) AS n_hits,
           COUNT(DISTINCT v.view_id) AS n_views_in_windows,
           COUNT(DISTINCT e.err_id) AS n_windows_hit
    FROM v JOIN e ON v.user_id = e.user_id
                 AND v.ts >= e.start_ AND v.ts < e.end_
    GROUP BY v.user_id
"""


# ======================================================================
# heavy_hitters — sketch-then-confirm hot keys (operators/hotkeys.py)
# ======================================================================
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.hotkeys import heavy_hitters
    from emiproc_spark.operators.text import tokens

    d = (
        fx.load(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
    )
    return heavy_hitters(d, "tok", k=20, capacity=1024)


SQL_HEAVY_HITTERS = """
    WITH tok AS (
        SELECT t.tok
        FROM (SELECT string_split(text, ' ') AS toks FROM documents),
             UNNEST(toks) AS t(tok)
        WHERE t.tok <> ''
    )
    SELECT tok, COUNT(*) AS n
    FROM tok GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
"""


# ======================================================================
# bucketed_join — zero-shuffle co-located join (exports/store.py)
# ======================================================================
BKT_BUCKETS = 16

# sf_dir -> (table_a, table_b); bucketed tables are written once per
# session per sf_dir (the write is itself part of the pattern under
# test, but repeating it on every bench iteration would time the sink,
# not the join).
_BKT_TABLES: dict[str, tuple[str, str]] = {}


def _bucketed_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    from emiproc_spark.exports.store import (
        read_inventory_table,
        save_inventory_bucketed,
    )

    cached = _BKT_TABLES.get(sf_dir)
    # the cache holds catalog TABLE NAMES, which die with the session
    # (unlike the sibling filesystem-path caches) — revalidate against
    # the current session's catalog before trusting it
    if cached is not None and not all(
        spark.catalog.tableExists(t) for t in cached
    ):
        cached = None
    if cached is None:
        tag = re.sub(r"\W+", "_", sf_dir).strip("_")
        ta, tb = f"emiproc_bkt_a_{tag}", f"emiproc_bkt_b_{tag}"
        root = fx.scratch_dir("emiproc_bkt_")
        em = fx.emissions(spark, sf_dir)
        flow = (
            em.where(F.col("category").isin("A", "N"))
            .groupBy("cell_id")
            .agg(sumd("value_kg_y").alias("flow_kg_y"))
        )
        ret = (
            em.where(F.col("category") == "R")
            .groupBy("cell_id")
            .agg(sumd("value_kg_y").alias("return_kg_y"))
        )
        save_inventory_bucketed(
            flow, ta, buckets=BKT_BUCKETS, path=os.path.join(root, "a")
        )
        save_inventory_bucketed(
            ret, tb, buckets=BKT_BUCKETS, path=os.path.join(root, "b")
        )
        _BKT_TABLES[sf_dir] = (ta, tb)
    ta, tb = _BKT_TABLES[sf_dir]
    return read_inventory_table(spark, ta), read_inventory_table(spark, tb)


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the two bucketed inventories on cell_id.

    Both scans carry HashPartitioning(cell_id, 16) from the catalog
    bucketing spec — exactly the join's clustering requirement — so the
    plan has NO Exchange on either side, only the residual per-bucket
    sorts (and those vanish too when ``sortBy`` matters at read, which
    Spark applies per bucket file).
    """
    flow, ret = _bucketed_sides(spark, sf_dir)
    return flow.join(ret, ["cell_id"], "inner").select(
        "cell_id", "flow_kg_y", "return_kg_y"
    )


SQL_BUCKETED_JOIN = f"""
    WITH em AS ({fx.EMISSIONS_SQL}),
    flow AS (
        SELECT cell_id, {sql_sumd("value_kg_y")} AS flow_kg_y
        FROM em WHERE category IN ('A', 'N') GROUP BY cell_id
    ),
    ret AS (
        SELECT cell_id, {sql_sumd("value_kg_y")} AS return_kg_y
        FROM em WHERE category = 'R' GROUP BY cell_id
    )
    SELECT flow.cell_id, flow.flow_kg_y, ret.return_kg_y
    FROM flow JOIN ret USING (cell_id)
"""


# ======================================================================
# delta_totals — incremental rollup maintenance (partial-agg merge)
# ======================================================================
def q_delta_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge pre-aggregated base totals with a small delta batch.

    base (cell_id % 10 != 0) stands in for yesterday's materialized
    rollup; delta (cell_id % 10 == 0) is today's arrivals.  The merge
    re-aggregates the two partial states — base facts are never
    rescanned in the incremental path.  Partials carry the µ-quantized
    numerator as an INT64 (micro-units), so the merge is a plain
    integer sum — exact at ANY magnitude — and only the final
    projection divides back to kg.  (Merging the partials as doubles
    and re-quantizing only round-trips while the numerator stays below
    ~2.2e15; integer partial state has no such ceiling and is what a
    production incremental rollup should materialize.)
    """
    from emiproc_spark.qhelpers import QSCALE

    em = fx.emissions(spark, sf_dir)

    def totals(df: DataFrame) -> DataFrame:
        return df.groupBy("category", "substance").agg(
            F.sum(
                F.floor(F.col("value_kg_y") * F.lit(QSCALE) + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("total_micro"),
            F.count("*").alias("n_rows"),
        )

    base = totals(em.where(F.col("cell_id") % 10 != 0))
    delta = totals(em.where(F.col("cell_id") % 10 == 0))
    return (
        base.unionByName(delta)
        .groupBy("category", "substance")
        .agg(
            F.sum("total_micro").alias("total_micro"),
            F.sum("n_rows").alias("n_rows"),
        )
        .select(
            "category",
            "substance",
            (F.col("total_micro").cast("double") / F.lit(QSCALE)).alias(
                "total_kg_y"
            ),
            "n_rows",
        )
    )


SQL_DELTA_TOTALS = f"""
    SELECT category, substance,
           {sql_sumd("value_kg_y")} AS total_kg_y,
           COUNT(*) AS n_rows
    FROM ({fx.EMISSIONS_SQL})
    GROUP BY category, substance
"""


# ======================================================================
# frame_sample — video-column plumbing (operators/multimodal.py:110)
# ======================================================================
FRAME_STEP = 64


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic opaque 'video' payloads (40–295 bytes, JVM-built:
    repeat→cast binary, no Python in the path) sampled every 64 bytes.
    One output row per (doc, frame); the oracle recomputes the offset
    lattice from the payload-length formula.
    """
    from emiproc_spark.operators.multimodal import frame_sample

    n = (F.col("doc_id") * 13 % 256 + 40).cast("int")
    media = (
        fx.load(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 400)
        .select("doc_id", F.repeat(F.lit("x"), n).cast("binary").alias("payload"))
    )
    out = frame_sample(media, every_n_bytes=FRAME_STEP)
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("byte_offset").cast("long").alias("byte_offset"),
    )


SQL_FRAME_SAMPLE = f"""
    SELECT d.doc_id,
           CAST(t.v // {FRAME_STEP} AS BIGINT) AS frame_idx,
           CAST(t.v AS BIGINT) AS byte_offset
    FROM (SELECT doc_id FROM documents WHERE doc_id < 400) d,
         UNNEST(range(0, d.doc_id * 13 % 256 + 40, {FRAME_STEP})) AS t(v)
"""


# ======================================================================
# table_profile — one-pass per-column stats (operators/stats.py)
# ======================================================================
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile every documents column in one aggregation job: non-null
    and exact-distinct counts, min/max as strings, quantized numeric
    sums.  The oracle recomputes each column's row independently."""
    from emiproc_spark.operators.stats import profile_table

    return profile_table(fx.load(spark, sf_dir, "documents"))


def _sql_table_profile() -> str:
    rows = []
    for c, numeric in [
        ("doc_id", True),
        ("text", False),
        ("lang", False),
        ("source", False),
        ("n_chars", True),
    ]:
        # overflow-safe quantized sum (sumd_safe lockstep): decimal
        # accumulation + NULL past the quantizable magnitude
        from emiproc_spark.qhelpers import sql_sumd_safe

        s = (
            sql_sumd_safe(f"CAST({c} AS DOUBLE)")
            if numeric
            else "CAST(NULL AS DOUBLE)"
        )
        rows.append(f"""
        SELECT '{c}' AS "column",
               COUNT(*) AS n_rows,
               COUNT({c}) AS n_nonnull,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_str,
               CAST(MAX({c}) AS VARCHAR) AS max_str,
               {s} AS sum_num
        FROM documents""")
    return " UNION ALL ".join(rows)


SQL_TABLE_PROFILE = _sql_table_profile()


# ======================================================================
# interval_islands — gaps-and-islands coverage (operators/joins.py)
# ======================================================================
ISLAND_WIN_NS = 10 * 60 * 1_000_000_000  # 10 minutes in epoch-nanos


def q_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity coverage: each event opens a 10-minute window
    [ts, ts+10min); overlapping/touching windows merge into maximal
    islands (merge_intervals — one shuffle + per-key sort, no
    self-join), then a per-user rollup of island count, covered
    nanoseconds and source-interval count.  All-integer arithmetic, so
    the oracle (same window formulation in DuckDB) matches exactly."""
    from emiproc_spark.operators.joins import merge_intervals

    iv = fx.events(spark, sf_dir).select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.lit(ISLAND_WIN_NS)).alias("end"),
    )
    islands = merge_intervals(iv, ["user_id"])
    return islands.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start")).alias("covered_ns"),
        F.sum("n_intervals").alias("n_intervals"),
    )


SQL_INTERVAL_ISLANDS = f"""
    WITH iv AS (
        SELECT user_id, epoch_ns(ts) AS s,
               epoch_ns(ts) + {ISLAND_WIN_NS} AS e
        FROM events
    ),
    m AS (
        SELECT user_id, s, e,
               MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS pme
        FROM iv
    ),
    isl AS (
        SELECT user_id, s, e,
               SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM m
    ),
    g AS (
        SELECT user_id, island, MIN(s) AS st, MAX(e) AS en,
               COUNT(*) AS n
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           COUNT(*) AS n_islands,
           CAST(SUM(en - st) AS BIGINT) AS covered_ns,
           CAST(SUM(n) AS BIGINT) AS n_intervals
    FROM g GROUP BY user_id
"""


# ======================================================================
# scd2_history — changelog → SCD2 versions (operators/history.py)
# ======================================================================


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat the events stream as a per-user state changelog
    (state = event_type, ordered by ts with event_id tiebreak) and
    compact it into SCD2 version history."""
    from emiproc_spark.operators.history import scd2_compact

    ev = fx.events(spark, sf_dir).select("user_id", "ts", "event_type", "event_id")
    out = scd2_compact(
        ev, ["user_id"], "ts", ["event_type"], tiebreak=["event_id"]
    )
    return out.withColumn("version", F.col("version").cast("long"))


SQL_SCD2_HISTORY = """
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) AS tsn, event_type, event_id
        FROM events
    ),
    m AS (
        SELECT user_id, tsn, event_type, event_id,
               LAG(event_type) OVER w AS prev,
               ROW_NUMBER() OVER w = 1 AS is_first
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
    ),
    v AS (
        SELECT * FROM m
        WHERE is_first OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id,
           ROW_NUMBER() OVER w2 AS version,
           event_type,
           tsn AS valid_from,
           LEAD(tsn) OVER w2 AS valid_to,
           LEAD(tsn) OVER w2 IS NULL AS is_current
    FROM v
    WINDOW w2 AS (PARTITION BY user_id ORDER BY tsn, event_id)
"""


# ======================================================================
# resample_locf — gap-filled hourly lattice (operators/history.py)
# ======================================================================
LOCF_BUCKET_NS = 3_600_000_000_000  # 1 hour
LOCF_MAX_USER = 100


def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user resample of the events `value` series with LOCF
    gap fill; value_locf is a SELECTION (no float arithmetic), so the
    doubles compare exactly across engines."""
    from emiproc_spark.operators.history import resample_locf

    ev = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") < LOCF_MAX_USER)
        .select("user_id", "ts", "value", "event_id")
    )
    return resample_locf(
        ev, ["user_id"], "ts", "value", LOCF_BUCKET_NS, tiebreak=["event_id"]
    )


SQL_RESAMPLE_LOCF = f"""
    WITH ev AS (
        -- NULL values are not observations (the resample_locf r11
        -- contract): they must neither represent a bucket nor extend
        -- a key's lattice bounds
        SELECT user_id, epoch_ns(ts) AS tsn, value, event_id
        FROM events WHERE user_id < {LOCF_MAX_USER} AND value IS NOT NULL
    ),
    obs AS (
        SELECT user_id, b, value FROM (
            SELECT user_id, {sql_floor_div('tsn', LOCF_BUCKET_NS)} AS b, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, {sql_floor_div('tsn', LOCF_BUCKET_NS)}
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM ev) WHERE rn = 1
    ),
    bounds AS (
        SELECT user_id, MIN({sql_floor_div('tsn', LOCF_BUCKET_NS)}) AS b0,
               MAX({sql_floor_div('tsn', LOCF_BUCKET_NS)}) AS b1
        FROM ev GROUP BY user_id
    ),
    lat AS (
        SELECT bounds.user_id, t.b
        FROM bounds, UNNEST(range(b0, b1 + 1)) AS t(b)
    ),
    j AS (
        SELECT lat.user_id, lat.b, obs.value AS v
        FROM lat LEFT JOIN obs
          ON obs.user_id = lat.user_id AND obs.b = lat.b
    )
    SELECT user_id,
           b * {LOCF_BUCKET_NS} AS bucket_start,
           LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY b
               ROWS UNBOUNDED PRECEDING) AS value_locf,
           v IS NULL AS is_gap
    FROM j
"""


# ======================================================================
# zorder_layout — Morton tiles (operators/layout.py)
# ======================================================================
Z_SIDE_BITS = 7  # 128×128 point lattice
Z_PREFIX_SHIFT = 6  # each prefix = an 8×8 tile (2^6 curve positions)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order the lineitem (partkey, suppkey) point set and report per
    curve-prefix extents: every prefix must be a tight 8×8 tile, which
    is exactly the min/max file-statistics guarantee a Z-clustered
    write gives the scan pruner at 100 TB."""
    from emiproc_spark.operators.layout import layout_extents, zorder_key

    pts = fx.load(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 128).alias("x"),
        (F.col("l_suppkey") % 128).alias("y"),
    )
    keyed = pts.withColumn("zkey", zorder_key("x", "y", Z_SIDE_BITS))
    return layout_extents(keyed, "x", "y", "zkey", Z_PREFIX_SHIFT)


SQL_ZORDER_LAYOUT = f"""
    WITH pts AS (
        SELECT l_partkey % 128 AS x, l_suppkey % 128 AS y FROM lineitem
    ),
    k AS (SELECT x, y, {zorder_key_sql("x", "y", Z_SIDE_BITS)} AS z FROM pts)
    SELECT (z >> {Z_PREFIX_SHIFT}) AS z_prefix,
           COUNT(*) AS n_rows,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM k GROUP BY 1
"""


# ======================================================================
# salted_join — skew-safe join parity (operators/joins.py)
# ======================================================================
SALT_N = 8


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment revenue through the salted join; the oracle runs
    the PLAIN join — salting must be invisible in the result."""
    from emiproc_spark.operators.joins import salted_join

    orders = fx.load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = fx.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = salted_join(orders, cust, ["o_custkey"], n_salts=SALT_N)
    return j.groupBy("c_mktsegment").agg(
        sumd("o_totalprice").alias("revenue"),
        F.count("*").alias("n_orders"),
    )


SQL_SALTED_JOIN = f"""
    SELECT c_mktsegment,
           {sql_sumd("o_totalprice")} AS revenue,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
"""


# ======================================================================
# funnel — ordered event funnel (operators/behavior.py)
# ======================================================================
_FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.behavior import funnel_counts

    ev = fx.events(spark, sf_dir)
    return funnel_counts(ev, _FUNNEL_STEPS)


SQL_FUNNEL = """
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) AS tsn, event_type FROM events
    ),
    w1 AS (
        SELECT user_id, tsn, event_type,
               MIN(CASE WHEN event_type = 'view' THEN tsn END)
                   OVER (PARTITION BY user_id) AS s1
        FROM ev
    ),
    w2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND tsn > s1
                           THEN tsn END) OVER (PARTITION BY user_id) AS s2
        FROM w1
    ),
    w3 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND tsn > s2
                           THEN tsn END) OVER (PARTITION BY user_id) AS s3
        FROM w2
    ),
    u AS (
        SELECT user_id, MIN(s1) AS s1, MIN(s2) AS s2, MIN(s3) AS s3
        FROM w3 GROUP BY user_id
    ),
    c AS (SELECT COUNT(s1) AS c1, COUNT(s2) AS c2, COUNT(s3) AS c3 FROM u)
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name, c1 AS users FROM c
    UNION ALL
    SELECT CAST(2 AS INT), 'click', c2 FROM c
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase', c3 FROM c
"""


# ======================================================================
# cohort_retention — weekly cohorts (operators/behavior.py)
# ======================================================================
_WEEK_NS = 7 * 86400 * 10**9


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.behavior import cohort_retention

    ev = fx.events(spark, sf_dir)
    return cohort_retention(ev, period_ns=_WEEK_NS)


SQL_COHORT_RETENTION = f"""
    WITH ev AS (
        SELECT user_id, {sql_floor_div('epoch_ns(ts)', _WEEK_NS)} AS period FROM events
    ),
    c AS (
        SELECT user_id, period,
               MIN(period) OVER (PARTITION BY user_id) AS cohort_period
        FROM ev
    ),
    a AS (SELECT DISTINCT user_id, period, cohort_period FROM c)
    SELECT cohort_period,
           period - cohort_period AS period_offset,
           COUNT(*) AS active_users
    FROM a GROUP BY cohort_period, period - cohort_period
"""


# ======================================================================
# pagerank — bipartite user↔item click graph (operators/graph.py)
# ======================================================================
_PR_ITERS = 4
_PR_DAMPING = 0.85
_ITEM_OFFSET = 1_000_000


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.graph import pagerank

    ev = fx.events(spark, sf_dir)
    kcol = F.get_json_object("props", "$.k").cast("long")
    fwd = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("src"),
            (F.lit(_ITEM_OFFSET) + kcol).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(edges, iterations=_PR_ITERS, damping=_PR_DAMPING)
    return pr.select("node", qd("pagerank", 1e9).alias("pagerank"))


def _sql_pagerank() -> str:
    head = f"""
    WITH e0 AS (
        SELECT DISTINCT user_id AS src,
               {_ITEM_OFFSET} + CAST(json_extract_string(props, '$.k')
                                     AS BIGINT) AS dst
        FROM events
        WHERE event_type = 'click'
          AND json_extract_string(props, '$.k') IS NOT NULL
    ),
    e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn)"""
    its = []
    for i in range(1, _PR_ITERS + 1):
        its.append(f""",
    c{i} AS (
        SELECT e.dst AS node,
               CAST(FLOOR((p.pr / o.od) * 1e12 + 0.5) AS BIGINT) AS cq
        FROM e
        JOIN outdeg o ON o.src = e.src
        JOIN pr{i - 1} p ON p.node = e.src
    ),
    s{i} AS (
        SELECT node, CAST(SUM(cq) AS DOUBLE) / 1e12 AS s
        FROM c{i} GROUP BY node
    ),
    pr{i} AS (
        SELECT nodes.node,
               (1.0 - {_PR_DAMPING!r}) / nn.n
                   + {_PR_DAMPING!r} * COALESCE(s{i}.s, 0.0) AS pr
        FROM nodes CROSS JOIN nn
        LEFT JOIN s{i} ON s{i}.node = nodes.node
    )""")
    tail = f"""
    SELECT node, FLOOR(pr * 1e9 + 0.5) / 1e9 AS pagerank FROM pr{_PR_ITERS}
"""
    return head + "".join(its) + tail


SQL_PAGERANK = _sql_pagerank()


# ======================================================================
# value_outliers — per-group z-score anomaly screen (operators/stats.py)
# ======================================================================
_Z = 3.0


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.stats import value_outliers

    ev = fx.events(spark, sf_dir).select("event_type", "value")
    return value_outliers(ev, ["event_type"], "value", z=_Z)


def _sql_value_outliers_moments() -> str:
    # overflow-safe quantized moments (qhelpers.sumd_safe lockstep)
    from emiproc_spark.qhelpers import sql_sumd_safe

    return f"""
        SELECT event_type,
               COUNT(value) AS n,
               {sql_sumd_safe('value')} AS s1,
               {sql_sumd_safe('value * value')} AS s2
        FROM events GROUP BY event_type
    """


SQL_VALUE_OUTLIERS = f"""
    WITH m AS ({_sql_value_outliers_moments()}),
    d AS (
        SELECT event_type, n, s1 / n AS mean,
               CASE WHEN n > 1
                    THEN (s2 - n * (s1 / n) * (s1 / n)) / (n - 1) END AS var
        FROM m
    ),
    sd AS (
        SELECT event_type, n, mean,
               SQRT(CASE WHEN var > 0 THEN var END) AS sd
        FROM d
    ),
    z AS (
        SELECT e.event_type, s.n,
               (e.value - s.mean) / s.sd AS z
        FROM events e JOIN sd s USING (event_type)
    )
    SELECT event_type, n,
           COUNT(CASE WHEN ABS(z) > {_Z!r} THEN 1 END) AS n_outliers,
           FLOOR(MAX(ABS(z)) * 1000000.0 + 0.5) / 1000000.0 AS max_abs_z
    FROM z GROUP BY event_type, n
"""


# ======================================================================
# rolling_features — trailing-hour RANGE-frame features per event
# (operators/behavior.rolling_event_features)
# ======================================================================
_ROLL_NS = 3_600 * 10**9  # one hour


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.behavior import rolling_event_features

    ev = fx.events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    out = rolling_event_features(ev, window_ns=_ROLL_NS)
    return out.select("event_id", "user_id", "n_trailing", "v_trailing")


SQL_ROLLING_FEATURES = f"""
    WITH ev AS (
        SELECT event_id, user_id, epoch_ns(ts) AS tsn,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
        FROM events
    )
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_trailing,
           CAST(SUM(qv) OVER w AS DOUBLE) / 1000000.0 AS v_trailing
    FROM ev
    WINDOW w AS (
        PARTITION BY user_id ORDER BY tsn
        RANGE BETWEEN {_ROLL_NS} PRECEDING AND CURRENT ROW
    )
"""


# ======================================================================
# active_users — trailing-7-day distinct actives (WAU) per day
# (operators/behavior.rolling_active_users)
# ======================================================================
_DAY_NS = 86400 * 10**9
_WAU_WINDOW = 7


def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.behavior import rolling_active_users

    ev = fx.events(spark, sf_dir).select("user_id", "ts")
    return rolling_active_users(
        ev, window_periods=_WAU_WINDOW, period_ns=_DAY_NS
    )


SQL_ACTIVE_USERS = f"""
    WITH d AS (
        SELECT DISTINCT user_id, {sql_floor_div('epoch_ns(ts)', _DAY_NS)} AS p
        FROM events
    ),
    e AS (
        SELECT user_id, p + o.o AS period
        FROM d, UNNEST(range({_WAU_WINDOW})) AS o(o)
    )
    SELECT period, COUNT(DISTINCT user_id) AS active_users
    FROM e GROUP BY period
"""


# ======================================================================
# group_quantiles — exact per-language length percentiles
# (operators/stats.group_quantiles, histogram reduction)
# ======================================================================
def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.stats import group_quantiles
    from emiproc_spark.qhelpers import qd

    d = fx.load(spark, sf_dir, "documents").select(
        "lang", F.size(F.split("text", " ")).alias("len")
    )
    out = group_quantiles(d, ["lang"], "len")
    return out.select("lang", "q", qd("value").alias("value"))


def _sql_group_quantiles() -> str:
    from emiproc_spark.qhelpers import sql_qd

    qs = (0.25, 0.5, 0.75, 0.9, 0.99)
    branches = " UNION ALL ".join(
        f"SELECT lang, {q} AS q, quantile_cont(len, {q}) AS v "
        "FROM lens GROUP BY lang"
        for q in qs
    )
    return f"""
    WITH lens AS (
        SELECT lang, len(string_split(text, ' ')) AS len FROM documents
    )
    SELECT lang, q, {sql_qd('v')} AS value FROM ({branches})
"""


# ======================================================================
# nation_topk — per-group top-k (rank window, NOT a global TakeOrdered):
# top-3 customers by order revenue within every nation
# ======================================================================
_NATION_K = 3


def q_nation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.qhelpers import sumd

    c = fx.load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = fx.load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    n = fx.load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = o.groupBy("o_custkey").agg(sumd("o_totalprice").alias("revenue"))
    cust = c.join(rev, c["c_custkey"] == rev["o_custkey"]).select(
        "c_custkey", "c_nationkey", "revenue"
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    top = (
        cust.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _NATION_K)
    )
    return top.join(F.broadcast(n), top["c_nationkey"] == n["n_nationkey"]).select(
        "n_name", F.col("rank").cast("int").alias("rank"), "c_custkey", "revenue"
    )


def _sql_nation_topk() -> str:
    from emiproc_spark.qhelpers import sql_sumd

    return f"""
    WITH rev AS (
        SELECT o_custkey, {sql_sumd('o_totalprice')} AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT c.c_custkey, c.c_nationkey, r.revenue,
               ROW_NUMBER() OVER (
                   PARTITION BY c.c_nationkey
                   ORDER BY r.revenue DESC, c.c_custkey
               ) AS rank
        FROM customer c JOIN rev r ON r.o_custkey = c.c_custkey
    )
    SELECT n.n_name, CAST(rank AS INT) AS rank, c_custkey, revenue
    FROM ranked JOIN nation n ON n.n_nationkey = ranked.c_nationkey
    WHERE rank <= {_NATION_K}
"""


# ======================================================================
# sql_api — the SAME statement text executed by BOTH engines: Spark's
# spark.sql(...) over registered temp views vs DuckDB over its views.
# Proves the SQL entry point (not just the DataFrame API) produces
# plan-equivalent, value-identical results; Catalyst still broadcasts
# the dimension chain (pinned in the shared no-cartesian sweep).
# ======================================================================
SQL_API_STMT = """
    SELECT r.r_name,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 1000000.0 + 0.5)
                AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY r.r_name
"""


def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx.register_tables(spark, sf_dir)
    return spark.sql(SQL_API_STMT)


# ======================================================================
# cdc_merge — apply_changelog MERGE semantics (operators/history.py)
# ======================================================================
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot = latest state per user from the event_id%3==0 base
    feed; changelog = the remaining events with 'error' rows acting as
    deletes.  Values are straight selections (no float arithmetic), so
    doubles compare exactly."""
    from emiproc_spark.operators.history import apply_changelog, latest_snapshot

    ev = fx.events(spark, sf_dir).select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    snap = latest_snapshot(
        ev.where(F.col("event_id") % 3 == 0), ["user_id"], ["ts", "event_id"]
    ).select("user_id", "event_type", "value")
    chg = ev.where(F.col("event_id") % 3 != 0).withColumn(
        "op",
        F.when(F.col("event_type") == "error", "delete").otherwise("upsert"),
    )
    return apply_changelog(
        snap, chg, ["user_id"], ["ts", "event_id"], op_col="op"
    )


SQL_CDC_MERGE = """
    WITH ev AS (
        SELECT user_id, event_type, value, epoch_ns(ts) AS tsn, event_id
        FROM events
    ),
    snap AS (
        SELECT user_id, event_type, value FROM (
            SELECT user_id, event_type, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY tsn DESC, event_id DESC
                   ) AS rn
            FROM ev WHERE event_id % 3 = 0
        ) WHERE rn = 1
    ),
    latest AS (
        SELECT user_id, event_type, value,
               CASE WHEN event_type = 'error' THEN 'delete'
                    ELSE 'upsert' END AS op
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY tsn DESC, event_id DESC
                   ) AS rn
            FROM ev WHERE event_id % 3 <> 0
        ) WHERE rn = 1
    )
    SELECT s.user_id, s.event_type, s.value FROM snap s
    WHERE s.user_id NOT IN (SELECT user_id FROM latest)
    UNION ALL
    SELECT user_id, event_type, value FROM latest WHERE op <> 'delete'
"""


# ======================================================================
# resample_interp — linear-interpolated lattice (operators/history.py)
# ======================================================================
INTERP_BUCKET_NS = 3_600_000_000_000  # 1 hour
INTERP_MAX_USER = 100


def _resample_interp(spark: SparkSession, sf_dir: str, value) -> DataFrame:
    """resample_interp over the first users' events, ``value`` as values."""
    from emiproc_spark.operators.history import resample_interp

    ev = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") < INTERP_MAX_USER)
        .select("user_id", "ts", value, "event_id")
    )
    return resample_interp(
        ev, ["user_id"], "ts", "value", INTERP_BUCKET_NS, tiebreak=["event_id"]
    )


def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _resample_interp(spark, sf_dir, "value")


def _sql_interp_lattice(ev_where: str) -> str:
    """The resample_interp oracle over ``events`` filtered by ``ev_where``."""
    return f"""
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) AS tsn, value, event_id
        FROM events
        WHERE {ev_where}
    ),
    obs AS (
        SELECT user_id, b, value AS v, tsn AS t FROM (
            SELECT user_id, {sql_floor_div('tsn', INTERP_BUCKET_NS)} AS b, value, tsn,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, {sql_floor_div('tsn', INTERP_BUCKET_NS)}
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM ev) WHERE rn = 1
    ),
    bounds AS (
        SELECT user_id, MIN(b) AS b0, MAX(b) AS b1 FROM obs GROUP BY user_id
    ),
    lat AS (
        SELECT bounds.user_id, t.b
        FROM bounds, UNNEST(range(b0, b1 + 1)) AS t(b)
    ),
    j AS (
        SELECT lat.user_id, lat.b, obs.v, obs.t
        FROM lat LEFT JOIN obs
          ON obs.user_id = lat.user_id AND obs.b = lat.b
    ),
    w AS (
        SELECT user_id, b, v,
               LAST_VALUE(v IGNORE NULLS) OVER fwd AS pv,
               LAST_VALUE(t IGNORE NULLS) OVER fwd AS pt,
               LAST_VALUE(v IGNORE NULLS) OVER bwd AS nv,
               LAST_VALUE(t IGNORE NULLS) OVER bwd AS nt
        FROM j
        WINDOW fwd AS (PARTITION BY user_id ORDER BY b
                       ROWS UNBOUNDED PRECEDING),
               bwd AS (PARTITION BY user_id ORDER BY b DESC
                       ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, b * {INTERP_BUCKET_NS} AS bucket_start,
           FLOOR((CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv) *
                       (CAST(b * {INTERP_BUCKET_NS} - pt AS DOUBLE)
                        / CAST(nt - pt AS DOUBLE))
                  END) * 1e6 + 0.5) / 1e6 AS value_q6,
           v IS NULL AS is_gap
    FROM w
"""


SQL_RESAMPLE_INTERP = _sql_interp_lattice(
    f"user_id < {INTERP_MAX_USER} AND value IS NOT NULL"
)


# ======================================================================
# robust_outliers — median/MAD anomaly screen (operators/stats.py);
# the oracle locates both medians with the explicit rank/interpolation
# formula group_quantiles uses (type-7), NOT quantile_cont, so the
# arithmetic is mirrored term for term.
# ======================================================================
ROBUST_K = 3.5


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.stats import robust_outliers

    ev = fx.events(spark, sf_dir).select("event_type", "value")
    return robust_outliers(ev, ["event_type"], "value", k=ROBUST_K)


def _sql_median(src: str, gcol: str, vcol: str, out: str) -> str:
    """Rank-locate + type-7 interpolation, mirroring group_quantiles."""
    return f"""
        SELECT {gcol} AS g, n,
               vlo + (vhi - vlo) * ((n - 1) * 0.5 - FLOOR((n - 1) * 0.5))
                   AS {out}
        FROM (
            SELECT {gcol}, n,
                   MIN(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.5) AS BIGINT)
                                 + 1 THEN {vcol} END) AS vlo,
                   MIN(CASE WHEN rn = CAST(CEIL((n - 1) * 0.5) AS BIGINT)
                                 + 1 THEN {vcol} END) AS vhi
            FROM (
                SELECT {gcol}, {vcol},
                       ROW_NUMBER() OVER (
                           PARTITION BY {gcol} ORDER BY {vcol}) AS rn,
                       COUNT(*) OVER (PARTITION BY {gcol}) AS n
                FROM {src}
            ) GROUP BY {gcol}, n
        )"""


SQL_ROBUST_OUTLIERS = f"""
    WITH ev AS (
        SELECT event_type, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL
    ),
    med AS ({_sql_median('ev', 'event_type', 'v', 'med')}),
    dev AS (
        SELECT ev.event_type, ev.v, med.med,
               ABS(ev.v - med.med) AS dv
        FROM ev JOIN med ON med.g = ev.event_type
    ),
    mad AS ({_sql_median('dev', 'event_type', 'dv', 'mad')})
    SELECT d.event_type, COUNT(*) AS n,
           COUNT(CASE WHEN d.dv > {ROBUST_K} * mad.mad THEN 1 END)
               AS n_outliers,
           FLOOR(MIN(d.med) * 1e6 + 0.5) / 1e6 AS med,
           FLOOR(MIN(mad.mad) * 1e6 + 0.5) / 1e6 AS mad
    FROM dev d JOIN mad ON mad.g = d.event_type
    GROUP BY d.event_type
"""


# ======================================================================
# expectations / fk_integrity — declarative data-quality gates
# (operators/quality.py): the validation pass a pipeline runs on every
# new drop before curation.
# ======================================================================
_EXPECT_RULES = [
    ("o_orderkey", "not_null", {}),
    ("o_orderkey", "unique", {}),
    ("o_totalprice", "range", {"lo": 0.0}),
    ("o_orderstatus", "in_set", {"values": ["O", "F", "P"]}),
    ("o_orderpriority", "regex", {"pattern": "^[1-5]-[A-Z]"}),
    # a rule that FAILS on the fixture, so the violation path is live:
    # order keys are sparse, far beyond the row count
    ("o_orderkey", "range", {"hi": 1000.0}),
]


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.quality import validate_expectations

    return validate_expectations(
        fx.load(spark, sf_dir, "orders"), _EXPECT_RULES
    )


def _sql_one_rule(col: str, kind: str, cond: str) -> str:
    return f"""
    SELECT '{col}' AS "column", '{kind}' AS kind, COUNT(*) AS n_rows,
           CAST({cond} AS BIGINT) AS n_violations,
           {cond} = 0 AS pass
    FROM orders"""


SQL_EXPECTATIONS = " UNION ALL ".join(
    [
        _sql_one_rule(
            "o_orderkey", "not_null",
            "COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderkey", "unique",
            "COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)",
        ),
        _sql_one_rule(
            "o_totalprice", "range",
            "COUNT(CASE WHEN o_totalprice IS NOT NULL"
            " AND o_totalprice < 0.0 THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderstatus", "in_set",
            "COUNT(CASE WHEN o_orderstatus IS NOT NULL"
            " AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderpriority", "regex",
            "COUNT(CASE WHEN o_orderpriority IS NOT NULL AND NOT"
            " regexp_matches(o_orderpriority, '^[1-5]-[A-Z]') THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderkey", "range",
            "COUNT(CASE WHEN o_orderkey IS NOT NULL"
            " AND o_orderkey > 1000.0 THEN 1 END)",
        ),
    ]
)


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two referential audits: a clean one (lineitem→orders) and one
    with live orphans (events.user_id→customer.c_custkey: user ids
    start at 0, custkeys at 1)."""
    from emiproc_spark.operators.quality import fk_orphans

    li = fx.load(spark, sf_dir, "lineitem")
    orders = fx.load(spark, sf_dir, "orders")
    ev = fx.events(spark, sf_dir)
    cust = fx.load(spark, sf_dir, "customer")
    a = fk_orphans(li, orders, "l_orderkey", "o_orderkey", "lineitem.orders")
    b = fk_orphans(
        ev, cust, "user_id", "c_custkey", "events.customer"
    )
    return a.unionByName(b)


SQL_FK_INTEGRITY = """
    SELECT 'lineitem.orders' AS relation, COUNT(*) AS n_child,
           CAST(COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
                AS BIGINT) AS n_orphans,
           COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) = 0 AS pass
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'events.customer', COUNT(*),
           CAST(COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT),
           COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) = 0
    FROM events e
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON e.user_id = c.c_custkey
"""


# ======================================================================
# attribution — last-touch purchase→click attribution within a 7-day
# window (operators/joins.asof_join over the events stream): the
# canonical marketing/behavioral as-of use, and a second driver-grade
# exercise of the union+running-window as-of plan.
# ======================================================================
ATTR_TOL_NS = 7 * 24 * 3_600_000_000_000


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.joins import asof_join

    ev = fx.events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(
        purchases,
        clicks,
        "ts",
        ["user_id"],
        ["click_id"],
        tolerance=ATTR_TOL_NS,
        direction="backward",
    )
    # unattributed purchases carry -1 (not NULL): the parity canon
    # sorts rows column-wise and a nullable FIRST column cannot order
    # against strings — the registry-wide convention is null-free keys
    return out.select(
        "purchase_id",
        "user_id",
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.coalesce(F.col("ts") - F.col("ts_right"), F.lit(-1)).alias(
            "gap_ns"
        ),
    )


SQL_ATTRIBUTION = f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts) AS tsn
        FROM events
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, tsn
        FROM ev WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id,
           COALESCE(c.click_id, -1) AS click_id,
           COALESCE(p.tsn - c.ctsn, -1) AS gap_ns
    FROM p LEFT JOIN LATERAL (
        SELECT e.event_id AS click_id, e.tsn AS ctsn
        FROM ev e
        WHERE e.user_id = p.user_id AND e.event_type = 'click'
          AND e.tsn <= p.tsn AND e.tsn >= p.tsn - {ATTR_TOL_NS}
        ORDER BY e.tsn DESC, e.event_id DESC LIMIT 1
    ) c ON TRUE
"""


# ======================================================================
# quantile_quantum — the group_quantiles value_quantum knob under
# driver evidence: continuous doubles pre-rounded to a 0.25 quantum
# bound the histogram (operators/stats.group_quantiles).
# ======================================================================
QQ_QUANTILES = (0.5, 0.9)
QQ_QUANTUM = 0.25  # a power of two: rounded values are exact doubles


def q_quantile_quantum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.stats import group_quantiles

    ev = fx.events(spark, sf_dir).select("event_type", "value")
    out = group_quantiles(
        ev, ["event_type"], "value", QQ_QUANTILES, value_quantum=QQ_QUANTUM
    )
    return out.select("event_type", "q", qd("value").alias("value"))


def _sql_quantile_quantum() -> str:
    branches = " UNION ALL ".join(
        f"SELECT event_type, {q} AS q, quantile_cont(v, {q}) AS qv "
        "FROM r GROUP BY event_type"
        for q in QQ_QUANTILES
    )
    return f"""
    WITH r AS (
        SELECT event_type,
               FLOOR(value / {QQ_QUANTUM} + 0.5) * {QQ_QUANTUM} AS v
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, q, {sql_qd('qv')} AS value FROM ({branches})
"""


# ======================================================================
# resample_nulls — the NULL path of resample_interp, driver-verified
# ======================================================================
NULL_MOD = 13  # every 13th event_id carries a NULL value


def q_resample_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    value = F.when(F.col("event_id") % NULL_MOD == 0, F.lit(None).cast("double"))
    return _resample_interp(spark, sf_dir, value.otherwise(F.col("value")).alias("value"))


SQL_RESAMPLE_NULLS = _sql_interp_lattice(
    f"user_id < {INTERP_MAX_USER} AND event_id % {NULL_MOD} <> 0"
    " AND value IS NOT NULL"
)


# ======================================================================
# psi_drift — population-stability drift monitor between two snapshots
# (operators/stats.psi_drift).  Snapshots: even vs odd user ids, with
# the "actual" side's click values shifted 1.5× so the drift is real.
# ======================================================================
PSI_BREAKS = [10.0, 25.0, 50.0, 100.0, 200.0]


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.stats import psi_drift

    ev = fx.events(spark, sf_dir)
    expected = ev.where(F.col("user_id") % 2 == 0).select("value")
    actual = ev.where(F.col("user_id") % 2 == 1).select(
        F.when(F.col("event_type") == "click", F.col("value") * 1.5)
        .otherwise(F.col("value"))
        .alias("value")
    )
    return psi_drift(expected, actual, "value", PSI_BREAKS)


def _sql_psi_drift() -> str:
    nb = len(PSI_BREAKS) + 1
    binexpr = " + ".join(
        f"CASE WHEN CAST(value AS DOUBLE) >= {b!r} THEN 1 ELSE 0 END"
        for b in PSI_BREAKS
    )
    pe = f"(CAST(n_expected AS DOUBLE) + 1.0) / (CAST(ne AS DOUBLE) + {float(nb)!r})"
    pa = f"(CAST(n_actual AS DOUBLE) + 1.0) / (CAST(na AS DOUBLE) + {float(nb)!r})"
    return f"""
    WITH e AS (
        SELECT CAST({binexpr} AS INT) AS bin, COUNT(*) AS ce
        FROM events WHERE user_id % 2 = 0 AND value IS NOT NULL
        GROUP BY 1
    ),
    a0 AS (
        SELECT CASE WHEN event_type = 'click' THEN value * 1.5
               ELSE value END AS value
        FROM events WHERE user_id % 2 = 1 AND value IS NOT NULL
    ),
    a AS (
        SELECT CAST({binexpr} AS INT) AS bin, COUNT(*) AS ca
        FROM a0 GROUP BY 1
    ),
    bins AS (SELECT CAST(t.b AS INT) AS bin FROM UNNEST(range({nb})) t(b)),
    j AS (
        SELECT bins.bin,
               CAST(COALESCE(ce, 0) AS BIGINT) AS n_expected,
               CAST(COALESCE(ca, 0) AS BIGINT) AS n_actual
        FROM bins LEFT JOIN e USING (bin) LEFT JOIN a USING (bin)
    ),
    t AS (SELECT SUM(n_expected) AS ne, SUM(n_actual) AS na FROM j)
    SELECT bin, n_expected, n_actual,
           {sql_qd(f'(({pa}) - ({pe})) * LN(({pa}) / ({pe}))')} AS psi_term
    FROM j, t
"""


QUERIES = {
    "tpch_q1": (q_tpch_q1, SQL_TPCH_Q1),
    "revenue_by_nation": (q_revenue_by_nation, SQL_REVENUE_BY_NATION),
    "top_customers": (q_top_customers, SQL_TOP_CUSTOMERS),
    "order_priority": (q_order_priority, SQL_ORDER_PRIORITY),
    "events_daily": (q_events_daily, SQL_EVENTS_DAILY),
    "events_json_props": (q_events_json_props, SQL_EVENTS_JSON_PROPS),
    "window_running_total": (q_window_running_total, SQL_WINDOW_RUNNING_TOTAL),
    "supplier_rank": (q_supplier_rank, SQL_SUPPLIER_RANK),
    "cube_emissions": (q_cube_emissions, SQL_CUBE_EMISSIONS),
    "set_ops": (q_set_ops, SQL_SET_OPS),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "range_join": (q_range_join, SQL_RANGE_JOIN),
    "points_in_windows": (q_points_in_windows, SQL_POINTS_IN_WINDOWS),
    "heavy_hitters": (q_heavy_hitters, SQL_HEAVY_HITTERS),
    "bucketed_join": (q_bucketed_join, SQL_BUCKETED_JOIN),
    "delta_totals": (q_delta_totals, SQL_DELTA_TOTALS),
    "frame_sample": (q_frame_sample, SQL_FRAME_SAMPLE),
    "table_profile": (q_table_profile, SQL_TABLE_PROFILE),
    "interval_islands": (q_interval_islands, SQL_INTERVAL_ISLANDS),
    "scd2_history": (q_scd2_history, SQL_SCD2_HISTORY),
    "resample_locf": (q_resample_locf, SQL_RESAMPLE_LOCF),
    "zorder_layout": (q_zorder_layout, SQL_ZORDER_LAYOUT),
    "salted_join": (q_salted_join, SQL_SALTED_JOIN),
    "funnel": (q_funnel, SQL_FUNNEL),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "pagerank": (q_pagerank, SQL_PAGERANK),
    "value_outliers": (q_value_outliers, SQL_VALUE_OUTLIERS),
    "rolling_features": (q_rolling_features, SQL_ROLLING_FEATURES),
    "active_users": (q_active_users, SQL_ACTIVE_USERS),
    "group_quantiles": (q_group_quantiles, _sql_group_quantiles()),
    "nation_topk": (q_nation_topk, _sql_nation_topk()),
    "sql_api": (q_sql_api, SQL_API_STMT),
    "cdc_merge": (q_cdc_merge, SQL_CDC_MERGE),
    "resample_interp": (q_resample_interp, SQL_RESAMPLE_INTERP),
    "robust_outliers": (q_robust_outliers, SQL_ROBUST_OUTLIERS),
    "expectations": (q_expectations, SQL_EXPECTATIONS),
    "fk_integrity": (q_fk_integrity, SQL_FK_INTEGRITY),
    "attribution": (q_attribution, SQL_ATTRIBUTION),
    "quantile_quantum": (q_quantile_quantum, _sql_quantile_quantum()),
    "resample_nulls": (q_resample_nulls, SQL_RESAMPLE_NULLS),
    "psi_drift": (q_psi_drift, _sql_psi_drift()),
}
