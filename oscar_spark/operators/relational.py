"""Relational operator coverage over the driver's TPC-H-ish tables.

Each function demonstrates one line of SURVEY.md §2's operator inventory
on generic tables (the build/serve engine exercises them on the fulltext
path; these make the mapping driver-checkable against DuckDB):

  S1/S2  parquet scan + min/max pre-scan agg        → scan_minmax
  P1/P2  predicate filter + projection pushdown     → filtered_projection
  A1     groupBy count hash agg                     → group_counts
  A4     KV top-k stats (facet counts + window)     → (textstats.source_topk)
  A6     per-key max aggregation                    → score_max
  A8     distribution sweep (percentiles)           → order_stats
  J2     shuffle hash equi-join                     → orders_customer_join
  J5     broadcast small-dim join                   → revenue_by_nation
  O1     global sort + rank assignment              → ranked_parts
  O4     top-k cut (TakeOrderedAndProject)          → top_revenue_orders
  §2.6   set ops on keys (union/intersect/except)   → customer_set_ops
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # deliberately NOT scan.parallelize'd: these tables feed partial-
    # aggregating groupBys / joins directly, so a round-robin exchange
    # would shuffle full data rows to save a 1-2 task scan stage — a
    # net loss (unlike documents/embeddings, whose per-row compute is
    # the expensive part).  lineitem at sf1.0 already splits into
    # multiple scan tasks via its row groups.
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---- S2: min/max pre-scan (helpers.cpp:9-36 findNodeIdBounds analog) ----
def scan_minmax(spark, sf_dir):
    return _t(spark, sf_dir, "orders").agg(
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.count("*").alias("n"))


SCAN_MINMAX_SQL = ("SELECT MIN(o_orderkey) AS min_key, "
                   "MAX(o_orderkey) AS max_key, COUNT(*) AS n FROM orders")


# ---- P1: filter + projection (SaveDirector filters analog) ----
def filtered_projection(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_quantity") > 40)
                      & F.col("l_returnflag").isin("A", "R"))
            .select("l_orderkey", "l_quantity", "l_returnflag")
            .orderBy("l_orderkey", "l_quantity", "l_returnflag"))


FILTERED_PROJECTION_SQL = (
    "SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem "
    "WHERE l_quantity > 40 AND l_returnflag IN ('A', 'R') "
    "ORDER BY l_orderkey, l_quantity, l_returnflag")


# ---- A1/A8: TPC-H Q1 shape (groupBy + multi-agg; pricing summary) ----
def pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


PRICING_SUMMARY_SQL = (
    "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
    "ROUND(SUM(l_extendedprice), 2) AS sum_base_price, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
    "ROUND(AVG(l_quantity), 6) AS avg_qty, COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")


# ---- A6: per-key max (addScore max-aggregation analog) ----
def score_max(spark, sf_dir):
    return (_t(spark, sf_dir, "part")
            .groupBy("p_brand")
            .agg(F.max("p_retailprice").alias("max_price"),
                 F.count("*").alias("n_parts"))
            .orderBy("p_brand"))


SCORE_MAX_SQL = ("SELECT p_brand, MAX(p_retailprice) AS max_price, "
                 "COUNT(*) AS n_parts FROM part GROUP BY p_brand "
                 "ORDER BY p_brand")


# ---- J5: broadcast dim join (query-terms broadcast analog) ----
def revenue_by_nation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders"))
            .orderBy("n_name"))


REVENUE_BY_NATION_SQL = (
    "SELECT n_name, ROUND(SUM(o_totalprice), 2) AS revenue, "
    "COUNT(*) AS n_orders FROM orders "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY n_name ORDER BY n_name")


# ---- J2: shuffle equi-join ----
def orders_customer_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
            .orderBy("c_mktsegment"))


ORDERS_CUSTOMER_JOIN_SQL = (
    "SELECT c_mktsegment, COUNT(*) AS n, "
    "ROUND(AVG(o_totalprice), 4) AS avg_price FROM orders "
    "JOIN customer ON o_custkey = c_custkey "
    "GROUP BY c_mktsegment ORDER BY c_mktsegment")


# ---- O1: global sort + dense rank assignment (applySort docID analog) ----
def ranked_parts(spark, sf_dir, k: int = 100):
    p = _t(spark, sf_dir, "part")
    w = Window.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (p.select("p_partkey", "p_retailprice")
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .orderBy("rank").limit(k))


def ranked_parts_sql(k: int = 100) -> str:
    return ("SELECT p_partkey, p_retailprice, "
            "CAST(ROW_NUMBER() OVER (ORDER BY p_retailprice DESC, "
            "p_partkey ASC) AS BIGINT) AS rank "
            f"FROM part ORDER BY rank LIMIT {k}")


# ---- O4: top-k cut ----
def top_revenue_orders(spark, sf_dir, k: int = 20):
    return (_t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(k))


def top_revenue_orders_sql(k: int = 20) -> str:
    return ("SELECT o_orderkey, o_totalprice FROM orders "
            f"ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT {k}")


# ---- §2.6 set ops on generic keys ----
def customer_set_ops(spark, sf_dir):
    """Customers with orders XOR customers in segment BUILDING."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")).distinct()
    c = (_t(spark, sf_dir, "customer")
         .filter(F.col("c_mktsegment") == "BUILDING")
         .select(F.col("c_custkey").alias("custkey")).distinct())
    l = o.withColumn("_l", F.lit(1))
    r = c.withColumn("_r", F.lit(1))
    return (l.join(r, "custkey", "full_outer")
            .filter(F.col("_l").isNull() | F.col("_r").isNull())
            .select("custkey").orderBy("custkey"))


CUSTOMER_SET_OPS_SQL = (
    "SELECT custkey FROM ("
    "((SELECT DISTINCT o_custkey AS custkey FROM orders) UNION "
    "(SELECT DISTINCT c_custkey AS custkey FROM customer "
    "WHERE c_mktsegment = 'BUILDING')) EXCEPT "
    "((SELECT DISTINCT o_custkey AS custkey FROM orders) INTERSECT "
    "(SELECT DISTINCT c_custkey AS custkey FROM customer "
    "WHERE c_mktsegment = 'BUILDING'))) ORDER BY custkey")


# ---- A8: distribution sweep ----
def order_stats(spark, sf_dir):
    return (_t(spark, sf_dir, "orders")
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.round(F.min("o_totalprice"), 2).alias("min_price"),
                 F.round(F.max("o_totalprice"), 2).alias("max_price"),
                 F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
            .orderBy("o_orderstatus"))


ORDER_STATS_SQL = (
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "ROUND(MIN(o_totalprice), 2) AS min_price, "
    "ROUND(MAX(o_totalprice), 2) AS max_price, "
    "ROUND(AVG(o_totalprice), 4) AS avg_price "
    "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")


# ---- windowed event aggregation (hourly event counts;
# the reference has no streaming — §2.8 — this covers the events table) ----
def events_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("win_start"),
                       "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("total_value"))
            .orderBy("win_start", "event_type"))


EVENTS_HOURLY_SQL = (
    "SELECT date_trunc('hour', ts) AS win_start, event_type, "
    "COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value "
    "FROM events GROUP BY 1, 2 ORDER BY win_start, event_type")


# ---- sessionization (gap > 30 min ⇒ new session; lag + cumsum window) ----
def sessionize(spark, sf_dir, gap_min: int = 30):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ: no direct long cast; go via LTZ (session=UTC)
    sec = F.col("ts").cast("timestamp").cast("long")
    gap = sec - F.lag(sec).over(w)
    marked = ev.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > gap_min * 60), 1).otherwise(0))
    sess = marked.withColumn(
        "session_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("sess_start"))
            .orderBy("user_id", "session_id"))


def sessionize_sql(gap_min: int = 30) -> str:
    return (
        "WITH g AS (SELECT user_id, event_id, ts, "
        "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        f" IS NULL OR date_diff('second', lag(ts) OVER (PARTITION BY user_id"
        f" ORDER BY ts, event_id), ts) > {gap_min * 60} THEN 1 ELSE 0 END"
        " AS new_sess FROM events), "
        "s AS (SELECT user_id, ts, CAST(SUM(new_sess) OVER (PARTITION BY"
        " user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)"
        " AS session_id FROM g) "
        "SELECT user_id, session_id, COUNT(*) AS n_events, "
        "MIN(ts) AS sess_start FROM s GROUP BY user_id, session_id "
        "ORDER BY user_id, session_id")
