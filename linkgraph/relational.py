"""Relational ◇ operators exposed as driver queries with DuckDB oracles.

Each entry in ``REGISTRY`` is ``name -> (spark_fn, oracle_sql | None)`` where
``spark_fn(spark, sf_dir) -> DataFrame`` uses the idiomatic DataFrame API and
``oracle_sql`` is the ANSI-SQL equivalent DuckDB runs on the same parquet
(SURVEY.md §2 ◇ rows; driver contract __spark_entry__.py).

Rules (driver compare = row-count + schema + order-insensitive value hash):
- every computed column aliased identically on both sides;
- float aggregates rounded on BOTH sides so summation-order noise in double
  sums cannot flip the hash;
- timestamps reduced to integer year/month parts (dialect-neutral);
- LIMIT queries carry total tiebreaks so top-k is deterministic.

Entries with ``oracle_sql=None`` (iterative graph ops) get the driver's
weaker rows-only check; their exactness is covered by the pytest oracles
(networkx / numpy single-node reference — SURVEY.md §5).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# §2.2 projections / filters
# --------------------------------------------------------------------------

def q_filter_project(spark, sf_dir):
    """Pushdown-friendly filter + projection + computed column (ops 7, 8)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_quantity") > 45) & (F.col("l_discount") < 0.03))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        )
    )


SQL_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber, l_quantity,
       round(l_extendedprice * (1 - l_discount), 4) AS net_price
FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.03
"""


def q_dropdup(spark, sf_dir):
    """dropDuplicates on a subset (op 9)."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_custkey", "o_orderstatus").dropDuplicates()


SQL_DROPDUP = "SELECT DISTINCT o_custkey, o_orderstatus FROM orders"


# --------------------------------------------------------------------------
# §2.4 aggregations
# --------------------------------------------------------------------------

def q_agg_pricing(spark, sf_dir):
    """TPC-H Q1-shaped partial+final hash aggregate (op 17)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") < F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_AGG_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_distinct_count(spark, sf_dir):
    """distinct + count distinct (op 18)."""
    c = _t(spark, sf_dir, "customer")
    return c.agg(
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


SQL_DISTINCT_COUNT = """
SELECT count(DISTINCT c_mktsegment) AS n_segments,
       count(DISTINCT c_nationkey) AS n_nations
FROM customer
"""


def q_rollup(spark, sf_dir):
    """Rollup grouping sets (op 20)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


SQL_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_cube(spark, sf_dir):
    """Cube grouping sets (op 20)."""
    e = _t(spark, sf_dir, "events")
    return e.cube("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


SQL_CUBE = """
SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY CUBE (event_type)
"""


# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------

def q_join_region_revenue(spark, sf_dir):
    """3-way inner join + agg; small dims broadcast (ops 10, 11)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


SQL_JOIN_REGION_REVENUE = """
SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_join_left_orders(spark, sf_dir):
    """Left outer join keeping customers with zero orders (op 12)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


SQL_JOIN_LEFT_ORDERS = """
SELECT c_custkey, count(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def q_semi_customers(spark, sf_dir):
    """Left semi: customers that have at least one 'F' order (op 13)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


SQL_SEMI_CUSTOMERS = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
"""


def q_anti_customers(spark, sf_dir):
    """Left anti: customers with no high-value (>300k) order (op 13).

    The price predicate keeps the row non-vacuous: in the driver testdata
    every customer has at least one order, so 'no orders at all' returns 0
    rows on both engines — a gate that can never fail."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


SQL_ANTI_CUSTOMERS = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
"""


# --------------------------------------------------------------------------
# §2.5 windows
# --------------------------------------------------------------------------

def q_window_top_order(spark, sf_dir):
    """row_number: each customer's single most expensive order (op 24)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("top_price"))
    )


SQL_WINDOW_TOP_ORDER = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS top_price
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn = 1
"""


def q_window_lag_events(spark, sf_dir):
    """lag/lead over the per-user event stream (op 25)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
    )


SQL_WINDOW_LAG_EVENTS = """
SELECT user_id, event_id, event_type,
       lag(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
       lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
FROM events
"""


def q_dense_rank_parts(spark, sf_dir):
    """dense_rank within brand; keep top 3 price tiers (op 26)."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return (
        p.withColumn("price_rank", F.dense_rank().over(w))
        .where(F.col("price_rank") <= 3)
        .select("p_brand", "p_partkey", F.round("p_retailprice", 2).alias("price"), "price_rank")
    )


SQL_DENSE_RANK_PARTS = """
SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price, price_rank
FROM (SELECT *, dense_rank() OVER (PARTITION BY p_brand
                                   ORDER BY p_retailprice DESC) AS price_rank
      FROM part) WHERE price_rank <= 3
"""


def q_running_total(spark, sf_dir):
    """Framed analytic window: running order total per customer (op 27)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


SQL_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
"""


def q_running_distinct(spark, sf_dir):
    """Windowed DISTINCT aggregate (op 27's distinct sibling): per user,
    the running number of DISTINCT event types seen so far in stable
    (ts, event_id) order.  Spark has no count(DISTINCT) OVER — the
    idiomatic expression is size(collect_set() OVER); set state per frame
    is bounded by the event-type cardinality (small by construction), so
    this stays JVM-side and partition-parallel at any row count."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w)).alias("n_distinct_types"),
    )


SQL_RUNNING_DISTINCT = """
SELECT user_id, event_id,
       CAST(count(DISTINCT event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
         AS n_distinct_types
FROM events
"""


def q_unpivot_lineitem(spark, sf_dir):
    """Unpivot/melt (the inverse of the pivot row): four lineitem measures
    into long-format (measure, value) rows.  Catalyst compiles unpivot to a
    single Expand over ONE scan — four output rows per input row with no
    union of four scans and no shuffle, which is the only shape that holds
    at 100 TB (a 4-way self-union re-reads the table four times)."""
    li = _t(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    return li.select("l_orderkey", "l_linenumber", *measures).unpivot(
        ["l_orderkey", "l_linenumber"], measures, "measure", "value"
    )


SQL_UNPIVOT_LINEITEM = "\nUNION ALL\n".join(
    f"SELECT l_orderkey, l_linenumber, '{m}' AS measure, "
    f"CAST({m} AS DOUBLE) AS value FROM lineitem"
    for m in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
)


_MOVING_RANGE_S = 3600  # 1 h event-time trailing window


def q_moving_window(spark, sf_dir):
    """RANGE-framed analytic window over EVENT TIME (op 27's time-range
    sibling): per user, the count and mean turn gap of events inside a
    trailing 1-hour window ending at each event.  Spark's rangeBetween
    frames on a numeric sort key, so ts is projected to epoch seconds —
    the standard trick (and exactly how a 100 TB trailing-window job
    avoids a self-join: one Window pass, one shuffle on the partition
    key, frame evaluation streamed per partition)."""
    e = _t(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-_MOVING_RANGE_S, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 3).alias("val_1h"),
    )


SQL_MOVING_WINDOW = f"""
SELECT user_id, event_id,
       count(*) OVER w AS n_1h,
       round(sum(value) OVER w, 3) AS val_1h
FROM events
-- floor() mirrors Spark's unix_timestamp() WHOLE-second truncation;
-- DuckDB's epoch() keeps fractional microseconds, so without it a pair
-- of events ~exactly 1h apart frames differently (caught at sf0.1:
-- sub-second parts flipped 1/100000 rows)
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN {_MOVING_RANGE_S} PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# §2.6 sorts / top-k
# --------------------------------------------------------------------------

def q_topk_orders(spark, sf_dir):
    """Global top-10 by price (TakeOrderedAndProject; op 30)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .limit(10)
    )


SQL_TOPK_ORDERS = """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


# --------------------------------------------------------------------------
# §2.7 set ops
# --------------------------------------------------------------------------

def q_union_segments(spark, sf_dir):
    """union all of two filtered projections (op 31)."""
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.where(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.unionByName(b)


SQL_UNION_SEGMENTS = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey FROM customer WHERE c_acctbal > 9000
"""


def q_intersect_custkeys(spark, sf_dir):
    """intersectAll: customers ordering in both halves of the date range (op 32)."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.year("o_orderdate") <= 1996).select("o_custkey")
    b = o.where(F.year("o_orderdate") >= 1997).select("o_custkey")
    return a.distinct().intersectAll(b.distinct())


SQL_INTERSECT_CUSTKEYS = """
SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) <= 1996
INTERSECT ALL
SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) >= 1997
"""


def q_except_custkeys(spark, sf_dir):
    """exceptAll over distinct key sets (op 32)."""
    o = _t(spark, sf_dir, "orders")
    a = o.select("o_custkey").distinct()
    b = o.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    return a.exceptAll(b)


SQL_EXCEPT_CUSTKEYS = """
SELECT DISTINCT o_custkey FROM orders
EXCEPT ALL
SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


# --------------------------------------------------------------------------
# §2.8 scalar functions
# --------------------------------------------------------------------------

def q_string_ops(spark, sf_dir):
    """lower/trim/concat_ws/split + regexp_extract (ops 33, 34)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower(F.trim(F.col("p_name"))).alias("name_norm"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.regexp_extract(F.col("p_type"), "^([A-Z]+)", 1).alias("type_prefix"),
    )


SQL_STRING_OPS = """
SELECT p_partkey,
       lower(trim(p_name)) AS name_norm,
       concat_ws('|', p_brand, p_type) AS brand_type,
       string_split(p_name, ' ')[1] AS first_word,
       regexp_extract(p_type, '^([A-Z]+)', 1) AS type_prefix
FROM part
"""


def q_date_buckets(spark, sf_dir):
    """date_trunc-style month bucketing as integer parts (op 36)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


SQL_DATE_BUCKETS = """
SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
FROM orders GROUP BY 1, 2
"""


def q_date_trunc(spark, sf_dir):
    """Literal date_trunc month bucketing (op 36, named primitive)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").cast("string").alias("month_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


SQL_DATE_TRUNC = """
SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
       count(*) AS n_orders, round(avg(o_totalprice), 4) AS avg_price
FROM orders GROUP BY 1
"""


def q_time_window(spark, sf_dir):
    """Tumbling time-window aggregation via window() (op 36).  1-day windows
    align to UTC midnight (session tz pinned UTC), i.e. date_trunc('day')."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("date").cast("string").alias("day"),
            "n_events",
            "sum_value",
        )
    )


SQL_TIME_WINDOW = """
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1
"""


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — the third grouping-set form beside rollup and
    cube (op 20).  Declared through spark.sql over a temp view: still one
    Catalyst Expand+Aggregate plan, identical to the DataFrame forms."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_approx_distinct(spark, sf_dir):
    """approx_count_distinct (op 19, HLL++) with an rsd-bounded gate: the
    sketch estimate must land within 5% of the exact count (rsd=0.01).  The
    estimate itself is engine-specific (Spark HLL++ vs DuckDB HLL would
    never hash-match), so the row emits the EXACT count plus the bound
    verdict — a broken sketch flips approx_ok."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.agg(
            F.countDistinct("o_custkey").alias("exact_cnt"),
            F.approx_count_distinct("o_custkey", rsd=0.01).alias("_approx"),
        )
        .select(
            "exact_cnt",
            (
                F.abs(F.col("_approx") - F.col("exact_cnt"))
                <= 0.05 * F.col("exact_cnt")
            )
            .cast("long")
            .alias("approx_ok"),
        )
    )


SQL_APPROX_DISTINCT = """
SELECT count(DISTINCT o_custkey) AS exact_cnt, CAST(1 AS BIGINT) AS approx_ok
FROM orders
"""


def q_approx_percentile(spark, sf_dir):
    """approx_percentile (op 19 family, KLL-style quantile sketch) with a
    rank-error-bounded gate, same pattern as q_approx_distinct: the sketch
    median's TRUE rank must sit within 1% of n/2 (accuracy=10000 →
    ~0.01% theoretical rank error; the gate leaves generous slack).  The
    sketch value itself is engine-specific, so the row emits the exact
    median + verdict."""
    li = _t(spark, sf_dir, "lineitem")
    apx = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("apx"),
        F.count(F.lit(1)).alias("n"),
    )
    rank = (
        li.join(F.broadcast(apx))
        .agg(
            F.count_if(F.col("l_extendedprice") <= F.col("apx")).alias("rank_le"),
            F.first("n").alias("n"),
        )
    )
    exact = li.agg(
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("exact_median")
    )
    return rank.join(F.broadcast(exact)).select(
        "exact_median",
        (F.abs(F.col("rank_le") - F.col("n") / 2.0) <= 0.01 * F.col("n"))
        .cast("long")
        .alias("approx_ok"),
    )


SQL_APPROX_PERCENTILE = """
SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median,
       CAST(1 AS BIGINT) AS approx_ok
FROM lineitem
"""


def q_array_words(spark, sf_dir):
    """explode(split()) word frequency over part names (op 37)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_ARRAY_WORDS = """
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
GROUP BY word
"""


def q_json_props(spark, sf_dir):
    """JSON field extraction from events.props (op 38)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_JSON_PROPS = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
FROM events GROUP BY 1
"""


def q_higher_order_array(spark, sf_dir):
    """Higher-order array funcs on the embedding column (op 37):
    L1 norm via aggregate() and dim via size()."""
    em = _t(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + F.abs(x.cast("double")),
            ),
            4,
        ).alias("l1_norm"),
    )


SQL_HIGHER_ORDER_ARRAY = """
SELECT vec_id, len(embedding) AS dim,
       round(list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 4) AS l1_norm
FROM embeddings
"""


# --------------------------------------------------------------------------
# graph-shaped queries over the events table (SQL-expressible subset)
# --------------------------------------------------------------------------

_EVENTS_EDGE_SQL = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
)
SELECT event_type AS src_key, nxt AS dst_key, count(*) AS w
FROM ordered WHERE nxt IS NOT NULL
GROUP BY 1, 2
"""


def q_turn_edges(spark, sf_dir):
    """Consecutive-event edge derivation with multiplicities (ops 14, 41)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            F.col("event_type").alias("src_key"),
            F.lead("event_type").over(w).alias("dst_key"),
        )
        .where(F.col("dst_key").isNotNull())
        .groupBy("src_key", "dst_key")
        .agg(F.count(F.lit(1)).alias("w"))
    )


SQL_TURN_EDGES = _EVENTS_EDGE_SQL


def q_tool_edges(spark, sf_dir):
    """Invocation-style edges user -> event_type (op 42)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("src_key"),
            F.col("event_type").alias("dst_key"),
        )
        .groupBy("src_key", "dst_key")
        .agg(F.count(F.lit(1)).alias("w"))
    )


SQL_TOOL_EDGES = """
SELECT 'user:' || CAST(user_id AS VARCHAR) AS src_key, event_type AS dst_key,
       count(*) AS w
FROM events GROUP BY 1, 2
"""


def q_out_degrees(spark, sf_dir):
    """Degree table over the derived turn-edge list (op 45)."""
    edges = q_turn_edges(spark, sf_dir)
    return edges.groupBy("src_key").agg(
        F.count(F.lit(1)).alias("out_deg"),
        F.sum("w").cast("double").alias("out_w"),
    )


SQL_OUT_DEGREES = f"""
WITH e AS ({_EVENTS_EDGE_SQL})
SELECT src_key, count(*) AS out_deg, CAST(sum(w) AS DOUBLE) AS out_w
FROM e GROUP BY src_key
"""


def q_triangle_count(spark, sf_dir):
    """Exact triangle count of the undirected simple event-type graph via
    the 2-join oriented form (op 51, Catalyst-planned)."""
    e = q_turn_edges(spark, sf_dir).where(F.col("src_key") != F.col("dst_key"))
    und = (
        e.select(
            F.least("src_key", "dst_key").alias("u"),
            F.greatest("src_key", "dst_key").alias("v"),
        )
        .distinct()
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    wedges = e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & (F.col("e2.v") > F.col("e1.v")))
    tris = wedges.join(
        e3,
        (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
    )
    return tris.agg(F.count(F.lit(1)).alias("n_triangles"))


SQL_TRIANGLE_COUNT = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
), e AS (
  SELECT DISTINCT least(event_type, nxt) AS u, greatest(event_type, nxt) AS v
  FROM ordered WHERE nxt IS NOT NULL AND event_type <> nxt
)
SELECT count(*) AS n_triangles
FROM e e1
JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
"""


def q_pivot_orders(spark, sf_dir):
    """Pivot (groupBy().pivot() with an explicit value list — explicit so the
    plan needs no pre-scan job and the output schema is static, which is
    also the scale-safe form: an unbounded inferred pivot column set is a
    driver-memory hazard).  Oracle = conditional aggregation."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("n_f"),
        F.coalesce("O", F.lit(0)).alias("n_o"),
        F.coalesce("P", F.lit(0)).alias("n_p"),
    )


SQL_PIVOT_ORDERS = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority
"""


def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (median / p90) per group — both
    engines use the type-7 linear-interpolation definition, so the values
    are hash-comparable after rounding.  (approx_percentile exists as the
    scale path but its sketch is engine-specific, hence not the gate row.)"""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
        F.round(F.expr("percentile(l_discount, 0.5)"), 6).alias("median_disc"),
    )


SQL_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
       round(quantile_cont(l_discount, 0.5), 6) AS median_disc
FROM lineitem GROUP BY l_returnflag
"""


def q_ntile_customers(spark, sf_dir):
    """ntile(4) quartiles over a TOTAL order (acctbal, custkey — the
    tiebreak makes bucket assignment deterministic under ties), then
    per-bucket stats."""
    c = _t(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_acctbal", F.ntile(4).over(w).alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


SQL_NTILE_CUSTOMERS = """
SELECT quartile, count(*) AS n,
       round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal,
       round(avg(c_acctbal), 4) AS avg_bal
FROM (SELECT c_acctbal,
             ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
      FROM customer)
GROUP BY quartile
"""


def q_stats_agg(spark, sf_dir):
    """Statistical aggregates: corr / covar_samp / stddev_samp / var_samp
    (op 17 family).  Computed over SMALL-magnitude columns (discount, tax in
    [0, 0.1]) so 6-decimal rounding sits ~9 orders above double summation
    noise — the same aggregates over `l_extendedprice` (~1e4 per row, ~1e8
    sums) would hash-flip on engine-order differences."""
    li = _t(spark, sf_dir, "lineitem")
    # + 0.0 normalizes IEEE negative zero (round can emit -0.0 on one engine
    # and 0.0 on the other, which the string-compare hash sees as a diff)
    return li.groupBy("l_returnflag").agg(
        (F.round(F.corr("l_discount", "l_tax"), 6) + 0.0).alias("corr_dt"),
        (F.round(F.covar_samp("l_discount", "l_tax"), 6) + 0.0).alias("covar_dt"),
        (F.round(F.stddev_samp("l_discount"), 6) + 0.0).alias("sd_disc"),
        (F.round(F.var_samp("l_tax"), 6) + 0.0).alias("var_tax"),
    )


SQL_STATS_AGG = """
SELECT l_returnflag,
       round(corr(l_discount, l_tax), 6) + 0.0 AS corr_dt,
       round(covar_samp(l_discount, l_tax), 6) + 0.0 AS covar_dt,
       round(stddev_samp(l_discount), 6) + 0.0 AS sd_disc,
       round(var_samp(l_tax), 6) + 0.0 AS var_tax
FROM lineitem GROUP BY l_returnflag
"""


def q_posexplode(spark, sf_dir):
    """posexplode — lateral view with ordinality (op 37 family): token
    stream with 1-based positions; narrow, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.where(F.col("doc_id") < 100)
        .select("doc_id", F.posexplode(F.split(F.lower(F.trim(F.col("text"))), " ")))
        .select("doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("word"))
    )


SQL_POSEXPLODE = """
SELECT doc_id, g.i AS pos, w[g.i] AS word
FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
      FROM documents WHERE doc_id < 100),
     LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
"""


def q_agg_strings(spark, sf_dir):
    """Ordered string aggregation (collect_set + sort + join — op 17/37
    family): per nation, the sorted distinct market segments as one string.
    Emitted as a joined string rather than an array so the cross-engine
    hash compares a scalar, not engine-specific array formatting."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        ),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


SQL_AGG_STRINGS = """
SELECT c_nationkey,
       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
       count(DISTINCT c_mktsegment) AS n_segments
FROM customer GROUP BY c_nationkey
"""


_SESSION_GAP_S = 28800  # 8 h idle gap -> new session (4.7k sessions at sf0.01)


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the event log (op 24/25 family composed
    into the classic web-pipeline shape): a user's events split into
    sessions wherever the idle gap exceeds ``_SESSION_GAP_S``.

    ONE shuffle by ``user_id`` serves both window passes (lag to flag the
    gap, running sum to number sessions) and the final per-session groupBy —
    at 100 TB this is a single hash repartition of the event log; no
    self-join, no collect.  Timestamps compared as int64 epoch-microseconds
    on BOTH engines (unix_micros / epoch_us) so the gap predicate is exact
    at the boundary; all output columns are integers, hash-exact."""
    ev = _t(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    w = ev.select(
        "user_id",
        "event_id",
        "event_type",
        # ts is TIMESTAMP_NTZ; the session tz is pinned to UTC (session.py)
        # so the cast is a tz-free reinterpretation matching DuckDB epoch_us
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    ).withColumn("prev_us", F.lag("us").over(order))
    new_sess = (
        F.col("prev_us").isNull()
        | (F.col("us") - F.col("prev_us") > _SESSION_GAP_S * 1_000_000)
    ).cast("long")
    s = w.withColumn("sess", F.sum(new_sess).over(order))
    return (
        s.groupBy("user_id", "sess")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("us") - F.min("us")).alias("dur_us"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


def q_tool_latency(spark, sf_dir):
    """Per-tool invocation-latency profile (§2.15 row 200): the think-time
    gap between a user's consecutive events, attributed to the LATER
    event's type — the responsiveness audit of a transcript pipeline
    ("which tools follow long stalls").  Exact type-7 percentiles like
    ``q_percentiles`` (approx_percentile is the 100 TB path); gaps are
    int64 epoch-microsecond differences, exact on both engines.  One
    user_id shuffle for the lag window, then one combinable groupBy —
    the same single-Exchange shape as sessionize.  Output
    (event_type, n_gaps, p50_s, p95_s, max_us)."""
    ev = _t(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    w = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    g = (
        w.withColumn("gap_us", F.col("us") - F.lag("us").over(order))
        .where(F.col("gap_us").isNotNull())
    )
    # percentiles are emitted in SECONDS at millisecond precision: the
    # raw microsecond magnitudes (~1e11) sit below one double ulp of the
    # 6-decimal round, so engine-formula ulp noise would flip the hash
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap_us, 0.5)") / 1e6, 3).alias("p50_s"),
        F.round(F.expr("percentile(gap_us, 0.95)") / 1e6, 3).alias("p95_s"),
        F.max("gap_us").alias("max_us"),
    )


def q_tool_position(spark, sf_dir):
    """Tool position-in-conversation profile (§2.15 row 205): where in a
    user's ordered event stream each tool tends to fire (signup early,
    purchase late).  Relative position rk/n is integer-quantized to ppm
    (rk·10^6 // n) so every per-group sum is exact across engines; the
    p50 interpolates on ~1e6-magnitude ints, far above double ulp at the
    6-decimal round.  Same single user_id Exchange as sessionize, then a
    combinable groupBy.  Output (event_type, n_events, mean_relpos,
    p50_relpos) with positions back in (0, 1]."""
    ev = _t(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    cnt = Window.partitionBy("user_id")
    w = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    pos = w.select(
        "event_type",
        (
            (F.row_number().over(order).cast("long") * F.lit(1_000_000))
            / F.count(F.lit(1)).over(cnt).cast("long")
        ).cast("long").alias("posq"),
    )
    return pos.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("posq") / 1e6, 6).alias("mean_relpos"),
        F.round(F.expr("percentile(posq, 0.5)") / 1e6, 6).alias("p50_relpos"),
    )


SQL_TOOL_POSITION = """
WITH w AS (
  SELECT event_type,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS BIGINT)
           * 1000000
           // count(*) OVER (PARTITION BY user_id) AS posq
  FROM events
)
SELECT event_type, count(*) AS n_events,
       round(avg(CAST(posq AS DOUBLE)) / 1e6, 6) AS mean_relpos,
       round(quantile_cont(CAST(posq AS DOUBLE), 0.5) / 1e6, 6) AS p50_relpos
FROM w GROUP BY event_type
"""


SQL_TOOL_LATENCY = """
WITH w AS (
  SELECT event_type, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev
  FROM events
), g AS (
  SELECT event_type, us - prev AS gap_us FROM w WHERE prev IS NOT NULL
)
SELECT event_type, count(*) AS n_gaps,
       round(quantile_cont(CAST(gap_us AS DOUBLE), 0.5) / 1e6, 3) AS p50_s,
       round(quantile_cont(CAST(gap_us AS DOUBLE), 0.95) / 1e6, 3) AS p95_s,
       max(gap_us) AS max_us
FROM g GROUP BY event_type
"""


def q_user_burstiness(spark, sf_dir):
    """Per-user inter-event burstiness (§2.15 row 209) — Goh & Barabási's
    B = (σ−μ)/(σ+μ) over the inter-event gap distribution: −1 is a
    perfectly regular stream, 0 Poisson, →1 bursty.  Transcript pipelines
    use it to separate scripted/agentic actors (regular cadence) from
    humans (bursty).  Gaps are floor-second int64 diffs; the sufficient
    statistics (n, Σg, and the dispersion D = n·Σg² − (Σg)²) are exact
    integers on both engines, and B = (√D − Σg)/(√D + Σg) — the n's
    cancel — is a sqrt/divide of identical doubles, so the 6-decimal
    round is deterministic.  One user_id Exchange for the lag window,
    then a combinable groupBy on the same key (same single-shuffle shape
    as sessionize).  int64 headroom: n·Σg² stays under 2^63 to ~1e6
    events/user at day-scale gaps; beyond that the two sums move to
    decimal(38,0).  Output (user_id, n_gaps, sum_gap_s, disp,
    burstiness)."""
    ev = _t(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("s", "event_id")
    w = ev.select(
        "user_id",
        "event_id",
        # NTZ → TZ cast is identity under the session's pinned UTC tz
        F.unix_seconds(F.col("ts").cast("timestamp")).alias("s"),
    )
    g = (
        w.withColumn("gap", F.col("s") - F.lag("s").over(order))
        .where(F.col("gap").isNotNull())
    )
    agg = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").alias("sum_gap_s"),
        F.sum(F.col("gap") * F.col("gap")).alias("sq"),
    ).where(F.col("n_gaps") >= 2)
    disp = F.col("n_gaps") * F.col("sq") - F.col("sum_gap_s") * F.col("sum_gap_s")
    rt = F.sqrt(disp.cast("double"))
    sg = F.col("sum_gap_s").cast("double")
    return agg.select(
        "user_id",
        "n_gaps",
        "sum_gap_s",
        disp.alias("disp"),
        F.when(
            rt + sg > 0, F.round((rt - sg) / (rt + sg), 6)
        ).otherwise(F.lit(0.0)).alias("burstiness"),
    )


SQL_USER_BURSTINESS = """
WITH w AS (
  SELECT user_id,
         epoch_ms(ts) // 1000 AS s,
         lag(epoch_ms(ts) // 1000) OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts) // 1000, event_id
         ) AS prev
  FROM events
), g AS (
  SELECT user_id, s - prev AS gap FROM w WHERE prev IS NOT NULL
), a AS (
  SELECT user_id, count(*) AS n_gaps,
         CAST(sum(gap) AS BIGINT) AS sum_gap_s,
         CAST(sum(gap * gap) AS BIGINT) AS sq
  FROM g GROUP BY user_id HAVING count(*) >= 2
), d AS (
  SELECT user_id, n_gaps, sum_gap_s,
         n_gaps * sq - sum_gap_s * sum_gap_s AS disp
  FROM a
)
SELECT user_id, n_gaps, sum_gap_s, disp,
       CASE WHEN sqrt(CAST(disp AS DOUBLE)) + sum_gap_s > 0
            THEN round((sqrt(CAST(disp AS DOUBLE)) - sum_gap_s)
                       / (sqrt(CAST(disp AS DOUBLE)) + sum_gap_s), 6)
            ELSE 0.0 END AS burstiness
FROM d
"""


def q_tool_runs(spark, sf_dir):
    """Consecutive same-tool run-length profile (§2.15 row 212) — the
    gaps-and-islands shape over the per-user event stream: a run is a
    maximal stretch of identical event_type, found by a cumulative sum of
    change markers (lag + running sum share ONE user_id sort, so the
    whole op is a single Exchange + single Sort, then two combinable
    groupBys).  Agentic transcripts show long same-tool runs (retry
    loops); human streams alternate.  mean run length ships as exact
    int64 micro-units.  Output (event_type, n_runs, total_len, max_run,
    mean_run_micro)."""
    ev = _t(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    w = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    marked = w.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(order).isNull()
            | (F.lag("event_type").over(order) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    runs = (
        marked.withColumn(
            "run_id",
            F.sum("chg").over(
                order.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "run_id", "event_type")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    agg = runs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("len").alias("total_len"),
        F.max("len").alias("max_run"),
    )
    a = (
        F.lit(2000000).cast("long") * F.col("total_len") + F.col("n_runs")
    )
    b = F.lit(2).cast("long") * F.col("n_runs")
    return agg.select(
        "event_type", "n_runs", "total_len", "max_run",
        ((a - a % b) / b).cast("long").alias("mean_run_micro"),
    )


SQL_TOOL_RUNS = """
WITH w AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev
  FROM events
), m AS (
  SELECT user_id, event_type, us, event_id,
         CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg
  FROM w
), r AS (
  SELECT user_id, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_id
  FROM m
), runs AS (
  SELECT user_id, run_id, event_type, count(*) AS len
  FROM r GROUP BY user_id, run_id, event_type
), agg AS (
  SELECT event_type, count(*) AS n_runs,
         CAST(sum(len) AS BIGINT) AS total_len,
         CAST(max(len) AS BIGINT) AS max_run
  FROM runs GROUP BY event_type
)
SELECT event_type, n_runs, total_len, max_run,
       CAST((2000000 * total_len + n_runs) // (2 * n_runs) AS BIGINT)
         AS mean_run_micro
FROM agg
"""


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix (§2.15 row 213): users cohorted by the
    epoch-week of their first event; each cell counts distinct users from
    cohort week W still active at week W+k.  The product-analytics
    staple, and the engagement-decay audit of a transcript corpus.  All
    cells are exact integer counts over exact floor-week int64 buckets
    (epoch-seconds // 604800 — no calendar/dialect drift).  One user_id
    Exchange for the per-user first-week window, one distinct + one
    combinable groupBy.  Output (cohort_week, week_offset, n_users)."""
    ev = _t(spark, sf_dir, "events")
    s = F.unix_seconds(F.col("ts").cast("timestamp"))
    week = ((s - s % 604800) / 604800).cast("long")
    w = Window.partitionBy("user_id")
    cells = (
        ev.select("user_id", week.alias("week"))
        .withColumn("cohort_week", F.min("week").over(w))
        .select("user_id", "cohort_week", "week")
        .distinct()
    )
    return (
        cells.groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


SQL_COHORT_RETENTION = """
WITH w AS (
  SELECT user_id, epoch_ms(ts) // 1000 // 604800 AS week FROM events
), c AS (
  SELECT user_id, week,
         min(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM w
), cells AS (
  SELECT DISTINCT user_id, cohort_week, week FROM c
)
SELECT cohort_week, week - cohort_week AS week_offset,
       count(*) AS n_users
FROM cells GROUP BY cohort_week, week - cohort_week
"""


_WAU_DAYS = 7
_MAU_DAYS = 28


def q_active_users(spark, sf_dir):
    """Rolling active users (§2.15 row 218): per day, the distinct users
    active that day (DAU), in the trailing 7 days (WAU), and the trailing
    28 days (MAU), plus DAU/MAU stickiness as exact int64 micro-units —
    the engagement dashboard every corpus-collection pipeline reports.
    Exact distinct-over-window cannot pre-aggregate (the same user must
    not double-count across days), so the standard exact shape is used:
    dedup to one (user, day) row — the only corpus-sized shuffle — then
    fan each row out to the ≤28 window days it supports via a range join
    against the (tiny) day list and count distinct users per (day, span).
    At 100 TB the fan-out is bounded ×28 on the DEDUPED table, orders of
    magnitude below the raw event count; the approximate path would swap
    the distinct for an HLL sketch union.  Days are exact int64 epoch
    days (epoch-s // 86400).  Output (day, dau, wau, mau,
    stickiness_micro)."""
    ev = _t(spark, sf_dir, "events")
    s = F.unix_seconds(F.col("ts").cast("timestamp"))
    day = ((s - s % 86400) / 86400).cast("long")
    ud = ev.select("user_id", day.alias("d")).distinct()
    days = ud.select("d").distinct().select(F.col("d").alias("day"))
    j = days.join(
        ud,
        (F.col("d") <= F.col("day"))
        & (F.col("d") > F.col("day") - _MAU_DAYS),
    )
    agg = j.groupBy("day").agg(
        F.count_distinct(
            F.when(F.col("d") == F.col("day"), F.col("user_id"))
        ).alias("dau"),
        F.count_distinct(
            F.when(F.col("d") > F.col("day") - _WAU_DAYS, F.col("user_id"))
        ).alias("wau"),
        F.count_distinct("user_id").alias("mau"),
    )
    a = F.lit(2000000).cast("long") * F.col("dau") + F.col("mau")
    b = F.lit(2).cast("long") * F.col("mau")
    return agg.select(
        "day", "dau", "wau", "mau",
        ((a - a % b) / b).cast("long").alias("stickiness_micro"),
    ).orderBy("day")


SQL_ACTIVE_USERS = f"""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // 1000 // 86400 AS d FROM events
), days AS (
  SELECT DISTINCT d AS day FROM ud
), j AS (
  SELECT days.day, ud.user_id, ud.d
  FROM days JOIN ud
    ON ud.d <= days.day AND ud.d > days.day - {_MAU_DAYS}
), agg AS (
  SELECT day,
         CAST(count(DISTINCT CASE WHEN d = day THEN user_id END) AS BIGINT)
           AS dau,
         CAST(count(DISTINCT CASE WHEN d > day - {_WAU_DAYS} THEN user_id END)
              AS BIGINT) AS wau,
         CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM j GROUP BY day
)
SELECT day, dau, wau, mau,
       (2000000 * dau + mau) // (2 * mau) AS stickiness_micro
FROM agg ORDER BY day
"""


SQL_SESSIONIZE = f"""
WITH w AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
  FROM events
), s AS (
  SELECT user_id, event_type, us,
         CAST(sum(CASE WHEN prev_us IS NULL
                         OR us - prev_us > CAST({_SESSION_GAP_S} AS BIGINT) * 1000000
                       THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS sess
  FROM w
)
SELECT user_id, sess, count(*) AS n_events,
       max(us) - min(us) AS dur_us,
       count(DISTINCT event_type) AS n_types
FROM s GROUP BY user_id, sess
"""


def q_percent_rank(spark, sf_dir):
    """percent_rank / cume_dist / first_value analytic windows (op 26
    family) over customers within market segment, deterministic via the
    c_custkey tiebreak; one shuffle on the partition key."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_mktsegment",
        "c_custkey",
        (F.round(F.percent_rank().over(w), 6) + 0.0).alias("pr"),
        (F.round(F.cume_dist().over(w), 6) + 0.0).alias("cd"),
        F.first("c_name").over(w).alias("poorest"),
    )


SQL_PERCENT_RANK = """
SELECT c_mktsegment, c_custkey,
       round(percent_rank() OVER w, 6) + 0.0 AS pr,
       round(cume_dist() OVER w, 6) + 0.0 AS cd,
       first_value(c_name) OVER w AS poorest
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


def q_cond_agg(spark, sf_dir):
    """Conditional aggregation (op 17 family): count_if + filtered sum/avg
    via CASE — the predicate lives inside the aggregate, so one map-side
    combinable pass instead of N filtered scans."""
    li = _t(spark, sf_dir, "lineitem")
    hi_disc = F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))
    return li.groupBy("l_linestatus").agg(
        F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
        F.round(F.sum(F.coalesce(hi_disc, F.lit(0.0))), 2).alias("disc_rev"),
        (F.round(F.avg(hi_disc), 4) + 0.0).alias("avg_disc_price"),
    )


SQL_COND_AGG = """
SELECT l_linestatus,
       count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
       round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END), 2) AS disc_rev,
       round(avg(CASE WHEN l_discount > 0.05 THEN l_extendedprice END), 4) + 0.0 AS avg_disc_price
FROM lineitem GROUP BY l_linestatus
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# product-analytics compositions over the events stream: ordered funnel
# conversion and trailing-baseline rate anomaly detection
# --------------------------------------------------------------------------

_FUNNEL = ["view", "click", "purchase"]


def q_funnel(spark, sf_dir):
    """Ordered funnel conversion (view → click → purchase): a user counts
    for stage k only with an event STRICTLY LATER than their stage-k−1
    entry time — the standard product-analytics ordered funnel, not mere
    set intersection.  Per stage one filtered min-aggregate plus one
    broadcast-able join on user_id; at 100 TB the funnel is k combinable
    passes over the same scan, no self-join of the full stream.
    Output (stage_idx, stage, n_users) with n_users non-increasing."""
    e = _t(spark, sf_dir, "events")
    reached = (
        e.where(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    out = [(1, _FUNNEL[0], reached)]
    for i, stage in enumerate(_FUNNEL[1:], start=2):
        prev = out[-1][2].select("user_id", F.col("t").alias("t_prev"))
        reached = (
            e.where(F.col("event_type") == stage)
            .join(prev, "user_id")
            .where(F.col("ts") > F.col("t_prev"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        out.append((i, stage, reached))
    counts = None
    for i, stage, df in out:
        row = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("stage_idx"), F.lit(stage).alias("stage"), "n_users"
        )
        counts = row if counts is None else counts.unionByName(row)
    return counts


SQL_FUNNEL = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts > s1.t
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > s2.t
  GROUP BY e.user_id
)
SELECT 1 AS stage_idx, '{_FUNNEL[0]}' AS stage, count(*) AS n_users FROM s1
UNION ALL
SELECT 2, '{_FUNNEL[1]}', count(*) FROM s2
UNION ALL
SELECT 3, '{_FUNNEL[2]}', count(*) FROM s3
"""


_ANOM_BASELINE = 24  # trailing buckets per (type) used as the baseline
_ANOM_Z = 2.0


def q_rate_anomaly(spark, sf_dir):
    """Trailing-baseline rate anomaly detection: hourly event counts per
    type, z-scored against the mean/stddev of the PRECEDING 24 observed
    buckets (ROWS frame — strictly historical, no leakage from the
    current bucket).  Emits only |z| >= 2 rows; monitoring over an event
    stream at 100 TB is exactly this shape — one combinable count, one
    window pass partitioned by type.  Output (event_type, hour, n, z)."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-_ANOM_BASELINE, -1)
    )
    scored = hourly.select(
        "event_type",
        "hour",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sd"),
    ).where(F.col("sd").isNotNull() & (F.col("sd") > 0))
    return (
        scored.select(
            "event_type",
            "hour",
            "n",
            (F.round((F.col("n") - F.col("mu")) / F.col("sd"), 6) + 0.0).alias("z"),
        )
        .where(F.abs(F.col("z")) >= _ANOM_Z)
    )


SQL_RATE_ANOMALY = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, hour, n,
         avg(n) OVER w AS mu,
         stddev_samp(n) OVER w AS sd
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN {_ANOM_BASELINE} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, n,
       round((n - mu) / sd, 6) + 0.0 AS z
FROM scored
WHERE sd IS NOT NULL AND sd > 0 AND abs(round((n - mu) / sd, 6) + 0.0) >= {_ANOM_Z}
"""


_PATH_LEN = 3
_PATH_TOPK = 15


def q_session_paths(spark, sf_dir):
    """Session path mining: the top-15 most common opening event-type
    sequences (first ``_PATH_LEN`` events of each gap-session, in event
    order) — the navigation-pattern query of every product-analytics
    stack.  Reuses the single-shuffle sessionization, then one windowed
    prefix filter + one combinable path count; the path string is built
    from an ordered struct sort, never a collect.
    Output (rank, path, n_sessions)."""
    ev = _t(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    w = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    ).withColumn("prev_us", F.lag("us").over(order))
    new_sess = (
        F.col("prev_us").isNull()
        | (F.col("us") - F.col("prev_us") > _SESSION_GAP_S * 1_000_000)
    ).cast("long")
    s = w.withColumn("sess", F.sum(new_sess).over(order))
    pos = Window.partitionBy("user_id", "sess").orderBy("us", "event_id")
    prefix = s.withColumn("pos", F.row_number().over(pos)).where(
        F.col("pos") <= _PATH_LEN
    )
    paths = prefix.groupBy("user_id", "sess").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    rw = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return counts.select(
        F.row_number().over(rw).alias("rank"), "path", "n_sessions"
    ).where(F.col("rank") <= _PATH_TOPK)


SQL_SESSION_PATHS = f"""
WITH w AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev_us
  FROM events
), s AS (
  SELECT *, sum(CASE WHEN prev_us IS NULL
                     OR us - prev_us > CAST({_SESSION_GAP_S} AS BIGINT) * 1000000
                THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY us, event_id) AS sess
  FROM w
), prefix AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sess
                               ORDER BY us, event_id) AS pos
  FROM s QUALIFY pos <= {_PATH_LEN}
), paths AS (
  SELECT user_id, sess,
         string_agg(event_type, '>' ORDER BY pos) AS path
  FROM prefix GROUP BY user_id, sess
), counts AS (
  SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
)
SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INT) AS rank,
       path, n_sessions
FROM counts
QUALIFY rank <= {_PATH_TOPK}
"""


# --------------------------------------------------------------------------
# SCD2 dimension versioning: fold a deterministic update feed into
# validity-interval rows (the warehouse slowly-changing-dimension type 2
# pattern: one window pass closes each version at its successor's start)
# --------------------------------------------------------------------------

_SCD2_MOD = 7           # every 7th customer receives one segment update
_SCD2_EPOCH = "1990-01-01"
_SCD2_EFFECTIVE = "1996-06-15"


def q_scd2(spark, sf_dir):
    """SCD2 versioning of the customer dimension under a deterministic
    in-query update feed (every ``_SCD2_MOD``-th customer moves to segment
    'UPGRADED' effective 1996-06-15 — the synthetic tables carry no CDC
    feed, so the feed is the fixture; the fold is the real pattern):
    base rows open at the epoch, updates append, and ONE window pass per
    key closes each version at its successor's start (`lead`), marking
    the open-ended row current.  At 100 TB this is a union + a single
    shuffle on the dimension key — no per-update MERGE round-trips.
    Output (c_custkey, segment, valid_from, valid_to, is_current)."""
    c = _t(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(_SCD2_EPOCH).cast("date").alias("valid_from"),
    )
    upd = c.where(F.col("c_custkey") % _SCD2_MOD == 0).select(
        "c_custkey",
        F.lit("UPGRADED").alias("segment"),
        F.lit(_SCD2_EFFECTIVE).cast("date").alias("valid_from"),
    )
    w = Window.partitionBy("c_custkey").orderBy("valid_from")
    return (
        base.unionByName(upd)
        .select(
            "c_custkey",
            "segment",
            "valid_from",
            F.lead("valid_from").over(w).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull().cast("long"))
        # dates emitted as ISO strings: Spark DATE arrives as datetime.date,
        # DuckDB DATE as a pandas Timestamp — the string hash would differ
        .withColumn("valid_from", F.col("valid_from").cast("string"))
        .withColumn("valid_to", F.col("valid_to").cast("string"))
    )


SQL_SCD2 = f"""
WITH feed AS (
  SELECT c_custkey, c_mktsegment AS segment,
         DATE '{_SCD2_EPOCH}' AS valid_from
  FROM customer
  UNION ALL
  SELECT c_custkey, 'UPGRADED', DATE '{_SCD2_EFFECTIVE}'
  FROM customer WHERE c_custkey % {_SCD2_MOD} = 0
)
SELECT c_custkey, segment,
       CAST(valid_from AS VARCHAR) AS valid_from,
       CAST(lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from)
            AS VARCHAR) AS valid_to,
       CAST(CASE WHEN lead(valid_from) OVER (PARTITION BY c_custkey
            ORDER BY valid_from) IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_current
FROM feed
"""


# --------------------------------------------------------------------------
# Bloom-filter semi-join reduction (§2.15 row 182): the classic shuffle-saver
# for big-probe/mid-build joins — build a Bloom filter over the build-side
# keys, broadcast it, and pre-filter the probe side BEFORE the shuffle join.
# Spark 3.3+ injects runtime row-group Bloom filters for exactly this; here
# the filter is explicit so the gate can check the arithmetic (bit set, pass
# counts, measured false-positive rate) bit-for-bit against DuckDB.
# At 100 TB: the bit set is <= _BLOOM_M rows (a few KB broadcast); the probe
# side is reduced by ~(1 - selectivity) before any shuffle; no collect.
# --------------------------------------------------------------------------

_BLOOM_M = 2048   # bits (sized so the gate actually exercises the FP path)
_BLOOM_K = 3      # hash functions
_BLOOM_SEG = "BUILDING"  # build side: customers in this segment


def _bloom_bit(j: int, col):
    """Bit position of hash j for a bigint key — md5-based so Spark and
    DuckDB agree bit-for-bit (datapipe._md5_int convention)."""
    from .datapipe import _md5_int

    return (
        _md5_int(F.concat(F.lit(f"bloom{j}:"), col.cast("string"))) % _BLOOM_M
    )


def q_bloom_semijoin(spark, sf_dir):
    """Bloom-filter join pruning: build the bit set over BUILDING-segment
    custkeys, probe every orders row through the k hash positions via
    broadcast joins, and report probe/pass/member/false-positive counts
    plus the measured false-positive rate.  Bloom filters admit no false
    negatives, so ``n_bloom_pass >= n_member`` by construction and the
    gate checks the exact overshoot."""
    from pyspark.sql.functions import broadcast

    cust = _t(spark, sf_dir, "customer")
    build = cust.where(F.col("c_mktsegment") == _BLOOM_SEG).select(
        F.col("c_custkey").alias("k")
    )
    bits = None
    for j in range(_BLOOM_K):
        bj = build.select(_bloom_bit(j, F.col("k")).alias("bit"))
        bits = bj if bits is None else bits.unionByName(bj)
    bits = bits.distinct()

    probe = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    marked = probe.join(
        broadcast(build.withColumnRenamed("k", "mk").withColumn("m", F.lit(1))),
        probe["k"] == F.col("mk"),
        "left",
    ).drop("mk")
    for j in range(_BLOOM_K):
        bj = broadcast(
            bits.select(F.col("bit").alias(f"b{j}"), F.lit(1).alias(f"p{j}"))
        )
        marked = marked.join(
            bj, _bloom_bit(j, F.col("k")) == F.col(f"b{j}"), "left"
        ).drop(f"b{j}")
    passed = (
        F.col("p0").isNotNull() & F.col("p1").isNotNull() & F.col("p2").isNotNull()
    ).cast("long")
    is_member = F.col("m").isNotNull().cast("long")
    return marked.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(is_member).alias("n_member"),
        F.sum(passed).alias("n_bloom_pass"),
        F.sum(passed * (1 - is_member)).alias("n_false_pos"),
        F.round(
            F.sum(passed * (1 - is_member)).cast("double")
            / (F.count(F.lit(1)) - F.sum(is_member)),
            6,
        ).alias("fp_rate"),
    )


def _sql_bloom_bit(j: int, expr: str) -> str:
    from .datapipe import _sql_md5_int

    keyed = f"'bloom{j}:' || CAST({expr} AS VARCHAR)"
    return f"({_sql_md5_int(keyed)} % {_BLOOM_M})"


SQL_BLOOM_SEMIJOIN = f"""
WITH build AS (
  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = '{_BLOOM_SEG}'
), bits AS (
  SELECT DISTINCT bit FROM (
    SELECT {_sql_bloom_bit(0, 'k')} AS bit FROM build
    UNION ALL SELECT {_sql_bloom_bit(1, 'k')} FROM build
    UNION ALL SELECT {_sql_bloom_bit(2, 'k')} FROM build
  )
), marked AS (
  SELECT p.o_custkey AS k,
         CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END AS m,
         CASE WHEN b0.bit IS NOT NULL AND b1.bit IS NOT NULL
                   AND b2.bit IS NOT NULL THEN 1 ELSE 0 END AS pass
  FROM orders p
  LEFT JOIN build b ON b.k = p.o_custkey
  LEFT JOIN bits b0 ON b0.bit = {_sql_bloom_bit(0, 'p.o_custkey')}
  LEFT JOIN bits b1 ON b1.bit = {_sql_bloom_bit(1, 'p.o_custkey')}
  LEFT JOIN bits b2 ON b2.bit = {_sql_bloom_bit(2, 'p.o_custkey')}
)
SELECT CAST(count(*) AS BIGINT) AS n_probe,
       CAST(sum(m) AS BIGINT) AS n_member,
       CAST(sum(pass) AS BIGINT) AS n_bloom_pass,
       CAST(sum(pass * (1 - m)) AS BIGINT) AS n_false_pos,
       round(CAST(sum(pass * (1 - m)) AS DOUBLE)
             / (count(*) - sum(m)), 6) AS fp_rate
FROM marked
"""


# --------------------------------------------------------------------------
# KMV (k-minimum-values) per-group distinct sketch (§2.15 row 189): the
# mergeable-sketch counterpart of approx_count_distinct whose arithmetic is
# gate-checkable bit-for-bit — estimate = (k-1)·2^60 / h_k from the k-th
# smallest md5 hash of the distinct members, exact count when |group| < k.
# Scale posture: one distinct + one per-group top-k (combinable partial
# top-k under AQE); sketches of different partitions/days MERGE by keeping
# the k smallest of the union — the property that matters at 100 TB.
# --------------------------------------------------------------------------

_KMV_K = 32
_KMV_SCALE = float(2**60)


def q_kmv_distinct(spark, sf_dir):
    """Per-event-type distinct-user estimate via a k=32 KMV sketch, next
    to the exact count and the signed relative error."""
    from .datapipe import _md5_int

    ev = _t(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        _md5_int(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))).alias(
            "h"
        ),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    stats = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
    )
    est = F.when(
        F.col("hk").isNotNull(),
        F.lit((_KMV_K - 1) * _KMV_SCALE) / F.col("hk").cast("double"),
    ).otherwise(F.col("n_exact").cast("double"))
    return stats.select(
        "event_type",
        "n_exact",
        F.round(est, 4).alias("n_est"),
        F.round((est - F.col("n_exact")) / F.col("n_exact"), 6).alias("rel_err"),
    )


def _sql_kmv() -> str:
    from .datapipe import _sql_md5_int

    h = _sql_md5_int("'kmv:' || CAST(user_id AS VARCHAR)")
    return f"""
WITH hashed AS (
  SELECT DISTINCT event_type, {h} AS h FROM events
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed
), stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact,
         max(CASE WHEN rn = {_KMV_K} THEN h END) AS hk
  FROM ranked GROUP BY event_type
)
SELECT event_type, n_exact,
       round(CASE WHEN hk IS NOT NULL
                  THEN {(_KMV_K - 1)}.0 * {_KMV_SCALE} / hk
                  ELSE CAST(n_exact AS DOUBLE) END, 4) AS n_est,
       round((CASE WHEN hk IS NOT NULL
                   THEN {(_KMV_K - 1)}.0 * {_KMV_SCALE} / hk
                   ELSE CAST(n_exact AS DOUBLE) END - n_exact)
             / n_exact, 6) AS rel_err
FROM stats
"""


SQL_KMV_DISTINCT = _sql_kmv()


# --------------------------------------------------------------------------
# Market-basket association rules (§2.15 row 228): support / lift for part
# pairs co-ordered in the same order — the classic co-purchase signal (and
# the same co-occurrence shape as "trained-together document pairs" in a
# corpus).  All outputs are exact integers (lift in micro-units) so the
# cross-engine hash never sees a summed double.
# --------------------------------------------------------------------------

_BASKET_MIN_PAIR = 2   # min co-occurrence count (prunes the singleton tail)
_BASKET_TOPK = 20


def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_BASKET_TOPK`` part pairs by lift among pairs co-ordered in
    >= ``_BASKET_MIN_PAIR`` orders.

    Scale posture: baskets are DISTINCT (order, part) rows; the pair
    fan-out is a per-order self-join bounded by basket-size² (TPC-H ~7
    lines/order; a production guard caps basket size exactly like the
    jaccard_pairs max_deg knob), never parts² or orders²; per-part counts
    broadcast back onto the (already aggregated) pair table; the total
    order count is a 1-row broadcast aggregate, not a collect.
    lift = P(a,b) / (P(a)P(b)) emitted as floor(1e6 * n_ab * N / (n_a *
    n_b)) — identical integer/double ops both engines.  Output (part_a,
    part_b, n_ab, n_a, n_b, n_orders, lift_micro)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    tot = li.agg(F.countDistinct("ok").alias("n_orders"))
    per_part = li.groupBy("pk").agg(F.count(F.lit(1)).alias("n_p"))
    a = li.select("ok", F.col("pk").alias("part_a"))
    b = li.select("ok", F.col("pk").alias("part_b"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= _BASKET_MIN_PAIR)
    )
    na = F.broadcast(per_part.select(F.col("pk").alias("part_a"), F.col("n_p").alias("n_a")))
    nb = F.broadcast(per_part.select(F.col("pk").alias("part_b"), F.col("n_p").alias("n_b")))
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_orders",
            F.floor(
                F.lit(1_000_000) * F.col("n_ab") * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b"))
            ).cast("long").alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), "part_a", "part_b")
        .limit(_BASKET_TOPK)
    )


SQL_BASKET_LIFT = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), tot AS (
  SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li
), per_part AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n_p FROM li GROUP BY pk
), pairs AS (
  SELECT a.pk AS part_a, b.pk AS part_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= {_BASKET_MIN_PAIR}
)
SELECT part_a, part_b, n_ab, na.n_p AS n_a, nb.n_p AS n_b, t.n_orders,
       CAST(floor(1000000 * n_ab * t.n_orders
                  / (na.n_p * nb.n_p)) AS BIGINT) AS lift_micro
FROM pairs
JOIN per_part na ON na.pk = part_a
JOIN per_part nb ON nb.pk = part_b
CROSS JOIN tot t
ORDER BY lift_micro DESC, part_a, part_b
LIMIT {_BASKET_TOPK}
"""


# --------------------------------------------------------------------------
# RFM customer segmentation (§2.15 row 231): recency / frequency /
# monetary quintiles — the standard behavioural scoring every activation
# pipeline computes, and a model for any "rank users by engagement
# dimensions" feature job.  Monetary is summed in exact integer cents
# (per-row floor(100*price)) so no distributed double sum enters the
# hash; every ntile orders with a custkey tiebreak so the quintile
# boundaries are engine-independent.
# --------------------------------------------------------------------------


def q_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer RFM quintile scores.

    Scale posture: ONE combinable groupBy(custkey) builds all three
    metrics; the reference date is a 1-row broadcast aggregate; the three
    ntile windows run over the customer-level aggregate (not the order
    stream) — at 100 TB that is a customers-sized sort, and the standard
    production variant replaces ntile with approx-quantile cut points to
    avoid even that.  Output (custkey, recency_days, frequency,
    monetary_cents, r_q, f_q, m_q, rfm)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    ref = o.agg(F.max(F.to_date("o_orderdate")).alias("ref_date"))
    base = per_cust.crossJoin(F.broadcast(ref)).select(
        "custkey",
        F.datediff("ref_date", "last_order").alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    wr = Window.orderBy(F.asc("recency_days"), F.asc("custkey"))
    wf = Window.orderBy(F.desc("frequency"), F.asc("custkey"))
    wm = Window.orderBy(F.desc("monetary_cents"), F.asc("custkey"))
    return base.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(wr).alias("r_q"),
        F.ntile(5).over(wf).alias("f_q"),
        F.ntile(5).over(wm).alias("m_q"),
    ).withColumn(
        "rfm",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ),
    )


SQL_RFM_SCORES = """
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         max(CAST(o_orderdate AS DATE)) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
), ref AS (
  SELECT max(CAST(o_orderdate AS DATE)) AS ref_date FROM orders
), base AS (
  SELECT custkey,
         CAST(date_diff('day', last_order, r.ref_date) AS INT)
           AS recency_days,
         frequency, monetary_cents
  FROM per_cust CROSS JOIN ref r
)
SELECT custkey, recency_days, frequency, monetary_cents,
       CAST(ntile(5) OVER (ORDER BY recency_days ASC, custkey) AS INT) AS r_q,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey) AS INT) AS f_q,
       CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, custkey) AS INT)
         AS m_q,
       CAST(ntile(5) OVER (ORDER BY recency_days ASC, custkey) AS VARCHAR)
         || CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey) AS VARCHAR)
         || CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, custkey)
                 AS VARCHAR) AS rfm
FROM base
"""


# --------------------------------------------------------------------------
# Time-decayed activity score (§2.15 row 234): per-user engagement with a
# half-life — the standard recency-weighted feature every ranking /
# retention model consumes.  Each event contributes 2^(-age_days/H)
# FLOORED TO INT64 MICRO-UNITS before the sum, so the aggregate is an
# exact integer (order-independent) and only per-row libm calls — which
# both engines round identically in practice (same contract as the bm25
# ln()) — touch doubles.
# --------------------------------------------------------------------------

_DECAY_HALFLIFE_D = 7


def q_decayed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user half-life-decayed activity score.

    Scale posture: ONE combinable groupBy(user_id) over per-row column
    math; the reference date is a 1-row broadcast aggregate; no window,
    no collect.  Output (user_id, n_events, last_age_days,
    score_micro)."""
    e = load_table(spark, sf_dir, "events")
    ref = e.agg(F.max(F.to_date("ts")).alias("ref_date"))
    aged = e.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.datediff("ref_date", F.to_date("ts")).alias("age_days"),
    )
    contrib = F.floor(
        F.lit(1_000_000)
        * F.pow(F.lit(2.0), -F.col("age_days") / F.lit(_DECAY_HALFLIFE_D))
    ).cast("long")
    return (
        aged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("age_days").alias("last_age_days"),
            F.sum(contrib).alias("score_micro"),
        )
        .orderBy("user_id")
    )


SQL_DECAYED_ACTIVITY = f"""
WITH ref AS (
  SELECT max(CAST(ts AS DATE)) AS ref_date FROM events
), aged AS (
  SELECT user_id,
         CAST(date_diff('day', CAST(ts AS DATE), r.ref_date) AS INT)
           AS age_days
  FROM events CROSS JOIN ref r
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(age_days) AS last_age_days,
       CAST(sum(CAST(floor(
         1000000 * power(2.0, -age_days / CAST({_DECAY_HALFLIFE_D} AS DOUBLE))
       ) AS BIGINT)) AS BIGINT) AS score_micro
FROM aged
GROUP BY user_id
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# Interval-concurrency sweep (§2.15 row 236): how many orders are "open"
# (placed but not yet fully shipped) on each day — the classic +1/-1
# boundary-event sweep that turns interval overlap counting into a
# cumulative sum, used for everything from backlog curves to concurrent-
# session counts.  Intervals: [o_orderdate, max(l_shipdate)] inclusive.
# --------------------------------------------------------------------------


def q_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order count at every change point.

    Scale posture: interval endpoints come from ONE combinable
    groupBy(orderkey) over lineitem + a broadcast-able join to orders;
    the sweep aggregates +1/-1 deltas per day (combinable) and runs ONE
    cumulative window over the CHANGE-POINT-sized aggregate (days, not
    orders) — the standard trick that makes interval concurrency scale.
    Output (day, delta, n_open)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.to_date("o_orderdate").alias("start_d")
    )
    ship = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.max(F.to_date("l_shipdate")).alias("end_d"))
    )
    # the synthetic data can ship "before" the order date; an order is
    # open at least on its order day, so clamp the interval end up to it
    iv = o.join(ship, "ok").withColumn(
        "end_d", F.greatest("end_d", "start_d")
    )
    deltas = iv.select(
        F.col("start_d").alias("day"), F.lit(1).cast("long").alias("d")
    ).unionByName(
        iv.select(
            F.date_add("end_d", 1).alias("day"), F.lit(-1).cast("long").alias("d")
        )
    )
    per_day = deltas.groupBy("day").agg(F.sum("d").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "delta",
        F.sum("delta").over(w).alias("n_open"),
    ).orderBy("day")


SQL_ORDER_BACKLOG = """
WITH iv AS (
  SELECT o.o_orderkey,
         CAST(o.o_orderdate AS DATE) AS start_d,
         greatest(max(CAST(l.l_shipdate AS DATE)),
                  CAST(o.o_orderdate AS DATE)) AS end_d
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
), deltas AS (
  SELECT start_d AS day, CAST(1 AS BIGINT) AS d FROM iv
  UNION ALL
  SELECT CAST(end_d + INTERVAL 1 DAY AS DATE) AS day,
         CAST(-1 AS BIGINT) AS d FROM iv
), per_day AS (
  SELECT CAST(day AS DATE) AS day, CAST(sum(d) AS BIGINT) AS delta
  FROM deltas GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, delta,
       CAST(sum(delta) OVER (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS n_open
FROM per_day
ORDER BY day
"""


# --------------------------------------------------------------------------
# Z-order layout audit (§2.15 row 237): interleave the bits of two scan
# dimensions (customer bucket x order-month) into a Morton key — the
# clustering trick behind Delta/Iceberg Z-ORDER — and measure what a file
# layout sorted by that key buys: how many of the 256 z-files a
# two-dimensional box predicate has to open, vs how many a
# single-dimension sort would.  Pure integer bit math, identical both
# engines.
# --------------------------------------------------------------------------

_Z_BITS = 4          # 4 bits per dimension -> 8-bit Morton key, 256 cells
_Z_FILE_SHIFT = 0    # file id == z-cell (1 cell per file at this scale)
# the audited box predicate: cust bucket in [4, 7] x month bucket in [2, 5]
_Z_BOX = (4, 7, 2, 5)


def _morton(x, y, bits: int):
    """Interleave ``bits`` low bits of integer columns x (even positions)
    and y (odd positions) with statically unrolled shift/mask terms."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _sql_morton(x: str, y: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs single-dimension layout audit over orders.

    Dimensions: cust_b = custkey mod 16, month_b = (month-1) mod 16.  For
    each z-cell (file): row count, whether the box predicate touches it,
    and the same flag for a custkey-sorted layout (which must open EVERY
    file whose cust bucket matches, regardless of month).  The aggregate
    Σ touched_z vs Σ touched_1d is the scan-pruning win Z-ORDER exists
    for.  Scale posture: one pure-column projection + ONE combinable
    groupBy(zkey) — the audit never sorts the data, it reasons about the
    layout arithmetically.  Output (zkey, n_rows, z_touched,
    d1_touched)."""
    o = load_table(spark, sf_dir, "orders")
    lo_c, hi_c, lo_m, hi_m = _Z_BOX
    cust_b = F.pmod(F.col("o_custkey"), F.lit(16)).cast("long")
    month_b = F.pmod(F.month("o_orderdate") - 1, F.lit(16)).cast("long")
    rows = o.select(
        _morton(cust_b, month_b, _Z_BITS).alias("zkey"),
        cust_b.alias("cb"),
        month_b.alias("mb"),
    )
    return (
        rows.groupBy("zkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(
                (
                    (F.col("cb") >= lo_c)
                    & (F.col("cb") <= hi_c)
                    & (F.col("mb") >= lo_m)
                    & (F.col("mb") <= hi_m)
                ).cast("long")
            ).alias("z_touched"),
            F.max(
                ((F.col("cb") >= lo_c) & (F.col("cb") <= hi_c)).cast("long")
            ).alias("d1_touched"),
        )
        .orderBy("zkey")
    )


def _sql_zorder() -> str:
    lo_c, hi_c, lo_m, hi_m = _Z_BOX
    z = _sql_morton("cb", "mb", _Z_BITS)
    return f"""
WITH rows_ AS (
  SELECT CAST(o_custkey % 16 AS BIGINT) AS cb,
         CAST((month(o_orderdate) - 1) % 16 AS BIGINT) AS mb
  FROM orders
), keyed AS (
  SELECT CAST({z} AS BIGINT) AS zkey, cb, mb FROM rows_
)
SELECT zkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max(CASE WHEN cb BETWEEN {lo_c} AND {hi_c}
                      AND mb BETWEEN {lo_m} AND {hi_m}
                     THEN 1 ELSE 0 END) AS BIGINT) AS z_touched,
       CAST(max(CASE WHEN cb BETWEEN {lo_c} AND {hi_c}
                     THEN 1 ELSE 0 END) AS BIGINT) AS d1_touched
FROM keyed
GROUP BY zkey
ORDER BY zkey
"""


SQL_ZORDER_LAYOUT = _sql_zorder()


# --------------------------------------------------------------------------
# Last-touch attribution (§2.15 row 238): credit every purchase to the
# user's most recent PRIOR touch event (click/view), falling back to
# 'direct' — the canonical marketing-attribution carry-forward, and the
# same last-non-null-forward-fill shape as gap-filling sensor streams.
# Revenue is attributed in exact integer cents (per-row floor).
# --------------------------------------------------------------------------

_TOUCH_TYPES = ("click", "view")
_CONV_TYPE = "purchase"


def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel conversion counts and attributed revenue.

    Scale posture: ONE user-keyed window (last ignore-nulls carry-forward
    over the stable (ts, event_id) order) + one combinable channel
    groupBy; no self-join of conversions against touches — the forward
    fill does attribution in a single pass, which is what survives 10^12
    events.  Output (channel, n_conversions, revenue_cents)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    touch = F.when(
        F.col("event_type").isin(*_TOUCH_TYPES), F.col("event_type")
    )
    attributed = e.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    ).where(F.col("event_type") == _CONV_TYPE)
    return (
        attributed.select(
            F.coalesce("last_touch", F.lit("direct")).alias("channel"),
            "cents",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


SQL_LAST_TOUCH_ATTRIBUTION = f"""
WITH filled AS (
  SELECT event_type,
         CAST(floor(value * 100) AS BIGINT) AS cents,
         last_value(CASE WHEN event_type IN {_TOUCH_TYPES}
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_touch
  FROM events
)
SELECT COALESCE(last_touch, 'direct') AS channel,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM filled
WHERE event_type = '{_CONV_TYPE}'
GROUP BY 1
ORDER BY 1
"""


_AUC_POS_TYPE = "purchase"


def q_auc_mann_whitney(spark, sf_dir):
    """Exact AUC via the Mann–Whitney U statistic with proper tied-rank
    handling — the model-evaluation primitive ("does `value` rank
    purchases above non-purchases"), computed without any float rank:
    2·avgrank of a tie group = 2·(rows before) + (group size) + 1, so
    2U = Σ_pos 2·avgrank − n_pos(n_pos+1) stays integer end-to-end, and
    auc_micro = (2U·1e6) DIV (2·n_pos·n_neg).

    Scale posture: the stream reduces by ONE combinable groupBy to
    DISTINCT-SCORE rows (value vocabulary); the rank window runs over
    that aggregate, never the stream — the distributed-rank shape that
    survives 10^12 rows (a global row_number over raw rows would not).
    Output one row (n_pos, n_neg, u2, auc_micro)."""
    e = _t(spark, sf_dir, "events")
    s = e.select(
        F.round(F.col("value") * 1_000_000, 0).cast("long").alias("score"),
        (F.col("event_type") == _AUC_POS_TYPE).cast("long").alias("pos"),
    )
    g = s.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("npos")
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.select(
        "score",
        "n",
        "npos",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("before"),
    )
    agg = ranked.agg(
        F.sum(
            F.col("npos") * (F.lit(2) * F.col("before") + F.col("n") + 1)
        ).alias("rsum2"),
        F.sum("npos").alias("n_pos"),
        F.sum("n").alias("n_tot"),
    )
    return agg.select(
        "n_pos",
        (F.col("n_tot") - F.col("n_pos")).alias("n_neg"),
        (F.col("rsum2") - F.col("n_pos") * (F.col("n_pos") + 1)).alias("u2"),
        F.expr(
            "((rsum2 - n_pos * (n_pos + 1)) * 1000000) "
            "DIV (2 * n_pos * (n_tot - n_pos))"
        ).alias("auc_micro"),
    )


SQL_AUC_MANN_WHITNEY = f"""
WITH s AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS score,
         CAST(event_type = '{_AUC_POS_TYPE}' AS BIGINT) AS pos
  FROM events
), g AS (
  SELECT score, count(*) AS n, CAST(sum(pos) AS BIGINT) AS npos
  FROM s GROUP BY 1
), ranked AS (
  SELECT score, n, npos,
         CAST(coalesce(sum(n) OVER (ORDER BY score
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT) AS before
  FROM g
), a AS (
  SELECT CAST(sum(npos * (2 * before + n + 1)) AS BIGINT) AS rsum2,
         CAST(sum(npos) AS BIGINT) AS n_pos,
         CAST(sum(n) AS BIGINT) AS n_tot
  FROM ranked
)
SELECT n_pos, n_tot - n_pos AS n_neg,
       rsum2 - n_pos * (n_pos + 1) AS u2,
       CAST(((rsum2 - n_pos * (n_pos + 1)) * 1000000)
            // (2 * n_pos * (n_tot - n_pos)) AS BIGINT) AS auc_micro
FROM a
"""


_CAL_BINS = 10


def q_calibration_bins(spark, sf_dir):
    """Reliability-diagram bins for `value` as a purchase predictor:
    equal-width score bins with exact per-bin positive rate and mean
    score in integer micro-units — the calibration companion to the AUC
    row (AUC measures ranking; this measures probability calibration).

    Scale posture: min/max = ONE 1-row broadcast agg; binning is pure
    column math; ONE combinable groupBy(bin).  Output (bin, n, n_pos,
    pos_rate_micro, mean_score_micro)."""
    e = _t(spark, sf_dir, "events")
    s = e.select(
        F.round(F.col("value") * 1_000_000, 0).cast("long").alias("score"),
        (F.col("event_type") == _AUC_POS_TYPE).cast("long").alias("pos"),
    )
    mm = s.agg(F.min("score").alias("mn"), F.max("score").alias("mx"))
    binned = s.crossJoin(F.broadcast(mm)).select(
        F.expr(f"((score - mn) * {_CAL_BINS}) DIV (mx - mn + 1)").alias("bin"),
        "score",
        "pos",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").alias("n_pos"),
            F.sum("score").alias("ssum"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr("(n_pos * 1000000) DIV n").alias("pos_rate_micro"),
            F.expr("ssum DIV n").alias("mean_score_micro"),
        )
    )


SQL_CALIBRATION_BINS = f"""
WITH s AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS score,
         CAST(event_type = '{_AUC_POS_TYPE}' AS BIGINT) AS pos
  FROM events
), mm AS (SELECT min(score) AS mn, max(score) AS mx FROM s),
b AS (
  SELECT ((score - mn) * {_CAL_BINS}) // (mx - mn + 1) AS bin, score, pos
  FROM s, mm
)
SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST((sum(pos) * 1000000) // count(*) AS BIGINT) AS pos_rate_micro,
       CAST(sum(score) // count(*) AS BIGINT) AS mean_score_micro
FROM b GROUP BY 1
"""


_FK_RELATIONS = (
    # (name, child table, child key, parent table, parent key)
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def q_fk_integrity(spark, sf_dir):
    """Referential-integrity audit across the star schema's five FK
    relations: orphaned child rows (FK with no parent) and childless
    parents — the data-quality reconciliation every warehouse runs after
    ingest, and the one that catches partial-load corruption.

    Scale posture: each relation = two anti-joins (parent side always
    broadcast-able — dimensions are small by construction) + combinable
    counts; relations are independent so the union parallelizes.
    Output (relation, n_child, n_orphans, n_parents, n_childless)."""
    outs = []
    for name, child, ck, parent, pk in _FK_RELATIONS:
        c = _t(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = _t(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        stats = (
            c.agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(
                c.join(F.broadcast(p), "k", "left_anti").agg(
                    F.count(F.lit(1)).alias("n_orphans")
                )
            )
            .crossJoin(p.agg(F.count(F.lit(1)).alias("n_parents")))
            .crossJoin(
                p.join(c, "k", "left_anti").agg(
                    F.count(F.lit(1)).alias("n_childless")
                )
            )
            .select(
                F.lit(name).alias("relation"),
                "n_child",
                "n_orphans",
                "n_parents",
                "n_childless",
            )
        )
        outs.append(stats)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


SQL_FK_INTEGRITY = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS relation,
       (SELECT count(*) FROM {child}) AS n_child,
       (SELECT count(*) FROM {child} c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                          WHERE p.{pk} = c.{ck})) AS n_orphans,
       (SELECT count(*) FROM {parent}) AS n_parents,
       (SELECT count(*) FROM {parent} p
        WHERE NOT EXISTS (SELECT 1 FROM {child} c
                          WHERE c.{ck} = p.{pk})) AS n_childless"""
    for name, child, ck, parent, pk in _FK_RELATIONS
)


def q_theil_sen_trend(spark, sf_dir):
    """Quantized Theil–Sen robust trend per event type: the lower median
    of all pairwise day-count slopes, each slope truncated to integer
    micro-units ((Δy·1e6) DIV Δt — Spark DIV and DuckDB // both truncate
    toward zero, so negative slopes agree exactly).  Robust to the
    outlier days a least-squares fit would chase — the monitoring
    companion to cusum_changepoint.

    Scale posture: the event stream reduces by ONE combinable groupBy to
    types×days; the pairwise self-join and median window run over that
    tiny aggregate (435 pairs per type at 30 days), never the stream.
    Output (event_type, n_pairs, slope_micro_med)."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.date_trunc("day", "ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("t"),
    ).agg(F.count(F.lit(1)).alias("y"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = (
        a.join(b, "event_type")
        .where(F.col("a.t") < F.col("b.t"))
        .select(
            "event_type",
            F.expr("((b.y - a.y) * 1000000) DIV (b.t - a.t)").alias("slope"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    wall = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w).cast("long").alias("r"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_pairs"),
    )
    return ranked.where(
        F.col("r") == F.expr("(n_pairs + 1) DIV 2")
    ).select("event_type", "n_pairs", F.col("slope").alias("slope_micro_med"))


SQL_THEIL_SEN_TREND = """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS t,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), slopes AS (
  SELECT a.event_type,
         CAST(((b.y - a.y) * 1000000) // (b.t - a.t) AS BIGINT) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.t < b.t
), ranked AS (
  SELECT event_type, slope,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY slope)
              AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
  FROM slopes
)
SELECT event_type, n_pairs, slope AS slope_micro_med
FROM ranked WHERE r = (n_pairs + 1) // 2
"""


def q_skyline_parts(spark, sf_dir):
    """2-D skyline (Pareto frontier) of parts maximizing (p_size,
    retail-price cents) — the classic dominance operator ("best
    tradeoffs") missing from plain SQL engines.  A part is kept iff no
    other part is >= on both dimensions and > on one; equal (size, cents)
    pairs do not dominate each other, so full ties survive together.

    Scale posture: dominance reduces to per-size max + a strict-prefix
    running max over the SIZE-LEVEL aggregate (vocabulary-sized, one
    combinable groupBy + one window over ~50 rows), then a broadcast
    join back — never a part x part dominance self-join.
    Output (p_partkey, p_size, cents)."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents"),
    )
    smax = p.groupBy("p_size").agg(F.max("cents").alias("smax"))
    w = Window.orderBy(F.desc("p_size")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    front = smax.select(
        "p_size",
        "smax",
        F.coalesce(F.max("smax").over(w), F.lit(-1)).alias("mx_gt"),
    ).where(F.col("smax") > F.col("mx_gt"))
    return p.join(F.broadcast(front), "p_size").where(
        F.col("cents") == F.col("smax")
    ).select("p_partkey", "p_size", "cents")


SQL_SKYLINE_PARTS = """
WITH p AS (
  SELECT p_partkey, p_size,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents
  FROM part
), smax AS (
  SELECT p_size, max(cents) AS smax FROM p GROUP BY 1
), front AS (
  SELECT p_size, smax,
         coalesce(max(smax) OVER (ORDER BY p_size DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), -1) AS mx_gt
  FROM smax
)
SELECT p.p_partkey, p.p_size, p.cents
FROM p JOIN front f ON f.p_size = p.p_size
WHERE f.smax > f.mx_gt AND p.cents = f.smax
"""


_WINSOR_PCT = 100  # clip at the 1/100 tails (p01 / p99), by exact rank


def q_winsorize_stats(spark, sf_dir):
    """Exact winsorization audit of order totals: clip at the k-th
    smallest / k-th largest cents value (k = max(1, N div 100) — exact
    p01/p99 order statistics, not an approximation) and report the
    clipped sum + tail counts — the robust-scaling preprocessing step of
    every feature pipeline, with the outlier impact quantified.

    Scale posture: N is a bounded 1-row collect; each cut value is a
    TakeOrderedAndProject top-k (no global sort, no single-partition
    window); the clamp is one broadcast of the 2 cut values + one
    combinable agg.  All math in integer cents.  Output one row (n, k,
    lo_cents, hi_cents, sum_cents, winsor_sum_cents, n_clip_lo,
    n_clip_hi)."""
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    n = o.count()  # bounded driver scalar (same contract as IVF quantizer)
    k = max(1, n // _WINSOR_PCT)
    lo = o.orderBy(F.asc("cents")).limit(k).agg(F.max("cents").alias("lo"))
    hi = o.orderBy(F.desc("cents")).limit(k).agg(F.min("cents").alias("hi"))
    clamped = (
        o.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "cents",
            "lo",
            "hi",
            F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi")).alias("w"),
        )
    )
    return clamped.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.lit(k)).cast("long").alias("k"),
        F.max("lo").alias("lo_cents"),
        F.max("hi").alias("hi_cents"),
        F.sum("cents").alias("sum_cents"),
        F.sum("w").alias("winsor_sum_cents"),
        F.sum((F.col("cents") < F.col("lo")).cast("long")).alias("n_clip_lo"),
        F.sum((F.col("cents") > F.col("hi")).cast("long")).alias("n_clip_hi"),
    )


SQL_WINSORIZE_STATS = f"""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
), nk AS (
  SELECT count(*) AS n,
         greatest(1, count(*) // {_WINSOR_PCT}) AS k
  FROM c
), r AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents) AS rs,
         row_number() OVER (ORDER BY cents DESC) AS rd
  FROM c
), cuts AS (
  SELECT (SELECT cents FROM r, nk WHERE rs = k) AS lo,
         (SELECT cents FROM r, nk WHERE rd = k) AS hi
)
SELECT CAST(nk.n AS BIGINT) AS n, CAST(nk.k AS BIGINT) AS k,
       cuts.lo AS lo_cents, cuts.hi AS hi_cents,
       (SELECT CAST(sum(cents) AS BIGINT) FROM c) AS sum_cents,
       (SELECT CAST(sum(least(greatest(cents, cuts.lo), cuts.hi)) AS BIGINT)
        FROM c) AS winsor_sum_cents,
       (SELECT CAST(count(*) AS BIGINT) FROM c WHERE cents < cuts.lo)
         AS n_clip_lo,
       (SELECT CAST(count(*) AS BIGINT) FROM c WHERE cents > cuts.hi)
         AS n_clip_hi
FROM nk, cuts
"""


_GEO_SCALE = 1_000_000  # unit plane in integer micro-coordinates
_GEO_CELL = 100_000     # 10x10 blocking grid


def _geo_xy(key_col, prefix: str):
    """Deterministic planar point in integer micro-units from an entity key
    (md5 -> int64 -> pmod plane size) — identical in DuckDB, so the whole
    spatial pipeline is integer-exact cross-engine."""
    from .datapipe import _md5_int

    return (
        F.pmod(_md5_int(F.concat(F.lit(prefix), key_col.cast("string"))), F.lit(_GEO_SCALE))
        .cast("long")
    )


def q_spatial_nn_join(spark, sf_dir):
    """Blocked spatial nearest-neighbour join — the grid-cell shape of
    every distributed spatial join (GeoSpark/Sedona): customers and
    suppliers get deterministic integer micro-coordinate points, the
    plane is cut into a 10x10 grid, each supplier is REPLICATED to its
    3x3 neighbour cells, and each customer probes only its own cell —
    candidate fan-out is bounded by ring occupancy, never customers x
    suppliers.  Match = argmin squared distance (exact integer math, no
    sqrt — monotone for argmin) over the one-ring candidate set, min
    suppkey tiebreak; customers whose ring holds no supplier drop out
    (production escalates ring radius; same contract as the ANN rows'
    bucketed candidate generation).

    Output (c_custkey, s_suppkey, d2)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        _geo_xy(F.col("c_custkey"), "sx:").alias("x"),
        _geo_xy(F.col("c_custkey"), "sy:").alias("y"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _geo_xy(F.col("s_suppkey"), "sx:").alias("sx"),
        _geo_xy(F.col("s_suppkey"), "sy:").alias("sy"),
    )
    cust = cust.withColumn("cx", F.expr(f"x DIV {_GEO_CELL}")).withColumn(
        "cy", F.expr(f"y DIV {_GEO_CELL}")
    )
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    srep = (
        supp.withColumn("gx0", F.expr(f"sx DIV {_GEO_CELL}"))
        .withColumn("gy0", F.expr(f"sy DIV {_GEO_CELL}"))
        .withColumn("dx", off)
        .withColumn("dy", off)
        .select(
            "s_suppkey",
            "sx",
            "sy",
            (F.col("gx0") + F.col("dx")).alias("gx"),
            (F.col("gy0") + F.col("dy")).alias("gy"),
        )
    )
    cand = cust.join(
        srep, (F.col("gx") == F.col("cx")) & (F.col("gy") == F.col("cy"))
    ).select(
        "c_custkey",
        "s_suppkey",
        (
            (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
            + (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy"))
        ).alias("d2"),
    )
    w = Window.partitionBy("c_custkey").orderBy("d2", "s_suppkey")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("c_custkey", "s_suppkey", "d2")
    )


SQL_SPATIAL_NN_JOIN = f"""
WITH cpts AS (
  SELECT c_custkey,
         CAST(('0x' || substr(md5('sx:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % {_GEO_SCALE} AS x,
         CAST(('0x' || substr(md5('sy:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % {_GEO_SCALE} AS y
  FROM customer
), spts AS (
  SELECT s_suppkey,
         CAST(('0x' || substr(md5('sx:' || CAST(s_suppkey AS VARCHAR)), 1, 15)) AS BIGINT) % {_GEO_SCALE} AS sx,
         CAST(('0x' || substr(md5('sy:' || CAST(s_suppkey AS VARCHAR)), 1, 15)) AS BIGINT) % {_GEO_SCALE} AS sy
  FROM supplier
), srep AS (
  SELECT s.s_suppkey, s.sx, s.sy,
         (s.sx // {_GEO_CELL}) + dx.d AS gx,
         (s.sy // {_GEO_CELL}) + dy.d AS gy
  FROM spts s, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
), cand AS (
  SELECT c.c_custkey, s.s_suppkey,
         (c.x - s.sx) * (c.x - s.sx) + (c.y - s.sy) * (c.y - s.sy) AS d2
  FROM cpts c JOIN srep s
    ON s.gx = (c.x // {_GEO_CELL}) AND s.gy = (c.y // {_GEO_CELL})
), best AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey
                               ORDER BY d2, s_suppkey) AS rk
  FROM cand
)
SELECT c_custkey, s_suppkey, CAST(d2 AS BIGINT) AS d2 FROM best WHERE rk = 1
"""


_KANON_K = 10


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier (c_nationkey,
    c_mktsegment): group sizes and a safe/unsafe flag at k=_KANON_K —
    the privacy screen run before releasing or training on
    user-attributable slices (unsafe groups are the ones a release would
    have to suppress or generalize).

    ONE combinable groupBy over the quasi-identifier; the audit output is
    group-vocabulary-sized.  Output (c_nationkey, c_mktsegment, n, safe)."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        (F.col("n") >= _KANON_K).cast("long").alias("safe"),
    )


SQL_K_ANONYMITY = f"""
SELECT c_nationkey, c_mktsegment, count(*) AS n,
       CAST(count(*) >= {_KANON_K} AS BIGINT) AS safe
FROM customer GROUP BY 1, 2
"""


_SFT_RESP_TYPE = "purchase"
_SFT_CTX_BUDGET = 64  # context-token budget (left-truncation at token level)


def q_sft_pairs(spark, sf_dir):
    """SFT training-pair extraction over the transcript-shaped event
    stream — THE canonical LLM-pipeline op on conversations: each
    response turn (event_type = 'purchase' here; role = 'assistant' on a
    real transcript table) becomes one (context, response) example, with
    exact context accounting under a token budget.  Token cost per turn
    is the deterministic chars/4 proxy (1 + len(props) DIV 4);
    left-truncation at the token level (what packing pipelines actually
    do) makes the kept-context size pure arithmetic:
    trunc = least(ctx_tokens, B).

    Scale posture: ONE conversation-keyed window shuffle carries
    row_number + running token sum; everything downstream is per-row
    column math — no per-pair context join, no conversation² fan-out.
    Output (user_id, event_id, turn_idx, ctx_turns, ctx_tokens,
    resp_tokens, trunc_ctx_tokens, fits)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    toks = e.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        (F.lit(1) + F.expr("length(props) DIV 4")).cast("long").alias("tok"),
    )
    cum = toks.select(
        "user_id",
        "event_id",
        "event_type",
        F.row_number().over(w).cast("long").alias("turn_idx"),
        F.sum("tok").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.col("tok").alias("resp_tokens"),
    )
    return (
        cum.where(
            (F.col("event_type") == _SFT_RESP_TYPE) & (F.col("turn_idx") > 1)
        )
        .select(
            "user_id",
            "event_id",
            "turn_idx",
            (F.col("turn_idx") - 1).alias("ctx_turns"),
            (F.col("cum") - F.col("resp_tokens")).alias("ctx_tokens"),
            "resp_tokens",
            F.least(
                F.col("cum") - F.col("resp_tokens"), F.lit(_SFT_CTX_BUDGET)
            ).alias("trunc_ctx_tokens"),
            (F.col("cum") - F.col("resp_tokens") <= _SFT_CTX_BUDGET)
            .cast("long")
            .alias("fits"),
        )
    )


SQL_SFT_PAIRS = f"""
WITH cum AS (
  SELECT user_id, event_id, event_type,
         CAST(row_number() OVER w AS BIGINT) AS turn_idx,
         CAST(sum(1 + length(props) // 4) OVER w AS BIGINT) AS cum,
         CAST(1 + length(props) // 4 AS BIGINT) AS resp_tokens
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, turn_idx,
       turn_idx - 1 AS ctx_turns,
       cum - resp_tokens AS ctx_tokens,
       resp_tokens,
       least(cum - resp_tokens, {_SFT_CTX_BUDGET}) AS trunc_ctx_tokens,
       CAST(cum - resp_tokens <= {_SFT_CTX_BUDGET} AS BIGINT) AS fits
FROM cum
WHERE event_type = '{_SFT_RESP_TYPE}' AND turn_idx > 1
"""


def q_cusum_changepoint(spark, sf_dir):
    """Offline single-changepoint localization per event type (CUSUM /
    binary-segmentation depth 1): over the daily count series x_1..x_N,
    the change day is argmax_t |N*S_t - t*S_N| (the cross-multiplied
    CUSUM statistic — the integer form of |S_t - (t/N)*S_N|, so no
    division enters the argmax).  Ties break to the earliest day.

    Distinct from ``rate_anomaly`` (online trailing z-score): this is the
    retrospective "WHEN did the level shift" query of every monitoring
    stack.  Scale posture: ONE combinable groupBy over the event stream
    (trillions of rows reduce to types x days), then two window passes
    over the tiny daily aggregate; pre/post means in exact integer
    micro-units (integer DIV).  Output (event_type, cp_epoch_day,
    d_stat, n_days, pre_micro, post_micro)."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("s"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_days"),
        F.sum("n").over(wall).alias("total"),
    ).where(F.col("t") < F.col("n_days"))
    scored = pre.withColumn(
        "d", F.abs(F.col("n_days") * F.col("s") - F.col("t") * F.col("total"))
    )
    best = Window.partitionBy("event_type").orderBy(F.desc("d"), F.asc("day"))
    return (
        scored.withColumn("rk", F.row_number().over(best))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.datediff("day", F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("cp_epoch_day"),
            F.col("d").alias("d_stat"),
            "n_days",
            F.expr("(s * 1000000) DIV t").alias("pre_micro"),
            F.expr("((total - s) * 1000000) DIV (n_days - t)").alias("post_micro"),
        )
    )


SQL_CUSUM_CHANGEPOINT = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         count(*) AS n
  FROM events GROUP BY 1, 2
), pre AS (
  SELECT event_type, day,
         CAST(row_number() OVER w AS BIGINT) AS t,
         CAST(sum(n) OVER w AS BIGINT) AS s,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), scored AS (
  SELECT *, abs(n_days * s - t * total) AS d
  FROM pre WHERE t < n_days
), best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY d DESC, day ASC) AS rk
  FROM scored
)
SELECT event_type,
       CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS cp_epoch_day,
       CAST(d AS BIGINT) AS d_stat, n_days,
       CAST((s * 1000000) // t AS BIGINT) AS pre_micro,
       CAST(((total - s) * 1000000) // (n_days - t) AS BIGINT) AS post_micro
FROM best WHERE rk = 1
"""


# Benford leading-digit probabilities log10(1+1/d), in integer micro-units;
# the SAME Python-computed constants are baked into both engines so no
# engine-side libm call enters the hash.
_BENFORD_MICRO = {d: round(math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)}


def q_benford_audit(spark, sf_dir):
    """Benford's-law leading-digit audit of order totals — the standard
    fraud / data-quality screen for financial-style magnitude columns.
    Leading digit extracted by string math (no engine libm log10 in the
    hash path); expected Benford shares are Python-computed micro-unit
    constants shared verbatim by both engines; deviation is exact
    integer |n*1e6 - N*p_micro|.

    Scale posture: one combinable 9-group groupBy + a 1-row broadcast
    total.  Output (digit, n, p_micro, dev_micro)."""
    o = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("long")
    cnt = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.agg(F.sum("n").alias("nn"))
    pmap = F.create_map(
        *[F.lit(x) for d, p in sorted(_BENFORD_MICRO.items()) for x in (d, p)]
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .withColumn("p_micro", pmap[F.col("digit")])
        .select(
            "digit",
            "n",
            "p_micro",
            F.abs(F.col("n") * F.lit(1_000_000) - F.col("nn") * F.col("p_micro")).alias(
                "dev_micro"
            ),
        )
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in sorted(_BENFORD_MICRO.items())
)

SQL_BENFORD_AUDIT = f"""
WITH cnt AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit,
         count(*) AS n
  FROM orders GROUP BY 1
), tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cnt)
SELECT digit, n,
       CAST(CASE digit {_BENFORD_CASE} END AS BIGINT) AS p_micro,
       CAST(abs(n * 1000000 - nn * (CASE digit {_BENFORD_CASE} END)) AS BIGINT)
         AS dev_micro
FROM cnt, tot
"""


_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


def q_table_profile(spark, sf_dir):
    """Per-column data-profiling summary of the orders table (null count,
    exact distinct count, min/max as canonical strings) — the schema-
    drift / data-quality snapshot every warehouse job runs before
    training ingest.

    Scale posture: ONE scan, one global agg computing all columns' stats
    together (the multi-count-distinct expands the row 4x — at 100 TB
    you'd swap exact distinct for HLL partials, same single-scan shape),
    then a constant-size stack() unpivot of the 1-row aggregate.
    Output (col_name, n_rows, n_null, n_distinct, min_s, max_s)."""
    o = _t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    prof = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__null, {c}__nd, {c}__min, {c}__max" for c in _PROFILE_COLS
    )
    return prof.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(col_name, n_null, n_distinct, min_s, max_s)",
        "n_rows",
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_s", "max_s")


SQL_TABLE_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_s, CAST(max({c}) AS VARCHAR) AS max_s
FROM orders"""
    for c in _PROFILE_COLS
)


def q_chi2_independence(spark, sf_dir):
    """Chi-square test of independence between event_type and day-of-week
    — "is activity mix stable across the week", the categorical-drift
    screen run before training on time-sliced data.  Exact integer
    end-to-end: per cell over the FULL r×c grid (zero-observed cells
    included), term = ((N·O − R·C)² · 1e6) DIV (N·R·C), so
    chi2_micro = Σ terms with no float division anywhere in the hash.

    Scale posture: corpus-sized work = ONE combinable groupBy to the
    |types|×7 contingency table; the statistic runs on the collected
    CONSTANT grid (bounded-collect contract, same as markov_stationary —
    cell count is vocabulary-sized, stream-size independent; the oracle's
    HUGEINT per-cell arithmetic is Python arbitrary-precision here).
    Output one row (n, n_types, n_dows, dof, chi2_micro)."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.groupBy(F.col("event_type"), F.dayofweek("ts").alias("dow"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rows = cells.collect()  # bounded: |event-type vocab| x 7
    obs = {(r["event_type"], r["dow"]): int(r["o"]) for r in rows}
    types = sorted({t for t, _ in obs})
    dows = sorted({d for _, d in obs})
    rt = {t: sum(obs.get((t, d), 0) for d in dows) for t in types}
    ct = {d: sum(obs.get((t, d), 0) for t in types) for d in dows}
    n = sum(rt.values())
    chi2_micro = 0
    for t in types:
        for d in dows:
            diff = n * obs.get((t, d), 0) - rt[t] * ct[d]
            chi2_micro += (diff * diff * 1_000_000) // (n * rt[t] * ct[d])
    out = [
        (n, len(types), len(dows), (len(types) - 1) * (len(dows) - 1), chi2_micro)
    ]
    return spark.createDataFrame(
        out, "n long, n_types long, n_dows long, dof long, chi2_micro long"
    )


SQL_CHI2_INDEPENDENCE = """
WITH cells AS (
  SELECT event_type, dayofweek(ts) + 1 AS dow, count(*) AS o
  FROM events GROUP BY 1, 2
), rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
grid AS (
  SELECT rt.event_type, ct.dow, rt.r, ct.c,
         CAST(coalesce(cl.o, 0) AS BIGINT) AS o
  FROM rt CROSS JOIN ct
  LEFT JOIN cells cl ON cl.event_type = rt.event_type AND cl.dow = ct.dow
), terms AS (
  SELECT ((CAST(nn.n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
          * (CAST(nn.n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
          * 1000000)
         // (CAST(nn.n AS HUGEINT) * r * c) AS term
  FROM grid, nn
)
SELECT (SELECT n FROM nn) AS n,
       (SELECT count(*) FROM rt) AS n_types,
       (SELECT count(*) FROM ct) AS n_dows,
       (SELECT count(*) FROM rt) * (SELECT count(*) FROM ct)
         - (SELECT count(*) FROM rt) - (SELECT count(*) FROM ct) + 1 AS dof,
       CAST((SELECT sum(term) FROM terms) AS BIGINT) AS chi2_micro
"""


_BOOT_B = 40
# cumulative Poisson(1) CDF in micro-units: P(X<=k) for k=0..6 (k=7 tail).
# Python-computed constants baked verbatim into BOTH engines (Benford
# contract) — no libm in the hash path.
_POIS_CDF_MICRO = (367879, 735758, 919698, 981011, 996340, 999405, 999916)


def _boot_weight(u):
    """Poisson(1) inverse CDF of a micro-uniform column (0..999999)."""
    w = F.when(u < _POIS_CDF_MICRO[0], F.lit(0))
    for k in range(1, len(_POIS_CDF_MICRO)):
        w = w.when(u < _POIS_CDF_MICRO[k], F.lit(k))
    return w.otherwise(F.lit(len(_POIS_CDF_MICRO))).cast("long")


def q_poisson_bootstrap(spark, sf_dir):
    """Deterministic Poisson bootstrap CI for mean order revenue — THE
    distributed bootstrap: classical resampling needs a global draw of n
    rows (impossible at 10^12), the Poisson trick gives each row an
    independent Poisson(1) replication weight per replicate, so the
    whole B-replicate bootstrap is pure column math in one pass.
    Weights come from the md5 micro-uniform (replayable, cross-engine
    bit-identical); per-replicate means in exact integer micro-cents.

    Scale posture: B×n fan-out is ONE combinable groupBy(b); the order
    statistics (p05/p50/p95) window over the B-row replicate aggregate,
    never the data.  Output one row (b_reps, n_rows, point_mean_micro,
    lo_micro, med_micro, hi_micro)."""
    from .datapipe import _md5_int

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    reps = base.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = (
        _md5_int(
            F.concat(
                F.lit("boot:"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("o_orderkey").cast("string"),
            )
        )
        % 1_000_000
    )
    wcol = _boot_weight(u)
    per = (
        reps.select("b", wcol.alias("w"), (wcol * F.col("cents")).alias("wc"))
        .groupBy("b")
        .agg(F.sum("wc").alias("sc"), F.sum("w").alias("ne"))
    )
    means = per.select("b", F.expr("(sc * 1000000) DIV ne").alias("m"))
    klo = max(1, _BOOT_B * 5 // 100)
    khi = _BOOT_B + 1 - klo
    kmed = (_BOOT_B + 1) // 2
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m", "b")).alias("rk")
    )
    stats = ranked.agg(
        F.max(F.when(F.col("rk") == klo, F.col("m"))).alias("lo_micro"),
        F.max(F.when(F.col("rk") == kmed, F.col("m"))).alias("med_micro"),
        F.max(F.when(F.col("rk") == khi, F.col("m"))).alias("hi_micro"),
    )
    point = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("(sum(cents) * 1000000) DIV count(1)").alias("point_mean_micro"),
    )
    return point.crossJoin(F.broadcast(stats)).select(
        F.lit(_BOOT_B).cast("long").alias("b_reps"),
        "n_rows",
        "point_mean_micro",
        "lo_micro",
        "med_micro",
        "hi_micro",
    )


def _sql_poisson_bootstrap() -> str:
    cdf = _POIS_CDF_MICRO
    case = "CASE " + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(cdf)
    ) + f" ELSE {len(cdf)} END"
    klo = max(1, _BOOT_B * 5 // 100)
    khi = _BOOT_B + 1 - klo
    kmed = (_BOOT_B + 1) // 2
    return f"""
WITH base AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), reps AS (
  SELECT o_orderkey, cents, CAST(g.b AS BIGINT) AS b
  FROM base CROSS JOIN generate_series(0, {_BOOT_B - 1}) AS g(b)
), uu AS (
  SELECT b, cents,
         CAST(('0x' || substr(md5('boot:' || CAST(b AS VARCHAR) || ':'
              || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
           % 1000000 AS u
  FROM reps
), wts AS (SELECT b, cents, {case} AS w FROM uu),
per AS (
  SELECT b, CAST(sum(w * cents) AS BIGINT) AS sc,
         CAST(sum(w) AS BIGINT) AS ne
  FROM wts GROUP BY b
), means AS (SELECT b, (sc * 1000000) // ne AS m FROM per),
ranked AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM means),
stats AS (
  SELECT max(CASE WHEN rk = {klo} THEN m END) AS lo_micro,
         max(CASE WHEN rk = {kmed} THEN m END) AS med_micro,
         max(CASE WHEN rk = {khi} THEN m END) AS hi_micro
  FROM ranked
), point AS (
  SELECT count(*) AS n_rows,
         (CAST(sum(cents) AS BIGINT) * 1000000) // count(*) AS point_mean_micro
  FROM base
)
SELECT CAST({_BOOT_B} AS BIGINT) AS b_reps, n_rows, point_mean_micro,
       lo_micro, med_micro, hi_micro
FROM point CROSS JOIN stats
"""


SQL_POISSON_BOOTSTRAP = _sql_poisson_bootstrap()


_HW_HORIZON = 7


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — Spark DIV ≡ DuckDB // ≡
    this (Python's // floors, so it CANNOT be used on negatives)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def q_holt_winters(spark, sf_dir):
    """Double-exponential (Holt) smoothing of the daily event volume with
    a 7-day linear forecast — the capacity-planning / trend-extrapolation
    op.  α=1/2, β=1/4 chosen so the recurrence is exact integer:
    l_t = (Y_t + l_{t-1} + b_{t-1}) DIV 2,
    b_t = ((l_t − l_{t-1}) + 3·b_{t-1}) DIV 4, all in micro-counts with
    truncate-toward-zero division on BOTH engines (Theil–Sen contract).

    Scale posture: corpus work = ONE combinable groupBy to the day-level
    series; the inherently-sequential recurrence runs on the collected
    CONSTANT horizon-sized series (bounded-collect contract, like
    markov_stationary) while the oracle replays it as a recursive CTE.
    Output (idx, day, y, level_micro, trend_micro); forecast rows carry
    y = NULL and level_micro = l_T + h·b_T."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(
            F.date_trunc("day", "ts").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("long")
        .alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    rows = sorted((int(r["day"]), int(r["y"])) for r in daily.collect())
    days = [d for d, _ in rows]
    Y = [y * 1_000_000 for _, y in rows]
    level = Y[0]
    trend = (Y[1] - Y[0]) if len(Y) > 1 else 0
    out = [(1, days[0], rows[0][1], level, trend)]
    for t in range(1, len(Y)):
        l_new = _tdiv(Y[t] + level + trend, 2)
        trend = _tdiv((l_new - level) + 3 * trend, 4)
        level = l_new
        out.append((t + 1, days[t], rows[t][1], level, trend))
    T = len(Y)
    for h in range(1, _HW_HORIZON + 1):
        out.append((T + h, days[-1] + h, None, level + h * trend, trend))
    return spark.createDataFrame(
        out, "idx long, day long, y long, level_micro long, trend_micro long"
    )


SQL_HOLT_WINTERS = f"""
WITH RECURSIVE hw_daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
), idx AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i, day, y,
         y * 1000000 AS ym
  FROM hw_daily
), hw(i, l, b) AS (
  SELECT CAST(1 AS BIGINT),
         (SELECT ym FROM idx WHERE i = 1),
         coalesce((SELECT ym FROM idx WHERE i = 2)
                  - (SELECT ym FROM idx WHERE i = 1), 0)
  UNION ALL
  SELECT s.i2, s.l2, ((s.l2 - s.l0) + 3 * s.b0) // 4
  FROM (SELECT hw.i + 1 AS i2, (d.ym + hw.l + hw.b) // 2 AS l2,
               hw.l AS l0, hw.b AS b0
        FROM hw JOIN idx d ON d.i = hw.i + 1) s
), obs AS (
  SELECT hw.i AS idx, d.day, d.y, hw.l AS level_micro, hw.b AS trend_micro
  FROM hw JOIN idx d ON d.i = hw.i
), lastrow AS (
  SELECT hw.i, hw.l, hw.b FROM hw WHERE hw.i = (SELECT max(i) FROM idx)
), fc AS (
  SELECT l.i + CAST(g.h AS BIGINT) AS idx,
         (SELECT max(day) FROM idx) + CAST(g.h AS BIGINT) AS day,
         CAST(NULL AS BIGINT) AS y,
         l.l + CAST(g.h AS BIGINT) * l.b AS level_micro,
         l.b AS trend_micro
  FROM lastrow l CROSS JOIN generate_series(1, {_HW_HORIZON}) g(h)
)
SELECT * FROM obs UNION ALL SELECT * FROM fc
"""


_ITEMCF_TOPK = 3
_ITEMCF_MIN_CO = 2


def q_item_cf(spark, sf_dir):
    """Item-item collaborative filtering: top-3 recommendations per part
    by co-occurrence cosine over order baskets — the classic "customers
    who bought X also bought Y" recommender.  Ranking key is the SQUARED
    cosine in integer micro-units, cos²·1e6 = (c²·1e6) DIV (n_i·n_j) —
    monotone in cosine for c > 0, so the ranking is exact with no sqrt
    anywhere (at 10^9+ baskets promote c² to decimal/HUGEINT partials).

    Scale posture: pair fan-out = per-order self-join bounded by
    basket-size² (basket_lift contract), never parts²; per-part counts
    broadcast onto the aggregated pair table; the top-k window partitions
    by item over the pair AGGREGATE (items × candidates), never the
    basket stream.  Ties break on the smaller partner key.  Output
    (partkey, rec_partkey, co, n_i, n_j, cos2_micro, rk)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    per_part = li.groupBy("pk").agg(F.count(F.lit(1)).alias("n_p"))
    a = li.select("ok", F.col("pk").alias("pa"))
    b = li.select("ok", F.col("pk").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
        .where(F.col("co") >= _ITEMCF_MIN_CO)
    )
    both = pairs.select(
        F.col("pa").alias("partkey"), F.col("pb").alias("rec_partkey"), "co"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("partkey"), F.col("pa").alias("rec_partkey"), "co"
        )
    )
    ni = F.broadcast(
        per_part.select(F.col("pk").alias("partkey"), F.col("n_p").alias("n_i"))
    )
    nj = F.broadcast(
        per_part.select(
            F.col("pk").alias("rec_partkey"), F.col("n_p").alias("n_j")
        )
    )
    scored = (
        both.join(ni, "partkey")
        .join(nj, "rec_partkey")
        .select(
            "partkey",
            "rec_partkey",
            "co",
            "n_i",
            "n_j",
            F.expr("(co * co * 1000000) DIV (n_i * n_j)").alias("cos2_micro"),
        )
    )
    w = Window.partitionBy("partkey").orderBy(
        F.desc("cos2_micro"), F.asc("rec_partkey")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _ITEMCF_TOPK)
        .select(
            "partkey", "rec_partkey", "co", "n_i", "n_j", "cos2_micro",
            F.col("rk").cast("long").alias("rk"),
        )
    )


SQL_ITEM_CF = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), per_part AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n_p FROM li GROUP BY pk
), pairs AS (
  SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS co
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= {_ITEMCF_MIN_CO}
), bo AS (
  SELECT pa AS partkey, pb AS rec_partkey, co FROM pairs
  UNION ALL
  SELECT pb AS partkey, pa AS rec_partkey, co FROM pairs
), scored AS (
  SELECT b.partkey, b.rec_partkey, b.co, ni.n_p AS n_i, nj.n_p AS n_j,
         (b.co * b.co * 1000000) // (ni.n_p * nj.n_p) AS cos2_micro
  FROM bo b
  JOIN per_part ni ON ni.pk = b.partkey
  JOIN per_part nj ON nj.pk = b.rec_partkey
), ranked AS (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY partkey
           ORDER BY cos2_micro DESC, rec_partkey ASC) AS BIGINT) AS rk
  FROM scored
)
SELECT partkey, rec_partkey, co, n_i, n_j, cos2_micro, rk
FROM ranked WHERE rk <= {_ITEMCF_TOPK}
"""


_SKEW_P = 32


def q_skew_profile(spark, sf_dir):
    """Pre-flight shuffle-skew audit of a join key (l_partkey @ P=32):
    per-partition row/key counts, the partition's share of the stream in
    micro (1e6 = perfectly balanced × P), and its heaviest key — the
    diagnostic run BEFORE a big join to decide whether to salt, and the
    relational twin of the engine's hub detector (``_hub_degrees`` in
    ``GraphContext.build``, pregel.py).  Routing is
    md5-based (pmod of the cross-engine hash), NOT Spark's internal
    hashShuffle, so both engines see the identical placement.

    Scale posture: per-key counts = ONE combinable groupBy (key
    vocabulary); everything downstream (partition rollup, heavy-key
    window) runs over that aggregate, never the stream.  Output
    (part, n_rows, n_keys, share_micro, top_key, top_key_rows)."""
    from .datapipe import _md5_int

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k")
    )
    per_key = li.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    routed = per_key.select(
        F.pmod(
            _md5_int(F.concat(F.lit("route:"), F.col("k").cast("string"))),
            F.lit(_SKEW_P),
        ).alias("part"),
        "k",
        "cnt",
    )
    w = Window.partitionBy("part").orderBy(F.desc("cnt"), F.asc("k"))
    heavy = (
        routed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("part", F.col("k").alias("top_key"), F.col("cnt").alias("top_key_rows"))
    )
    per_part = routed.groupBy("part").agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    tot = per_part.agg(F.sum("n_rows").alias("n_total"))
    return (
        per_part.join(heavy, "part")
        .crossJoin(F.broadcast(tot))
        .select(
            "part",
            "n_rows",
            "n_keys",
            F.expr(f"(n_rows * {_SKEW_P} * 1000000) DIV n_total").alias(
                "share_micro"
            ),
            "top_key",
            "top_key_rows",
        )
    )


SQL_SKEW_PROFILE = f"""
WITH per_key AS (
  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
), routed AS (
  SELECT ((CAST(('0x' || substr(md5('route:' || CAST(k AS VARCHAR)), 1, 15))
            AS BIGINT) % {_SKEW_P}) + {_SKEW_P}) % {_SKEW_P} AS part,
         k, cnt
  FROM per_key
), heavy AS (
  SELECT part, k AS top_key, cnt AS top_key_rows
  FROM (SELECT *, row_number() OVER (PARTITION BY part
                                     ORDER BY cnt DESC, k ASC) AS rk
        FROM routed)
  WHERE rk = 1
), per_part AS (
  SELECT part, CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM routed GROUP BY part
), tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total FROM per_part)
SELECT p.part, p.n_rows, p.n_keys,
       (p.n_rows * {_SKEW_P} * 1000000) // t.n_total AS share_micro,
       h.top_key, h.top_key_rows
FROM per_part p JOIN heavy h USING (part) CROSS JOIN tot t
"""


def q_join_full_outer(spark, sf_dir):
    """FULL OUTER equi-join — the reconciliation join (completes the
    inner/left/semi/anti family): customers in the LOW key range against
    per-customer order counts in the HIGH key range, so the output
    exercises all three regions (left-only, both, right-only) even on a
    referentially-intact star schema.  Output (custkey, has_customer,
    n_orders) with n_orders NULL on left-only rows and has_customer = 0
    on right-only rows.

    Scale posture: a full outer join cannot broadcast either side (both
    sides' unmatched rows must survive) — it shuffles both inputs on the
    key, which is exactly what SortMergeJoin does here; the order side is
    pre-aggregated so the join carries customer-cardinality rows."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    hi = c.agg(F.max("c_custkey").alias("mx"))
    left = (
        c.crossJoin(F.broadcast(hi))
        .where(F.col("c_custkey") * 3 <= F.col("mx") * 2)
        .select(F.col("c_custkey").alias("custkey"), F.lit(1).alias("has_customer"))
    )
    right = (
        o.crossJoin(F.broadcast(hi))
        .where(F.col("o_custkey") * 3 >= F.col("mx"))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return left.join(right, "custkey", "full_outer").select(
        "custkey",
        F.coalesce("has_customer", F.lit(0)).cast("long").alias("has_customer"),
        "n_orders",
    )


SQL_JOIN_FULL_OUTER = """
WITH hi AS (SELECT max(c_custkey) AS mx FROM customer),
lft AS (
  SELECT c_custkey AS custkey, 1 AS has_customer
  FROM customer, hi WHERE c_custkey * 3 <= mx * 2
), rgt AS (
  SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders, hi WHERE o_custkey * 3 >= mx
  GROUP BY 1
)
SELECT coalesce(l.custkey, r.custkey) AS custkey,
       CAST(coalesce(l.has_customer, 0) AS BIGINT) AS has_customer,
       r.n_orders
FROM lft l FULL OUTER JOIN rgt r ON l.custkey = r.custkey
"""


def q_bisect_median(spark, sf_dir):
    """EXACT median of l_extendedprice (integer cents) by domain
    bisection — the scale-first way to take an exact order statistic of
    10^12 rows: no global sort, no single-partition window, just
    O(log(domain)) full-scan count-below-pivot aggregates (each ONE
    combinable agg job; ~27 rounds for a cents domain).  Lower-median
    convention k = (N+1) DIV 2; bisection invariant: answer = smallest
    value v with count(x <= v) >= k.

    The driver-side loop is bounded by the DOMAIN's bit width, not the
    data (bounded-collect contract: one 1-row collect per round).  In
    production the scans would be fused over a cached/persisted column.
    Output one row (n, k, median_cents)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents")
    )
    li = li.persist()
    try:
        row = li.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
        ).collect()[0]
        n, lo, hi = int(row["n"]), int(row["lo"]), int(row["hi"])
        k = (n + 1) // 2
        while lo < hi:
            mid = (lo + hi) // 2
            cnt = int(
                li.agg(
                    F.sum((F.col("cents") <= mid).cast("long")).alias("c")
                ).collect()[0]["c"]
            )
            if cnt >= k:
                hi = mid
            else:
                lo = mid + 1
        return spark.createDataFrame(
            [(n, k, lo)], "n long, k long, median_cents long"
        )
    finally:
        li.unpersist()


# the oracle checks the VALUE directly as the k-th order statistic —
# the independent definition the bisection must reproduce.
SQL_BISECT_MEDIAN = """
WITH c AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem
), nn AS (SELECT count(*) AS n, (count(*) + 1) // 2 AS k FROM c),
med AS (
  SELECT cents AS median_cents
  FROM (SELECT cents, row_number() OVER (ORDER BY cents) AS rk FROM c), nn
  WHERE rk = k
)
SELECT nn.n, nn.k, med.median_cents FROM nn, med
"""


_ISO_PASSES = _CAL_BINS - 1  # parallel pooling reaches fixpoint in <= bins-1


def _iso_sync_passes(bins):
    """Synchronized pool-adjacent-violators on [(bin, n, npos), ...]:
    each pass compares adjacent CURRENT blocks exactly (cross-multiplied
    integer rates) and merges every violating run at once; fixed
    _ISO_PASSES passes reach the PAVA fixed point (each pass with any
    violation reduces the block count).  Returns bin -> final block id."""
    blk = {b: i for i, (b, _, _) in enumerate(sorted(bins))}
    rows = sorted(bins)
    for _ in range(_ISO_PASSES):
        agg = {}
        for b, n, np_ in rows:
            k = blk[b]
            cn, cp = agg.get(k, (0, 0))
            agg[k] = (cn + n, cp + np_)
        order = sorted(agg)
        keep = {}
        for a, bnext in zip(order, order[1:]):
            na, pa = agg[a]
            nb, pb = agg[bnext]
            keep[a] = 0 if pa * nb > pb * na else 1
        new_id = {}
        acc = 0
        for k in order:
            new_id[k] = acc
            acc += keep.get(k, 1)
        blk = {b: new_id[k] for b, k in blk.items()}
    return blk


def q_isotonic_calibration(spark, sf_dir):
    """Isotonic calibration of the reliability bins (pool-adjacent-
    violators): the monotone-nondecreasing positive-rate fit over score
    bins — what turns a ranking score into a calibrated probability
    without assuming a parametric shape.  Violating adjacent blocks are
    pooled with EXACT cross-multiplied integer comparisons (no float
    rates), synchronously, for a fixed bins-1 passes — the same rule
    unrolled in the oracle's CTE chain, so both engines compute the
    identical block partition (PAVA's fixed point is order-independent).

    Scale posture: corpus work = ONE combinable groupBy to the 10-bin
    table (calibration_bins contract); the pooling recurrence runs on the
    collected CONSTANT bin table.  Output (bin, n, n_pos, raw_rate_micro,
    iso_rate_micro) with iso monotone in bin."""
    e = _t(spark, sf_dir, "events")
    s = e.select(
        F.round(F.col("value") * 1_000_000, 0).cast("long").alias("score"),
        (F.col("event_type") == _AUC_POS_TYPE).cast("long").alias("pos"),
    )
    mm = s.agg(F.min("score").alias("mn"), F.max("score").alias("mx"))
    binned = s.crossJoin(F.broadcast(mm)).select(
        F.expr(f"((score - mn) * {_CAL_BINS}) DIV (mx - mn + 1)").alias("bin"),
        "pos",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("np")
    )
    rows = [(int(r["bin"]), int(r["n"]), int(r["np"])) for r in per_bin.collect()]
    blk = _iso_sync_passes(rows)
    agg = {}
    for b, n, np_ in rows:
        cn, cp = agg.get(blk[b], (0, 0))
        agg[blk[b]] = (cn + n, cp + np_)
    out = [
        (
            b,
            n,
            np_,
            (np_ * 1_000_000) // n,
            (agg[blk[b]][1] * 1_000_000) // agg[blk[b]][0],
        )
        for b, n, np_ in sorted(rows)
    ]
    return spark.createDataFrame(
        out, "bin long, n long, n_pos long, raw_rate_micro long, iso_rate_micro long"
    )


def _sql_isotonic_calibration() -> str:
    ctes = [
        f"""s AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS score,
         CAST(event_type = '{_AUC_POS_TYPE}' AS BIGINT) AS pos
  FROM events
)""",
        "mm AS (SELECT min(score) AS mn, max(score) AS mx FROM s)",
        f"""binned AS (
  SELECT ((score - mn) * {_CAL_BINS}) // (mx - mn + 1) AS bin, pos
  FROM s, mm
)""",
        """b0 AS MATERIALIZED (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS np,
         CAST(bin AS BIGINT) AS blk
  FROM binned GROUP BY bin
)""",
    ]
    for i in range(1, _ISO_PASSES + 1):
        p = f"b{i - 1}"
        ctes += [
            f"g{i} AS MATERIALIZED (SELECT blk, sum(n) AS n, sum(np) AS np FROM {p} GROUP BY blk)",
            f"o{i} AS MATERIALIZED (SELECT blk, n, np, row_number() OVER (ORDER BY blk) AS r FROM g{i})",
            f"v{i} AS (SELECT a.blk, CASE WHEN a.np * b.n > b.np * a.n "
            f"THEN 0 ELSE 1 END AS keepb "
            f"FROM o{i} a JOIN o{i} b ON b.r = a.r + 1)",
            f"k{i} AS (SELECT o.r, o.blk, coalesce(v.keepb, 1) AS keepb "
            f"FROM o{i} o LEFT JOIN v{i} v ON v.blk = o.blk)",
            f"m{i} AS (SELECT blk, CAST(coalesce(sum(keepb) OVER ("
            f"ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            f" AS BIGINT) AS nblk FROM k{i})",
            f"b{i} AS MATERIALIZED (SELECT t.bin, t.n, t.np, m.nblk AS blk "
            f"FROM {p} t JOIN m{i} m ON m.blk = t.blk)",
        ]
    last = f"b{_ISO_PASSES}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
gf AS (SELECT blk, sum(n) AS n, sum(np) AS np FROM {last} GROUP BY blk)
SELECT t.bin, t.n, t.np AS n_pos,
       CAST((t.np * 1000000) // t.n AS BIGINT) AS raw_rate_micro,
       CAST((g.np * 1000000) // g.n AS BIGINT) AS iso_rate_micro
FROM {last} t JOIN gf g USING (blk)
"""
    )


SQL_ISOTONIC_CALIBRATION = _sql_isotonic_calibration()


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout (§2.15 row 273): the standard
# experimentation-platform adjustment (Deng et al., WSDM'13, public) —
# adjusted metric = Y − θ·(X − E[X]) with θ = cov(X,Y)/var(X) from the
# PRE-period covariate, here X = per-user event count in Jan 1-15 and
# Y = the count in Jan 16-30, arms assigned by a deterministic md5 coin.
#
# Everything is EXACT integer algebra so the gate hash cannot trip on
# float summation order: counts are ints; n²·cov = n·Σxy − Σx·Σy and
# n²·var = n·Σx² − (Σx)² are exact int64; θ and all means ship in micro
# units via a sign-portable floor division (a − ((a % b) + b) % b) / b —
# Spark's div and DuckDB's // disagree on negative operands, this form
# doesn't.  Scale posture: ONE combinable per-user groupBy over the event
# stream, then arm/global rollups over user-cardinality rows; θ rides a
# 1-row broadcast crossJoin (the hits.py normalizer pattern).
# ---------------------------------------------------------------------------

_CUPED_SPLIT_DAY = 16  # days < 16 → covariate window, >= 16 → metric window


def _fdiv(a, b):
    """Floor division a // b (b > 0) as exact int64, identical on Spark
    and DuckDB for either sign of ``a`` (both engines' native integer
    division truncates toward zero, which differs on negatives).

    After subtracting m, (a - m) is exactly divisible by b, so the
    division below has an integer quotient; it runs in DECIMAL(38,0) →
    DECIMAL(38,6), NOT IEEE double, so it stays exact past 2^53 (the
    DuckDB twin uses integer ``//``, exact for the same reason).  The
    remaining exactness bound is int64 overflow when the CALLER forms
    ``a`` itself (e.g. 1e6·(gn·sxy−gsx·gsy)) — callers keep |a| < 2^63
    by construction at gate scale and document their own bound."""
    m = ((a % b) + b) % b
    return ((a - m).cast("decimal(38,0)") / b).cast("long")


def q_cuped_adjust(spark, sf_dir):
    """Per arm: (arm, n, sum_x, sum_y, theta_micro, mean_y_micro,
    mean_adj_micro) — raw and CUPED-adjusted period-2 means."""
    from .datapipe import _md5_int

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.dayofmonth("ts") < _CUPED_SPLIT_DAY, 1).otherwise(0)
        ).cast("long").alias("x"),
        F.sum(
            F.when(F.dayofmonth("ts") >= _CUPED_SPLIT_DAY, 1).otherwise(0)
        ).cast("long").alias("y"),
    ).select(
        (_md5_int(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))) % 2)
        .cast("int")
        .alias("arm"),
        "x",
        "y",
    )
    g = per_user.agg(
        F.count(F.lit(1)).alias("gn"),
        F.sum("x").alias("gsx"),
        F.sum("y").alias("gsy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).select(
        "gn",
        "gsx",
        _fdiv(
            F.lit(1_000_000).cast("long")
            * (F.col("gn") * F.col("sxy") - F.col("gsx") * F.col("gsy")),
            F.col("gn") * F.col("sxx") - F.col("gsx") * F.col("gsx"),
        ).alias("theta_micro"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
    )
    mil = F.lit(1_000_000).cast("long")
    out = arms.crossJoin(F.broadcast(g))
    mean_y = _fdiv(mil * F.col("sum_y"), F.col("n"))
    dx = _fdiv(mil * F.col("sum_x"), F.col("n")) - _fdiv(
        mil * F.col("gsx"), F.col("gn")
    )
    return out.select(
        "arm",
        "n",
        "sum_x",
        "sum_y",
        "theta_micro",
        mean_y.alias("mean_y_micro"),
        (mean_y - _fdiv(F.col("theta_micro") * dx, mil)).alias(
            "mean_adj_micro"
        ),
    )


def _sql_cuped() -> str:
    from .datapipe import _sql_md5_int

    def fdiv(a: str, b: str) -> str:
        # (a - m) is exactly divisible by b, so integer // is the exact
        # quotient (and stays exact past 2^53, where double / would not)
        return (
            f"CAST((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) // ({b})"
            " AS BIGINT)"
        )

    arm = _sql_md5_int("'arm:' || CAST(user_id AS VARCHAR)")
    theta = fdiv(
        "1000000 * (gn * sxy - gsx * gsy)",
        "gn * sxx - gsx * gsx",
    )
    mean_y = fdiv("1000000 * sum_y", "n")
    dx = (
        fdiv("1000000 * sum_x", "n")
        + " - "
        + fdiv("1000000 * gsx", "gn")
    )
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN day(ts) < {_CUPED_SPLIT_DAY} THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN day(ts) >= {_CUPED_SPLIT_DAY} THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
), armed AS (
  SELECT CAST({arm} % 2 AS INT) AS arm, x, y FROM per_user
), g AS (
  SELECT CAST(count(*) AS BIGINT) AS gn,
         CAST(sum(x) AS BIGINT) AS gsx,
         CAST(sum(y) AS BIGINT) AS gsy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM armed
), gt AS (
  SELECT gn, gsx, {theta} AS theta_micro FROM g
), arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sum_x,
         CAST(sum(y) AS BIGINT) AS sum_y
  FROM armed GROUP BY arm
)
SELECT arm, n, sum_x, sum_y, theta_micro,
       {mean_y} AS mean_y_micro,
       {mean_y} - {fdiv(f"theta_micro * ({dx})", "1000000")}
         AS mean_adj_micro
FROM arms CROSS JOIN gt
"""


SQL_CUPED_ADJUST = _sql_cuped()


# ---------------------------------------------------------------------------
# exact-integer autocorrelation function (§2.15 row 275): lag-1..7 sample
# ACF of the daily event-count series — the stationarity/seasonality
# diagnostic read before fitting holt_winters (a weekly cycle shows as a
# lag-7 peak).  The classic estimator r_k = Σ(x_t−x̄)(x_{t+k}−x̄)/Σ(x_t−x̄)²
# is computed with the mean cleared of division: scaling by n gives
# num'_k = Σ(n·x_t − S)(n·x_{t+k} − S) and den' = Σ(n·x_t − S)² — exact
# int64 products, and r_micro ships via the sign-portable floor division
# (_fdiv), so the gate hash sees only integers.
#
# Scale posture: the corpus-sized work is ONE combinable groupBy(day);
# everything downstream (lag join, num/den sums) runs on the
# series-length aggregate (days, not events) — the shape that computes an
# ACF over 10^12 events without a single wide shuffle.
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


def q_events_autocorr(spark, sf_dir):
    """One row per lag k=1..7: (k, n_pairs, num_scaled, den_scaled,
    r_micro) over the daily event-count series."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.dayofmonth("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    g = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    c = daily.crossJoin(F.broadcast(g)).select(
        "d", (F.col("n") * F.col("x") - F.col("s")).alias("cx"), "n"
    )
    den = c.agg(F.sum(F.col("cx") * F.col("cx")).alias("den_scaled"))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("k")
    )
    a = c.select(F.col("d"), F.col("cx").alias("ca"))
    b = c.select(F.col("d").alias("d2"), F.col("cx").alias("cb"))
    pairs = (
        lags.crossJoin(a)
        .join(b, F.col("d2") == F.col("d") + F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("ca") * F.col("cb")).alias("num_scaled"),
        )
    )
    return pairs.crossJoin(F.broadcast(den)).select(
        "k",
        "n_pairs",
        "num_scaled",
        "den_scaled",
        _fdiv(
            F.lit(1_000_000).cast("long") * F.col("num_scaled"),
            F.col("den_scaled"),
        ).alias("r_micro"),
    )


def _sql_autocorr() -> str:
    def fdiv(a: str, b: str) -> str:
        # (a - m) is exactly divisible by b, so integer // is the exact
        # quotient (and stays exact past 2^53, where double / would not)
        return (
            f"CAST((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) // ({b})"
            " AS BIGINT)"
        )

    return f"""
WITH daily AS (
  SELECT day(ts) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY day(ts)
), g AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
  FROM daily
), c AS (
  SELECT d, n * x - s AS cx FROM daily CROSS JOIN g
), den AS (
  SELECT CAST(sum(cx * cx) AS BIGINT) AS den_scaled FROM c
), lags AS (
  SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS k
), pairs AS (
  SELECT CAST(k AS INT) AS k, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(a.cx * b.cx) AS BIGINT) AS num_scaled
  FROM lags, c a, c b WHERE b.d = a.d + k
  GROUP BY k
)
SELECT k, n_pairs, num_scaled, den_scaled,
       {fdiv("1000000 * num_scaled", "den_scaled")} AS r_micro
FROM pairs CROSS JOIN den
"""


SQL_EVENTS_AUTOCORR = _sql_autocorr()


REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "filter_project": (q_filter_project, SQL_FILTER_PROJECT),
    "dropdup": (q_dropdup, SQL_DROPDUP),
    "agg_pricing": (q_agg_pricing, SQL_AGG_PRICING),
    "distinct_count": (q_distinct_count, SQL_DISTINCT_COUNT),
    "rollup_orders": (q_rollup, SQL_ROLLUP),
    "cube_events": (q_cube, SQL_CUBE),
    "join_region_revenue": (q_join_region_revenue, SQL_JOIN_REGION_REVENUE),
    "join_left_orders": (q_join_left_orders, SQL_JOIN_LEFT_ORDERS),
    "semi_customers": (q_semi_customers, SQL_SEMI_CUSTOMERS),
    "anti_customers": (q_anti_customers, SQL_ANTI_CUSTOMERS),
    "window_top_order": (q_window_top_order, SQL_WINDOW_TOP_ORDER),
    "window_lag_events": (q_window_lag_events, SQL_WINDOW_LAG_EVENTS),
    "dense_rank_parts": (q_dense_rank_parts, SQL_DENSE_RANK_PARTS),
    "running_total": (q_running_total, SQL_RUNNING_TOTAL),
    "running_distinct": (q_running_distinct, SQL_RUNNING_DISTINCT),
    "unpivot_lineitem": (q_unpivot_lineitem, SQL_UNPIVOT_LINEITEM),
    "moving_window_1h": (q_moving_window, SQL_MOVING_WINDOW),
    "funnel_conversion": (q_funnel, SQL_FUNNEL),
    "rate_anomaly": (q_rate_anomaly, SQL_RATE_ANOMALY),
    "scd2_customers": (q_scd2, SQL_SCD2),
    "session_paths": (q_session_paths, SQL_SESSION_PATHS),
    "topk_orders": (q_topk_orders, SQL_TOPK_ORDERS),
    "union_segments": (q_union_segments, SQL_UNION_SEGMENTS),
    "intersect_custkeys": (q_intersect_custkeys, SQL_INTERSECT_CUSTKEYS),
    "except_custkeys": (q_except_custkeys, SQL_EXCEPT_CUSTKEYS),
    "string_ops": (q_string_ops, SQL_STRING_OPS),
    "date_buckets": (q_date_buckets, SQL_DATE_BUCKETS),
    "date_trunc_month": (q_date_trunc, SQL_DATE_TRUNC),
    "time_window_day": (q_time_window, SQL_TIME_WINDOW),
    "grouping_sets_orders": (q_grouping_sets, SQL_GROUPING_SETS),
    "approx_distinct": (q_approx_distinct, SQL_APPROX_DISTINCT),
    "approx_percentile": (q_approx_percentile, SQL_APPROX_PERCENTILE),
    "pivot_orders": (q_pivot_orders, SQL_PIVOT_ORDERS),
    "percentiles": (q_percentiles, SQL_PERCENTILES),
    "ntile_customers": (q_ntile_customers, SQL_NTILE_CUSTOMERS),
    "stats_agg": (q_stats_agg, SQL_STATS_AGG),
    "sessionize_events": (q_sessionize, SQL_SESSIONIZE),
    "basket_lift": (q_basket_lift, SQL_BASKET_LIFT),
    "rfm_scores": (q_rfm_scores, SQL_RFM_SCORES),
    "decayed_activity": (q_decayed_activity, SQL_DECAYED_ACTIVITY),
    "order_backlog": (q_order_backlog, SQL_ORDER_BACKLOG),
    "zorder_layout": (q_zorder_layout, SQL_ZORDER_LAYOUT),
    "last_touch_attribution": (q_last_touch_attribution, SQL_LAST_TOUCH_ATTRIBUTION),
    "tool_latency": (q_tool_latency, SQL_TOOL_LATENCY),
    "tool_position": (q_tool_position, SQL_TOOL_POSITION),
    "user_burstiness": (q_user_burstiness, SQL_USER_BURSTINESS),
    "tool_runs": (q_tool_runs, SQL_TOOL_RUNS),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "active_users": (q_active_users, SQL_ACTIVE_USERS),
    "posexplode_words": (q_posexplode, SQL_POSEXPLODE),
    "agg_strings_nation": (q_agg_strings, SQL_AGG_STRINGS),
    "percent_rank_cust": (q_percent_rank, SQL_PERCENT_RANK),
    "cond_agg_lineitem": (q_cond_agg, SQL_COND_AGG),
    "array_words": (q_array_words, SQL_ARRAY_WORDS),
    "json_props": (q_json_props, SQL_JSON_PROPS),
    "higher_order_array": (q_higher_order_array, SQL_HIGHER_ORDER_ARRAY),
    "turn_edges": (q_turn_edges, SQL_TURN_EDGES),
    "tool_edges": (q_tool_edges, SQL_TOOL_EDGES),
    "out_degrees": (q_out_degrees, SQL_OUT_DEGREES),
    "triangle_count": (q_triangle_count, SQL_TRIANGLE_COUNT),
    "bloom_semijoin": (q_bloom_semijoin, SQL_BLOOM_SEMIJOIN),
    "kmv_distinct": (q_kmv_distinct, SQL_KMV_DISTINCT),
    "sft_pairs": (q_sft_pairs, SQL_SFT_PAIRS),
    "spatial_nn_join": (q_spatial_nn_join, SQL_SPATIAL_NN_JOIN),
    "k_anonymity": (q_k_anonymity, SQL_K_ANONYMITY),
    "skyline_parts": (q_skyline_parts, SQL_SKYLINE_PARTS),
    "winsorize_stats": (q_winsorize_stats, SQL_WINSORIZE_STATS),
    "fk_integrity": (q_fk_integrity, SQL_FK_INTEGRITY),
    "theil_sen_trend": (q_theil_sen_trend, SQL_THEIL_SEN_TREND),
    "auc_mann_whitney": (q_auc_mann_whitney, SQL_AUC_MANN_WHITNEY),
    "calibration_bins": (q_calibration_bins, SQL_CALIBRATION_BINS),
    "chi2_independence": (q_chi2_independence, SQL_CHI2_INDEPENDENCE),
    "poisson_bootstrap": (q_poisson_bootstrap, SQL_POISSON_BOOTSTRAP),
    "holt_winters": (q_holt_winters, SQL_HOLT_WINTERS),
    "item_cf": (q_item_cf, SQL_ITEM_CF),
    "skew_profile": (q_skew_profile, SQL_SKEW_PROFILE),
    "join_full_outer": (q_join_full_outer, SQL_JOIN_FULL_OUTER),
    "bisect_median": (q_bisect_median, SQL_BISECT_MEDIAN),
    "isotonic_calibration": (q_isotonic_calibration, SQL_ISOTONIC_CALIBRATION),
    "cuped_adjust": (q_cuped_adjust, SQL_CUPED_ADJUST),
    "events_autocorr": (q_events_autocorr, SQL_EVENTS_AUTOCORR),
    "cusum_changepoint": (q_cusum_changepoint, SQL_CUSUM_CHANGEPOINT),
    "benford_audit": (q_benford_audit, SQL_BENFORD_AUDIT),
    "table_profile": (q_table_profile, SQL_TABLE_PROFILE),
}
