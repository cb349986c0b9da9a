"""Core relational queries: scan/filter/project, joins, aggregation,
set ops, reshape, string/date/math functions (SURVEY.md §2.1-2.4,
§2.6-2.9).

Each query is written Spark-first (declarative DataFrame ops so
Catalyst gets pushdown/pruning/broadcast) with a DuckDB oracle that is
value-identical thanks to the deterministic decimal aggregation in
pandrs_spark.functions.deterministic.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import (
    davg,
    dsum,
    dsum_over,
    sql_davg,
    sql_dsum,
    sql_dsum_over,
)
from pandrs_spark.operators.joins import anti_join, merge, semi_join
from pandrs_spark.operators.util import small_local_df
from pandrs_spark.queries import query


@functools.cache
def _process_scratch(pid: int) -> str:
    """This process's scratch directory, made on first use and removed
    at exit: the files outlive the query that wrote them, since the
    frame it returns reads them lazily. Keyed by the process id, so a
    forked child makes its own."""
    root = tempfile.mkdtemp(prefix=f"pandrs_{pid}_")
    atexit.register(shutil.rmtree, root, True)
    return root


def _scratch_path(kind: str, sf_dir: str) -> str:
    """Where a query that writes files and reads them back keeps them:
    ``<kind>_<sf>`` under :func:`_process_scratch`, so two processes
    running the registry at one scale factor never write into each
    other's files."""
    return os.path.join(
        _process_scratch(os.getpid()), f"{kind}_{os.path.basename(sf_dir)}"
    )


# --- q01: TPC-H Q1 shape — filter → groupBy → sum/avg/count → sort ----------
# Reference: groupby sugar src/dataframe/groupby.rs:327-397; filter
# src/optimized/split_dataframe/row_ops.rs:26.
@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {sql_davg('l_quantity')} AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2000-12-01 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- q02: TPC-H Q6 shape — tight filter, pushdown-friendly single agg -------
@query(
    "q02_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 4)} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q02(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1997-01-01 00:00:00")
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --- q03: TPC-H Q3 shape — 3-way join, agg, deterministic top-k -------------
@query(
    "q03_unshipped_revenue_topk",
    oracle=f"""
    SELECT o_orderkey, o_orderdate,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03(spark, sf_dir):
    cust = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1999-01-01 00:00:00")
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-06-30 00:00:00")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


# --- q04: semi join (EXISTS) — free in Spark, absent in reference (§2.3) ----
@query(
    "q04_priority_with_heavy_items",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_quantity > 45
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q04(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    heavy = T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        semi_join(orders, heavy, orders.o_orderkey == heavy.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --- q05: TPC-H Q5 shape — star join with broadcast dims --------------------
@query(
    "q05_region_nation_revenue",
    oracle=f"""
    SELECT r_name, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           COUNT(*) AS n_items
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def q05(spark, sf_dir):
    region = T(spark, sf_dir, "region")
    nation = T(spark, sf_dir, "nation")
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    # Scale shape: the big joins carry only c_nationkey, the aggregate
    # collapses to nation cardinality BEFORE any name lookup, and the
    # only broadcast-hinted frame is the fixed 25-row nation x region
    # dim. customer joins unhinted — the size-based planner broadcasts
    # it at test SF and correctly shuffles at 100 TB.
    per_nation = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_nationkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    ndim = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "r_name", "n_name")
    )
    return (
        per_nation.join(
            F.broadcast(ndim), per_nation.c_nationkey == ndim.n_nationkey
        )
        .select("r_name", "n_name", "revenue", "n_items")
        .orderBy("r_name", "n_name")
    )


# --- q06: anti join (NOT EXISTS) -------------------------------------------
@query(
    "q06_customers_without_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    ORDER BY c_custkey
    """,
)
def q06(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    urgent = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        anti_join(cust, urgent, cust.c_custkey == urgent.o_custkey)
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


# --- q07: distinct over derived columns ------------------------------------
@query(
    "q07_distinct_priority_year",
    oracle="""
    SELECT DISTINCT o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS order_year
    FROM orders
    ORDER BY o_orderpriority, order_year
    """,
)
def q07(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderpriority", F.year("o_orderdate").alias("order_year")
        )
        .distinct()
        .orderBy("o_orderpriority", "order_year")
    )


# --- q08: deterministic top-k (nlargest — compat :159) ----------------------
@query(
    "q08_top_customers_by_balance",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 20
    """,
)
def q08(spark, sf_dir):
    return (
        T(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), "c_custkey")
        .limit(20)
    )


# --- q09: set operations — union / intersect / except (§2.7) ----------------
@query(
    "q09_customer_activity_setops",
    oracle="""
    SELECT 'both_years' AS op, COUNT(*) AS n FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    ) t
    UNION ALL
    SELECT 'only_1996', COUNT(*) FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    ) t
    UNION ALL
    SELECT 'either_year', COUNT(*) FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        UNION
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    ) t
    ORDER BY op
    """,
)
def q09(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = orders.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    both = y96.intersect(y97).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both_years").alias("op"), "n"
    )
    only96 = y96.subtract(y97).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("only_1996").alias("op"), "n")
    either = y96.union(y97).distinct().agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("either_year").alias("op"), "n"
    )
    return both.unionByName(only96).unionByName(either).orderBy("op")


# --- q10: ranking window functions (§2.5b) ----------------------------------
@query(
    "q10_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER w AS rn,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ) t
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def q10(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
        # no global sort: 3×|customers| output rows; the gate compares
        # order-insensitively and a full range-shuffle of a large result
        # is exactly what a 100 TB plan must not do
    )


# --- q11: lag/lead, diff, pct_change (§2.5c) --------------------------------
@query(
    "q11_order_price_deltas",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           o_totalprice - LAG(o_totalprice) OVER w AS price_diff,
           ROUND((o_totalprice - LAG(o_totalprice) OVER w) / LAG(o_totalprice) OVER w, 6) AS pct_change
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q11(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.col("o_totalprice") - prev).alias("price_diff"),
        F.round((F.col("o_totalprice") - prev) / prev, 6).alias("pct_change"),
    ).orderBy("o_custkey", "o_orderkey")


# --- q12: rolling mean over row frame (§2.5a) — deterministic scaled sum ----
@query(
    "q12_rolling_avg_price",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           {sql_dsum_over('o_totalprice', 'w7')}
           / COUNT(o_totalprice) OVER w7 AS rolling_avg_7
    FROM orders
    WINDOW w7 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q12(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-6, 0)
    )
    # no global sort (order-insensitive gate; avoids a second full
    # shuffle after the window pass — the plan is one Exchange total)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (dsum_over("o_totalprice", w) / F.count("o_totalprice").over(w)).alias(
            "rolling_avg_7"
        ),
    )


# --- q13: cumulative sum + cumcount (§2.5c) ---------------------------------
@query(
    "q13_running_customer_spend",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           {sql_dsum_over('o_totalprice', 'wc')} AS cum_spend,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
    FROM orders
    WINDOW wc AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q13(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    ord_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w = ord_w.rowsBetween(Window.unboundedPreceding, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        dsum_over("o_totalprice", w).alias("cum_spend"),
        F.row_number().over(ord_w).alias("order_seq"),
    ).orderBy("o_custkey", "o_orderkey")


# --- q14: pivot table (§2.4 pivot/mod.rs:234) -------------------------------
@query(
    "q14_pivot_qty_by_flag_status",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_f,
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_o
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q14(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum("l_quantity"))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")
    )


# --- q15: melt / unpivot (§2.8, compat :1317) -------------------------------
@query(
    "q15_melt_part_measures",
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS variable, p_retailprice AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
    ORDER BY p_partkey, variable
    """,
)
def q15(spark, sf_dir):
    part = T(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.col("p_retailprice"),
            F.col("p_size").cast("double").alias("p_size"),
        )
        .unpivot(["p_partkey"], ["p_retailprice", "p_size"], "variable", "value")
        .orderBy("p_partkey", "variable")
    )


# --- q16: value_counts with share (§2.4 compat :359) ------------------------
@query(
    "q16_event_type_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS share
    FROM events
    GROUP BY event_type
    ORDER BY cnt DESC, event_type
    """,
)
def q16(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    total_w = Window.partitionBy()
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("share", F.round(F.col("cnt") * 1.0 / F.sum("cnt").over(total_w), 6))
        .orderBy(F.desc("cnt"), "event_type")
    )


# --- q17: string function surface (§2.9 string accessor) --------------------
@query(
    "q17_string_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS uname,
           LOWER(p_brand) AS lbrand,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           SUBSTR(p_name, 1, 4) AS prefix4,
           REPLACE(p_name, ' ', '_') AS snake,
           CASE WHEN strpos(p_name, 'red') > 0 THEN TRUE ELSE FALSE END AS has_red,
           p_name LIKE 'small%' AS is_small,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           LPAD(p_brand, 10, '*') AS padded,
           CAST(LENGTH(string_split(p_name, ' ')) AS INTEGER) AS n_words,
           TRIM(CONCAT('  ', p_name, '  ')) AS trimmed
    FROM part
    ORDER BY p_partkey
    """,
)
def q17(spark, sf_dir):
    part = T(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.lower("p_brand").alias("lbrand"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 4).alias("prefix4"),
        F.regexp_replace("p_name", " ", "_").alias("snake"),
        (F.instr(F.col("p_name"), "red") > 0).alias("has_red"),
        F.col("p_name").startswith("small").alias("is_small"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.lpad("p_brand", 10, "*").alias("padded"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
    ).orderBy("p_partkey")


# --- q18: datetime function surface (§2.9 datetime accessor) ----------------
@query(
    "q18_datetime_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS wk,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INTEGER) AS days_since_epoch_start,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders
    ORDER BY o_orderkey
    """,
)
def q18(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.weekofyear("o_orderdate").alias("wk"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        F.add_months("o_orderdate", 3).alias("plus3m"),
        F.datediff("o_orderdate", F.lit("1995-01-01")).alias("days_since_epoch_start"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    ).orderBy("o_orderkey")


# --- q19: null handling — isna/fillna/dropna/coalesce (§2.2) ----------------
@query(
    "q19_null_handling",
    oracle=f"""
    WITH d AS (
        SELECT l_returnflag,
               CASE WHEN l_orderkey % 10 = 0 THEN NULL ELSE l_discount END AS disc
        FROM lineitem
    )
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(disc) AS n_valid,
           COUNT(*) - COUNT(disc) AS n_null,
           {sql_dsum('COALESCE(disc, 0.05)', 4)} AS sum_filled,
           {sql_dsum('disc', 4)} AS sum_dropna
    FROM d
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q19(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    d = li.select(
        "l_returnflag",
        F.when(F.col("l_orderkey") % 10 == 0, None)
        .otherwise(F.col("l_discount"))
        .alias("disc"),
    )
    return (
        d.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("disc").alias("n_valid"),
            (F.count(F.lit(1)) - F.count("disc")).alias("n_null"),
            dsum(F.coalesce(F.col("disc"), F.lit(0.05)), 4).alias("sum_filled"),
            dsum("disc", 4).alias("sum_dropna"),
        )
        .orderBy("l_returnflag")
    )


# --- q20: case/when buckets, isin, between, clip (§2.2, §2.9) ---------------
@query(
    "q20_quantity_buckets",
    oracle=f"""
    SELECT CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'high' END AS bucket,
           COUNT(*) AS cnt,
           {sql_dsum('LEAST(GREATEST(l_discount, 0.02), 0.08)', 4)} AS sum_clipped_disc,
           COUNT(CASE WHEN l_returnflag IN ('A', 'R') THEN 1 END) AS n_returned,
           COUNT(CASE WHEN l_quantity BETWEEN 20 AND 40 THEN 1 END) AS n_mid_qty
    FROM lineitem
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q20(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high")
    )
    clipped = F.least(F.greatest(F.col("l_discount"), F.lit(0.02)), F.lit(0.08))
    return (
        li.select(
            bucket.alias("bucket"),
            clipped.alias("clipped"),
            F.col("l_returnflag").isin("A", "R").alias("is_returned"),
            F.col("l_quantity").between(20, 40).alias("is_mid"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("clipped", 4).alias("sum_clipped_disc"),
            F.count(F.when(F.col("is_returned"), 1)).alias("n_returned"),
            F.count(F.when(F.col("is_mid"), 1)).alias("n_mid_qty"),
        )
        .orderBy("bucket")
    )


# --- q21: explode/split words (§2.8 compat :1411) ---------------------------
@query(
    "q21_part_name_words",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part) t
    GROUP BY word
    ORDER BY cnt DESC, word
    """,
)
def q21(spark, sf_dir):
    part = T(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
    )


# --- q22: JSON extraction (beyond reference — §2.9 'absent' note) -----------
@query(
    "q22_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q22(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# --- q23: pandas-style merge with suffixes (§2.3 merge.rs:34) ---------------
@query(
    "q23_merge_suffixes",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           o.o_totalprice, c.c_acctbal,
           c.c_name, c.c_mktsegment
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 5000
    ORDER BY o.o_orderkey
    """,
)
def q23(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    m = merge(
        orders,
        cust,
        left_on="o_custkey",
        right_on="c_custkey",
        how="inner",
        broadcast_right=True,
    )
    return m.select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_acctbal", "c_name", "c_mktsegment"
    ).orderBy("o_orderkey")


# --- q24: grouping sets / rollup (§2.4 'absent' — free in Spark) ------------
@query(
    "q24_rollup_qty",
    oracle=f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
           {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, returnflag, linestatus
    """,
)
def q24(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    gid = (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")).cast("int")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            gid.alias("gid"),
            dsum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "sum_qty",
            "cnt",
        )
        .orderBy("gid", "returnflag", "linestatus")
    )


# --- q25: crosstab-style contingency counts (§2.4 compat :2138) -------------
@query(
    "q25_crosstab_flag_status",
    oracle="""
    SELECT l_returnflag,
           COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS status_f,
           COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS status_o
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q25(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .withColumnRenamed("F", "status_f")
        .withColumnRenamed("O", "status_o")
        .orderBy("l_returnflag")
    )


# --- q89: idxmax/idxmin — key of the extreme row per group (§2.4,
# compat :175,:184,:3721) ----------------------------------------------------
# Ties broken by smallest key so both engines agree deterministically.
@query(
    "q89_idxmax_per_flag",
    oracle="""
    SELECT l_returnflag,
           MIN(CASE WHEN l_extendedprice = mx THEN l_orderkey END) AS idxmax_key,
           MIN(CASE WHEN l_extendedprice = mn THEN l_orderkey END) AS idxmin_key,
           MAX(mx) AS max_price, MAX(mn) AS min_price
    FROM (
        SELECT l_returnflag, l_orderkey, l_extendedprice,
               MAX(l_extendedprice) OVER (PARTITION BY l_returnflag) AS mx,
               MIN(l_extendedprice) OVER (PARTITION BY l_returnflag) AS mn
        FROM lineitem
    )
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q89(spark, sf_dir):
    # ONE map-side-combined aggregate — no window: the previous
    # PARTITION BY l_returnflag (3 values) window funneled the whole
    # fact table through 3 tasks at scale. max_by/min_by on a
    # (price, key) struct gets the extreme row's key with the same
    # smallest-key tie-break (negate the key under max_by).
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "max_by(l_orderkey, struct(l_extendedprice, -l_orderkey))"
            ).alias("idxmax_key"),
            F.expr(
                "min_by(l_orderkey, struct(l_extendedprice, l_orderkey))"
            ).alias("idxmin_key"),
            F.max("l_extendedprice").alias("max_price"),
            F.min("l_extendedprice").alias("min_price"),
        )
        .orderBy("l_returnflag")
    )


# --- q90: cube with grouping ids — the §2.4 "absent in reference, free in
# Spark" multi-level aggregation (hierarchical_groupby.rs re-expressed) ------
@query(
    "q90_cube_qty",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
           {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY g_flag, g_status, l_returnflag, l_linestatus
    """,
)
def q90(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
            dsum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n"
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


# --- q91: array/higher-order functions over embeddings (§2.9 "absent in
# reference, free in Spark": array_*, aggregate/transform/zip_with) ----------
@query(
    "q91_array_functions",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(CAST(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum') AS DOUBLE), 4) AS vec_sum,
           ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 4) AS vec_max,
           ROUND(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 4) AS vec_min,
           ROUND(SQRT(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum')), 4) AS l2,
           len(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings
    WHERE vec_id < 100
    ORDER BY vec_id
    """,
)
def q91(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    v = F.col("embedding").cast("array<double>")
    zero = F.lit(0.0)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate(v, zero, lambda a, x: a + x), 4).alias("vec_sum"),
        F.round(F.array_max(v), 4).alias("vec_max"),
        F.round(F.array_min(v), 4).alias("vec_min"),
        F.round(
            F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), zero, lambda a, x: a + x)),
            4,
        ).alias("l2"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
    ).orderBy("vec_id")


# --- q92: categorical encode — dictionary codes as a broadcast dim (§1.2,
# src/series/categorical.rs:29) ----------------------------------------------
@query(
    "q92_categorical_encode",
    oracle="""
    WITH dim AS (
        SELECT l_returnflag AS label,
               ROW_NUMBER() OVER (ORDER BY l_returnflag) - 1 AS code
        FROM (SELECT DISTINCT l_returnflag FROM lineitem)
    )
    SELECT d.code, d.label, COUNT(*) AS n
    FROM lineitem l JOIN dim d ON d.label = l.l_returnflag
    GROUP BY d.code, d.label
    ORDER BY d.code
    """,
)
def q92(spark, sf_dir):
    from pandrs_spark.operators.categorical import encode

    li = T(spark, sf_dir, "lineitem")
    encoded, dim = encode(li, "l_returnflag", code_col="code")
    return (
        encoded.groupBy("code")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(dim), "code")
        .select("code", "label", "n")
        .orderBy("code")
    )


# --- q93: custom grouped UDAF via pandas (§2.15 NamedAgg::custom,
# src/dataframe/groupby.rs:108) ----------------------------------------------
# Rank-trimmed mean: drop the k=floor(n/10) smallest and largest values
# per group, average the rest. The pandas GROUPED_AGG UDF and the SQL
# row_number-filtered mean compute the identical set, so values match.
@query(
    "q93_custom_udaf_trimmed_mean",
    oracle="""
    WITH ranked AS (
        SELECT c_mktsegment, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer
    )
    SELECT c_mktsegment,
           ROUND(AVG(c_acctbal), 6) AS trimmed_mean,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM ranked
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q93(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed_mean(v: pd.Series) -> float:
        s = v.sort_values(kind="mergesort").reset_index(drop=True)
        k = len(s) // 10
        kept = s.iloc[k : len(s) - k]
        return float(kept.mean())

    @pandas_udf("long")
    def trimmed_count(v: pd.Series) -> int:
        k = len(v) // 10
        return int(len(v) - 2 * k)

    cust = T(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.round(trimmed_mean("c_acctbal"), 6).alias("trimmed_mean"),
            trimmed_count("c_acctbal").alias("n_kept"),
        )
        .orderBy("c_mktsegment")
    )


# --- q99: interval/range join — absent in the reference (SURVEY §2.3) -------
# Overlapping price bands (width 3000, stride 2000 → every price matches
# 1-2 bands) joined via the bucketed rewrite in operators/joins.range_join:
# an equi-join on quantized cells instead of a cartesian inequality join.
@query(
    "q99_interval_join",
    oracle=f"""
    WITH bands AS (
        SELECT i AS band_id, i * 2000.0 AS lo, i * 2000.0 + 3000.0 AS hi
        FROM range(0, 55) t(i)
    )
    SELECT band_id, COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem JOIN bands
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band_id
    ORDER BY band_id
    """,
)
def q99(spark, sf_dir):
    from pandrs_spark.operators.joins import range_join

    bands = spark.range(0, 55).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 2000.0).alias("lo"),
        (F.col("id") * 2000.0 + 3000.0).alias("hi"),
    )
    li = T(spark, sf_dir, "lineitem").select("l_extendedprice")
    return (
        range_join(li, bands, "l_extendedprice", "lo", "hi", bucket_width=2000.0)
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("band_id")
    )


# --- q100: approximate distinct (HLL) — §2.4 'absent in reference, free in
# Spark'. approx_count_distinct is deterministic for a fixed input, and at
# rsd=0.01 the sketch is far inside the 2%% assertion band, so the
# within-tolerance flag is a stable value the oracle can pin to TRUE.
@query(
    "q100_approx_distinct",
    oracle="""
    SELECT COUNT(DISTINCT o_custkey) AS exact_ndv,
           TRUE AS approx_within_2pct
    FROM orders
    """,
)
def q100(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("exact_ndv"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.01)
                - F.countDistinct("o_custkey")
            )
            <= 0.02 * F.countDistinct("o_custkey")
        ).alias("approx_within_2pct"),
    )


# --- q129: categorical set ops over part-type category sets
# (src/series/categorical.rs union :333, intersection :349,
# difference :372): the type vocabularies of small vs large parts,
# recoded densely after each set op ------------------------------------------
@query(
    "q129_categorical_setops",
    oracle="""
    WITH a AS (SELECT DISTINCT p_type AS label FROM part WHERE p_size < 15),
         b AS (SELECT DISTINCT p_type AS label FROM part WHERE p_size >= 15),
    u AS (SELECT label FROM a UNION SELECT label FROM b),
    i AS (SELECT label FROM a INTERSECT SELECT label FROM b),
    d AS (SELECT label FROM a EXCEPT SELECT label FROM b)
    SELECT (SELECT COUNT(*) FROM a) AS n_a,
           (SELECT COUNT(*) FROM b) AS n_b,
           (SELECT COUNT(*) FROM u) AS n_union,
           (SELECT COUNT(*) FROM i) AS n_intersect,
           (SELECT COUNT(*) FROM d) AS n_only_a,
           (SELECT MIN(label) FROM d) AS first_only_a
    """,
)
def q129(spark, sf_dir):
    from pandrs_spark.operators.categorical import (
        category_difference,
        category_intersection,
        category_union,
    )

    part = T(spark, sf_dir, "part")
    dim_a = part.filter(F.col("p_size") < 15).select(
        F.col("p_type").alias("label")
    ).distinct()
    dim_b = part.filter(F.col("p_size") >= 15).select(
        F.col("p_type").alias("label")
    ).distinct()
    u = category_union(dim_a, dim_b)
    i = category_intersection(dim_a, dim_b)
    d = category_difference(dim_a, dim_b)
    return (
        dim_a.agg(F.count(F.lit(1)).alias("n_a"))
        .crossJoin(dim_b.agg(F.count(F.lit(1)).alias("n_b")))
        .crossJoin(u.agg(F.count(F.lit(1)).alias("n_union")))
        .crossJoin(i.agg(F.count(F.lit(1)).alias("n_intersect")))
        .crossJoin(
            d.agg(
                F.count(F.lit(1)).alias("n_only_a"),
                F.min("label").alias("first_only_a"),
            )
        )
    )


# --- q134: hierarchical group-by with per-level totals
# (src/dataframe/hierarchical_groupby.rs:21,258 — the reference builds an
# explicit group tree; GROUPING SETS computes every level in ONE pass
# with partial aggregation, and grouping_id() is the level navigator) --------
@query(
    "q134_hierarchical_groupby",
    oracle=f"""
    SELECT r_name AS region, n_name AS nation, c_mktsegment AS segment,
           GROUPING(r_name) * 4 + GROUPING(n_name) * 2 + GROUPING(c_mktsegment)
               AS level_id,
           COUNT(*) AS n_cust,
           {sql_dsum('c_acctbal')} AS balance
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name, c_mktsegment), (r_name, n_name),
                            (r_name), ())
    ORDER BY level_id, region NULLS FIRST, nation NULLS FIRST,
             segment NULLS FIRST
    """,
)
def q134(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey")
    ).join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
    out = (
        joined.groupingSets(
            [
                ["r_name", "n_name", "c_mktsegment"],
                ["r_name", "n_name"],
                ["r_name"],
                [],
            ],
            "r_name",
            "n_name",
            "c_mktsegment",
        )
        .agg(
            F.grouping_id().alias("level_id"),
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal").alias("balance"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            "level_id",
            "n_cust",
            "balance",
        )
    )
    return out.orderBy(
        "level_id",
        F.col("region").asc_nulls_first(),
        F.col("nation").asc_nulls_first(),
        F.col("segment").asc_nulls_first(),
    )


# --- q137: product aggregation (AggFunc product family, compat
# product_all :934-1006): compounded per-order discount factor
# Π(1 − l_discount). Bounded group size (≤7 lines/order) keeps the
# float product well-conditioned; ROUND(6) absorbs the one-ulp
# combine-order slack between engines ----------------------------------------
@query(
    "q137_product_discount_factor",
    oracle="""
    WITH factors AS (
        SELECT l_orderkey,
               COUNT(*) AS n_lines,
               ROUND(product(1.0 - l_discount), 6) AS keep_factor
        FROM lineitem
        GROUP BY l_orderkey
    )
    SELECT l_orderkey, n_lines, keep_factor
    FROM factors
    ORDER BY keep_factor, l_orderkey
    LIMIT 10
    """,
)
def q137(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    factors = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.product(1.0 - F.col("l_discount")), 6).alias("keep_factor"),
    )
    return factors.orderBy("keep_factor", "l_orderkey").limit(10)


# --- q163: market-basket co-occurrence over order baskets: support /
# confidence / lift for part-brand pairs. The self-join is bounded by
# first shrinking each basket to its distinct brands (orders average a
# handful of lines), so pair expansion is quadratic in basket size,
# not table size --------------------------------------------------------------
@query(
    "q163_brand_basket_lift",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n_orders AS (SELECT COUNT(DISTINCT ok) AS n FROM basket),
    brand_n AS (SELECT b, COUNT(*) AS nb FROM basket GROUP BY b),
    pair_n AS (
        SELECT a.b AS b1, c.b AS b2, COUNT(*) AS np
        FROM basket a JOIN basket c ON a.ok = c.ok AND a.b < c.b
        GROUP BY a.b, c.b
    )
    SELECT b1, b2, CAST(np AS BIGINT) AS n_pair,
           ROUND(np * 1.0 / n, 6) AS support,
           ROUND(np * 1.0 / n1.nb, 6) AS confidence,
           ROUND((np * 1.0 / n) / ((n1.nb * 1.0 / n) * (n2.nb * 1.0 / n)), 6) AS lift
    FROM pair_n
    JOIN brand_n n1 ON n1.b = b1
    JOIN brand_n n2 ON n2.b = b2
    CROSS JOIN n_orders
    WHERE np >= 5
    ORDER BY b1, b2
    """,
)
def q163(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    basket = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
    )
    n = basket.select("ok").distinct().count()
    brand_n = basket.groupBy("b").agg(F.count(F.lit(1)).alias("nb"))
    a, c = basket.alias("a"), basket.alias("c")
    pair_n = (
        a.join(c, (F.col("a.ok") == F.col("c.ok")) & (F.col("a.b") < F.col("c.b")))
        .groupBy(F.col("a.b").alias("b1"), F.col("c.b").alias("b2"))
        .agg(F.count(F.lit(1)).alias("np"))
        .filter(F.col("np") >= 5)
    )
    n1 = brand_n.select(F.col("b").alias("b1"), F.col("nb").alias("nb1"))
    n2 = brand_n.select(F.col("b").alias("b2"), F.col("nb").alias("nb2"))
    return (
        pair_n.join(F.broadcast(n1), "b1")
        .join(F.broadcast(n2), "b2")
        .select(
            "b1",
            "b2",
            F.col("np").alias("n_pair"),
            F.round(F.col("np") / n, 6).alias("support"),
            F.round(F.col("np") / F.col("nb1"), 6).alias("confidence"),
            F.round(
                (F.col("np") / F.lit(n))
                / ((F.col("nb1") / F.lit(n)) * (F.col("nb2") / F.lit(n))),
                6,
            ).alias("lift"),
        )
        .orderBy("b1", "b2")
    )


# --- q164: referential-integrity audit — orphan counts via left-anti
# joins across the star schema (data-quality gate a pipeline runs
# before training; anti joins broadcast the small side) -----------------------
@query(
    "q164_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, CAST((
        SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    ) AS BIGINT) AS orphans
    UNION ALL
    SELECT 'orders->customer', CAST((
        SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    ) AS BIGINT)
    UNION ALL
    SELECT 'lineitem->part', CAST((
        SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    ) AS BIGINT)
    UNION ALL
    SELECT 'lineitem->supplier', CAST((
        SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    ) AS BIGINT)
    ORDER BY fk
    """,
)
def q164(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    part = T(spark, sf_dir, "part")
    supp = T(spark, sf_dir, "supplier")

    def orphans(child, parent, lk, rk, name):
        n = child.join(
            parent.select(rk), child[lk] == parent[rk], "left_anti"
        ).count()
        return (name, n)

    rows = [
        orphans(li, orders, "l_orderkey", "o_orderkey", "lineitem->orders"),
        orphans(orders, cust, "o_custkey", "c_custkey", "orders->customer"),
        orphans(li, part, "l_partkey", "p_partkey", "lineitem->part"),
        orphans(li, supp, "l_suppkey", "s_suppkey", "lineitem->supplier"),
    ]
    return small_local_df(spark, rows, "fk string, orphans long").orderBy("fk")


# --- q167: fuzzy name matching by edit distance — broadcast probe set
# against the part names, keep the best match per probe (entity-
# resolution primitive; levenshtein is builtin in both engines) --------------
@query(
    "q167_fuzzy_part_match",
    oracle="""
    WITH probes(probe) AS (VALUES ('steal blanched tomatoe'),
                                  ('forrest green chocolat'),
                                  ('miidnight lnen corn')),
    scored AS (
        SELECT pr.probe, p.p_name,
               levenshtein(pr.probe, p.p_name) AS dist,
               ROW_NUMBER() OVER (PARTITION BY pr.probe
                                  ORDER BY levenshtein(pr.probe, p.p_name), p.p_name) AS rn
        FROM probes pr CROSS JOIN part p
    )
    SELECT probe, p_name AS best_match, CAST(dist AS INT) AS edit_distance
    FROM scored WHERE rn = 1
    ORDER BY probe
    """,
)
def q167(spark, sf_dir):
    part = T(spark, sf_dir, "part")
    probes = small_local_df(
        spark, [("steal blanched tomatoe",), ("forrest green chocolat",), ("miidnight lnen corn",)],
        "probe string",
    )
    scored = part.crossJoin(F.broadcast(probes)).select(
        "probe",
        "p_name",
        F.levenshtein("probe", "p_name").alias("dist"),
    )
    w = Window.partitionBy("probe").orderBy("dist", "p_name")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "probe",
            F.col("p_name").alias("best_match"),
            F.col("dist").cast("int").alias("edit_distance"),
        )
        .orderBy("probe")
    )


# --- q168: MERGE-style upsert — "orders" base patched by a derived
# updates set (price bump on urgent orders) plus appended synthetic
# rows; latest version per key wins ------------------------------------------
@query(
    "q168_upsert_latest_orders",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice,
               2 AS version
        FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    base AS (
        SELECT o_orderkey, o_custkey, o_totalprice, 1 AS version FROM orders
    ),
    unioned AS (
        SELECT *, 0 AS side FROM base
        UNION ALL
        SELECT *, 1 AS side FROM updates
    ),
    ranked AS (
        SELECT o_orderkey, o_custkey, o_totalprice, version,
               ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                  ORDER BY version DESC, side DESC) AS rn
        FROM unioned
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           ROUND((CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0), 2) AS total_value
    FROM ranked WHERE rn = 1
    """,
)
def q168(spark, sf_dir):
    from pandrs_spark.operators.joins import upsert_latest

    orders = T(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", F.lit(1).alias("version")
    )
    updates = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit(2).alias("version"),
    )
    merged = upsert_latest(base, updates, ["o_orderkey"], "version")
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("version") == 2).cast("long")).alias("n_updated"),
        F.round(dsum("o_totalprice", 2), 2).alias("total_value"),
    )


# --- q174: CSV + JSON round-trip through sources/io.py — write a
# projected slice, read it back through both formats, and aggregate;
# the oracle aggregates the original table, so any loss or mangling in
# the sink/source path hash-mismatches. Exact-valued columns only
# (integers/strings) so text formats are lossless ----------------------------
@query(
    "q174_io_roundtrip_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q174(spark, sf_dir):
    from pandrs_spark.sources.io import read_csv, read_json, write_csv, write_json

    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("l_quantity"),
        "l_orderkey",
    )
    base = _scratch_path("roundtrip", sf_dir)
    write_csv(li, f"{base}_csv")
    write_json(li, f"{base}_json")
    schema = "l_returnflag string, l_quantity long, l_orderkey long"
    from_csv = read_csv(spark, f"{base}_csv", schema=schema).select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("l_quantity"), "l_orderkey"
    )
    from_json = read_json(spark, f"{base}_json").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("l_quantity"), "l_orderkey"
    )

    def agg(df):
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("qty"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )

    a, b = agg(from_csv), agg(from_json)
    # both paths must agree — the intersection collapses to one copy
    # only when CSV and JSON round-trips are value-identical
    return a.intersect(b).orderBy("l_returnflag")


# --- q176: index emulation — set_index → groupby(level) → reset_index
# (reference src/index/multi_index.rs:12, advanced_indexing.rs:127).
# The MultiIndex is two hidden key columns; grouping on a level is a
# plain shuffle key, which is the only index design that scales --------------
@query(
    "q176_multiindex_groupby_level",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(32, 2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q176(spark, sf_dir):
    from pandrs_spark.frame import Frame
    from pandrs_spark.functions.deterministic import dsum

    f = Frame(T(spark, sf_dir, "orders")).set_index(
        ["o_orderpriority", "o_orderstatus"]
    )
    agg = f.groupby_level(0).agg(
        n_orders=F.count(F.lit(1)),
        total_price=dsum("o_totalprice"),
    )
    return agg.spark.orderBy("o_orderpriority")


# --- q183: salted skew join through the gate. lineitem's hottest
# l_orderkey-free skew axis is l_suppkey (a few suppliers carry far
# more lines); the salted join spreads each hot key across 8 salt
# sub-partitions and replicates the supplier dim 8x, and its output is
# row-identical to the plain join by construction — which the plain-SQL
# oracle verifies. This pins the skew path's CORRECTNESS; the plan-side
# guarantee (no single hot task) is the operator's docstring contract.
@query(
    "q183_salted_skew_join",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(32, 2))) AS DOUBLE)
               AS total_price
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
)
def q183(spark, sf_dir):
    from pandrs_spark.operators.joins import salted_join
    from pyspark.sql.types import DecimalType

    li = T(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(
        li.withColumnRenamed("l_suppkey", "s_suppkey"),
        supp,
        on="s_suppkey",
        salt_from="l_extendedprice",
        n_salts=8,
    )
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice"), 2).cast(DecimalType(32, 2)))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("s_nationkey")
    )


# --- q192: skyline query — Pareto-optimal parts (high shipped volume,
# low avg price; operators/skyline.py after the EDBT'23 Spark-SQL
# skyline integration pattern: local per-partition skylines, final
# skyline over their union). Oracle is the textbook NOT EXISTS strict-
# dominance definition. ------------------------------------------------------
@query(
    "q192_skyline_parts",
    oracle=f"""
    WITH agg AS (
        SELECT l_partkey,
               {sql_dsum('l_quantity')} AS volume,
               {sql_davg('l_extendedprice')} AS avg_price
        FROM lineitem GROUP BY l_partkey
    )
    SELECT a.l_partkey, a.volume, ROUND(a.avg_price, 6) AS avg_price
    FROM agg a
    WHERE NOT EXISTS (
        SELECT 1 FROM agg b
        WHERE b.volume >= a.volume AND b.avg_price <= a.avg_price
          AND (b.volume > a.volume OR b.avg_price < a.avg_price)
    )
    ORDER BY a.l_partkey
    """,
)
def q192(spark, sf_dir):
    from pandrs_spark.operators.skyline import skyline

    li = T(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        dsum("l_quantity").alias("volume"),
        davg("l_extendedprice").alias("avg_price"),
    )
    sky = skyline(agg, maximize=["volume"], minimize=["avg_price"])
    return sky.select(
        "l_partkey", "volume", F.round("avg_price", 6).alias("avg_price")
    ).orderBy("l_partkey")


# --- q198: SCD Type-2 history build — each customer's order-priority
# timeline collapsed into versioned validity intervals (valid_from /
# valid_to half-open, is_current on the last). Ties on order date break
# by o_orderkey so the run segmentation is deterministic. Restricted to
# custkey % 101 == 0 for a compact result. operators/joins.py:scd2_history.
@query(
    "q198_scd2_priority_history",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey AS custkey, o_orderkey, o_orderdate AS ts,
               o_orderpriority AS priority,
               CASE WHEN lag(o_orderpriority) OVER w IS NOT DISTINCT FROM
                         o_orderpriority THEN 0 ELSE 1 END AS chg
        FROM orders
        WHERE o_custkey % 101 = 0
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    ver AS (
        SELECT *, SUM(chg) OVER (PARTITION BY custkey
                                 ORDER BY ts, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS version
        FROM ordered
    ),
    runs AS (
        SELECT custkey, version, any_value(priority) AS priority,
               MIN(ts) AS valid_from,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM ver GROUP BY custkey, version
    )
    SELECT custkey, CAST(version AS BIGINT) AS version, priority,
           valid_from,
           LEAD(valid_from) OVER (PARTITION BY custkey ORDER BY version)
               AS valid_to,
           LEAD(valid_from) OVER (PARTITION BY custkey ORDER BY version)
               IS NULL AS is_current,
           n_rows
    FROM runs ORDER BY custkey, version
    """,
)
def q198(spark, sf_dir):
    from pandrs_spark.operators.joins import scd2_history

    orders = T(spark, sf_dir, "orders").filter(F.col("o_custkey") % 101 == 0)
    hist = scd2_history(
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderpriority").alias("priority"),
        ),
        keys=["custkey"],
        attr_col="priority",
        ts_col="ts",
        order_cols=["o_orderkey"],
    )
    return hist.select(
        "custkey",
        F.col("version").cast("bigint").alias("version"),
        "priority",
        F.col("valid_from"),
        "valid_to",
        "is_current",
        "n_rows",
    ).orderBy("custkey", "version")


# --- q200: Z-order (Morton) bucketing — interleave l_partkey/l_suppkey
# bits and roll up curve segments. The z-value drives the multi-dim
# clustering layout (operators/layout.py:zorder_layout); here the
# oracle replays the exact interleave arithmetic so the curve itself
# is value-hashed. ----------------------------------------------------------
@query(
    "q200_zorder_buckets",
    oracle=f"""
    WITH z AS (
        SELECT ({" + ".join(
            f"(((l_partkey % 1024) >> {i}) & 1) * {1 << (2 * i)}"
            f" + (((l_suppkey % 1024) >> {i}) & 1) * {1 << (2 * i + 1)}"
            for i in range(10)
        )}) AS zval
        FROM lineitem
    )
    SELECT CAST(zval >> 12 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(zval) AS BIGINT) AS z_min,
           CAST(MAX(zval) AS BIGINT) AS z_max
    FROM z GROUP BY 1 ORDER BY 1
    """,
)
def q200(spark, sf_dir):
    from pandrs_spark.operators.layout import zvalue

    li = T(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 1024).alias("px"),
        (F.col("l_suppkey") % 1024).alias("sy"),
    )
    z = li.select(zvalue(["px", "sy"], bits=10).alias("zval"))
    return (
        z.groupBy(F.shiftright("zval", 12).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zval").alias("z_min"),
            F.max("zval").alias("z_max"),
        )
        .orderBy("z_bucket")
    )


# --- q201: one-pass column profiling report — per-column nulls /
# cardinality / range over customer in a single aggregate + stack
# unpivot. Doubles surface via Spark's string cast; the DuckDB twin
# formats c_acctbal identically because the synthetic values are
# 2-decimal fixed-point. operators/profile.py:profile_columns. -----------
@query(
    "q201_column_profile",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n_rows FROM customer)
    SELECT p.column, n.n_rows, p.n_nulls, p.n_distinct,
           p.min_value, p.max_value
    FROM n, (
        SELECT 'c_custkey' AS column,
               CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
               CAST(MIN(c_custkey) AS VARCHAR) AS min_value,
               CAST(MAX(c_custkey) AS VARCHAR) AS max_value
        FROM customer
        UNION ALL
        SELECT 'c_mktsegment',
               CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT),
               CAST(MIN(c_mktsegment) AS VARCHAR),
               CAST(MAX(c_mktsegment) AS VARCHAR)
        FROM customer
        UNION ALL
        SELECT 'c_acctbal',
               CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT c_acctbal) AS BIGINT),
               CAST(MIN(c_acctbal) AS VARCHAR),
               CAST(MAX(c_acctbal) AS VARCHAR)
        FROM customer
    ) p
    ORDER BY p.column
    """,
)
def q201(spark, sf_dir):
    from pandrs_spark.operators.profile import profile_columns

    cust = T(spark, sf_dir, "customer")
    return profile_columns(
        cust, ["c_custkey", "c_mktsegment", "c_acctbal"]
    ).orderBy("column")


# --- q202: market-basket co-occurrence — part pairs bought together in
# the same order. Pair expansion is a self-equi-join on l_orderkey, so
# cost is sum(per-order items choose 2) — bounded by basket size, never
# corpus-quadratic; counts then shuffle once on the pair key. Top pairs
# by support with a deterministic tie-break. -------------------------------
@query(
    "q202_part_pair_cooccurrence",
    oracle="""
    WITH pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM pairs GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b LIMIT 20
    """,
)
def q202(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = a.join(b, "l_orderkey").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Classic TPC-H query shapes adapted to the driver's schema (no
# partsupp/commitdate/phone columns in the testdata, so Q7/Q8/Q9/Q13/
# Q14/Q15/Q17/Q18 are expressed against the columns that exist).
# These close out the canonical join/agg benchmark surface beyond the
# reference's own test queries. All float aggregates go through the
# quantized deterministic helpers so hashes match DuckDB exactly.
# ---------------------------------------------------------------------------


# --- q204: TPC-H Q7 volume shipping — bilateral trade between two
# nations (the highest-volume bilateral pair) by ship year. Dims broadcast, one agg shuffle. -----------------
@query(
    "q204_volume_shipping",
    oracle=f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS ship_year,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE ((cn.n_name = 'NATION_19' AND sn.n_name = 'NATION_18')
        OR (cn.n_name = 'NATION_18' AND sn.n_name = 'NATION_19'))
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q204(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    cdim = cust.join(F.broadcast(cn), cust.c_nationkey == cn.ck).select(
        "c_custkey", "cust_nation"
    )
    sdim = supp.join(F.broadcast(sn), supp.s_nationkey == sn.sk).select(
        "s_suppkey", "supp_nation"
    )
    pair = (F.col("cust_nation") == "NATION_19") & (
        F.col("supp_nation") == "NATION_18"
    ) | (F.col("cust_nation") == "NATION_18") & (
        F.col("supp_nation") == "NATION_19"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cdim, orders.o_custkey == cdim.c_custkey)
        .join(sdim, li.l_suppkey == sdim.s_suppkey)
        .filter(pair)
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


# --- q205: TPC-H Q8 market share — share of ASIA-customer PROMO-part
# revenue supplied by NATION_3, by order year. Case-sum over the same
# quantized aggregate so the ratio is engine-exact. ----------------------
@query(
    "q205_market_share",
    oracle=f"""
    WITH base AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS rev,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           ROUND({sql_dsum("CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END", 4)}
                 / {sql_dsum("rev", 4)}, 6) AS mkt_share,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM base GROUP BY o_year ORDER BY o_year
    """,
)
def q205(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    part = T(spark, sf_dir, "part")
    cdim = (
        cust.join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    sdim = supp.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sk"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        supp.s_nationkey == F.col("sk"),
    ).select("s_suppkey", "supp_nation")
    pdim = part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cdim, orders.o_custkey == cdim.c_custkey)
        .join(sdim, li.l_suppkey == sdim.s_suppkey)
        .join(pdim, li.l_partkey == pdim.p_partkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            rev.alias("rev"),
            "supp_nation",
        )
    )
    nat_rev = F.when(F.col("supp_nation") == "NATION_3", F.col("rev")).otherwise(
        F.lit(0.0)
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.round(dsum(nat_rev, 4) / dsum(F.col("rev"), 4), 6).alias(
                "mkt_share"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_year")
    )


# --- q206: TPC-H Q9 product profit (adapted: supplycost stands in as
# 10% of retail price x quantity) by supplier nation and year. -----------
@query(
    "q206_product_profit",
    oracle=f"""
    SELECT sn.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount) - p.p_retailprice * l.l_quantity * 0.1", 4)}
               AS profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q206(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    part = T(spark, sf_dir, "part")
    sdim = supp.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sk"), F.col("n_name").alias("nation")
            )
        ),
        supp.s_nationkey == F.col("sk"),
    ).select("s_suppkey", "nation")
    pdim = part.filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.1
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sdim, li.l_suppkey == sdim.s_suppkey)
        .join(pdim, li.l_partkey == pdim.p_partkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(dsum(profit, 4).alias("profit"))
        .orderBy("nation", "o_year")
    )


# --- q207: TPC-H Q14 promo revenue share per month. -------------------------
@query(
    "q207_promo_revenue_share",
    oracle=f"""
    WITH base AS (
        SELECT date_trunc('month', l_shipdate) AS month,
               l_extendedprice * (1 - l_discount) AS rev,
               p_type
        FROM lineitem JOIN part ON l_partkey = p_partkey
    )
    SELECT month,
           ROUND(100.0 * {sql_dsum("CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END", 4)}
                 / {sql_dsum("rev", 4)}, 6) AS promo_share,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM base GROUP BY month ORDER BY month
    """,
)
def q207(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = li.join(part, li.l_partkey == part.p_partkey).select(
        F.date_trunc("month", "l_shipdate").alias("month"),
        rev.alias("rev"),
        "p_type",
    )
    promo = F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(F.lit(0.0))
    return (
        base.groupBy("month")
        .agg(
            F.round(
                100.0 * dsum(promo, 4) / dsum(F.col("rev"), 4), 6
            ).alias("promo_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("month")
    )


# --- q208: TPC-H Q15 top supplier — suppliers hitting the maximum
# 1996-H1 revenue, ties kept. The max is a scalar aggregate broadcast
# back as a semi-filter (no global-rank window: a partitionless
# Window.orderBy would funnel every supplier into ONE task; the
# max-join shape stays fully parallel at any supplier count). ------------
@query(
    "q208_top_supplier",
    oracle=f"""
    WITH srev AS (
        SELECT l_suppkey AS s_suppkey,
               {sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-07-01'
        GROUP BY l_suppkey
    ),
    ranked AS (
        SELECT s_suppkey, total_revenue,
               RANK() OVER (ORDER BY total_revenue DESC) AS rnk
        FROM srev
    )
    SELECT r.s_suppkey, s.s_name, r.total_revenue
    FROM ranked r JOIN supplier s USING (s_suppkey)
    WHERE r.rnk = 1 ORDER BY r.s_suppkey
    """,
)
def q208(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    srev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-07-01")
        )
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "total_revenue"
            )
        )
    )
    top = srev.agg(F.max("total_revenue").alias("__max_rev__"))
    return (
        srev.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("__max_rev__"))
        .join(supp, "s_suppkey")
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --- q209: TPC-H Q17 small-quantity revenue — lineitems of Brand#1
# parts below half the part's average quantity; the threshold uses the
# SAME quantized average on both engines so the boundary comparison is
# exact. --------------------------------------------------------------------
@query(
    "q209_small_quantity_revenue",
    oracle=f"""
    WITH pavg AS (
        SELECT l_partkey, {sql_davg("l_quantity", 2)} AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
           ROUND({sql_dsum("l.l_extendedprice", 2)} / 7.0, 6) AS avg_yearly
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#1'
    JOIN pavg a ON l.l_partkey = a.l_partkey
    WHERE l.l_quantity < 0.5 * a.avg_qty
    """,
)
def q209(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    pavg = li.groupBy("l_partkey").agg(davg("l_quantity", 2).alias("avg_qty"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(pavg, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.round(dsum("l_extendedprice", 2) / 7.0, 6).alias("avg_yearly"),
        )
    )


# --- q210: TPC-H Q18 large orders — orders whose total quantity tops
# 150, with customer, top-20 by total price. -----------------------------
@query(
    "q210_large_orders",
    oracle=f"""
    WITH oq AS (
        SELECT l_orderkey, {sql_dsum("l_quantity", 2)} AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING {sql_dsum("l_quantity", 2)} > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, q.sum_qty
    FROM oq q
    JOIN orders o ON q.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20
    """,
)
def q210(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    oq = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        oq.join(orders, oq.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


# --- q211: TPC-H Q13 customer order-count distribution — how many
# customers placed k orders, INCLUDING zero (left join, the part a
# plain groupBy can't express). ------------------------------------------
@query(
    "q211_order_count_distribution",
    oracle="""
    WITH co AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def q211(spark, sf_dir):
    cust = T(spark, sf_dir, "customer").select("c_custkey")
    orders = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    co = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        co.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --- q213: snapshot changelog (CDC diff) — "old" = orders as shipped,
# "new" = a deterministic evolution (every 7th order's priority
# flipped, every 13th order dropped, synthetic 5 new orders). One full
# outer join on the key, md5 row fingerprints computed map-side.
# operators/joins.py:table_diff. ---------------------------------------------
@query(
    "q213_order_changelog",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        FROM orders
    ),
    new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN 'RECLASSIFIED'
                    ELSE o_orderpriority END AS o_orderpriority,
               o_totalprice
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT -i, 'N', 'NEW', 0.0
        FROM UNNEST(generate_series(1, 5)) AS t(i)
    ),
    tagged AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                    WHEN n.o_orderkey IS NULL THEN 'deleted'
                    WHEN o.o_orderpriority <> n.o_orderpriority
                      OR o.o_orderstatus <> n.o_orderstatus
                      OR o.o_totalprice <> n.o_totalprice THEN 'changed'
                    ELSE 'unchanged' END AS change
        FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT change, CAST(COUNT(*) AS BIGINT) AS n
    FROM tagged GROUP BY change ORDER BY change
    """,
)
def q213(spark, sf_dir):
    from pandrs_spark.operators.joins import table_diff

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    evolved = (
        orders.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.lit("RECLASSIFIED")
            ).otherwise(F.col("o_orderpriority")),
        )
        .unionByName(
            spark.range(1, 6).select(
                (-F.col("id")).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit("NEW").alias("o_orderpriority"),
                F.lit(0.0).alias("o_totalprice"),
            )
        )
    )
    diff = table_diff(orders, evolved, keys=["o_orderkey"])
    return (
        diff.groupBy("change").agg(F.count(F.lit(1)).alias("n")).orderBy("change")
    )


# --- q214: re-aggregation hierarchy — the continuous-aggregate
# correctness property: MONTHLY revenue is computed FROM the daily
# aggregate and YEARLY from the monthly (decomposable sums re-fold
# without touching raw rows — at 100 TB each rollup level reads the
# previous level's tiny table, not the fact table). -----------------------
@query(
    "q214_reaggregation_hierarchy",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS d,
               {sql_dsum("o_totalprice", 2)} AS rev,
               COUNT(*) AS n
        FROM orders GROUP BY 1
    ),
    monthly AS (
        SELECT date_trunc('month', d) AS m,
               {sql_dsum("rev", 2)} AS rev, CAST(SUM(n) AS BIGINT) AS n
        FROM daily GROUP BY 1
    )
    SELECT date_trunc('year', m) AS year,
           {sql_dsum("rev", 2)} AS revenue,
           CAST(SUM(n) AS BIGINT) AS n_orders
    FROM monthly GROUP BY 1 ORDER BY 1
    """,
)
def q214(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        dsum("o_totalprice", 2).alias("rev"), F.count(F.lit(1)).alias("n")
    )
    monthly = daily.groupBy(F.date_trunc("month", "d").alias("m")).agg(
        dsum("rev", 2).alias("rev"), F.sum("n").cast("bigint").alias("n")
    )
    return (
        monthly.groupBy(F.date_trunc("year", "m").alias("year"))
        .agg(
            dsum("rev", 2).alias("revenue"),
            F.sum("n").cast("bigint").alias("n_orders"),
        )
        .orderBy("year")
    )


# --- q215: blocked record linkage — match a "dirty" snapshot (every
# 3rd customer's name has one character corrupted) back to the clean
# registry. Blocking on the name's LAST two digits (untouched by the
# corruption) turns the quadratic all-pairs compare into ~100 small
# within-block joins; Levenshtein <= 1 verifies candidates. The
# blocking-then-verify shape is the standard entity-resolution plan at
# scale; both engines share the same edit-distance builtin. ---------------
@query(
    "q215_blocked_record_linkage",
    oracle="""
    WITH clean AS (SELECT c_custkey, c_name FROM customer),
    dirty AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 3 = 0
                    THEN substr(c_name, 1, 10) || 'X' || substr(c_name, 12)
                    ELSE c_name END AS d_name
        FROM customer
    ),
    cand AS (
        SELECT d.c_custkey AS dirty_key, c.c_custkey AS clean_key,
               levenshtein(d.d_name, c.c_name) AS dist
        FROM dirty d JOIN clean c
          ON substr(d.d_name, 17, 2) = substr(c.c_name, 17, 2)
        WHERE levenshtein(d.d_name, c.c_name) <= 1
    )
    SELECT CAST(dist AS INTEGER) AS dist,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN dirty_key = clean_key THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same_entity
    FROM cand GROUP BY dist ORDER BY dist
    """,
)
def q215(spark, sf_dir):
    from pandrs_spark.operators.util import fan_out

    cust = T(spark, sf_dir, "customer")
    clean = cust.select("c_custkey", "c_name")
    # the blocked join fans each dirty row out to ~|block| levenshtein
    # comparisons — widen the 1-partition scan on the probe side so the
    # O(|block|²·len²) compare work spreads across cores (round 11,
    # measured: 6.8 s single-task stage)
    dirty = fan_out(cust, bytes_per_task=16 * 1024).select(
        F.col("c_custkey").alias("dirty_key"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.substring("c_name", 1, 10),
                F.lit("X"),
                F.substring("c_name", 12, 100),
            ),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
    )
    cand = (
        dirty.join(
            clean,
            F.substring("d_name", 17, 2) == F.substring("c_name", 17, 2),
        )
        .withColumn("dist", F.levenshtein("d_name", "c_name"))
        .filter(F.col("dist") <= 1)
    )
    return (
        cand.groupBy(F.col("dist").cast("int").alias("dist"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (F.col("dirty_key") == F.col("c_custkey")).cast("int")
            )
            .cast("bigint")
            .alias("n_same_entity"),
        )
        .orderBy("dist")
    )


# --- q216: ABC (Pareto) analysis — parts classed by cumulative share
# of revenue (A: first 80%, B: to 95%, C: tail). The global running
# total uses the distributed partition-offset prefix sum
# (operators/windows.py:global_prefix_sum) — range-sort + per-
# partition quantized cumsum + offset map, NO single-partition window
# — and the oracle replays the identical quantized fold. -----------------
@query(
    "q216_abc_part_classes",
    oracle=f"""
    WITH prev AS (
        SELECT l_partkey, {sql_dsum("l_extendedprice * (1 - l_discount)", 2)} AS revenue
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT {sql_dsum("revenue", 2)} AS total FROM prev),
    run AS (
        SELECT l_partkey, revenue,
               SUM(CASE WHEN revenue < 0 THEN CAST(CEIL(revenue * 100 - 0.5) AS BIGINT) ELSE CAST(FLOOR(revenue * 100 + 0.5) AS BIGINT) END)
                   OVER (ORDER BY revenue DESC, l_partkey
                         ROWS UNBOUNDED PRECEDING) / 100.0 AS running
        FROM prev
    ),
    classed AS (
        SELECT CASE WHEN running / (SELECT total FROM tot) <= 0.80 THEN 'A'
                    WHEN running / (SELECT total FROM tot) <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               revenue
        FROM run
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           {sql_dsum("revenue", 2)} AS class_revenue
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
)
def q216(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_sum

    li = T(spark, sf_dir, "lineitem")
    prev = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "revenue"
        )
    )
    total = prev.agg(dsum("revenue", 2).alias("__total__"))
    run = global_prefix_sum(
        prev,
        [F.desc("revenue"), F.asc("l_partkey")],
        "revenue",
        out_col="running",
        scale=2,
    )
    classed = run.join(F.broadcast(total)).select(
        "revenue",
        F.when(F.col("running") / F.col("__total__") <= 0.80, "A")
        .when(F.col("running") / F.col("__total__") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum("revenue", 2).alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


# --- q217: latency percentile bands — exact p50/p90/p99 of event value
# per type (Spark percentile == DuckDB quantile_cont, both exact
# linear interpolation). The SLA-report staple. ---------------------------
@query(
    "q217_event_percentile_bands",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.90), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q217(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile("value", F.lit(0.50)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.90)), 6).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


# --- q220: shuffle-key skew report — per-key count distribution stats
# for the three lineitem join keys (the pre-flight check before
# shuffling 100 TB on a key; skew_ratio = max/avg count governs
# salting / AQE skew-join decisions). operators/profile.py:key_skew. ------
@query(
    "q220_join_key_skew_report",
    oracle="""
    WITH stats AS (
        SELECT 'l_orderkey' AS key_col, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_orderkey
        UNION ALL
        SELECT 'l_partkey', COUNT(*) FROM lineitem GROUP BY l_partkey
        UNION ALL
        SELECT 'l_suppkey', COUNT(*) FROM lineitem GROUP BY l_suppkey
    )
    SELECT key_col,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           ROUND(SUM(cnt) * 1.0 / COUNT(*), 6) AS avg_cnt,
           ROUND(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
           ROUND(MAX(cnt) / (SUM(cnt) * 1.0 / COUNT(*)), 6) AS skew_ratio
    FROM stats GROUP BY key_col ORDER BY key_col
    """,
)
def q220(spark, sf_dir):
    from pandrs_spark.operators.profile import key_skew

    li = T(spark, sf_dir, "lineitem")
    rep = (
        key_skew(li, "l_orderkey")
        .unionByName(key_skew(li, "l_partkey"))
        .unionByName(key_skew(li, "l_suppkey"))
    )
    return rep.orderBy("key_col")


# --- q222: RFM segmentation — per-customer recency/frequency/monetary
# terciles composed into a 27-cell segment code. Tercile thresholds
# are exact global percentiles computed once and broadcast back (no
# per-row rank window over the full customer table — the 100 TB shape
# is agg → tiny threshold row → broadcast bucket). ------------------------
@query(
    "q222_rfm_segments",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               date_diff('day', MAX(o_orderdate),
                         (SELECT MAX(o_orderdate) FROM orders)) AS recency,
               COUNT(*) AS frequency,
               {sql_dsum("o_totalprice", 2)} AS monetary
        FROM orders GROUP BY o_custkey
    ),
    thr AS (
        SELECT quantile_cont(recency, 1.0/3) AS r1, quantile_cont(recency, 2.0/3) AS r2,
               quantile_cont(frequency, 1.0/3) AS f1, quantile_cont(frequency, 2.0/3) AS f2,
               quantile_cont(monetary, 1.0/3) AS m1, quantile_cont(monetary, 2.0/3) AS m2
        FROM cust
    )
    SELECT CAST(1 + (recency > r1)::INT + (recency > r2)::INT AS INTEGER) AS r_score,
           CAST(1 + (frequency > f1)::INT + (frequency > f2)::INT AS INTEGER) AS f_score,
           CAST(1 + (monetary > m1)::INT + (monetary > m2)::INT AS INTEGER) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM cust, thr
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q222(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    gmax = orders.agg(F.max("o_orderdate").alias("__gmax__"))
    cust = (
        orders.join(F.broadcast(gmax))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("__gmax__"), F.max("o_orderdate")).alias(
                "recency"
            ),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice", 2).alias("monetary"),
        )
    )
    thr = cust.agg(
        F.percentile("recency", F.lit(1.0 / 3)).alias("r1"),
        F.percentile("recency", F.lit(2.0 / 3)).alias("r2"),
        F.percentile("frequency", F.lit(1.0 / 3)).alias("f1"),
        F.percentile("frequency", F.lit(2.0 / 3)).alias("f2"),
        F.percentile("monetary", F.lit(1.0 / 3)).alias("m1"),
        F.percentile("monetary", F.lit(2.0 / 3)).alias("m2"),
    )

    def score(v, t1, t2):
        return (
            1
            + (F.col(v) > F.col(t1)).cast("int")
            + (F.col(v) > F.col(t2)).cast("int")
        )

    return (
        cust.join(F.broadcast(thr))
        .groupBy(
            score("recency", "r1", "r2").alias("r_score"),
            score("frequency", "f1", "f2").alias("f_score"),
            score("monetary", "m1", "m2").alias("m_score"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


# --- q223: crosstab with margins (pandas crosstab(margins=True)
# parity) — CUBE over the two categoricals, NULL grouping cells
# relabeled 'All' (row totals, column totals, grand total in one
# pass; grouping() disambiguates real NULL values from subtotal
# rows). ---------------------------------------------------------------------
@query(
    "q223_crosstab_margins",
    oracle="""
    SELECT COALESCE(CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'All'
                         ELSE o_orderpriority END, o_orderpriority) AS priority,
           COALESCE(CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'All'
                         ELSE o_orderstatus END, o_orderstatus) AS status,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    ORDER BY priority, status
    """,
)
def q223(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    cube = orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        # grouping() must be evaluated inside the cube aggregate
        F.grouping("o_orderpriority").alias("__gp__"),
        F.grouping("o_orderstatus").alias("__gs__"),
    )
    return cube.select(
        F.when(F.col("__gp__") == 1, "All")
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
        F.when(F.col("__gs__") == 1, "All")
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        "n",
    ).orderBy("priority", "status")


# --- q226: daily trending parts — top-3 parts by quantity per ship
# day (window rank PARTITIONED by day: thousands of independent small
# ranks, never a global sort). Ties break on partkey. --------------------
@query(
    "q226_daily_trending_parts",
    oracle=f"""
    WITH day_part AS (
        SELECT date_trunc('day', l_shipdate) AS day, l_partkey,
               {sql_dsum("l_quantity", 2)} AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
        SELECT day, l_partkey, qty,
               ROW_NUMBER() OVER (PARTITION BY day
                                  ORDER BY qty DESC, l_partkey) AS rnk
        FROM day_part
    )
    SELECT day, CAST(rnk AS INTEGER) AS rnk, l_partkey, qty
    FROM ranked WHERE rnk <= 3 AND day < TIMESTAMP '1995-04-01'
    ORDER BY day, rnk
    """,
)
def q226(spark, sf_dir):
    from pyspark.sql import Window as W

    li = T(spark, sf_dir, "lineitem")
    day_part = li.groupBy(
        F.date_trunc("day", "l_shipdate").alias("day"), "l_partkey"
    ).agg(dsum("l_quantity", 2).alias("qty"))
    w = W.partitionBy("day").orderBy(F.desc("qty"), F.asc("l_partkey"))
    return (
        day_part.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= 3) & (F.col("day") < "1995-04-01"))
        .select("day", F.col("rnk").cast("int").alias("rnk"), "l_partkey", "qty")
        .orderBy("day", "rnk")
    )


# --- q227: point-in-time (temporal) join — each order joined to the
# customer's priority-history version valid AT the order date (SCD2
# from q198 + half-open interval lookup). The bitemporal-correctness
# primitive: joining facts to TODAY's dimension silently rewrites
# history; this join reproduces what was true then. Interval condition
# on the SAME key the history shuffles on — co-located, no cartesian.
@query(
    "q227_point_in_time_join",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey AS custkey, o_orderkey, o_orderdate AS ts,
               o_orderpriority AS priority,
               CASE WHEN lag(o_orderpriority) OVER w IS NOT DISTINCT FROM
                         o_orderpriority THEN 0 ELSE 1 END AS chg
        FROM orders WHERE o_custkey % 101 = 0
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    ver AS (
        SELECT *, SUM(chg) OVER (PARTITION BY custkey ORDER BY ts, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS version
        FROM ordered
    ),
    runs AS (
        SELECT custkey, version, any_value(priority) AS priority,
               MIN(ts) AS valid_from
        FROM ver GROUP BY custkey, version
    ),
    hist AS (
        SELECT custkey, version, priority, valid_from,
               LEAD(valid_from) OVER (PARTITION BY custkey ORDER BY version)
                   AS valid_to
        FROM runs
    )
    SELECT o.o_custkey AS custkey, o.o_orderkey,
           h.priority AS pit_priority,
           CAST(h.version AS BIGINT) AS version,
           h.priority = o.o_orderpriority AS matches_fact
    FROM orders o JOIN hist h
      ON o.o_custkey = h.custkey
     AND o.o_orderdate >= h.valid_from
     AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
    WHERE o.o_custkey % 101 = 0
    ORDER BY custkey, o_orderkey
    """,
)
def q227(spark, sf_dir):
    from pandrs_spark.operators.joins import scd2_history

    orders = T(spark, sf_dir, "orders").filter(F.col("o_custkey") % 101 == 0)
    hist = scd2_history(
        orders.select(
            F.col("o_custkey").alias("custkey"),
            "o_orderkey",
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderpriority").alias("priority"),
        ),
        keys=["custkey"],
        attr_col="priority",
        ts_col="ts",
        order_cols=["o_orderkey"],
    ).select("custkey", "version", "priority", "valid_from", "valid_to")
    cond = (
        (orders.o_custkey == hist.custkey)
        & (orders.o_orderdate >= hist.valid_from)
        & (hist.valid_to.isNull() | (orders.o_orderdate < hist.valid_to))
    )
    return (
        orders.join(hist, cond)
        .select(
            F.col("custkey"),
            "o_orderkey",
            F.col("priority").alias("pit_priority"),
            F.col("version").cast("bigint").alias("version"),
            (F.col("priority") == F.col("o_orderpriority")).alias(
                "matches_fact"
            ),
        )
        .orderBy("custkey", "o_orderkey")
    )


# --- q241: pivot_table with MULTIPLE value aggregations — pandas
# pivot_table(values=[qty, price], aggfunc={sum, mean}) parity: one
# groupBy().pivot() pass computing all measures (column explosion is
# metadata; the data pass is still one partial+final agg). ----------------
@query(
    "q241_multi_value_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END", 2)} AS F_qty,
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END", 2)} AS O_qty,
           ROUND({sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_extendedprice END", 2)}
                 / COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END), 6) AS F_avg_price,
           ROUND({sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_extendedprice END", 2)}
                 / COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END), 6) AS O_avg_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q241(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            dsum("l_quantity", 2).alias("qty"),
            F.round(
                dsum("l_extendedprice", 2) / F.count("l_extendedprice"), 6
            ).alias("avg_price"),
        )
    )
    return piv.select(
        "l_returnflag",
        F.col("F_qty"),
        F.col("O_qty"),
        F.col("F_avg_price"),
        F.col("O_avg_price"),
    ).orderBy("l_returnflag")


# --- q243: shuffle-free bucketed fact-fact join IN-GATE — lineitem
# and orders saved as bucketed managed tables on the join key, then
# joined and aggregated. With matching bucketing both scans arrive
# pre-co-located, so the join plans with ZERO exchanges (pinned in
# tests/test_plans.py:109); here the RESULT goes through the value
# hash so the warehouse path is correctness-gated too, not just
# plan-gated. Idempotent: tables are rewritten per run. -------------------
@query(
    "q243_bucketed_join_revenue",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def q243(spark, sf_dir):
    from pandrs_spark.sources.io import (
        drop_managed_table,
        read_table,
        write_bucketed_table,
    )

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    drop_managed_table(spark, "q243_li_b")
    drop_managed_table(spark, "q243_o_b")
    write_bucketed_table(li, "q243_li_b", ["l_orderkey"], n_buckets=8)
    write_bucketed_table(orders, "q243_o_b", ["o_orderkey"], n_buckets=8)
    lb = read_table(spark, "q243_li_b")
    ob = read_table(spark, "q243_o_b")
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# --- q248: declarative data-quality constraint suite — Deequ/dbt-test
# style checks compiled into ONE aggregate pass over orders (auditing
# any number of constraints costs one scan). Long-format report
# (constraint, violations, passed) through the hash gate; one
# constraint is seeded to FAIL so the report provably detects
# violations. operators/quality.py. ---------------------------------------
@query(
    "q248_constraint_report",
    oracle="""
    WITH agg AS (
        SELECT
            SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS c_nn,
            COUNT(*) - COUNT(DISTINCT CAST(o_orderkey AS VARCHAR)) AS c_uq,
            SUM(CASE WHEN o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('F', 'O', 'P')
                     THEN 1 ELSE 0 END) AS c_av,
            SUM(CASE WHEN o_totalprice IS NOT NULL
                      AND (o_totalprice < 0 OR o_totalprice > 1000000)
                     THEN 1 ELSE 0 END) AS c_rng,
            SUM(CASE WHEN NOT (o_orderdate < TIMESTAMP '1996-01-01')
                     THEN 1 ELSE 0 END) AS c_sat
        FROM orders
    )
    SELECT check_name, CAST(violations AS BIGINT) AS violations,
           violations = 0 AS passed
    FROM (
        SELECT 'accepted_values(o_orderstatus)' AS check_name, c_av AS violations FROM agg
        UNION ALL SELECT 'in_range(o_totalprice)', c_rng FROM agg
        UNION ALL SELECT 'not_null(o_custkey)', c_nn FROM agg
        UNION ALL SELECT 'orders_before_1996', c_sat FROM agg
        UNION ALL SELECT 'unique(o_orderkey)', c_uq FROM agg
    ) r ORDER BY check_name
    """,
)
def q248(spark, sf_dir):
    from pandrs_spark.operators.quality import (
        accepted_values,
        check_constraints,
        in_range,
        not_null,
        satisfies,
        unique,
    )

    orders = T(spark, sf_dir, "orders")
    suite = [
        not_null("o_custkey"),
        unique("o_orderkey"),
        accepted_values("o_orderstatus", ["F", "O", "P"]),
        in_range("o_totalprice", 0, 1_000_000),
        # deliberately failing freshness check: orders exist past 1995
        satisfies(
            "orders_before_1996", F.col("o_orderdate") < "1996-01-01"
        ),
    ]
    return check_constraints(orders, suite)


# --- q249: partition completeness / freshness audit — detect calendar
# days with NO orders between the table's min and max date (a silent
# upstream-ingestion gap detector): date spine via sequence() against
# the observed distinct days, anti-join semantics through a left join.
# At 100 TB the spine is thousands of rows — broadcast — and the
# observed days come from a partial-agg distinct. ------------------------
@query(
    "q249_missing_days_audit",
    oracle="""
    WITH bounds AS (
        SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
               CAST(MAX(o_orderdate) AS DATE) AS hi
        FROM orders
    ),
    spine AS (
        SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    observed AS (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders
    )
    SELECT s.day AS missing_day
    FROM spine s LEFT JOIN observed o ON s.day = o.day
    WHERE o.day IS NULL
    ORDER BY missing_day
    """,
)
def q249(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    observed = orders.select(
        F.col("o_orderdate").cast("date").alias("day")
    ).distinct()
    return (
        spine.join(observed, "day", "left_anti")
        .select(F.col("day").alias("missing_day"))
        .orderBy("missing_day")
    )


# --- q250: right-to-be-forgotten propagation — purge a deletion list
# (customers with custkey % 211 == 0) through the FK chain
# (customer → orders → lineitem) with anti joins, and emit the audit
# report proving zero remaining references. The GDPR/CCPA erasure
# pass: anti joins are shuffle-pruned semi-join plans, the deletion
# list broadcasts, and the verification is the same one-pass count
# shape the pipeline would gate deploys on. --------------------------------
@query(
    "q250_forget_propagation",
    oracle="""
    WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 211 = 0),
    cust_after AS (
        SELECT c.* FROM customer c LEFT JOIN del d USING (c_custkey)
        WHERE d.c_custkey IS NULL
    ),
    ord_after AS (
        SELECT o.* FROM orders o LEFT JOIN del d ON o.o_custkey = d.c_custkey
        WHERE d.c_custkey IS NULL
    ),
    li_after AS (
        SELECT l.* FROM lineitem l JOIN ord_after o ON l.l_orderkey = o.o_orderkey
    )
    SELECT 'customer' AS tbl,
           (SELECT COUNT(*) FROM customer) AS rows_before,
           (SELECT COUNT(*) FROM cust_after) AS rows_after,
           (SELECT COUNT(*) FROM cust_after c JOIN del d USING (c_custkey))
               AS remaining_refs
    UNION ALL
    SELECT 'lineitem',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM li_after),
           (SELECT COUNT(*) FROM li_after l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN del d ON o.o_custkey = d.c_custkey)
    UNION ALL
    SELECT 'orders',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM ord_after),
           (SELECT COUNT(*) FROM ord_after o JOIN del d ON o.o_custkey = d.c_custkey)
    ORDER BY tbl
    """,
)
def q250(spark, sf_dir):
    from pandrs_spark.operators.joins import anti_join

    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    deletions = cust.filter(F.col("c_custkey") % 211 == 0).select("c_custkey")
    cust_after = anti_join(cust, deletions, "c_custkey")
    ord_after = anti_join(
        orders,
        deletions.withColumnRenamed("c_custkey", "o_custkey"),
        "o_custkey",
    )
    li_after = li.join(
        ord_after.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey")
    ).drop("o_orderkey")

    def audit(tbl, before, after, refs):
        return before.agg(F.count(F.lit(1)).alias("rows_before")).join(
            after.agg(F.count(F.lit(1)).alias("rows_after"))
        ).join(refs.agg(F.count(F.lit(1)).alias("remaining_refs"))).select(
            F.lit(tbl).alias("tbl"), "rows_before", "rows_after", "remaining_refs"
        )

    cust_refs = cust_after.join(deletions, "c_custkey")
    ord_refs = ord_after.join(
        deletions.withColumnRenamed("c_custkey", "o_custkey"),
        "o_custkey",
    )
    li_refs = (
        li_after.join(orders, li_after.l_orderkey == orders.o_orderkey)
        .join(
            deletions.withColumnRenamed("c_custkey", "del_key"),
            F.col("o_custkey") == F.col("del_key"),
        )
    )
    return (
        audit("customer", cust, cust_after, cust_refs)
        .unionByName(audit("lineitem", li, li_after, li_refs))
        .unionByName(audit("orders", orders, ord_after, ord_refs))
        .orderBy("tbl")
    )


# --- q253: weighted aggregates — quantity-weighted average discount
# and revenue-weighted average tax per return flag (Σwx/Σw on exact
# quantized sums; the weighted-mean primitive pandas exposes via
# np.average and SQL has no builtin for). --------------------------------
@query(
    "q253_weighted_averages",
    oracle=f"""
    SELECT l_returnflag,
           ROUND({sql_dsum("l_quantity * l_discount", 4)}
                 / {sql_dsum("l_quantity", 4)}, 6) AS qty_weighted_discount,
           ROUND({sql_dsum("l_extendedprice * (1 - l_discount) * l_tax", 4)}
                 / {sql_dsum("l_extendedprice * (1 - l_discount)", 4)}, 6)
               AS revenue_weighted_tax
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q253(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                dsum(F.col("l_quantity") * F.col("l_discount"), 4)
                / dsum("l_quantity", 4),
                6,
            ).alias("qty_weighted_discount"),
            F.round(
                dsum(rev * F.col("l_tax"), 4) / dsum(rev, 4), 6
            ).alias("revenue_weighted_tax"),
        )
        .orderBy("l_returnflag")
    )


# --- q254: ratio-to-report — each nation's revenue share within its
# region and each region's share of total (two window ratios over the
# AGGREGATED rollup, so the windows run on nation-cardinality rows,
# never on the fact table). ------------------------------------------------
@query(
    "q254_revenue_share_of_parent",
    oracle=f"""
    WITH nation_rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY region, nation
    )
    SELECT region, nation,
           ROUND(rev, 2) AS revenue,
           ROUND(rev / SUM(rev) OVER (PARTITION BY region), 6)
               AS share_of_region,
           ROUND(SUM(rev) OVER (PARTITION BY region) / SUM(rev) OVER (), 6)
               AS region_share_of_total
    FROM nation_rev ORDER BY region, nation
    """,
)
def q254(spark, sf_dir):
    from pyspark.sql import Window as W

    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
    )
    nation_rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("region", "nation")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "rev"
            )
        )
    )
    wr = W.partitionBy("region")
    wt = W.partitionBy()
    return nation_rev.select(
        "region",
        "nation",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(wr), 6).alias(
            "share_of_region"
        ),
        F.round(F.sum("rev").over(wr) / F.sum("rev").over(wt), 6).alias(
            "region_share_of_total"
        ),
    ).orderBy("region", "nation")


# --- q256: customer-lifetime-value cohort curve — customers cohorted
# by first-order year; cumulative revenue per cohort over months since
# first order. Windows run over the (cohort, month) rollup (tiny), the
# heavy pass is one groupBy; the LTV curve every subscription/commerce
# warehouse maintains. -------------------------------------------------------
@query(
    "q256_clv_cohort_curve",
    oracle=f"""
    WITH first_order AS (
        SELECT o_custkey, MIN(o_orderdate) AS first_dt
        FROM orders GROUP BY o_custkey
    ),
    facts AS (
        SELECT CAST(EXTRACT(year FROM f.first_dt) AS INTEGER) AS cohort,
               CAST(date_diff('month', date_trunc('month', f.first_dt),
                              date_trunc('month', o.o_orderdate)) AS INTEGER)
                   AS months_since,
               o.o_totalprice
        FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
    ),
    rolled AS (
        SELECT cohort, months_since,
               {sql_dsum("o_totalprice", 2)} AS rev
        FROM facts GROUP BY cohort, months_since
    )
    SELECT cohort, months_since,
           ROUND(SUM(CAST(FLOOR(rev * 100 + 0.5) AS BIGINT))
                 OVER (PARTITION BY cohort ORDER BY months_since
                       ROWS UNBOUNDED PRECEDING) / 100.0, 2) AS cum_revenue
    FROM rolled
    WHERE cohort <= 1996 AND months_since <= 12
    ORDER BY cohort, months_since
    """,
)
def q256(spark, sf_dir):
    from pyspark.sql import Window as W

    orders = T(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt")
    )
    facts = orders.join(first, "o_custkey").select(
        F.year("first_dt").alias("cohort"),
        (
            F.months_between(
                F.date_trunc("month", "o_orderdate"),
                F.date_trunc("month", "first_dt"),
            )
        )
        .cast("int")
        .alias("months_since"),
        "o_totalprice",
    )
    rolled = facts.groupBy("cohort", "months_since").agg(
        dsum("o_totalprice", 2).alias("rev")
    )
    w = (
        W.partitionBy("cohort")
        .orderBy("months_since")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    q = (F.col("rev") * 100 + 0.5).cast("long")
    return (
        rolled.withColumn(
            "cum_revenue", F.round(F.sum(q).over(w) / 100.0, 2)
        )
        .filter((F.col("cohort") <= 1996) & (F.col("months_since") <= 12))
        .select("cohort", "months_since", "cum_revenue")
        .orderBy("cohort", "months_since")
    )


# --- q354: ORC round-trip through sources/io.py — write a slice with
# hive partitioning, read back through the ORC scan (with its own
# predicate/column pushdown), aggregate; the oracle aggregates the
# original parquet table, so any loss in the ORC sink/source path
# hash-mismatches. Floats stay exact because ORC is binary columnar.
# Companion of q174 (CSV/JSON) for the columnar format tier ------------------
@query(
    "q354_orc_roundtrip_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS key_sum
    FROM orders
    WHERE o_totalprice > 1000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q354(spark, sf_dir):
    from pandrs_spark.sources.io import read_orc, write_orc

    od = T(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    base = _scratch_path("orc", sf_dir)
    write_orc(od, base, partition_by=["o_orderpriority"])
    back = read_orc(
        spark,
        base,
        columns=["o_orderpriority", "o_orderkey"],
        predicate="o_totalprice > 1000",
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .orderBy("o_orderpriority")
    )


# --- q383: small-file compaction maintenance — the Delta OPTIMIZE /
# Iceberg rewrite_data_files shape as an explicit operator
# (sources/io.compact_files). In-gate: orders is deliberately
# shattered into 40 undersized files, compacted back through the
# Hadoop-FS-listed, ceil(bytes/target)-sized rewrite, and the gate
# verifies rows survived bit-exactly while the file count collapsed.
# File counts themselves are environment-sized (compression ratios),
# so the oracle pins the INVARIANTS (row parity, reduction happened,
# exact target-count match) rather than a magic number — the q78-style
# contract for non-SQL-reachable internals. Reference: file
# maintenance around src/io/parquet.rs:369.
@query(
    "q383_small_file_compaction",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS files_reduced,
           TRUE AS files_match_target
    FROM orders
    """,
)
def q383(spark, sf_dir):
    import math

    from pandrs_spark.sources.io import compact_files

    od = T(spark, sf_dir, "orders")
    base = _scratch_path("compact", sf_dir)
    src, dest = os.path.join(base, "src"), os.path.join(base, "dest")
    shutil.rmtree(base, ignore_errors=True)
    od.repartition(40).write.mode("overwrite").parquet(src)
    # target sized so the shattered table collapses to a handful of files
    stats = compact_files(spark, src, dest, target_bytes=1 << 20)
    back = spark.read.parquet(dest)
    expected_after = max(1, math.ceil(stats["bytes_before"] / (1 << 20)))
    return back.agg(F.count(F.lit(1)).cast("long").alias("n_rows")).select(
        "n_rows",
        F.lit(stats["files_after"] < stats["files_before"]).alias(
            "files_reduced"
        ),
        F.lit(stats["files_after"] == expected_after).alias(
            "files_match_target"
        ),
    )


# --- q394: manifest-based snapshot TIME TRAVEL in-gate — three commits
# (append, append, overwrite) against a scratch versioned table, then
# every historical version read back THROUGH ITS MANIFEST and
# aggregated. The oracle recomputes each snapshot's expected rows and
# revenue straight from orders with the same predicates, so snapshot
# isolation (v1 unchanged after later commits, overwrite replacing the
# live set) is value-verified, not just invariant-pinned.
# sources/io.py:commit_table_version/read_table_version. ---------------------
@query(
    "q394_snapshot_time_travel",
    oracle=f"""
    WITH v1 AS (
        SELECT 1 AS version, COUNT(*) AS n_rows,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01'
    ),
    v2 AS (
        SELECT 2 AS version, COUNT(*) AS n_rows,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders
    ),
    v3 AS (
        SELECT 3 AS version, COUNT(*) AS n_rows,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT version, CAST(n_rows AS BIGINT) AS n_rows, revenue
    FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2
          UNION ALL SELECT * FROM v3)
    ORDER BY version
    """,
)
def q394(spark, sf_dir):
    from pandrs_spark.sources.io import (
        commit_table_version,
        read_table_version,
    )

    od = T(spark, sf_dir, "orders")
    tdir = _scratch_path("tt", sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    commit_table_version(
        spark, od.filter(F.col("o_orderdate") < "1995-01-01"), tdir, "append"
    )
    commit_table_version(
        spark, od.filter(F.col("o_orderdate") >= "1995-01-01"), tdir, "append"
    )
    commit_table_version(
        spark, od.filter(F.col("o_orderstatus") == "F"), tdir, "overwrite"
    )
    snaps = []
    for v in (1, 2, 3):
        snap = read_table_version(spark, tdir, v)
        snaps.append(
            snap.agg(
                F.lit(v).cast("int").alias("version"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                dsum("o_totalprice").alias("revenue"),
            )
        )
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionByName(s)
    return out.orderBy("version")
