"""Warehouse tier II: the remaining classic TPC-H query shapes adapted
to the driver's schema (no partsupp table; lineitem serves as the
part-supplier link).

Completes the adapted suite started with q204-q211 (queries/core.py) so
every TPC-H query shape — correlated min-subquery, EXISTS/NOT EXISTS,
HAVING-over-global-share, disjunctive predicate pushdown, multi-way
anti-correlation — has a Spark-first implementation and a DuckDB value
oracle.

Reference parity: the reference's query DSL + join/groupby surface
(src/dataframe/query/evaluator.rs, src/dataframe/join.rs,
src/dataframe/groupby.rs) exercised through the same relational
shapes.

Scale notes (100 TB): every query here aggregates the fact table once
on its natural key, broadcasts every dim, and keeps correlated
"subqueries" as either broadcast scalar-carries (q260, q266) or
aggregate-then-self-join on the grouping key (q258, q264) — no
re-scan of the fact table per outer row, which is what a naive
correlated-subquery translation would do.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import (
    davg,
    dsum,
    quantize,
    sql_davg,
    sql_dsum,
    sql_quantize,
)
from pandrs_spark.operators.joins import anti_join
from pandrs_spark.operators.util import small_local_df
from pandrs_spark.queries import query


# --- q258: TPC-H Q2 shape — min-cost supplier per part. The correlated
# MIN subquery becomes aggregate-per-(part,supp) → min-per-part →
# equi-join back on (part, quantized cost): two shuffles on high-
# cardinality keys, no correlated re-scan. Unit cost is the quantized
# ratio of exact scaled sums, so the equality join key is a BIGINT that
# both engines derive bit-identically. ---------------------------------------
@query(
    "q258_min_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(FLOOR(
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                   / CAST(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                   * 10000.0 + 0.5) AS BIGINT) AS ucost_q
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
        SELECT l_partkey, MIN(ucost_q) AS min_cost_q
        FROM ps GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_name, s.s_name, n.n_name AS nation,
           ROUND(ps.ucost_q / 10000.0, 4) AS unit_cost,
           ROUND(s.s_acctbal, 2) AS s_acctbal
    FROM ps
    JOIN best ON ps.l_partkey = best.l_partkey AND ps.ucost_q = best.min_cost_q
    JOIN part p ON ps.l_partkey = p.p_partkey
    JOIN supplier s ON ps.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_type = 'PROMO' AND p.p_size <= 10
    ORDER BY s_acctbal DESC, nation, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q258(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    price_q = (F.floor(F.col("l_extendedprice") * 100.0 + 0.5)).cast("bigint")
    qty_q = (F.floor(F.col("l_quantity") * 100.0 + 0.5)).cast("bigint")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.floor(
            (F.sum(price_q).cast("double") / F.sum(qty_q).cast("double"))
            * 10000.0
            + 0.5
        )
        .cast("bigint")
        .alias("ucost_q")
    )
    best = (
        ps.groupBy("l_partkey")
        .agg(F.min("ucost_q").alias("min_cost_q"))
        .select(F.col("l_partkey").alias("bk"), "min_cost_q")
    )
    pdim = part.filter(
        (F.col("p_type") == "PROMO") & (F.col("p_size") <= 10)
    ).select("p_partkey", "p_name")
    sdim = supp.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("nation"))),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name", "nation", "s_acctbal")
    return (
        ps.join(
            best,
            (ps.l_partkey == best.bk) & (ps.ucost_q == best.min_cost_q),
        )
        .drop("bk")
        .join(pdim, ps.l_partkey == pdim.p_partkey)
        .join(sdim, ps.l_suppkey == sdim.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "nation",
            F.round(F.col("ucost_q") / 10000.0, 4).alias("unit_cost"),
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
        .orderBy(F.desc("s_acctbal"), "nation", "s_name", "p_partkey")
        .limit(100)
    )


# --- q259: TPC-H Q4 shape — order priority checking. EXISTS becomes a
# left-semi join with a compound condition (key equality + cross-table
# date predicate); Spark plans it as one shuffled semi join, never a
# per-order probe. -----------------------------------------------------------
@query(
    "q259_late_ship_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q259(spark, sf_dir):
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    slow = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        slow.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --- q260: TPC-H Q11 shape — parts whose revenue exceeds a fraction of
# GLOBAL revenue. The scalar subquery is a 1-row aggregate broadcast
# into the HAVING filter (BroadcastNestedLoopJoin over one row, not a
# cartesian); the share threshold compares exact scaled BIGINTs. -------------
@query(
    "q260_important_parts",
    oracle=f"""
    WITH part_rev AS (
        SELECT l_partkey,
               SUM({sql_quantize("l_extendedprice * (1 - l_discount)", 4)}) AS rev_q
        FROM lineitem GROUP BY l_partkey
    ),
    total AS (SELECT SUM(rev_q) AS total_q FROM part_rev)
    SELECT l_partkey,
           ROUND(rev_q / 10000.0, 2) AS revenue,
           ROUND(CAST(rev_q AS DOUBLE) / CAST(total_q AS DOUBLE), 6) AS share
    FROM part_rev, total
    WHERE rev_q * 2000 > total_q
    ORDER BY revenue DESC, l_partkey
    LIMIT 50
    """,
)
def q260(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(quantize(rev, 4)).alias("rev_q")
    )
    total = part_rev.agg(F.sum("rev_q").alias("total_q"))
    return (
        part_rev.join(F.broadcast(total))
        .filter(F.col("rev_q") * 2000 > F.col("total_q"))
        .select(
            "l_partkey",
            F.round(F.col("rev_q") / 10000.0, 2).alias("revenue"),
            F.round(
                F.col("rev_q").cast("double") / F.col("total_q").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy(F.desc("revenue"), "l_partkey")
        .limit(50)
    )


# --- q261: TPC-H Q12 shape — shipping-quarter priority mix: one
# fact-fact join, conditional sums by priority class. -------------------------
@query(
    "q261_ship_quarter_priority_mix",
    oracle="""
    SELECT CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(EXTRACT(quarter FROM l.l_shipdate) AS INTEGER) AS ship_quarter,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q261(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.year("l_shipdate").alias("ship_year"),
            F.quarter("l_shipdate").alias("ship_quarter"),
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_year", "ship_quarter")
    )


# --- q262: TPC-H Q16 shape — supplier breadth per (brand, size) with a
# NOT IN supplier blacklist. NOT IN becomes a broadcast anti join
# applied BEFORE the distinct-count aggregation. ------------------------------
@query(
    "q262_supplier_breadth",
    oracle="""
    SELECT p.p_brand, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_type <> 'PROMO' AND p.p_size <= 15
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    LIMIT 40
    """,
)
def q262(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = T(spark, sf_dir, "part")
    supp = T(spark, sf_dir, "supplier")
    bad = supp.filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_suppkey")
    )
    pdim = part.filter(
        (F.col("p_type") != "PROMO") & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_brand", "p_size")
    clean = li.join(
        bad, li.l_suppkey == F.col("bad_suppkey"), "left_anti"
    )
    return (
        clean.join(pdim, clean.l_partkey == pdim.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
        .limit(40)
    )


# --- q263: TPC-H Q19 shape — disjunctive predicate (OR-of-ANDs across
# both join sides). The part side of each disjunct prunes the broadcast
# dim; the lineitem-side quantity bands stay in the join filter. One
# broadcast join, one scalar aggregate. ---------------------------------------
@query(
    "q263_disjunctive_revenue",
    oracle=f"""
    SELECT {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q263(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & qty.between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & qty.between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(1, 15)
        & qty.between(20, 30)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- q264: TPC-H Q20 shape — suppliers shipping an outsized share of a
# part's volume. The correlated "50% of availqty" threshold becomes
# aggregate-per-(supp,part) vs aggregate-per-part, compared as exact
# scaled BIGINTs (5 * supp_qty_q > part_qty_q ⇔ share > 20%). ----------------
@query(
    "q264_excess_share_suppliers",
    oracle=f"""
    WITH sel AS (
        SELECT l.l_suppkey, l.l_partkey,
               SUM({sql_quantize("l.l_quantity")}) AS sq
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'small%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
    ),
    tot AS (SELECT l_partkey, SUM(sq) AS tq FROM sel GROUP BY l_partkey)
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM sel JOIN tot ON sel.l_partkey = tot.l_partkey
    JOIN supplier s ON sel.l_suppkey = s.s_suppkey
    WHERE sel.sq * 5 > tot.tq
    ORDER BY s.s_suppkey
    """,
)
def q264(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    part = T(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sel = (
        li.join(
            part.select("p_partkey"),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(quantize("l_quantity")).alias("sq"))
    )
    tot = sel.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    return (
        sel.join(tot.withColumnRenamed("l_partkey", "tk"), sel.l_partkey == F.col("tk"))
        .filter(F.col("sq") * 5 > F.col("tq"))
        .select("l_suppkey")
        .distinct()
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# --- q265: TPC-H Q21 shape — suppliers who were the SOLE late supplier
# on a multi-supplier order. The EXISTS/NOT-EXISTS pair becomes one
# aggregate per (order, supplier) plus order-level window counts — the
# fact table is scanned once; the window partitions on the
# high-cardinality order key. --------------------------------------------------
@query(
    "q265_sole_late_supplier",
    oracle="""
    WITH per_os AS (
        SELECT l.l_orderkey, l.l_suppkey,
               MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
                        THEN 1 ELSE 0 END) AS is_late
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY l.l_orderkey, l.l_suppkey
    ),
    flagged AS (
        SELECT l_suppkey, is_late,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
               SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
        FROM per_os
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM flagged f JOIN supplier s ON f.l_suppkey = s.s_suppkey
    WHERE f.is_late = 1 AND f.n_supp > 1 AND f.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q265(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = T(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_os = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("is_late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.select(
        "l_suppkey",
        "is_late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("is_late").over(w).alias("n_late"),
    )
    return (
        flagged.filter(
            (F.col("is_late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late") == 1)
        )
        .join(supp, flagged.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# --- q266: TPC-H Q22 shape — well-funded customers with no recent
# orders (dormant accounts).
# The scalar AVG subquery is a broadcast 1-row carry; NOT EXISTS is a
# broadcast-key anti join; final rollup per nation. ---------------------------
@query(
    "q266_dormant_rich_customers",
    oracle=f"""
    WITH threshold AS (
        SELECT {sql_davg("c_acctbal")} AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           {sql_dsum("c.c_acctbal")} AS total_bal
    FROM customer c, threshold t
    WHERE c.c_acctbal > t.avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c.c_nationkey ORDER BY c.c_nationkey
    """,
)
def q266(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    orders = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    threshold = cust.filter(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    rich = cust.join(F.broadcast(threshold)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = anti_join(
        rich, orders, on=rich.c_custkey == orders.o_custkey
    )
    return (
        dormant.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            dsum("c_acctbal").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


# ===== Operational-analytics tier ==========================================


# --- q267: EXACT mergeable distinct rollup via bitmaps — monthly user
# bitmaps OR-merged to quarters (operators/sketches.py:
# bitmap_distinct_rollup). The exact counterpart of the HLL rollup
# (q199): one shuffle of raw rows builds the monthly bitmaps, every
# coarser level folds 4KB blobs. Oracle recomputes COUNT(DISTINCT)
# from raw rows per quarter. --------------------------------------------------
@query(
    "q267_bitmap_distinct_rollup",
    oracle="""
    SELECT CAST(EXTRACT(year FROM ts) AS INTEGER) AS year,
           CAST(EXTRACT(week FROM ts) AS INTEGER) AS week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q267(spark, sf_dir):
    from pandrs_spark.operators.sketches import bitmap_distinct_rollup

    ev = T(spark, sf_dir, "events").select(
        F.year("ts").alias("year"),
        F.weekofyear("ts").alias("week"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    return (
        bitmap_distinct_rollup(
            ev,
            fine_keys=["year", "week", "day"],
            coarse_keys=["year", "week"],
            value_col="user_id",
        )
        .select("year", "week", F.col("exact_distinct").cast("long").alias("exact_distinct"))
        .orderBy("year", "week")
    )


# --- q268: clamped running balance (inventory recurrence) — returns
# add stock, sales draw it down, balance floors at zero. The clamp is
# non-associative, so this is the canonical applyInPandas-per-key fold
# (operators/timeseries.py:clamped_cumsum); the DuckDB oracle replays
# the identical quantized-integer fold with list_reduce. ----------------------
@query(
    "q268_clamped_inventory_balance",
    oracle="""
    WITH d AS (
        SELECT l_partkey,
               CAST(SIGN(delta) * FLOOR(ABS(delta) * 100.0 + 0.5) AS BIGINT) AS dq,
               l_shipdate, l_orderkey, l_linenumber
        FROM (
            SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
                   CASE WHEN l_returnflag = 'R' THEN l_quantity
                        ELSE -l_quantity END AS delta
            FROM lineitem
        )
    ),
    seq AS (
        SELECT l_partkey,
               LIST(dq ORDER BY l_shipdate, l_orderkey, l_linenumber) AS ds
        FROM d GROUP BY l_partkey
    )
    SELECT l_partkey,
           LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), ds),
                       (acc, x) -> GREATEST(CAST(0 AS BIGINT), acc + x))
               / 100.0 AS balance
    FROM seq ORDER BY l_partkey
    """,
)
def q268(spark, sf_dir):
    from pandrs_spark.operators.timeseries import clamped_cumsum

    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", F.col("l_quantity"))
        .otherwise(-F.col("l_quantity"))
        .alias("delta"),
    )
    return clamped_cumsum(
        li,
        value_col="delta",
        order_by=["l_shipdate", "l_orderkey", "l_linenumber"],
        partition_by=["l_partkey"],
        lower=0.0,
        scale=2,
        out_col="balance",
        final_only=True,
    ).orderBy("l_partkey")


# --- q269: exact weighted median — l_quantity weighted by revenue.
# The fact table rolls up to (flag, quantity-value) with exact scaled
# weight sums; the cumulative-weight windows then run over the tiny
# rollup (value cardinality), never the fact table — the rank-histogram
# pattern this repo uses for all distributed order statistics. ----------------
@query(
    "q269_weighted_median_quantity",
    oracle="""
    WITH rolled AS (
        SELECT l_returnflag, l_quantity,
               SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS wq
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    cum AS (
        SELECT l_returnflag, l_quantity, wq,
               SUM(wq) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                             ROWS UNBOUNDED PRECEDING) AS cumw,
               SUM(wq) OVER (PARTITION BY l_returnflag) AS tot
        FROM rolled
    )
    SELECT l_returnflag,
           MIN(l_quantity) AS weighted_median_qty,
           ROUND(CAST(MIN(tot) AS BIGINT) / 100.0, 2) AS total_weight
    FROM cum WHERE 2 * cumw >= tot
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q269(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    wq = (F.floor(F.col("l_extendedprice") * 100.0 + 0.5)).cast("bigint")
    rolled = li.groupBy("l_returnflag", "l_quantity").agg(
        F.sum(wq).alias("wq")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = rolled.select(
        "l_returnflag",
        "l_quantity",
        F.sum("wq").over(wcum).alias("cumw"),
        F.sum("wq").over(wtot).alias("tot"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("weighted_median_qty"),
            F.round(F.min("tot") / 100.0, 2).alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# --- q270: open-order concurrency curve — the interval-overlap sweep:
# +1 at each order's open day, -1 the day after its last shipment,
# rolled up per day, then a GLOBAL running sum via the distributed
# partition-offset prefix sum (operators/windows.py:global_prefix_sum
# — no single-partition window even though the day spine is small),
# and a per-month peak. -------------------------------------------------------
@query(
    "q270_open_order_concurrency",
    oracle="""
    WITH closed AS (
        SELECT l_orderkey, MAX(l_shipdate) AS close_ts
        FROM lineitem GROUP BY l_orderkey
    ),
    iv AS (
        SELECT CAST(o.o_orderdate AS DATE) AS open_day,
               CAST(COALESCE(c.close_ts, o.o_orderdate) AS DATE) AS close_day
        FROM orders o LEFT JOIN closed c ON o.o_orderkey = c.l_orderkey
    ),
    deltas AS (
        SELECT open_day AS day, 1 AS d FROM iv
        UNION ALL
        SELECT close_day + 1, -1 FROM iv
    ),
    daily AS (
        SELECT day, CAST(SUM(d) AS BIGINT) AS d FROM deltas GROUP BY day
    ),
    cur AS (
        SELECT day,
               CAST(SUM(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS open_orders
        FROM daily
    )
    SELECT CAST(EXTRACT(year FROM day) AS INTEGER) AS year,
           CAST(EXTRACT(month FROM day) AS INTEGER) AS month,
           MAX(open_orders) AS peak_open
    FROM cur GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q270(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_sum

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    closed = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_ts"))
    iv = orders.join(
        closed, orders.o_orderkey == closed.l_orderkey, "left"
    ).select(
        F.to_date("o_orderdate").alias("open_day"),
        F.to_date(F.coalesce("close_ts", "o_orderdate")).alias("close_day"),
    )
    deltas = iv.select(F.col("open_day").alias("day"), F.lit(1).alias("d")).unionByName(
        iv.select(F.date_add("close_day", 1).alias("day"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("day").agg(F.sum("d").alias("d"))
    cur = global_prefix_sum(
        daily, [F.col("day")], "d", out_col="open_orders", scale=0
    )
    return (
        cur.groupBy(
            F.year("day").alias("year"), F.month("day").alias("month")
        )
        .agg(F.max(F.col("open_orders").cast("long")).alias("peak_open"))
        .orderBy("year", "month")
    )


# --- q272: bag-semantics set difference (EXCEPT ALL / exceptAll) —
# the multiset of 1996 order priorities minus the 1997 multiset:
# survivors per priority = max(0, n_1996 - n_1997). Spark's exceptAll
# is a hash-aggregated counted difference (one shuffle per side) —
# never a row-pairing join. Covers the §2.7 bag-variant the distinct
# set ops (q07/q09) don't. ---------------------------------------------------
@query(
    "q272_priority_multiset_delta",
    oracle="""
    WITH delta AS (
        SELECT o_orderpriority FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        EXCEPT ALL
        SELECT o_orderpriority FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS surplus
    FROM delta GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q272(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    y96 = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderpriority")
    y97 = orders.filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_orderpriority")
    return (
        y96.exceptAll(y97)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("surplus"))
        .orderBy("o_orderpriority")
    )


# --- q273: grouped top-k WITH ties — dense_rank over exact quantized
# revenue keeps every part that ties into the top 3 of its brand
# (row_number top-k, q10, silently drops tied rows). Rank windows run
# over the (brand, part) rollup, not the fact table. -------------------------
@query(
    "q273_brand_top3_parts_with_ties",
    oracle=f"""
    WITH rolled AS (
        SELECT p.p_brand, l.l_partkey,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand, l.l_partkey
    ),
    ranked AS (
        SELECT p_brand, l_partkey, revenue,
               DENSE_RANK() OVER (PARTITION BY p_brand
                                  ORDER BY revenue DESC) AS rnk
        FROM rolled
    )
    SELECT p_brand, CAST(rnk AS INTEGER) AS rnk, l_partkey,
           ROUND(revenue, 2) AS revenue
    FROM ranked WHERE rnk <= 3
    ORDER BY p_brand, rnk, l_partkey
    """,
)
def q273(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rolled = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"))
    return (
        rolled.withColumn("rnk", F.dense_rank().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "rnk", "l_partkey", F.round("revenue", 2).alias("revenue"))
        .orderBy("p_brand", "rnk", "l_partkey")
    )


# --- q274: GROUPING SETS with GROUPING() markers — the mixed-lattice
# aggregation (finer than CUBE, not a chain like ROLLUP) through the
# SQL surface: the IDENTICAL SQL text runs on Spark (temp views) and
# the DuckDB oracle, q64-style. One shuffle computes all four
# granularities (Spark expands grouping sets in a single Expand+Agg,
# not one scan per set). -----------------------------------------------------
_Q274_SQL = """
    WITH base AS (
        SELECT o_orderpriority AS priority,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               o_totalprice
        FROM orders
    )
    SELECT priority, o_year,
           CAST(GROUPING(priority) AS INTEGER) AS g_priority,
           CAST(GROUPING(o_year) AS INTEGER) AS g_year,
           COUNT(*) AS n_orders,
           (CAST(SUM(CAST(SIGN(o_totalprice) * FLOOR(ABS(o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS revenue
    FROM base
    GROUP BY GROUPING SETS ((priority, o_year), (priority), (o_year), ())
    ORDER BY g_priority, g_year, priority, o_year
"""


@query("q274_grouping_sets", oracle=_Q274_SQL)
def q274(spark, sf_dir):
    from pandrs_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q274_SQL)


# --- q276: interval x interval overlap join — order open-intervals
# (orderdate → last shipment, as in q270) against 45-day quarterly
# promo windows. Grid-bucketed equi-join with canonical-cell dedup
# (operators/joins.py:interval_overlap_join) — never an
# inequality-only nested loop. -----------------------------------------------
@query(
    "q276_promo_overlap_orders",
    oracle="""
    WITH closed AS (
        SELECT l_orderkey, MAX(l_shipdate) AS close_ts
        FROM lineitem GROUP BY l_orderkey
    ),
    iv AS (
        SELECT o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS open_day,
               CAST(COALESCE(c.close_ts, o.o_orderdate) AS DATE) AS close_day
        FROM orders o LEFT JOIN closed c ON o.o_orderkey = c.l_orderkey
    ),
    promos AS (
        SELECT CAST(gs AS DATE) AS promo_start,
               CAST(gs AS DATE) + 44 AS promo_end
        FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-07-01',
                             INTERVAL 3 MONTH) t(gs)
    )
    SELECT p.promo_start, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM promos p JOIN iv
      ON iv.open_day <= p.promo_end AND p.promo_start <= iv.close_day
    GROUP BY p.promo_start ORDER BY p.promo_start
    """,
)
def q276(spark, sf_dir):
    from pandrs_spark.operators.joins import interval_overlap_join

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    closed = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_ts"))
    epoch = F.lit("1970-01-01")
    iv = orders.join(
        closed, orders.o_orderkey == closed.l_orderkey, "left"
    ).select(
        "o_orderkey",
        F.datediff(F.to_date("o_orderdate"), epoch).alias("open_d"),
        F.datediff(
            F.to_date(F.coalesce("close_ts", "o_orderdate")), epoch
        ).alias("close_d"),
    )
    promos = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-07-01").cast("date"),
                F.expr("interval 3 months"),
            )
        ).alias("promo_start")
    ).select(
        "promo_start",
        F.datediff("promo_start", epoch).alias("pstart_d"),
        (F.datediff("promo_start", epoch) + 44).alias("pend_d"),
    )
    overlaps = interval_overlap_join(
        iv,
        F.broadcast(promos),
        l_start="open_d",
        l_end="close_d",
        r_start="pstart_d",
        r_end="pend_d",
        bucket_width=90,
    )
    return (
        overlaps.groupBy("promo_start")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("promo_start")
    )


# --- q278: order-to-cash cycle-time percentiles — exact p50/p90/p99 of
# days-from-order-to-last-shipment per priority, via the rank-histogram
# pattern: roll the facts up to (priority, cycle_days) counts (the day
# domain is bounded), then ONE cumulative window over the tiny rollup
# picks all three percentiles with integer-exact thresholds. ---------------
@query(
    "q278_cycle_time_percentiles",
    oracle="""
    WITH cyc AS (
        SELECT o.o_orderpriority AS priority,
               CAST(date_diff('day', o.o_orderdate, MAX(l.l_shipdate)) AS INTEGER)
                   AS cycle_days
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    ),
    hist AS (
        SELECT priority, cycle_days, COUNT(*) AS c
        FROM cyc GROUP BY priority, cycle_days
    ),
    cum AS (
        SELECT priority, cycle_days,
               SUM(c) OVER (PARTITION BY priority ORDER BY cycle_days
                            ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(c) OVER (PARTITION BY priority) AS n
        FROM hist
    )
    SELECT priority,
           MIN(CASE WHEN 2 * cw >= n THEN cycle_days END) AS p50_days,
           MIN(CASE WHEN 10 * cw >= 9 * n THEN cycle_days END) AS p90_days,
           MIN(CASE WHEN 100 * cw >= 99 * n THEN cycle_days END) AS p99_days
    FROM cum GROUP BY priority ORDER BY priority
    """,
)
def q278(spark, sf_dir):
    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cyc = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("close_ts"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.to_date("close_ts"), F.to_date("o_orderdate"))
            .cast("int")
            .alias("cycle_days"),
        )
    )
    hist = cyc.groupBy("priority", "cycle_days").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("priority")
        .orderBy("cycle_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("priority")
    cum = hist.select(
        "priority",
        "cycle_days",
        F.sum("c").over(wcum).alias("cw"),
        F.sum("c").over(wn).alias("n"),
    )
    pick = lambda cond: F.min(F.when(cond, F.col("cycle_days")))  # noqa: E731
    return (
        cum.groupBy("priority")
        .agg(
            pick(2 * F.col("cw") >= F.col("n")).alias("p50_days"),
            pick(10 * F.col("cw") >= 9 * F.col("n")).alias("p90_days"),
            pick(100 * F.col("cw") >= 99 * F.col("n")).alias("p99_days"),
        )
        .orderBy("priority")
    )


# --- q279: CDC apply with deletes — a deterministic changelog
# (D wins over U; synthetic inserts) applied to the orders snapshot:
# deletes = broadcast anti join, upserts = union + keep-latest. The
# result is certified by row COUNT per final status plus an
# order-independent table fingerprint (SUM of per-row md5-derived
# bigints — the cheap whole-table checksum a nightly CDC pipeline
# diffs against the source). -------------------------------------------------
@query(
    "q279_cdc_apply_with_deletes",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_orderpriority,
               CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_q
        FROM orders
    ),
    dels AS (SELECT o_orderkey FROM base WHERE o_orderkey % 17 = 0),
    upds AS (
        SELECT o_orderkey, o_orderstatus,
               'CDC-U' AS o_orderpriority, price_q + 100 AS price_q
        FROM base WHERE o_orderkey % 17 <> 0 AND o_orderkey % 10 = 0
    ),
    ins AS (
        SELECT -i AS o_orderkey, 'N' AS o_orderstatus,
               'CDC-I' AS o_orderpriority, CAST(0 AS BIGINT) AS price_q
        FROM UNNEST(generate_series(1, 3)) AS t(i)
    ),
    kept AS (
        SELECT b.* FROM base b
        WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM dels)
          AND b.o_orderkey NOT IN (SELECT o_orderkey FROM upds)
    ),
    final AS (
        SELECT * FROM kept UNION ALL SELECT * FROM upds
        UNION ALL SELECT * FROM ins
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substring(md5(
                   o_orderkey || '|' || o_orderpriority || '|' || price_q
               ), 1, 8))::UBIGINT AS BIGINT)) AS BIGINT) AS fingerprint
    FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q279(spark, sf_dir):
    base = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint")
        .alias("price_q"),
    )
    dels = base.filter(F.col("o_orderkey") % 17 == 0).select("o_orderkey")
    upds = base.filter(
        (F.col("o_orderkey") % 17 != 0) & (F.col("o_orderkey") % 10 == 0)
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit("CDC-U").alias("o_orderpriority"),
        (F.col("price_q") + 100).alias("price_q"),
    )
    ins = spark.range(1, 4).select(
        (-F.col("id")).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit("CDC-I").alias("o_orderpriority"),
        F.lit(0).cast("bigint").alias("price_q"),
    )
    touched = dels.unionByName(upds.select("o_orderkey"))
    kept = base.join(
        F.broadcast(touched.withColumnRenamed("o_orderkey", "tk")),
        base.o_orderkey == F.col("tk"),
        "left_anti",
    )
    final = kept.unionByName(upds).unionByName(ins)
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", "o_orderkey", "o_orderpriority", "price_q"
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        final.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(row_hash).alias("fingerprint"),
        )
        .orderBy("o_orderstatus")
    )


# --- q283: decile gains table (lift chart) — customers decile'd by
# account balance, each decile's share of order revenue, cumulative.
# Scale-safe decile assignment: NO global ntile window over the
# customer table — the quantized-balance histogram gets a distributed
# prefix sum (partition-offset scheme), deciles derive from the
# cumulative count with integer-exact ceil, and the (balance → decile)
# map joins back on the quantized key. Downstream windows run on the
# 10-row decile rollup. -------------------------------------------------------
@query(
    "q283_balance_decile_gains",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey,
               CAST(SIGN(c_acctbal) * FLOOR(ABS(c_acctbal) * 100.0 + 0.5) AS BIGINT) AS balq
        FROM customer
    ),
    hist AS (SELECT balq, CAST(COUNT(*) AS BIGINT) AS c FROM cust GROUP BY balq),
    cum AS (
        SELECT balq,
               CAST(SUM(c) OVER (ORDER BY balq ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM hist
    ),
    dec AS (
        SELECT balq,
               CAST(FLOOR((cw * 10.0 + n - 1) / n) AS INTEGER) AS decile
        FROM cum
    ),
    crev AS (
        SELECT o_custkey, {sql_dsum("o_totalprice")} AS rev
        FROM orders GROUP BY o_custkey
    ),
    per_dec AS (
        SELECT d.decile,
               CAST(COUNT(*) AS BIGINT) AS n_custs,
               SUM(CAST(FLOOR(COALESCE(r.rev, 0) * 100.0 + 0.5) AS BIGINT)) AS revq
        FROM cust c
        JOIN dec d ON c.balq = d.balq
        LEFT JOIN crev r ON c.c_custkey = r.o_custkey
        GROUP BY d.decile
    )
    SELECT decile, n_custs,
           ROUND(revq / 100.0, 2) AS revenue,
           ROUND(CAST(revq AS DOUBLE) / CAST(SUM(revq) OVER () AS DOUBLE), 6)
               AS rev_share,
           ROUND(CAST(SUM(revq) OVER (ORDER BY decile DESC
                                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(SUM(revq) OVER () AS DOUBLE), 6) AS cum_share_from_top
    FROM per_dec ORDER BY decile
    """,
)
def q283(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_sum

    cust = T(spark, sf_dir, "customer").select(
        "c_custkey", quantize("c_acctbal").alias("balq")
    )
    orders = T(spark, sf_dir, "orders")
    hist = cust.groupBy("balq").agg(F.count(F.lit(1)).alias("c"))
    cum = global_prefix_sum(hist, [F.col("balq")], "c", out_col="cw", scale=0)
    n_total = cum.agg(F.sum("c").alias("n"))
    dec = cum.join(F.broadcast(n_total)).select(
        "balq",
        F.floor((F.col("cw") * 10.0 + F.col("n") - 1) / F.col("n"))
        .cast("int")
        .alias("decile"),
    )
    crev = orders.groupBy("o_custkey").agg(dsum("o_totalprice").alias("rev"))
    per_dec = (
        cust.join(dec, "balq")
        .join(crev, cust.c_custkey == crev.o_custkey, "left")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(
                F.floor(F.coalesce(F.col("rev"), F.lit(0.0)) * 100.0 + 0.5).cast(
                    "bigint"
                )
            ).alias("revq"),
        )
    )
    wt = Window.partitionBy()
    wtop = (
        Window.partitionBy()
        .orderBy(F.desc("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_dec.select(
        "decile",
        "n_custs",
        F.round(F.col("revq") / 100.0, 2).alias("revenue"),
        F.round(
            F.col("revq").cast("double") / F.sum("revq").over(wt).cast("double"),
            6,
        ).alias("rev_share"),
        F.round(
            F.sum("revq").over(wtop).cast("double")
            / F.sum("revq").over(wt).cast("double"),
            6,
        ).alias("cum_share_from_top"),
    ).orderBy("decile")


# --- q286: two-path revenue reconciliation — monthly revenue computed
# TWO independent ways (sum of line extended prices with discount,
# vs sum of order total prices attributed to the order month) with
# absolute deltas. The classic warehouse consistency report: the two
# paths measure different things (line-level discounts vs order
# totals), and the reconciliation quantifies the gap instead of
# letting two dashboards silently disagree. Both paths are one
# aggregate each; the join is month-cardinality. -----------------------------
@query(
    "q286_revenue_reconciliation",
    oracle=f"""
    WITH line_path AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS y,
               CAST(EXTRACT(month FROM o.o_orderdate) AS INTEGER) AS m,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS line_rev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    order_path AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
               CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS m,
               {sql_dsum("o_totalprice", 4)} AS order_rev
        FROM orders GROUP BY 1, 2
    )
    SELECT l.y, l.m,
           ROUND(l.line_rev, 2) AS line_rev,
           ROUND(o.order_rev, 2) AS order_rev,
           ROUND(o.order_rev - l.line_rev, 2) AS delta
    FROM line_path l JOIN order_path o ON l.y = o.y AND l.m = o.m
    ORDER BY l.y, l.m
    """,
)
def q286(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    line_path = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "line_rev"
            )
        )
    )
    order_path = orders.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(dsum("o_totalprice", 4).alias("order_rev"))
    return (
        line_path.join(order_path, ["y", "m"])
        .select(
            "y",
            "m",
            F.round("line_rev", 2).alias("line_rev"),
            F.round("order_rev", 2).alias("order_rev"),
            F.round(F.col("order_rev") - F.col("line_rev"), 2).alias("delta"),
        )
        .orderBy("y", "m")
    )


# --- q287: null-safe join semantics — customers with a deterministic
# subset of UNKNOWN (NULL) nation keys joined to nation with <=>
# (IS NOT DISTINCT FROM): the NULL keys match a NULL-keyed bucket row
# instead of silently dropping, and the counts prove the difference
# from a plain equi-join. The semantic every warehouse hits the first
# time a dimension key goes nullable. ----------------------------------------
@query(
    "q287_null_safe_join",
    oracle="""
    WITH c AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 50 = 0 THEN NULL
                    ELSE c_nationkey END AS nk
        FROM customer
    ),
    dim AS (
        SELECT n_nationkey AS nk, n_name FROM nation
        UNION ALL
        SELECT NULL, 'UNKNOWN'
    )
    SELECT d.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_custs
    FROM c JOIN dim d ON c.nk IS NOT DISTINCT FROM d.nk
    GROUP BY d.n_name ORDER BY d.n_name
    """,
)
def q287(spark, sf_dir):
    cust = T(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 50 == 0, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
    )
    nation = T(spark, sf_dir, "nation")
    dim = nation.select(
        F.col("n_nationkey").alias("dnk"), "n_name"
    ).unionByName(
        nation.sparkSession.range(1).select(
            F.lit(None).cast("int").alias("dnk"), F.lit("UNKNOWN").alias("n_name")
        )
    )
    return (
        cust.join(F.broadcast(dim), cust.nk.eqNullSafe(F.col("dnk")))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_custs"))
        .orderBy("n_name")
    )


# --- q290: join-health report — the pre-join profile a 100 TB
# pipeline runs BEFORE a fact-fact join: per side, null rate of the
# key, distinct keys, hottest-key share (the skew indicator that
# decides salting), and the worst-case fanout of the hottest key pair.
# One aggregate per side over key rollups; no join of the fact tables
# themselves. -----------------------------------------------------------------
@query(
    "q290_join_health_report",
    oracle="""
    WITH l AS (
        SELECT l_orderkey AS k FROM lineitem
    ),
    r AS (
        SELECT o_orderkey AS k FROM orders
    ),
    lk AS (SELECT k, COUNT(*) AS c FROM l WHERE k IS NOT NULL GROUP BY k),
    rk AS (SELECT k, COUNT(*) AS c FROM r WHERE k IS NOT NULL GROUP BY k),
    lstat AS (
        SELECT (SELECT COUNT(*) FROM l) AS n_rows,
               (SELECT COUNT(*) FROM l WHERE k IS NULL) AS n_null,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(c) AS BIGINT) AS max_key_rows
        FROM lk
    ),
    rstat AS (
        SELECT (SELECT COUNT(*) FROM r) AS n_rows,
               (SELECT COUNT(*) FROM r WHERE k IS NULL) AS n_null,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(c) AS BIGINT) AS max_key_rows
        FROM rk
    )
    SELECT 'lineitem' AS side, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_null AS BIGINT) AS n_null_keys, n_distinct,
           max_key_rows,
           ROUND(CAST(max_key_rows AS DOUBLE) / n_rows, 6) AS hot_key_share
    FROM lstat
    UNION ALL
    SELECT 'orders', CAST(n_rows AS BIGINT), CAST(n_null AS BIGINT),
           n_distinct, max_key_rows,
           ROUND(CAST(max_key_rows AS DOUBLE) / n_rows, 6)
    FROM rstat
    ORDER BY side
    """,
)
def q290(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    orders = T(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))

    def side_stats(df, name):
        rollup = df.filter(F.col("k").isNotNull()).groupBy("k").agg(
            F.count(F.lit(1)).alias("c")
        )
        totals = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_null_keys"),
        )
        agg = rollup.agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("max_key_rows"),
        )
        return (
            totals.join(F.broadcast(agg))
            .select(
                F.lit(name).alias("side"),
                "n_rows",
                "n_null_keys",
                "n_distinct",
                "max_key_rows",
                F.round(
                    F.col("max_key_rows").cast("double") / F.col("n_rows"), 6
                ).alias("hot_key_share"),
            )
        )

    return (
        side_stats(li, "lineitem")
        .unionByName(side_stats(orders, "orders"))
        .orderBy("side")
    )


# --- q292: YoY rank movers — nation revenue rank in 1997 vs 1996 with
# the rank delta (the "movers & shakers" report). Ranks come from
# dense_rank over the 25-row nation rollup on exact quantized revenue;
# the fact table is scanned once with a conditional split. -------------------
@query(
    "q292_yoy_rank_movers",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS y,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT nation, y, rev,
               CAST(DENSE_RANK() OVER (PARTITION BY y ORDER BY rev DESC)
                    AS INTEGER) AS rnk
        FROM rev
    )
    SELECT a.nation,
           ROUND(a.rev, 2) AS rev_1997, a.rnk AS rank_1997,
           ROUND(b.rev, 2) AS rev_to_2000, b.rnk AS rank_1996,
           CAST(b.rnk - a.rnk AS INTEGER) AS rank_gain
    FROM ranked a JOIN ranked b
      ON a.nation = b.nation AND a.y = 1997 AND b.y = 1996
    ORDER BY rank_gain DESC, a.nation
    """,
)
def q292(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation")
    dims = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("nation"))
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("nation", F.year("o_orderdate").alias("y"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "rev"
            )
        )
    )
    w = Window.partitionBy("y").orderBy(F.desc("rev"))
    ranked = rev.withColumn("rnk", F.dense_rank().over(w).cast("int"))
    a = ranked.filter(F.col("y") == 1997).select(
        "nation", F.col("rev").alias("rev_a"), F.col("rnk").alias("rank_1997")
    )
    b = ranked.filter(F.col("y") == 1996).select(
        F.col("nation").alias("nation_b"),
        F.col("rev").alias("rev_b"),
        F.col("rnk").alias("rank_1996"),
    )
    return (
        a.join(b, a.nation == b.nation_b)
        .select(
            "nation",
            F.round("rev_a", 2).alias("rev_1997"),
            "rank_1997",
            F.round("rev_b", 2).alias("rev_to_2000"),
            "rank_1996",
            (F.col("rank_1996") - F.col("rank_1997"))
            .cast("int")
            .alias("rank_gain"),
        )
        .orderBy(F.desc("rank_gain"), "nation")
    )


# --- q296: ABC x XYZ inventory matrix — the classic planning grid:
# revenue class (A/B/C by cumulative share, q216's distributed
# prefix-sum machinery) crossed with demand-variability class (X/Y/Z
# by coefficient of variation of monthly quantity, exact sufficient
# stats). Both classifications run on part-cardinality rollups; the
# output is the 9-cell matrix with per-cell revenue share. -------------------
_Q296_CV = "SQRT((sxx - sx * sx / n) / (n - 1)) / (sx / n)"


@query(
    "q296_abc_xyz_matrix",
    oracle=f"""
    WITH part_rev AS (
        SELECT l_partkey,
               SUM({sql_quantize("l_extendedprice * (1 - l_discount)", 2)}) AS revq
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT l_partkey, revq,
               SUM(revq) OVER (ORDER BY revq DESC, l_partkey
                               ROWS UNBOUNDED PRECEDING) AS cumq,
               SUM(revq) OVER () AS totq
        FROM part_rev
    ),
    abc AS (
        SELECT l_partkey, revq,
               CASE WHEN cumq * 100 <= totq * 80 THEN 'A'
                    WHEN cumq * 100 <= totq * 95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked
    ),
    monthly AS (
        SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
               SUM({sql_quantize("l_quantity")}) AS qq
        FROM lineitem GROUP BY 1, 2
    ),
    cv AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               (CAST(SUM(qq) AS DOUBLE) / 100.0) AS sx,
               (CAST(SUM(CAST(qq AS DOUBLE) * qq) AS DOUBLE) / 10000.0) AS sxx
        FROM monthly GROUP BY l_partkey
    ),
    xyz AS (
        SELECT l_partkey,
               CASE WHEN n < 2 THEN 'Z'
                    WHEN {_Q296_CV} < 0.5 THEN 'X'
                    WHEN {_Q296_CV} < 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz_class
        FROM cv
    )
    SELECT a.abc_class, x.xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(a.revq) / 100.0, 2) AS revenue
    FROM abc a JOIN xyz x ON a.l_partkey = x.l_partkey
    GROUP BY a.abc_class, x.xyz_class
    ORDER BY a.abc_class, x.xyz_class
    """,
)
def q296(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_sum

    li = T(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    part_rev = li.groupBy("l_partkey").agg(F.sum(quantize(rev, 2)).alias("revq"))
    ranked = global_prefix_sum(
        part_rev,
        [F.desc("revq"), F.asc("l_partkey")],
        F.col("revq") / 100.0,
        out_col="cum",
        scale=2,
    ).withColumn("cumq", (F.col("cum") * 100).cast("long"))
    tot = part_rev.agg(F.sum("revq").alias("totq"))
    abc = ranked.join(F.broadcast(tot)).select(
        "l_partkey",
        "revq",
        F.when(F.col("cumq") * 100 <= F.col("totq") * 80, "A")
        .when(F.col("cumq") * 100 <= F.col("totq") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    monthly = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("m")
    ).agg(F.sum(quantize("l_quantity")).alias("qq"))
    cv = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("qq").cast("double") / 100.0).alias("sx"),
        (F.sum(F.col("qq").cast("double") * F.col("qq")) / 10000.0).alias(
            "sxx"
        ),
    )
    cv_expr = F.expr(_Q296_CV)
    xyz = cv.select(
        F.col("l_partkey").alias("xk"),
        F.when(F.col("n") < 2, "Z")
        .when(cv_expr < 0.5, "X")
        .when(cv_expr < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        abc.join(xyz, abc.l_partkey == xyz.xk)
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("revq") / 100.0, 2).alias("revenue"),
        )
        .orderBy("abc_class", "xyz_class")
    )


# --- q298: top-down target allocation with LARGEST-REMAINDER rounding
# — each nation's next-year revenue target (110% of 1996 actuals) is
# spread across its customers proportionally, in cents, such that the
# allocations SUM EXACTLY to the nation target (the property naive
# per-row rounding violates). All integer arithmetic: 1.1·x in cents
# is (11x div 10, remainder 11x mod 10 tenths), the leftover cents go
# to the largest remainders (customer key tie-break). The remainder
# rank runs per nation — at extreme per-nation customer counts swap
# it for a bucketed remainder histogram (remainder is one of 10
# values, so counts per (nation, remainder) + a threshold pick give
# the same result with no wide window). --------------------------------------
@query(
    "q298_largest_remainder_allocation",
    oracle="""
    WITH prior AS (
        SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
               SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS revq
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2
    ),
    nat AS (
        SELECT nk,
               CAST((11 * CAST(SUM(revq) AS BIGINT)) // 10 AS BIGINT) AS target_c
        FROM prior GROUP BY nk
    ),
    alloc AS (
        SELECT p.nk, p.ck,
               CAST((11 * p.revq) // 10 AS BIGINT) AS base_c,
               CAST((11 * p.revq) % 10 AS BIGINT) AS rem_tenths,
               ROW_NUMBER() OVER (PARTITION BY p.nk
                                  ORDER BY (11 * p.revq) % 10 DESC, p.ck)
                   AS rrank
        FROM prior p
    ),
    leftover AS (
        SELECT a.nk, n.target_c,
               n.target_c - SUM(a.base_c) AS extra
        FROM alloc a JOIN nat n ON a.nk = n.nk
        GROUP BY a.nk, n.target_c
    ),
    final AS (
        SELECT a.nk,
               a.base_c + CASE WHEN a.rrank <= l.extra THEN 1 ELSE 0 END
                   AS alloc_c
        FROM alloc a JOIN leftover l ON a.nk = l.nk
    )
    SELECT f.nk AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(MIN(l.target_c) AS BIGINT) AS target_cents,
           CAST(SUM(f.alloc_c) AS BIGINT) AS allocated_cents,
           CAST(MIN(l.extra) AS BIGINT) AS n_bumped
    FROM final f JOIN leftover l ON f.nk = l.nk
    GROUP BY f.nk ORDER BY f.nk
    """,
)
def q298(spark, sf_dir):
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    revq = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
    prior = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"), F.col("o_custkey").alias("ck")
        )
        .agg(F.sum(revq).alias("revq"))
    )
    nat = prior.groupBy("nk").agg(
        F.expr("CAST((11 * SUM(revq)) DIV 10 AS BIGINT)").alias("target_c")
    )
    w = Window.partitionBy("nk").orderBy(
        F.desc((11 * F.col("revq")) % 10), "ck"
    )
    alloc = prior.select(
        "nk",
        "ck",
        F.expr("CAST((11 * revq) DIV 10 AS BIGINT)").alias("base_c"),
        F.row_number().over(w).alias("rrank"),
    )
    leftover = (
        alloc.groupBy("nk")
        .agg(F.sum("base_c").alias("sum_base"))
        .join(nat, "nk")
        .select("nk", "target_c", (F.col("target_c") - F.col("sum_base")).alias("extra"))
    )
    final = alloc.join(F.broadcast(leftover), "nk").select(
        "nk",
        "target_c",
        "extra",
        (
            F.col("base_c")
            + F.when(F.col("rrank") <= F.col("extra"), 1).otherwise(0)
        ).alias("alloc_c"),
    )
    return (
        final.groupBy(F.col("nk").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.min("target_c").alias("target_cents"),
            F.sum("alloc_c").alias("allocated_cents"),
            F.min("extra").alias("n_bumped"),
        )
        .orderBy("nationkey")
    )


# --- q302: sequence-completeness audit — are each order's line
# numbers exactly 1..n with no gaps or duplicates? For consecutive-
# from-1 sequences the full check folds into one aggregate per order:
# count = max AND min = 1 AND count = distinct-count. The integrity
# audit q164 (foreign keys) doesn't cover; a broken writer or lost
# partition shows up here first. One groupBy + one tiny rollup. -------------
@query(
    "q302_linenumber_gap_audit",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey,
               COUNT(*) AS n,
               COUNT(DISTINCT l_linenumber) AS nd,
               MIN(l_linenumber) AS mn,
               MAX(l_linenumber) AS mx
        FROM lineitem GROUP BY l_orderkey
    ),
    flagged AS (
        SELECT CASE WHEN mn = 1 AND mx = n AND nd = n THEN 'complete'
                    ELSE 'broken' END AS status,
               n
        FROM per_order
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(n) AS BIGINT) AS n_lines
    FROM flagged GROUP BY status ORDER BY status
    """,
)
def q302(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_linenumber").alias("nd"),
        F.min("l_linenumber").alias("mn"),
        F.max("l_linenumber").alias("mx"),
    )
    complete = (
        (F.col("mn") == 1) & (F.col("mx") == F.col("n")) & (F.col("nd") == F.col("n"))
    )
    return (
        per_order.select(
            F.when(complete, "complete").otherwise("broken").alias("status"),
            "n",
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n").alias("n_lines"),
        )
        .orderBy("status")
    )


# --- q303: market concentration (HHI) — Herfindahl index of supplier
# revenue shares within each region: Σ share², share from exact
# quantized revenue sums. Rollup to (region, supplier) first (one
# fact-table shuffle); the share arithmetic runs on supplier-
# cardinality rows. HHI > 0.25 flags concentrated markets. --------------------
@query(
    "q303_supplier_hhi_by_region",
    oracle=f"""
    WITH sr AS (
        SELECT r.r_name AS region, l.l_suppkey,
               SUM({sql_quantize("l.l_extendedprice * (1 - l.l_discount)", 2)}) AS revq
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT region, SUM(revq) AS totq FROM sr GROUP BY region)
    SELECT sr.region,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(POWER(CAST(sr.revq AS DOUBLE) / CAST(t.totq AS DOUBLE), 2)), 6) AS hhi
    FROM sr JOIN tot t ON sr.region = t.region
    GROUP BY sr.region ORDER BY sr.region
    """,
)
def q303(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    sdim = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", F.col("r_name").alias("region"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    sr = (
        li.join(sdim, li.l_suppkey == sdim.s_suppkey)
        .groupBy("region", "l_suppkey")
        .agg(F.sum(quantize(rev, 2)).alias("revq"))
    )
    tot = sr.groupBy(F.col("region").alias("tr")).agg(
        F.sum("revq").alias("totq")
    )
    return (
        sr.join(F.broadcast(tot), sr.region == tot.tr)
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(
                F.sum(
                    F.pow(
                        F.col("revq").cast("double")
                        / F.col("totq").cast("double"),
                        2,
                    )
                ),
                6,
            ).alias("hhi"),
        )
        .orderBy("region")
    )


# --- q304: discount elasticity proxy — Pearson correlation of
# discount and quantity per brand from exact quantized sufficient
# statistics (the grouped application of the shared CORR formula that
# q58 computes globally). One fact shuffle to (brand) rollups; a
# positive corr says deeper discounts move bigger quantities. ---------------
_Q304_CORR = (
    "CASE WHEN n > 1 THEN "
    "(n * sxy - sx * sy) / "
    "(SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) "
    "ELSE NULL END"
)


@query(
    "q304_discount_qty_corr_by_brand",
    oracle=f"""
    WITH st AS (
        SELECT p.p_brand,
               CAST(COUNT(*) AS BIGINT) AS n,
               (CAST(SUM({sql_quantize("l.l_discount", 4)}) AS DOUBLE) / 10000.0) AS sx,
               (CAST(SUM({sql_quantize("l.l_quantity", 2)}) AS DOUBLE) / 100.0) AS sy,
               (CAST(SUM({sql_quantize("l.l_discount * l.l_discount", 6)}) AS DOUBLE) / 1000000.0) AS sxx,
               (CAST(SUM({sql_quantize("l.l_quantity * l.l_quantity", 2)}) AS DOUBLE) / 100.0) AS syy,
               (CAST(SUM({sql_quantize("l.l_discount * l.l_quantity", 4)}) AS DOUBLE) / 10000.0) AS sxy
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    )
    SELECT p_brand, n, ROUND({_Q304_CORR}, 6) AS corr_discount_qty
    FROM st ORDER BY p_brand
    """,
)
def q304(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d, q = F.col("l_discount"), F.col("l_quantity")
    st = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(d, 4).alias("sx"),
            dsum(q, 2).alias("sy"),
            dsum(d * d, 6).alias("sxx"),
            dsum(q * q, 2).alias("syy"),
            dsum(d * q, 4).alias("sxy"),
        )
    )
    return st.select(
        "p_brand", "n", F.round(F.expr(_Q304_CORR), 6).alias("corr_discount_qty")
    ).orderBy("p_brand")


# --- q305: weekday seasonality with a chi-square uniformity test —
# order counts per ISO weekday plus the chi-square statistic against
# the uniform null (q59's machinery applied to temporal seasonality).
# Counts are exact; the statistic folds on the 7-row rollup. The
# square-and-sum runs in the outer query so both engines evaluate the
# identical expression tree. ------------------------------------------------
@query(
    "q305_weekday_uniformity_chi2",
    oracle="""
    WITH dow AS (
        SELECT isodow(o_orderdate) AS weekday,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS k FROM dow)
    SELECT d.weekday, d.n,
           ROUND(POWER(d.n - CAST(t.total AS DOUBLE) / t.k, 2)
                 / (CAST(t.total AS DOUBLE) / t.k), 6) AS chi2_term
    FROM dow d CROSS JOIN tot t
    ORDER BY d.weekday
    """,
)
def q305(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    dow = orders.groupBy(
        F.dayofweek("o_orderdate").alias("dw_sun1")
    ).agg(F.count(F.lit(1)).alias("n"))
    # Spark dayofweek is 1=Sunday; convert to ISO 1=Monday..7=Sunday
    dow = dow.select(
        (((F.col("dw_sun1") + 5) % 7) + 1).alias("weekday"), "n"
    )
    tot = dow.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("k")
    )
    return (
        dow.join(F.broadcast(tot))
        .select(
            "weekday",
            "n",
            F.round(
                F.pow(
                    F.col("n") - F.col("total").cast("double") / F.col("k"), 2
                )
                / (F.col("total").cast("double") / F.col("k")),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("weekday")
    )


# --- q306: order-cadence regularity — coefficient of variation of
# each customer's inter-order gaps (days), the subscription-likeness
# signal: CV << 1 means metronome-like ordering. Gaps via one lag
# window per customer; CV from exact quantized sufficient stats;
# output is the cadence-class rollup so the result stays bounded at
# any customer count. ---------------------------------------------------------
_Q306_CV = "SQRT((sxx - sx * sx / n) / (n - 1)) / (sx / n)"


@query(
    "q306_order_cadence_regularity",
    oracle=f"""
    WITH gaps AS (
        SELECT o_custkey,
               CAST(date_diff('day', LAG(o_orderdate) OVER w, o_orderdate)
                    AS BIGINT) AS gap_days
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    st AS (
        SELECT o_custkey,
               CAST(COUNT(gap_days) AS BIGINT) AS n,
               CAST(SUM(gap_days) AS DOUBLE) AS sx,
               CAST(SUM(gap_days * gap_days) AS DOUBLE) AS sxx
        FROM gaps WHERE gap_days IS NOT NULL
        GROUP BY o_custkey HAVING COUNT(gap_days) >= 3 AND SUM(gap_days) > 0
    ),
    classed AS (
        SELECT CASE WHEN {_Q306_CV} < 0.5 THEN 'regular'
                    WHEN {_Q306_CV} < 1.0 THEN 'mixed'
                    ELSE 'bursty' END AS cadence
        FROM st
    )
    SELECT cadence, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM classed GROUP BY cadence ORDER BY cadence
    """,
)
def q306(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
        )
        .cast("long")
        .alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    st = (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("gap_days").alias("n"),
            F.sum("gap_days").cast("double").alias("sx"),
            F.sum(F.col("gap_days") * F.col("gap_days"))
            .cast("double")
            .alias("sxx"),
        )
        .filter((F.col("n") >= 3) & (F.col("sx") > 0))
    )
    cv = F.expr(_Q306_CV)
    return (
        st.select(
            F.when(cv < 0.5, "regular")
            .when(cv < 1.0, "mixed")
            .otherwise("bursty")
            .alias("cadence")
        )
        .groupBy("cadence")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("cadence")
    )


# --- q307: revenue bridge (price-volume decomposition) — YoY revenue
# change per nation split into volume effect (Δqty x prior avg price)
# and price effect (current qty x Δavg price); the two effects sum to
# the total change EXACTLY because both derive from the same quantized
# sums (volume + price = q1*p1 - q0*p0 identically). The FP&A
# waterfall, computed on nation-year rollups. --------------------------------
@query(
    "q307_revenue_bridge_yoy",
    oracle=f"""
    WITH base AS (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS y,
               CAST(SUM({sql_quantize("l.l_quantity")}) AS BIGINT) AS qq,
               CAST(SUM({sql_quantize("l.l_extendedprice * (1 - l.l_discount)")}) AS BIGINT) AS revq
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT a.nation,
               CAST(a.qq AS DOUBLE) / 100.0 AS q1,
               CAST(a.revq AS DOUBLE) / 100.0 AS r1,
               CAST(b.qq AS DOUBLE) / 100.0 AS q0,
               CAST(b.revq AS DOUBLE) / 100.0 AS r0
        FROM base a JOIN base b
          ON a.nation = b.nation AND a.y = 1997 AND b.y = 1996
    )
    SELECT nation,
           ROUND(r1 - r0, 2) AS total_change,
           ROUND((q1 - q0) * (r0 / q0), 2) AS volume_effect,
           ROUND(q1 * (r1 / q1 - r0 / q0), 2) AS price_effect
    FROM wide ORDER BY nation
    """,
)
def q307(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation")
    dims = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("nation", F.year("o_orderdate").alias("y"))
        .agg(
            F.sum(quantize("l_quantity")).alias("qq"),
            F.sum(quantize(rev)).alias("revq"),
        )
    )
    a = base.filter(F.col("y") == 1997).select(
        "nation",
        (F.col("qq").cast("double") / 100.0).alias("q1"),
        (F.col("revq").cast("double") / 100.0).alias("r1"),
    )
    b = base.filter(F.col("y") == 1996).select(
        F.col("nation").alias("nb"),
        (F.col("qq").cast("double") / 100.0).alias("q0"),
        (F.col("revq").cast("double") / 100.0).alias("r0"),
    )
    return (
        a.join(b, a.nation == b.nb)
        .select(
            "nation",
            F.round(F.col("r1") - F.col("r0"), 2).alias("total_change"),
            F.round(
                (F.col("q1") - F.col("q0")) * (F.col("r0") / F.col("q0")), 2
            ).alias("volume_effect"),
            F.round(
                F.col("q1")
                * (F.col("r1") / F.col("q1") - F.col("r0") / F.col("q0")),
                2,
            ).alias("price_effect"),
        )
        .orderBy("nation")
    )


# --- q308: keyset pagination — page 3 (rows 41-60) of the order book
# sorted by (totalprice DESC, orderkey), fetched with a WHERE-clause
# keyset instead of OFFSET: the previous page's last key bounds the
# scan, so page N costs the same as page 1 (OFFSET re-sorts and skips
# N*page rows — quadratic over a paging session; at 100 TB the keyset
# is the only viable cursor). The page-2 boundary key is itself
# computed with a deterministic top-k, keeping the whole query
# self-contained and oracle-checkable. ---------------------------------------
@query(
    "q308_keyset_pagination",
    oracle="""
    WITH ranked AS (
        SELECT o_orderkey, o_totalprice,
               CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS pq
        FROM orders
    ),
    boundary AS (
        SELECT pq, o_orderkey FROM ranked
        ORDER BY pq DESC, o_orderkey ASC LIMIT 40
    ),
    last_key AS (
        SELECT pq, o_orderkey FROM boundary
        ORDER BY pq ASC, o_orderkey DESC LIMIT 1
    )
    SELECT r.o_orderkey, ROUND(r.o_totalprice, 2) AS o_totalprice
    FROM ranked r CROSS JOIN last_key k
    WHERE r.pq < k.pq OR (r.pq = k.pq AND r.o_orderkey > k.o_orderkey)
    ORDER BY r.pq DESC, r.o_orderkey ASC
    LIMIT 20
    """,
)
def q308(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    ranked = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("pq"),
    )
    boundary = ranked.orderBy(F.desc("pq"), F.asc("o_orderkey")).limit(40)
    last_key = (
        boundary.orderBy(F.asc("pq"), F.desc("o_orderkey"))
        .limit(1)
        .select(F.col("pq").alias("kpq"), F.col("o_orderkey").alias("kok"))
    )
    page = (
        ranked.join(F.broadcast(last_key))
        .filter(
            (F.col("pq") < F.col("kpq"))
            | ((F.col("pq") == F.col("kpq")) & (F.col("o_orderkey") > F.col("kok")))
        )
        .orderBy(F.desc("pq"), F.asc("o_orderkey"))
        .limit(20)
    )
    return page.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


# --- q309: new-vs-repeat revenue split — each month's revenue divided
# between first-time and returning customers (the acquisition-vs-
# retention lens every commerce dashboard leads with). First-order
# month per customer is one aggregate; the split is a conditional sum
# on the fact rollup — no windows on the fact table. ------------------------
@query(
    "q309_new_vs_repeat_revenue",
    oracle=f"""
    WITH first_order AS (
        SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS fm
        FROM orders GROUP BY o_custkey
    ),
    tagged AS (
        SELECT date_trunc('month', o.o_orderdate) AS m,
               CASE WHEN date_trunc('month', o.o_orderdate) = f.fm
                    THEN 'new' ELSE 'repeat' END AS segment,
               o.o_totalprice
        FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
    )
    SELECT m AS month, segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum("o_totalprice")} AS revenue
    FROM tagged
    WHERE m < TIMESTAMP '1996-01-01'
    GROUP BY m, segment ORDER BY m, segment
    """,
)
def q309(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    first_order = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("fm")
    )
    tagged = orders.join(first_order, "o_custkey").select(
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.when(
            F.date_trunc("month", "o_orderdate") == F.col("fm"), "new"
        )
        .otherwise("repeat")
        .alias("segment"),
        "o_totalprice",
    )
    return (
        tagged.filter(F.col("m") < "1996-01-01")
        .groupBy(F.col("m").alias("month"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
        .orderBy("month", "segment")
    )


# --- q310: dead-stock report — parts with sales history but nothing
# shipped in 2001 (discontinued/dead inventory): time-windowed
# anti join on the part key, with the trailing revenue that is now
# stranded. Both sides are part-key rollups of one fact scan each. -----------
@query(
    "q310_dead_stock_parts",
    oracle=f"""
    WITH sold_96 AS (
        SELECT l_partkey,
               {sql_dsum("l_extendedprice * (1 - l_discount)", 2)} AS rev_to_2000,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '2001-01-01'
        GROUP BY l_partkey
    ),
    sold_later AS (
        SELECT DISTINCT l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2001-01-01'
    )
    SELECT s.l_partkey, p.p_name, ROUND(s.rev_to_2000, 2) AS rev_to_2000, s.n_lines
    FROM sold_96 s
    JOIN part p ON s.l_partkey = p.p_partkey
    WHERE s.l_partkey NOT IN (SELECT l_partkey FROM sold_later)
    ORDER BY s.rev_to_2000 DESC, s.l_partkey
    LIMIT 25
    """,
)
def q310(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    sold_96 = (
        li.filter(F.col("l_shipdate") < "2001-01-01")
        .groupBy("l_partkey")
        .agg(
            dsum(rev, 2).alias("rev_to_2000"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    sold_later = (
        li.filter(F.col("l_shipdate") >= "2001-01-01")
        .select(F.col("l_partkey").alias("lk"))
        .distinct()
    )
    return (
        sold_96.join(sold_later, sold_96.l_partkey == sold_later.lk, "left_anti")
        .join(part, sold_96.l_partkey == part.p_partkey)
        .select(
            "l_partkey",
            "p_name",
            F.round("rev_to_2000", 2).alias("rev_to_2000"),
            "n_lines",
        )
        .orderBy(F.desc("rev_to_2000"), "l_partkey")
        .limit(25)
    )


# --- q312: Zipf fit of part popularity — is demand power-law
# distributed? Rank parts by order-line count (distributed
# partition-offset rank, no single-task window), fit
# ln(count) ~ ln(rank) by closed-form OLS; slope near -1 is classic
# Zipf. The same shape checks token frequencies in corpus work. Log
# terms quantize at 1e-9 before the exact sums. ------------------------------
_Q312_SLOPE = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
)


@query(
    "q312_part_popularity_zipf",
    oracle=f"""
    WITH pop AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, l_partkey) AS BIGINT) AS rnk
        FROM pop
    ),
    terms AS (
        SELECT CAST(SIGN(LN(rnk)) * FLOOR(ABS(LN(rnk)) * 1000000.0 + 0.5) AS BIGINT) AS xq,
               CAST(SIGN(LN(cnt)) * FLOOR(ABS(LN(cnt)) * 1000000.0 + 0.5) AS BIGINT) AS yq
        FROM ranked
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               (CAST(SUM(xq) AS DOUBLE) / 1000000.0) AS sx,
               (CAST(SUM(yq) AS DOUBLE) / 1000000.0) AS sy,
               (CAST(CAST(SUM(xq * xq) AS BIGINT) AS DOUBLE) / 1000000000000.0) AS sxx,
               (CAST(CAST(SUM(xq * yq) AS BIGINT) AS DOUBLE) / 1000000000000.0) AS sxy
        FROM terms
    )
    SELECT n AS n_parts,
           ROUND({_Q312_SLOPE}, 6) AS zipf_slope,
           ROUND((sy - {_Q312_SLOPE} * sx) / n, 6) AS intercept
    FROM sums
    """,
)
def q312(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_sum

    li = T(spark, sf_dir, "lineitem")
    pop = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = global_prefix_sum(
        pop, [F.desc("cnt"), F.asc("l_partkey")], F.lit(1.0), "rnk", scale=0
    ).withColumn("rnk", F.col("rnk").cast("long"))
    # logs quantize at 1e6 so the cross-products stay inside int64 and
    # every sum is an exact integer fold (order-independent)
    qln = lambda c: F.expr(  # noqa: E731
        f"CAST(SIGN(LN({c})) * FLOOR(ABS(LN({c})) * 1000000.0 + 0.5) AS BIGINT)"
    )
    terms = ranked.select(qln("rnk").alias("xq"), qln("cnt").alias("yq"))
    sums = terms.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("xq").cast("double") / 1e6).alias("sx"),
        (F.sum("yq").cast("double") / 1e6).alias("sy"),
        (F.sum(F.col("xq") * F.col("xq")).cast("double") / 1e12).alias("sxx"),
        (F.sum(F.col("xq") * F.col("yq")).cast("double") / 1e12).alias("sxy"),
    )
    slope = F.expr(_Q312_SLOPE)
    return sums.select(
        F.col("n").alias("n_parts"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


# --- q313: round-number bias audit — share of order totals landing on
# whole dollars / whole hundreds, per order status (the fraud/manual-
# entry heuristic that complements the Benford digit audit, q166).
# Pure integer predicates on quantized cents; one aggregate pass. ------------
@query(
    "q313_round_number_bias",
    oracle="""
    WITH q AS (
        SELECT o_orderstatus,
               CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS pq
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(CASE WHEN pq % 100 = 0 THEN 1 END) AS BIGINT)
               AS n_whole_dollar,
           CAST(COUNT(CASE WHEN pq % 10000 = 0 THEN 1 END) AS BIGINT)
               AS n_whole_hundred,
           ROUND(COUNT(CASE WHEN pq % 100 = 0 THEN 1 END) * 1.0 / COUNT(*), 6)
               AS whole_dollar_share
    FROM q GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q313(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    pq = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
    q = orders.select("o_orderstatus", pq.alias("pq"))
    return (
        q.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(F.col("pq") % 100 == 0, 1)).alias("n_whole_dollar"),
            F.count(F.when(F.col("pq") % 10000 == 0, 1)).alias(
                "n_whole_hundred"
            ),
            F.round(
                F.count(F.when(F.col("pq") % 100 == 0, 1)) / F.count(F.lit(1)),
                6,
            ).alias("whole_dollar_share"),
        )
        .orderBy("o_orderstatus")
    )


# --- q314: supplier OTIF scorecard — share of a supplier's lines
# shipped within 30 days of the order date ("on time"); bottom 10
# suppliers by on-time share (minimum volume floor so tiny suppliers
# don't dominate the tail). One fact-fact join + one conditional
# aggregate per supplier. -----------------------------------------------------
@query(
    "q314_supplier_otif_laggards",
    oracle="""
    WITH lines AS (
        SELECT l.l_suppkey,
               CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
                    THEN 1 ELSE 0 END AS on_time
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    per_supp AS (
        SELECT l_suppkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(on_time) AS BIGINT) AS n_on_time
        FROM lines GROUP BY l_suppkey HAVING COUNT(*) >= 20
    )
    SELECT p.l_suppkey, s.s_name, p.n_lines, p.n_on_time,
           ROUND(p.n_on_time * 1.0 / p.n_lines, 6) AS on_time_share
    FROM per_supp p JOIN supplier s ON p.l_suppkey = s.s_suppkey
    ORDER BY on_time_share ASC, p.l_suppkey
    LIMIT 10
    """,
)
def q314(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate"
    )
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    on_time = F.when(
        F.col("l_shipdate")
        <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
        1,
    ).otherwise(0)
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_suppkey", on_time.alias("on_time"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("on_time").alias("n_on_time"),
        )
        .filter(F.col("n_lines") >= 20)
    )
    return (
        per_supp.join(supp, per_supp.l_suppkey == supp.s_suppkey)
        .select(
            "l_suppkey",
            "s_name",
            "n_lines",
            F.col("n_on_time").cast("long").alias("n_on_time"),
            F.round(F.col("n_on_time") / F.col("n_lines"), 6).alias(
                "on_time_share"
            ),
        )
        .orderBy(F.asc("on_time_share"), "l_suppkey")
        .limit(10)
    )


# --- q315: discount-policy compliance — lines discounted beyond 8%
# on non-PROMO parts are policy violations; per part type: violation
# count, violation rate, and the revenue given away beyond the 8% cap
# (exact quantized). The contract-leakage audit. ------------------------------
@query(
    "q315_discount_policy_violations",
    oracle=f"""
    SELECT p.p_type,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(CASE WHEN l.l_discount > 0.08 THEN 1 END) AS BIGINT)
               AS n_violations,
           ROUND(COUNT(CASE WHEN l.l_discount > 0.08 THEN 1 END) * 1.0
                 / COUNT(*), 6) AS violation_rate,
           {sql_dsum("CASE WHEN l.l_discount > 0.08 THEN l.l_extendedprice * (l.l_discount - 0.08) ELSE 0 END", 4)}
               AS excess_discount_value
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_type <> 'PROMO'
    GROUP BY p.p_type ORDER BY p.p_type
    """,
)
def q315(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_type")
    viol = F.col("l_discount") > 0.08
    excess = F.when(
        viol, F.col("l_extendedprice") * (F.col("l_discount") - 0.08)
    ).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(F.col("p_type") != "PROMO")
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(F.when(viol, 1)).alias("n_violations"),
            F.round(F.count(F.when(viol, 1)) / F.count(F.lit(1)), 6).alias(
                "violation_rate"
            ),
            dsum(excess, 4).alias("excess_discount_value"),
        )
        .orderBy("p_type")
    )


# --- q317: price-dispersion audit — parts sold at wildly different
# unit prices (max/min quantized unit-price ratio): the pricing-
# consistency check. Unit prices quantize to BIGINT cents-per-unit so
# min/max/ratio are engine-exact; top 15 dispersed parts. --------------------
@query(
    "q317_unit_price_dispersion",
    oracle="""
    WITH up AS (
        SELECT l_partkey,
               CAST(FLOOR((l_extendedprice / l_quantity) * 100.0 + 0.5) AS BIGINT) AS upq
        FROM lineitem WHERE l_quantity > 0
    ),
    agg AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n_sales,
               MIN(upq) AS min_q, MAX(upq) AS max_q
        FROM up GROUP BY l_partkey HAVING COUNT(*) >= 5
    )
    SELECT a.l_partkey, p.p_name, a.n_sales,
           ROUND(a.min_q / 100.0, 2) AS min_unit_price,
           ROUND(a.max_q / 100.0, 2) AS max_unit_price,
           ROUND(CAST(a.max_q AS DOUBLE) / a.min_q, 6) AS dispersion_ratio
    FROM agg a JOIN part p ON a.l_partkey = p.p_partkey
    ORDER BY dispersion_ratio DESC, a.l_partkey
    LIMIT 15
    """,
)
def q317(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    part = T(spark, sf_dir, "part").select("p_partkey", "p_name")
    upq = F.floor(
        (F.col("l_extendedprice") / F.col("l_quantity")) * 100.0 + 0.5
    ).cast("bigint")
    agg = (
        li.select("l_partkey", upq.alias("upq"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_sales"),
            F.min("upq").alias("min_q"),
            F.max("upq").alias("max_q"),
        )
        .filter(F.col("n_sales") >= 5)
    )
    return (
        agg.join(part, agg.l_partkey == part.p_partkey)
        .select(
            "l_partkey",
            "p_name",
            "n_sales",
            F.round(F.col("min_q") / 100.0, 2).alias("min_unit_price"),
            F.round(F.col("max_q") / 100.0, 2).alias("max_unit_price"),
            F.round(
                F.col("max_q").cast("double") / F.col("min_q"), 6
            ).alias("dispersion_ratio"),
        )
        .orderBy(F.desc("dispersion_ratio"), "l_partkey")
        .limit(15)
    )


# --- q318: multi-metric anomaly scoring — each nation-month's
# (revenue, order count) z-scored against that nation's OWN monthly
# history; composite score = max(|z_rev|, |z_orders|); the months a
# metrics-observability stack would page on (top 10). Sufficient
# stats per nation from exact quantized sums; the z arithmetic runs
# on nation-month rollups. Shared formula text on both engines. --------------
_Q318_Z = "ABS(({v} - {s} / n) / SQRT((({ss}) - ({s}) * ({s}) / n) / (n - 1)))"
_Q318_ZREV = _Q318_Z.format(v="rev", s="srev", ss="srev2")
_Q318_ZORD = _Q318_Z.format(v="cnt", s="scnt", ss="scnt2")


@query(
    "q318_nation_month_anomalies",
    oracle=f"""
    WITH nm AS (
        SELECT n.n_name AS nation, date_trunc('month', o.o_orderdate) AS m,
               (CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS rev,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    st AS (
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n,
               (CAST(SUM(CAST(FLOOR(rev * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS srev,
               (CAST(SUM(CAST(FLOOR(rev * rev / 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) * 1000000.0) AS srev2,
               (CAST(SUM(cnt) AS DOUBLE)) AS scnt,
               (CAST(SUM(cnt * cnt) AS DOUBLE)) AS scnt2
        FROM nm GROUP BY nation
    )
    SELECT nm.nation, nm.m AS month,
           ROUND({_Q318_ZREV}, 4) AS z_revenue,
           ROUND({_Q318_ZORD}, 4) AS z_orders,
           ROUND(GREATEST({_Q318_ZREV}, {_Q318_ZORD}), 4) AS anomaly_score
    FROM nm JOIN st ON nm.nation = st.nation
    ORDER BY anomaly_score DESC, nm.nation, month
    LIMIT 10
    """,
)
def q318(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation")
    dims = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("nation"))
    pq = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
    nm = (
        orders.join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("nation", F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(
            (F.sum(pq).cast("double") / 100.0).alias("rev"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    st = nm.groupBy(F.col("nation").alias("sn")).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.floor(F.col("rev") * 100.0 + 0.5).cast("bigint")).cast(
                "double"
            )
            / 100.0
        ).alias("srev"),
        (
            F.sum(
                F.floor(F.col("rev") * F.col("rev") / 1e6 + 0.5).cast("bigint")
            ).cast("double")
            * 1e6
        ).alias("srev2"),
        F.sum("cnt").cast("double").alias("scnt"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("double").alias("scnt2"),
    )
    joined = nm.join(F.broadcast(st), nm.nation == st.sn)
    zrev = F.expr(_Q318_ZREV)
    zord = F.expr(_Q318_ZORD)
    return (
        joined.select(
            "nation",
            F.col("m").alias("month"),
            F.round(zrev, 4).alias("z_revenue"),
            F.round(zord, 4).alias("z_orders"),
            F.round(F.greatest(zrev, zord), 4).alias("anomaly_score"),
        )
        .orderBy(F.desc("anomaly_score"), "nation", "month")
        .limit(10)
    )


# --- q320: top-k stability — how much does the monthly top-20 parts
# leaderboard churn? Jaccard overlap of consecutive months' top sets:
# rank windows run per month over the (month, part) rollup; the
# overlap join is top-k-sized. Falling stability is the early signal
# of assortment drift that invalidates caches and forecasts keyed on
# "the usual heads". ----------------------------------------------------------
@query(
    "q320_monthly_topk_stability",
    oracle=f"""
    WITH mp AS (
        SELECT date_trunc('month', l_shipdate) AS m, l_partkey,
               SUM({sql_quantize("l_extendedprice * (1 - l_discount)", 2)}) AS revq
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2
    ),
    topk AS (
        SELECT m, l_partkey FROM (
            SELECT m, l_partkey,
                   ROW_NUMBER() OVER (PARTITION BY m
                       ORDER BY revq DESC, l_partkey) AS rn
            FROM mp
        ) t WHERE rn <= 20
    ),
    months AS (SELECT DISTINCT m FROM topk),
    spine AS (
        SELECT a.m AS month_a, b.m AS month_b
        FROM months a JOIN months b ON b.m = a.m + INTERVAL 1 MONTH
    ),
    common AS (
        SELECT a.m AS month_a, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM topk a JOIN topk b
          ON b.m = a.m + INTERVAL 1 MONTH AND a.l_partkey = b.l_partkey
        GROUP BY a.m
    )
    SELECT s.month_a, s.month_b,
           CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
           ROUND(CAST(COALESCE(c.n_common, 0) AS DOUBLE)
                 / (40 - COALESCE(c.n_common, 0)), 6) AS jaccard
    FROM spine s LEFT JOIN common c ON s.month_a = c.month_a
    ORDER BY s.month_a
    """,
)
def q320(spark, sf_dir):
    from pyspark.sql import Window as W

    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    mp = li.groupBy(
        F.date_trunc("month", "l_shipdate").alias("m"), "l_partkey"
    ).agg(F.sum(quantize(rev, 2)).alias("revq"))
    w = W.partitionBy("m").orderBy(F.desc("revq"), "l_partkey")
    topk = (
        mp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("m", "l_partkey")
    )
    nxt = topk.select(
        F.col("m").alias("mb"), F.col("l_partkey").alias("pb")
    )
    months = topk.select("m").distinct()
    spine = months.join(
        months.select(F.col("m").alias("m2")),
        F.col("m2") == F.col("m") + F.expr("INTERVAL 1 MONTH"),
    ).select(F.col("m").alias("month_a"), F.col("m2").alias("month_b"))
    common = (
        topk.join(
            nxt,
            (F.col("mb") == F.col("m") + F.expr("INTERVAL 1 MONTH"))
            & (F.col("l_partkey") == F.col("pb")),
        )
        .groupBy(F.col("m").alias("ca"))
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    return (
        spine.join(common, spine.month_a == common.ca, "left")
        .select(
            "month_a",
            "month_b",
            F.coalesce(F.col("nc"), F.lit(0)).cast("long").alias("n_common"),
            F.round(
                F.coalesce(F.col("nc"), F.lit(0)).cast("double")
                / (40 - F.coalesce(F.col("nc"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
        .orderBy("month_a")
    )


# --- q336: market-basket association rules over order baskets. Basket
# = order, item = part; pair counts from a self-equi-join of the
# DISTINCT (order, part) table on the order key with pa < pb — k² pairs
# per basket with small k, never a cartesian across baskets. Support /
# confidence / lift from integer counts (exact, order-independent);
# top-20 by lift with a total (lift, pa, pb) ordering. At 100 TB the
# shape holds: one dedup shuffle, one equi-join on the basket key, the
# min-support filter prunes the rule table before ranking. Reference:
# association-mining surface of src/ml/mod.rs.
@query(
    "q336_market_basket_lift",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    nb AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM items),
    cnt AS (SELECT pk, COUNT(*) AS n FROM items GROUP BY pk),
    pairs AS (
        SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS n_ab
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk
    )
    SELECT p.pa AS part_a, p.pb AS part_b,
           CAST(p.n_ab AS BIGINT) AS n_both,
           ROUND(p.n_ab * 1.0 / nb.n_baskets, 6) AS support,
           ROUND(p.n_ab * 1.0 / ca.n, 6) AS confidence,
           ROUND(p.n_ab * 1.0 * nb.n_baskets / (ca.n * cb.n), 6) AS lift
    FROM pairs p
    JOIN cnt ca ON ca.pk = p.pa
    JOIN cnt cb ON cb.pk = p.pb, nb
    WHERE p.n_ab >= 3
    ORDER BY lift DESC, part_a, part_b LIMIT 20
    """,
)
def q336(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    nb = items.agg(F.countDistinct("ok").alias("n_baskets"))
    cnt = items.groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    a = items.select(F.col("ok"), F.col("pk").alias("pa"))
    b = items.select(F.col("ok").alias("ok2"), F.col("pk").alias("pb"))
    pairs = (
        a.join(b, (a.ok == b.ok2) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ca = cnt.select(F.col("pk").alias("pa"), F.col("n").alias("na"))
    cb = cnt.select(F.col("pk").alias("pb"), F.col("n").alias("nb_"))
    return (
        pairs.join(ca, "pa")
        .join(cb, "pb")
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("n_ab").cast("long").alias("n_both"),
            F.round(F.col("n_ab") * 1.0 / F.col("n_baskets"), 6).alias("support"),
            F.round(F.col("n_ab") * 1.0 / F.col("na"), 6).alias("confidence"),
            F.round(
                F.col("n_ab") * 1.0 * F.col("n_baskets") / (F.col("na") * F.col("nb_")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(20)
    )


# --- q337: RFM customer segmentation. Recency (days from a customer's
# last order to the corpus max order date), Frequency (order count),
# Monetary (quantized total spend); each scored 1-4 by comparison
# against the three exact interpolated quartile edges, computed in ONE
# global aggregate and broadcast — a map-only assignment, no global
# sort / NTILE (at 100 TB the percentile aggregate can swap to the
# mergeable approx_percentile sketch). Ties at an
# edge share the lower score in both engines. Output is the segment
# rollup: count + mean spend per (r, f, m) cell. Reference: qcut-based
# segmentation surface of src/dataframe/transform.rs.
@query(
    "q337_rfm_segmentation",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
    rfm AS (
        SELECT o_custkey,
               DATEDIFF('day', MAX(o_orderdate), mxd) AS recency,
               COUNT(*) AS freq,
               {sql_dsum('o_totalprice', 2)} AS monetary
        FROM orders, mx GROUP BY o_custkey, mxd
    ),
    edges AS (
        SELECT quantile_cont(CAST(recency AS DOUBLE), 0.25) AS r1,
               quantile_cont(CAST(recency AS DOUBLE), 0.50) AS r2,
               quantile_cont(CAST(recency AS DOUBLE), 0.75) AS r3,
               quantile_cont(CAST(freq AS DOUBLE), 0.25) AS f1,
               quantile_cont(CAST(freq AS DOUBLE), 0.50) AS f2,
               quantile_cont(CAST(freq AS DOUBLE), 0.75) AS f3,
               quantile_cont(monetary, 0.25) AS m1,
               quantile_cont(monetary, 0.50) AS m2,
               quantile_cont(monetary, 0.75) AS m3
        FROM rfm
    ),
    scored AS (
        SELECT 1 + CASE WHEN recency > r1 THEN 1 ELSE 0 END
                 + CASE WHEN recency > r2 THEN 1 ELSE 0 END
                 + CASE WHEN recency > r3 THEN 1 ELSE 0 END AS r_score,
               1 + CASE WHEN freq > f1 THEN 1 ELSE 0 END
                 + CASE WHEN freq > f2 THEN 1 ELSE 0 END
                 + CASE WHEN freq > f3 THEN 1 ELSE 0 END AS f_score,
               1 + CASE WHEN monetary > m1 THEN 1 ELSE 0 END
                 + CASE WHEN monetary > m2 THEN 1 ELSE 0 END
                 + CASE WHEN monetary > m3 THEN 1 ELSE 0 END AS m_score,
               monetary
        FROM rfm, edges
    )
    SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_quantize(f"({sql_dsum('monetary', 2)} / COUNT(*))", 6)} / 1000000.0
             AS avg_monetary
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q337(spark, sf_dir):
    od = T(spark, sf_dir, "orders")
    mx = od.agg(F.max("o_orderdate").alias("mxd"))
    rfm = (
        od.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "mxd")
        .agg(
            F.datediff(F.first("mxd"), F.max("o_orderdate")).alias("recency"),
            F.count(F.lit(1)).alias("freq"),
            dsum("o_totalprice", 2).alias("monetary"),
        )
        .drop("mxd")
    )
    edges = rfm.agg(
        *[
            F.expr(f"percentile(CAST({c} AS DOUBLE), {q})").alias(f"{c[0]}{i}")
            for c in ("recency", "freq", "monetary")
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def score(col, pfx):
        s = F.lit(1)
        for i in (1, 2, 3):
            s = s + F.when(F.col(col) > F.col(f"{pfx}{i}"), 1).otherwise(0)
        return s

    scored = rfm.crossJoin(F.broadcast(edges)).select(
        score("recency", "r").cast("int").alias("r_score"),
        score("freq", "f").cast("int").alias("f_score"),
        score("monetary", "m").cast("int").alias("m_score"),
        "monetary",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (quantize(dsum("monetary", 2) / F.count(F.lit(1)), 6) / 1000000.0).alias(
                "avg_monetary"
            ),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# --- q338: Pareto revenue-concentration cuts. How many top customers
# cover 50/80/90/95% of revenue? Per-customer revenue is an exact
# scaled-long sum; the running total under (revenue DESC, custkey)
# comes from global_prefix_counts — the partition-offset prefix-sum
# primitive (range-sort keeps every core busy; NO partitionless
# window). Threshold crossings are pure integer comparisons
# (cum·den < num·total), so the answer is exact and partition-
# invariant. Reference: concentration/top-k share analysis of
# src/dataframe/groupby.rs.
@query(
    "q338_pareto_revenue_cuts",
    oracle=f"""
    WITH per AS (
        SELECT o_custkey,
               SUM({sql_quantize('o_totalprice', 2)}) AS rev
        FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT SUM(rev) AS t, COUNT(*) AS nc FROM per),
    pre AS (
        SELECT rev, SUM(rev) OVER (ORDER BY rev DESC, o_custkey) AS cum FROM per
    ),
    agg AS (
        SELECT
            1 + SUM(CASE WHEN cum * 2 < 1 * t THEN 1 ELSE 0 END) AS n50,
            1 + SUM(CASE WHEN cum * 5 < 4 * t THEN 1 ELSE 0 END) AS n80,
            1 + SUM(CASE WHEN cum * 10 < 9 * t THEN 1 ELSE 0 END) AS n90,
            1 + SUM(CASE WHEN cum * 20 < 19 * t THEN 1 ELSE 0 END) AS n95,
            MIN(nc) AS nc
        FROM pre, tot
    )
    SELECT * FROM (
        SELECT 50 AS threshold_pct, CAST(n50 AS BIGINT) AS n_customers,
               ROUND(n50 * 1.0 / nc, 6) AS pct_customers FROM agg
        UNION ALL
        SELECT 80, CAST(n80 AS BIGINT), ROUND(n80 * 1.0 / nc, 6) FROM agg
        UNION ALL
        SELECT 90, CAST(n90 AS BIGINT), ROUND(n90 * 1.0 / nc, 6) FROM agg
        UNION ALL
        SELECT 95, CAST(n95 AS BIGINT), ROUND(n95 * 1.0 / nc, 6) FROM agg
    ) ORDER BY threshold_pct
    """,
)
def q338(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_counts

    od = T(spark, sf_dir, "orders")
    per = od.groupBy("o_custkey").agg(
        F.sum(quantize("o_totalprice", 2)).alias("rev")
    )
    tot = per.agg(F.sum("rev").alias("t"), F.count(F.lit(1)).alias("nc"))
    pre = global_prefix_counts(
        per, [F.col("rev").desc(), F.col("o_custkey")], {"cum": "rev"}
    )
    agg = pre.crossJoin(F.broadcast(tot)).agg(
        *[
            (
                1
                + F.sum(
                    F.when(F.col("cum") * den < num * F.col("t"), 1).otherwise(0)
                )
            ).alias(f"n{pct}")
            for pct, num, den in ((50, 1, 2), (80, 4, 5), (90, 9, 10), (95, 19, 20))
        ],
        F.min("nc").alias("nc"),
    )
    return agg.selectExpr(
        "stack(4, 50, n50, 80, n80, 90, n90, 95, n95) AS (threshold_pct, n_customers)",
        "nc",
    ).select(
        "threshold_pct",
        F.col("n_customers").cast("long").alias("n_customers"),
        F.round(F.col("n_customers") * 1.0 / F.col("nc"), 6).alias("pct_customers"),
    ).orderBy("threshold_pct")


# --- q340: new-vs-returning monthly revenue split. A customer's first
# order month tags every order as 'new' (first month) or 'returning';
# monthly rollup of order counts + quantized revenue per cohort flag.
# Two shuffles (per-customer min, per-month agg); the first-month table
# joins back on the customer key. Reference: cohort rollups of
# src/temporal/resample/mod.rs.
@query(
    "q340_new_vs_returning_monthly",
    oracle=f"""
    WITH first_m AS (
        SELECT o_custkey, DATE_TRUNC('month', MIN(o_orderdate)) AS fm
        FROM orders GROUP BY o_custkey
    )
    SELECT DATE_TRUNC('month', o.o_orderdate) AS month,
           CASE WHEN DATE_TRUNC('month', o.o_orderdate) = f.fm
                THEN 'new' ELSE 'returning' END AS cohort,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
           {sql_dsum('o.o_totalprice', 2)} AS revenue
    FROM orders o JOIN first_m f ON f.o_custkey = o.o_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q340(spark, sf_dir):
    od = T(spark, sf_dir, "orders")
    first_m = od.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("fm")
    )
    return (
        od.join(first_m, "o_custkey")
        .select(
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.when(
                F.date_trunc("month", "o_orderdate") == F.col("fm"), "new"
            ).otherwise("returning").alias("cohort"),
            "o_custkey",
            "o_totalprice",
        )
        .groupBy("month", "cohort")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dsum("o_totalprice", 2).alias("revenue"),
        )
        .orderBy("month", "cohort")
    )


# --- q341: calibration curve + expected calibration error (ECE) +
# Brier score for a probability-like score. Score = l_discount scaled
# to [0,1] (10 fixed bins), outcome = returned line (l_returnflag='R').
# Reliability diagram cells are integer counts + quantized score sums;
# ECE is the count-weighted |observed − mean score| folded from the
# same exact cell table both engines compute. Map-only binning, one
# shuffle. Reference: model-evaluation metrics of src/ml/metrics/mod.rs.
@query(
    "q341_calibration_ece",
    oracle=f"""
    WITH scored AS (
        SELECT LEAST(CAST(FLOOR(l_discount * 10.0 / 0.11) AS INT), 9) AS bin,
               l_discount * 1.0 / 0.11 AS score,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    cells AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               {sql_dsum('score', 6)} AS sum_score
        FROM scored GROUP BY bin
    )
    SELECT bin, n, n_pos,
           ROUND(sum_score / n, 6) AS mean_score,
           ROUND(n_pos * 1.0 / n, 6) AS observed_rate,
           ROUND(ABS(sum_score / n - n_pos * 1.0 / n), 6) AS gap
    FROM cells ORDER BY bin
    """,
)
def q341(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    scored = li.select(
        F.least(F.floor(F.col("l_discount") * 10.0 / 0.11).cast("int"), F.lit(9)).alias(
            "bin"
        ),
        (F.col("l_discount") * 1.0 / 0.11).alias("score"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cells = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        dsum("score", 6).alias("sum_score"),
    )
    return cells.select(
        "bin",
        F.col("n").cast("long").alias("n"),
        "n_pos",
        F.round(F.col("sum_score") / F.col("n"), 6).alias("mean_score"),
        F.round(F.col("n_pos") * 1.0 / F.col("n"), 6).alias("observed_rate"),
        F.round(
            F.abs(F.col("sum_score") / F.col("n") - F.col("n_pos") * 1.0 / F.col("n")),
            6,
        ).alias("gap"),
    ).orderBy("bin")


# --- q348: order-to-ship SLA distribution by priority. Delay in days
# joins the lineitem fact to its order header on the order key; per
# priority the rollup reports exact mean (integer day sums), exact
# interpolated p50/p90/p99 (the percentile aggregate swaps to
# approx_percentile at 100 TB), and the share shipped within 30 days.
# Reference: latency-SLA rollups of src/dataframe/groupby.rs.
@query(
    "q348_ship_delay_sla",
    oracle="""
    WITH d AS (
        SELECT o.o_orderpriority AS priority,
               DATEDIFF('day', o.o_orderdate, l.l_shipdate) AS delay
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(delay) AS DOUBLE) / COUNT(*), 6) AS mean_delay,
           ROUND(quantile_cont(CAST(delay AS DOUBLE), 0.5), 6) AS p50,
           ROUND(quantile_cont(CAST(delay AS DOUBLE), 0.9), 6) AS p90,
           ROUND(quantile_cont(CAST(delay AS DOUBLE), 0.99), 6) AS p99,
           ROUND(CAST(SUM(CASE WHEN delay <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS pct_within_30d
    FROM d GROUP BY priority ORDER BY priority
    """,
)
def q348(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    od = T(spark, sf_dir, "orders")
    d = li.join(od, li.l_orderkey == od.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").alias("delay"),
    )
    return (
        d.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("delay").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_delay"),
            F.round(F.expr("percentile(CAST(delay AS DOUBLE), 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(CAST(delay AS DOUBLE), 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(CAST(delay AS DOUBLE), 0.99)"), 6).alias("p99"),
            F.round(
                F.sum(F.when(F.col("delay") <= 30, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("pct_within_30d"),
        )
        .select(
            "priority",
            F.col("n").cast("long").alias("n"),
            "mean_delay",
            "p50",
            "p90",
            "p99",
            "pct_within_30d",
        )
        .orderBy("priority")
    )


# --- q350: monthly open-order backlog via boundary deltas. An order is
# OPEN from its order month until the month its last line ships. Rather
# than joining every order to every month it overlaps (months × orders
# blowup), each order contributes +1 at its start month and −1 at its
# close month; the backlog is the running sum over the CALENDAR-bounded
# month spine (whitelisted prefix window — ~80 rows at any SF). The
# interval-counting shape for 100 TB overlap rollups. Reference:
# interval aggregation of src/temporal/mod.rs.
@query(
    "q350_order_backlog_monthly",
    oracle="""
    WITH spans AS (
        SELECT o.o_orderkey,
               DATE_TRUNC('month', o.o_orderdate) AS m_open,
               DATE_TRUNC('month', MAX(l.l_shipdate)) AS m_close
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT m_open AS m, 1 AS delta FROM spans
        UNION ALL
        SELECT m_close AS m, -1 AS delta FROM spans
    ),
    monthly AS (
        SELECT m, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY m
    )
    SELECT m AS month,
           CAST(SUM(net) OVER (ORDER BY m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS open_orders
    FROM monthly ORDER BY month
    """,
)
def q350(spark, sf_dir):
    od = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    spans = (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.date_trunc("month", F.max("l_shipdate")).alias("m_close"))
        .select(
            F.date_trunc("month", "o_orderdate").alias("m_open"), "m_close"
        )
    )
    deltas = spans.select(F.col("m_open").alias("m"), F.lit(1).alias("delta")).unionAll(
        spans.select(F.col("m_close").alias("m"), F.lit(-1).alias("delta"))
    )
    monthly = deltas.groupBy("m").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        F.col("m").alias("month"),
        F.sum("net").over(w).cast("long").alias("open_orders"),
    ).orderBy("month")


# --- q352: supplier revenue concentration (Herfindahl-Hirschman index)
# per part type. Supplier revenue shares from exact scaled-long sums;
# HHI = Σ share² computed through the identical double tree both
# engines evaluate (shares are ratios of exact longs). Two shuffles
# (supplier×type agg, type rollup). Flags concentration risk per
# category — the sourcing-risk rollup shape. Reference: share-of-total
# analytics of src/dataframe/groupby.rs.
@query(
    "q352_supplier_hhi",
    oracle=f"""
    WITH st AS (
        SELECT p.p_type AS ptype, l.l_suppkey AS sk,
               SUM({sql_quantize('l.l_extendedprice * (1 - l.l_discount)', 2)})
                 AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT ptype, SUM(rev) AS t, COUNT(*) AS n_supp FROM st GROUP BY ptype)
    SELECT s.ptype AS part_type,
           CAST(MIN(t.n_supp) AS BIGINT) AS n_suppliers,
           ROUND((CAST(SUM(CAST(SIGN(POWER(CAST(s.rev AS DOUBLE) / t.t, 2))
                 * FLOOR(ABS(POWER(CAST(s.rev AS DOUBLE) / t.t, 2)) * 1000000000.0
                         + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0), 6) AS hhi
    FROM st s JOIN tot t ON t.ptype = s.ptype
    GROUP BY s.ptype ORDER BY hhi DESC, part_type
    """,
)
def q352(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    pt = T(spark, sf_dir, "part")
    st = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_type").alias("ptype"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.sum(
                quantize(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
            ).alias("rev")
        )
    )
    tot = st.groupBy(F.col("ptype").alias("ptype_t")).agg(
        F.sum("rev").alias("t"), F.count(F.lit(1)).alias("n_supp")
    )
    return (
        st.join(tot, st.ptype == tot.ptype_t)
        .groupBy("ptype")
        .agg(
            F.min("n_supp").cast("long").alias("n_suppliers"),
            F.round(
                dsum(F.pow(F.col("rev").cast("double") / F.col("t"), 2), 9), 6
            ).alias("hhi"),
        )
        .select(
            F.col("ptype").alias("part_type"), "n_suppliers", "hhi"
        )
        .orderBy(F.desc("hhi"), "part_type")
    )


# --- q357: price-volume-mix revenue bridge per brand, first year vs
# last year. Δrevenue decomposes exactly into price effect
# (Δprice·q₁), volume effect (p₁·Δquantity), and the cross term
# (Δp·Δq) — the finance bridge identity, closed under the quantized
# sums (avg unit price is a ratio of exact longs; the three effects
# re-add to Δrev by construction, pinned in the output). Two shuffles.
# Reference: contribution analysis of src/dataframe/groupby.rs.
@query(
    "q357_price_volume_mix_bridge",
    oracle=f"""
    WITH yr AS (
        SELECT CAST(MIN(EXTRACT(year FROM o_orderdate)) AS INT) AS y1,
               CAST(MAX(EXTRACT(year FROM o_orderdate)) AS INT) AS y2
        FROM orders
    ),
    facts AS (
        SELECT p.p_brand AS brand,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS y,
               SUM({sql_quantize('l.l_extendedprice', 2)}) AS rev,
               SUM({sql_quantize('l.l_quantity', 2)}) AS qty
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey, yr
        WHERE CAST(EXTRACT(year FROM o.o_orderdate) AS INT) IN (yr.y1, yr.y2)
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT brand,
               CAST(SUM(CASE WHEN y = (SELECT y1 FROM yr) THEN rev END) AS DOUBLE) / 100.0 AS r1,
               CAST(SUM(CASE WHEN y = (SELECT y1 FROM yr) THEN qty END) AS DOUBLE) / 100.0 AS q1,
               CAST(SUM(CASE WHEN y = (SELECT y2 FROM yr) THEN rev END) AS DOUBLE) / 100.0 AS r2,
               CAST(SUM(CASE WHEN y = (SELECT y2 FROM yr) THEN qty END) AS DOUBLE) / 100.0 AS q2
        FROM facts GROUP BY brand
        HAVING q1 > 0 AND q2 > 0
    )
    SELECT brand,
           ROUND(r2 - r1, 6) AS delta_rev,
           ROUND((r2 / q2 - r1 / q1) * q1, 6) AS price_effect,
           ROUND((r1 / q1) * (q2 - q1), 6) AS volume_effect,
           ROUND((r2 / q2 - r1 / q1) * (q2 - q1), 6) AS cross_effect,
           ROUND((r2 - r1) - ((r2 / q2 - r1 / q1) * q1 + (r1 / q1) * (q2 - q1)
                 + (r2 / q2 - r1 / q1) * (q2 - q1)), 6) + 0.0 AS residual
    FROM wide ORDER BY brand
    """,
)
def q357(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    od = T(spark, sf_dir, "orders")
    pt = T(spark, sf_dir, "part")
    yr = od.agg(
        F.min(F.year("o_orderdate")).cast("int").alias("y1"),
        F.max(F.year("o_orderdate")).cast("int").alias("y2"),
    )
    facts = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(pt, li.l_partkey == pt.p_partkey)
        .crossJoin(F.broadcast(yr))
        .filter(F.year("o_orderdate").cast("int").isin(F.col("y1"), F.col("y2")))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("o_orderdate").cast("int").alias("y"),
            "y1",
            "y2",
        )
        .agg(
            F.sum(quantize("l_extendedprice", 2)).alias("rev"),
            F.sum(quantize("l_quantity", 2)).alias("qty"),
        )
    )
    wide = (
        facts.groupBy("brand")
        .agg(
            (
                F.sum(F.when(F.col("y") == F.col("y1"), F.col("rev"))).cast("double")
                / 100.0
            ).alias("r1"),
            (
                F.sum(F.when(F.col("y") == F.col("y1"), F.col("qty"))).cast("double")
                / 100.0
            ).alias("q1"),
            (
                F.sum(F.when(F.col("y") == F.col("y2"), F.col("rev"))).cast("double")
                / 100.0
            ).alias("r2"),
            (
                F.sum(F.when(F.col("y") == F.col("y2"), F.col("qty"))).cast("double")
                / 100.0
            ).alias("q2"),
        )
        .filter((F.col("q1") > 0) & (F.col("q2") > 0))
    )
    return wide.select(
        "brand",
        F.round(F.expr("r2 - r1"), 6).alias("delta_rev"),
        F.round(F.expr("(r2 / q2 - r1 / q1) * q1"), 6).alias("price_effect"),
        F.round(F.expr("(r1 / q1) * (q2 - q1)"), 6).alias("volume_effect"),
        F.round(F.expr("(r2 / q2 - r1 / q1) * (q2 - q1)"), 6).alias("cross_effect"),
        (
            F.round(
                F.expr(
                    "(r2 - r1) - ((r2 / q2 - r1 / q1) * q1 + (r1 / q1) * (q2 - q1)"
                    " + (r2 / q2 - r1 / q1) * (q2 - q1))"
                ),
                6,
            )
            + F.lit(0.0)  # normalize IEEE -0.0 so both engines hash alike
        ).alias("residual"),
    ).orderBy("brand")


# --- q359: duplicate-billing audit. Candidate duplicate orders = same
# customer, totals in the same $5000 band, order dates within 30 days —
# the finance-controls double-charge check. The self-join blocks on
# (custkey, price-band), an equi-key that bounds candidates to true
# collision groups (never all-pairs-per-customer); the date predicate
# prunes inside the block. Keyed by the earlier-later order pair for a
# deterministic row set. Reference: the duplicate-handling surface
# of src/dataframe/apply.rs (drop_duplicates), extended to an audit.
@query(
    "q359_duplicate_order_audit",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey, o_custkey,
               CAST(FLOOR(o_totalprice / 5000) AS BIGINT) AS band,
               {sql_quantize('o_totalprice', 2)} AS cents, o_orderdate
        FROM orders
    ),
    pairs AS (
        SELECT a.o_custkey AS custkey,
               a.o_orderkey AS order_a, b.o_orderkey AS order_b,
               CAST(a.cents AS DOUBLE) / 100.0 AS amount_a,
               CAST(b.cents AS DOUBLE) / 100.0 AS amount_b,
               CAST(ABS(DATEDIFF('day', a.o_orderdate, b.o_orderdate)) AS BIGINT)
                 AS days_apart
        FROM o a JOIN o b
          ON a.o_custkey = b.o_custkey AND a.band = b.band
         AND a.o_orderkey < b.o_orderkey
        WHERE ABS(DATEDIFF('day', a.o_orderdate, b.o_orderdate)) <= 30
    )
    SELECT * FROM pairs ORDER BY custkey, order_a, order_b
    """,
)
def q359(spark, sf_dir):
    od = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") / 5000).cast("long").alias("band"),
        quantize("o_totalprice", 2).alias("cents"),
        "o_orderdate",
    )
    a = od.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_a"),
        F.col("band"),
        F.col("cents").alias("cents_a"),
        F.col("o_orderdate").alias("d_a"),
    )
    b = od.select(
        F.col("o_custkey").alias("ck_b"),
        F.col("o_orderkey").alias("order_b"),
        F.col("band").alias("band_b"),
        F.col("cents").alias("cents_b"),
        F.col("o_orderdate").alias("d_b"),
    )
    return (
        a.join(
            b,
            (F.col("custkey") == F.col("ck_b"))
            & (F.col("band") == F.col("band_b"))
            & (F.col("order_a") < F.col("order_b")),
        )
        .filter(F.abs(F.datediff("d_a", "d_b")) <= 30)
        .select(
            "custkey",
            "order_a",
            "order_b",
            (F.col("cents_a").cast("double") / 100.0).alias("amount_a"),
            (F.col("cents_b").cast("double") / 100.0).alias("amount_b"),
            F.abs(F.datediff("d_a", "d_b")).cast("long").alias("days_apart"),
        )
        .orderBy("custkey", "order_a", "order_b")
    )


# --- q360: p-chart (SPC) for weekly late-shipment fraction. "Late" =
# line ships > 90 days after its order; weekly fraction p_w against
# 3-sigma binomial control limits around the pooled rate
# (p̄ ± 3·sqrt(p̄(1−p̄)/n_w)) — limits are per-week because n varies.
# Everything from integer counts through a shared formula string.
# Complements the EWMA chart (q297). The reference has no SPC
# module; Shewhart p-chart methodology (Montgomery, public).
@query(
    "q360_late_shipment_p_chart",
    oracle="""
    WITH d AS (
        SELECT DATE_TRUNC('week', o.o_orderdate) AS w,
               CASE WHEN DATEDIFF('day', o.o_orderdate, l.l_shipdate) > 90
                    THEN 1 ELSE 0 END AS late
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    weekly AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(late) AS BIGINT) AS n_late
        FROM d GROUP BY w
    ),
    pooled AS (
        SELECT CAST(SUM(n_late) AS DOUBLE) / SUM(n) AS pbar FROM weekly
    )
    SELECT w AS week, n, n_late,
           ROUND(CAST(n_late AS DOUBLE) / n, 6) AS p,
           ROUND(pbar + 3 * SQRT(pbar * (1 - pbar) / n), 6) AS ucl,
           ROUND(GREATEST(pbar - 3 * SQRT(pbar * (1 - pbar) / n), 0.0), 6) AS lcl,
           CAST(CAST(n_late AS DOUBLE) / n
                > pbar + 3 * SQRT(pbar * (1 - pbar) / n) AS BOOLEAN)
             AS out_of_control
    FROM weekly, pooled ORDER BY week
    """,
)
def q360(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    od = T(spark, sf_dir, "orders")
    d = li.join(od, li.l_orderkey == od.o_orderkey).select(
        F.date_trunc("week", "o_orderdate").alias("w"),
        F.when(F.datediff("l_shipdate", "o_orderdate") > 90, 1)
        .otherwise(0)
        .alias("late"),
    )
    weekly = d.groupBy("w").agg(
        F.count(F.lit(1)).alias("n"), F.sum("late").alias("n_late")
    )
    pooled = weekly.agg(
        (F.sum("n_late").cast("double") / F.sum("n")).alias("pbar")
    )
    return (
        weekly.crossJoin(F.broadcast(pooled))
        .select(
            F.col("w").alias("week"),
            F.col("n").cast("long").alias("n"),
            F.col("n_late").cast("long").alias("n_late"),
            F.round(F.expr("CAST(n_late AS DOUBLE) / n"), 6).alias("p"),
            F.round(F.expr("pbar + 3 * SQRT(pbar * (1 - pbar) / n)"), 6).alias("ucl"),
            F.round(
                F.expr("GREATEST(pbar - 3 * SQRT(pbar * (1 - pbar) / n), 0.0)"), 6
            ).alias("lcl"),
            F.expr(
                "CAST(CAST(n_late AS DOUBLE) / n"
                " > pbar + 3 * SQRT(pbar * (1 - pbar) / n) AS BOOLEAN)"
            ).alias("out_of_control"),
        )
        .orderBy("week")
    )


# --- q361: ABC-XYZ inventory matrix. ABC from each part's revenue
# share thresholds (A ≥ 1%, B ≥ 0.1% of total — threshold-based, one
# broadcast scalar, no global rank needed at this granularity); XYZ
# from the coefficient of variation of the part's monthly demand
# (X < 0.5 steady, Y < 1.0, else Z), with exact quantized sums feeding
# the shared CV formula. Output = the 9-cell planning matrix with part
# counts + revenue share per cell. Complements the rank-based ABC
# classes of q216. Reference: inventory-classification surface of
# src/dataframe/groupby.rs.
@query(
    "q361_abc_xyz_matrix",
    oracle=f"""
    WITH pm AS (
        SELECT l_partkey AS pk, DATE_TRUNC('month', l_shipdate) AS m,
               SUM({sql_quantize('l_quantity', 2)}) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
        SELECT p.pk,
               CAST(COUNT(*) AS BIGINT) AS n_months,
               CAST(SUM(p.q) AS DOUBLE) / 100.0 AS sq,
               CAST(SUM(p.q * p.q) AS DOUBLE) / 10000.0 AS sqq,
               MIN(r.rev) AS rev
        FROM pm p JOIN (
            SELECT l_partkey AS pk, SUM({sql_quantize('l_extendedprice', 2)}) AS rev
            FROM lineitem GROUP BY 1
        ) r ON r.pk = p.pk
        GROUP BY p.pk
    ),
    tot AS (SELECT CAST(SUM(rev) AS DOUBLE) AS trev FROM per_part),
    classed AS (
        SELECT CASE WHEN rev >= 0.01 * trev THEN 'A'
                    WHEN rev >= 0.001 * trev THEN 'B' ELSE 'C' END AS abc,
               CASE WHEN n_months < 2 THEN 'Z'
                    WHEN SQRT((sqq - sq * sq / n_months)
                              / (n_months - 1)) / (sq / n_months) < 0.5 THEN 'X'
                    WHEN SQRT((sqq - sq * sq / n_months)
                              / (n_months - 1)) / (sq / n_months) < 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz,
               rev
        FROM per_part, tot
    )
    SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(rev) AS DOUBLE) / MIN(trev), 6) AS revenue_share
    FROM classed, tot GROUP BY abc, xyz ORDER BY abc, xyz
    """,
)
def q361(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("month", "l_shipdate").alias("m"),
    ).agg(F.sum(quantize("l_quantity", 2)).alias("q"))
    rev = li.groupBy(F.col("l_partkey").alias("pk_r")).agg(
        F.sum(quantize("l_extendedprice", 2)).alias("rev")
    )
    per_part = (
        pm.join(rev, pm.pk == rev.pk_r)
        .groupBy("pk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_months"),
            (F.sum("q").cast("double") / 100.0).alias("sq"),
            (F.sum(F.col("q") * F.col("q")).cast("double") / 10000.0).alias("sqq"),
            F.min("rev").alias("rev"),
        )
    )
    tot = per_part.agg(F.sum("rev").cast("double").alias("trev"))
    cv = (
        "SQRT((sqq - sq * sq / n_months) / (n_months - 1)) / (sq / n_months)"
    )
    classed = per_part.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "CASE WHEN rev >= 0.01 * trev THEN 'A'"
            " WHEN rev >= 0.001 * trev THEN 'B' ELSE 'C' END"
        ).alias("abc"),
        F.expr(
            f"CASE WHEN n_months < 2 THEN 'Z'"
            f" WHEN {cv} < 0.5 THEN 'X'"
            f" WHEN {cv} < 1.0 THEN 'Y' ELSE 'Z' END"
        ).alias("xyz"),
        "rev",
        "trev",
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("rev").cast("double") / F.min("trev"), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("abc", "xyz")
    )


# --- q370: Benford first-digit conformity audit of order totals — the
# classic forensic-accounting screen (fraud/fabrication detection).
# First digit comes from the BIGINT string head, NOT floor(log10):
# log10(1000) rounds differently across libm implementations, while
# bigint-to-string is exact on both engines. Chi-square and MAD fold
# the 9 digit deviations through quantized sums so the digit-order of
# the final reduction can't perturb the hash. One scan, one 9-row
# aggregate — map-side at any scale. Reference: distributional-audit
# surface of src/stats/mod.rs (behavioral spec only).
def _q370_oracle() -> str:
    return """
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
        FROM digits GROUP BY d
    ),
    cmp AS (
        SELECT d, n, total,
               CAST(n AS DOUBLE) / total AS obs_share,
               LOG10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / d)
                   AS exp_share
        FROM obs
    ),
    summary AS (
        SELECT {chi2} AS chi2_part, {mad} AS mad_part
        FROM cmp
    )
    SELECT c.d AS digit, c.n AS n_orders,
           ROUND(c.obs_share, 6) AS obs_share,
           ROUND(c.exp_share, 6) AS exp_share,
           ROUND(s.chi2_part, 6) AS chi2,
           ROUND(s.mad_part / 9, 6) AS mad
    FROM cmp c CROSS JOIN summary s
    ORDER BY digit
    """.format(
        chi2=sql_dsum(
            "total * (obs_share - exp_share) * (obs_share - exp_share)"
            " / exp_share",
            6,
        ),
        mad=sql_dsum("ABS(obs_share - exp_share)", 6),
    )


@query("q370_benford_first_digit", oracle=_q370_oracle())
def q370(spark, sf_dir):
    od = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = od.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("total"))
    cmp_ = obs.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        "total",
        (F.col("n").cast("double") / F.col("total")).alias("obs_share"),
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d")).alias("exp_share"),
    )
    summary = cmp_.agg(
        dsum(
            F.col("total")
            * (F.col("obs_share") - F.col("exp_share"))
            * (F.col("obs_share") - F.col("exp_share"))
            / F.col("exp_share"),
            6,
        ).alias("chi2_part"),
        dsum(F.abs(F.col("obs_share") - F.col("exp_share")), 6).alias(
            "mad_part"
        ),
    )
    return (
        cmp_.crossJoin(F.broadcast(summary))
        .select(
            F.col("d").alias("digit"),
            F.col("n").alias("n_orders"),
            F.round("obs_share", 6).alias("obs_share"),
            F.round("exp_share", 6).alias("exp_share"),
            F.round("chi2_part", 6).alias("chi2"),
            F.round(F.col("mad_part") / 9, 6).alias("mad"),
        )
        .orderBy("digit")
    )


# --- q379: Bloom-prefiltered dimension join — the runtime-filter
# pattern made explicit. The ASIA customer keys build an 8 KB Bloom
# bitmap (operators/sketches.bloom_build — one bounded aggregation,
# scalar-class collect); the orders fact side is prefiltered by a pure
# map-side membership predicate BEFORE the join, so at 100 TB the
# shuffle/broadcast-probe volume drops to the selectivity of the dim
# filter (+ FP rate ~1%) with zero extra shuffle. Bloom filters have
# no false negatives and the join removes false positives, so the
# result is bit-identical to the plain join — which is exactly what
# the oracle checks. Catalyst's own InjectRuntimeFilter does this
# automatically only for shuffle-heavy plans; the operator gives the
# user the knob. Reference: join surface of src/dataframe/join.rs;
# the Bloom sketch itself is beyond-reference scale surface.
@query(
    "q379_bloom_prefiltered_join",
    oracle=f"""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {{rev}} AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY n.n_name
    """.format(rev=sql_dsum("o_totalprice", 2)),
)
def q379(spark, sf_dir):
    from pandrs_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    cust = T(spark, sf_dir, "customer")
    nat = T(spark, sf_dir, "nation")
    reg = T(spark, sf_dir, "region")
    dim = (
        cust.join(
            F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
        )
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey", "n_name")
    )
    num_bits = 1 << 16
    words = bloom_build(dim, "c_custkey", num_bits=num_bits, k=3)
    od = T(spark, sf_dir, "orders").filter(
        bloom_might_contain(words, "o_custkey", num_bits, k=3)
    )
    return (
        od.join(dim, od.o_custkey == dim.c_custkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum("o_totalprice", 2).alias("revenue"),
        )
        .orderBy("n_name")
    )


# --- q381: k-anonymity / l-diversity audit — the data-governance
# pre-release check (complements q249 RTBF and the PII scrub): treat
# (nation, market segment, balance band) as the quasi-identifier, the
# exact balance as the sensitive attribute, and measure how many
# equivalence classes fall below k=5 and how many customers those
# classes expose, plus worst-case class size and l-diversity. One
# groupBy on the QI tuple + one scalar rollup — partial-combined at
# any scale. The reference has no governance module; k-anonymity /
# l-diversity per Sweeney 2002 / Machanavajjhala 2007 (public).
@query(
    "q381_k_anonymity_audit",
    oracle="""
    WITH qi AS (
        SELECT n.n_name, c.c_mktsegment,
               CAST(FLOOR(c.c_acctbal / 1000) AS BIGINT) AS band,
               COUNT(*) AS sz,
               COUNT(DISTINCT c.c_acctbal) AS l_div
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, c.c_mktsegment, band
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(sz) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_k,
           CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
               AS customers_at_risk,
           CAST(MIN(sz) AS BIGINT) AS min_class_size,
           CAST(MIN(l_div) AS BIGINT) AS min_l_diversity,
           ROUND(CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
                 / SUM(sz), 6) AS risk_share
    FROM qi
    """,
)
def q381(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    nat = T(spark, sf_dir, "nation")
    qi = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(
            "n_name",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("band"),
        )
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.countDistinct("c_acctbal").alias("l_div"),
        )
    )
    return qi.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("sz").cast("long").alias("n_customers"),
        F.sum(F.when(F.col("sz") < 5, 1).otherwise(0))
        .cast("long")
        .alias("classes_below_k"),
        F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("customers_at_risk"),
        F.min("sz").cast("long").alias("min_class_size"),
        F.min("l_div").cast("long").alias("min_l_diversity"),
        F.round(
            F.sum(
                F.when(F.col("sz") < 5, F.col("sz")).otherwise(0)
            ).cast("double")
            / F.sum("sz"),
            6,
        ).alias("risk_share"),
    )


# --- q385: join-skew advisor — the measurement step a 100 TB operator
# runs BEFORE choosing broadcast/salt/AQE strategy (the q183 salted
# join's front end, operators/joins.skew_report). Order priorities are
# the deliberately-hot key here: the report ranks keys by exact row
# share and recommends an integer salt fan-out
# ceil(share · 32) per key — all integer arithmetic, so the oracle
# verifies the advisory values exactly, not just shape. Reference:
# skew handling around src/dataframe/join.rs.
@query(
    "q385_join_skew_advisor",
    oracle="""
    WITH keys AS (
        SELECT CAST(o_orderpriority AS VARCHAR) AS key_value,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders GROUP BY o_orderpriority
    ),
    tot AS (
        SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM keys
    )
    SELECT k.key_value, k.n_rows, t.n_total, t.n_keys,
           ROUND(CAST(k.n_rows AS DOUBLE) / t.n_total, 6) AS share,
           CAST((k.n_rows * 32 + t.n_total - 1) // t.n_total AS BIGINT)
               AS salt_factor
    FROM keys k CROSS JOIN tot t
    ORDER BY k.n_rows DESC, k.key_value
    LIMIT 10
    """,
)
def q385(spark, sf_dir):
    from pandrs_spark.operators.joins import skew_report

    od = T(spark, sf_dir, "orders")
    return skew_report(od, "o_orderpriority", top_k=10, ref_parallelism=32)


# --- q395: differentially-private noisy counts via the Laplace
# mechanism with a SEEDED inverse-CDF draw (privacy tier beside q381's
# k-anonymity audit; Dwork et al. 2006). Counting queries have L1
# sensitivity 1, so noise ~ Laplace(1/eps). The "randomness" is the
# md5-hash-derived uniform u = int(md5(key)[:8]) / 2^32 — the same
# deterministic-salt idiom the repo uses for splits/arms — pushed
# through the exact Laplace inverse CDF, so BOTH engines draw the
# identical noise and the mechanism's full plumbing (sensitivity,
# scale, inverse CDF) sits inside the hash gate. A production run
# swaps the seed-hash for a CSPRNG; everything else is unchanged.
# ---------------------------------------------------------------------------
@query(
    "q395_dp_noisy_priority_counts",
    oracle="""
    WITH counts AS (
        SELECT o_orderpriority AS priority, COUNT(*) AS n
        FROM orders GROUP BY 1
    ),
    seeded AS (
        SELECT priority, n,
               CAST(('0x' || substr(md5(priority), 1, 8)) AS BIGINT)
                   / 4294967296.0 - 0.5 AS c
        FROM counts
    ),
    noised AS (
        SELECT priority, n,
               CAST(n AS DOUBLE)
               - 1.0 * SIGN(c) * LN(1.0 - 2.0 * ABS(c)) AS noisy_n
        FROM seeded
    )
    SELECT priority, CAST(n AS BIGINT) AS n,
           CAST(SIGN(noisy_n) * FLOOR(ABS(noisy_n) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS noisy_n,
           1.0 AS epsilon
    FROM noised
    ORDER BY priority
    """,
)
def q395(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    counts = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n")
    )
    c = (
        F.expr("cast(conv(substr(md5(priority), 1, 8), 16, 10) as bigint)")
        / F.lit(4294967296.0)
        - 0.5
    )
    noisy = counts.withColumn("__c__", c).withColumn(
        "noisy_n",
        F.col("n").cast("double")
        - F.lit(1.0)
        * F.signum("__c__")
        * F.log(F.lit(1.0) - 2.0 * F.abs(F.col("__c__"))),
    )
    return noisy.select(
        "priority",
        F.col("n").cast("long").alias("n"),
        (quantize("noisy_n", 6) / 1e6).alias("noisy_n"),
        F.lit(1.0).alias("epsilon"),
    ).orderBy("priority")


# --- q496: Atkinson index (ε = 0.5) and Theil T entropy index of
# customer revenue inequality — the welfare-economics complements to
# the Gini/Lorenz family:
#   A_0.5 = 1 − [ (1/n) Σ √(y/ȳ) ]²,   T = (1/n) Σ (y/ȳ)·ln(y/ȳ)
# Two passes (exact mean, then quantized transform sums) over the
# per-customer revenue rollup — the one-aggregate-per-moment 100 TB
# shape. --------------------------------------------------------------------
@query(
    "q496_atkinson_theil_inequality",
    oracle=f"""
    WITH rev AS MATERIALIZED (
        SELECT o_custkey,
               CAST(SUM({sql_quantize('o_totalprice', 2)}) AS DOUBLE)
                   / 100.0 / 1e6 AS y
        FROM orders GROUP BY o_custkey
    ),
    m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM({sql_quantize('y', 9)}) AS DOUBLE) / 1e9 AS s
        FROM rev
    ),
    t AS (
        SELECT (SELECT n FROM m) AS n,
               CAST(SUM({sql_quantize('SQRT(y / ((SELECT s / n FROM m)))', 9)})
                    AS DOUBLE) / 1e9 AS ssqrt,
               CAST(SUM({sql_quantize(
                   '(y / ((SELECT s / n FROM m))) '
                   '* LN(y / ((SELECT s / n FROM m)))', 9)})
                    AS DOUBLE) / 1e9 AS stheil
        FROM rev
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST({sql_quantize('1 - (ssqrt / n) * (ssqrt / n)', 6)} AS DOUBLE)
               / 1e6 AS atkinson_05,
           CAST({sql_quantize('stheil / n', 6)} AS DOUBLE) / 1e6 AS theil_t
    FROM t
    """,
)
def q496(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg((dsum("o_totalprice", 2) / 1e6).alias("y"))
    m = rev.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("y", 9).alias("s"),
    )
    ybar = F.col("s") / F.col("n")
    t = rev.crossJoin(F.broadcast(m)).agg(
        F.first("n").alias("n"),
        dsum(F.sqrt(F.col("y") / ybar), 9).alias("ssqrt"),
        dsum((F.col("y") / ybar) * F.log(F.col("y") / ybar), 9).alias("stheil"),
    )
    return t.select(
        F.col("n").cast("long").alias("n_customers"),
        (
            quantize(
                1 - (F.col("ssqrt") / F.col("n")) * (F.col("ssqrt") / F.col("n")),
                6,
            )
            / 1e6
        ).alias("atkinson_05"),
        (quantize(F.col("stheil") / F.col("n"), 6) / 1e6).alias("theil_t"),
    )


# --- q497: Shannon entropy and Simpson diversity of each supplier
# nation's BRAND MIX — "how concentrated is what each nation ships?"
#   H = −Σ p ln p,   Simpson = 1 − Σ p²
# over the bounded nation × brand rollup (25 × 25 cells); the
# ecology-style diversity complement to q472's single-source HHI. ----------------
@query(
    "q497_brand_mix_diversity",
    oracle="""
    WITH cells AS MATERIALIZED (
        SELECT s.s_nationkey AS nation, p.p_brand AS brand,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY nation, brand
    ),
    tot AS MATERIALIZED (
        SELECT nation, CAST(SUM(n) AS BIGINT) AS tn FROM cells GROUP BY nation
    )
    SELECT c.nation,
           CAST(COUNT(*) AS BIGINT) AS n_brands,
           CAST(CAST(SIGN(h) * FLOOR(ABS(h) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS shannon_h,
           CAST(CAST(SIGN(d) * FLOOR(ABS(d) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS simpson_d
    FROM (
        SELECT c.nation,
               -CAST(SUM(CAST(SIGN(p * LN(p)) * FLOOR(ABS(p * LN(p)) * 1e9 + 0.5)
                              AS BIGINT)) AS DOUBLE) / 1e9 AS h,
               1 - CAST(SUM(CAST(SIGN(p * p) * FLOOR(ABS(p * p) * 1e9 + 0.5)
                                 AS BIGINT)) AS DOUBLE) / 1e9 AS d
        FROM (
            SELECT c.nation, CAST(c.n AS DOUBLE) / t.tn AS p
            FROM cells c JOIN tot t ON t.nation = c.nation
        ) c
        GROUP BY c.nation
    ) s
    JOIN cells c ON c.nation = s.nation
    GROUP BY c.nation, h, d
    ORDER BY c.nation
    """,
)
def q497(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    part = T(spark, sf_dir, "part")
    cells = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("s_nationkey").alias("nation"), F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cells.groupBy("nation").agg(F.sum("n").cast("long").alias("tn"))
    p = (
        cells.join(tot, "nation")
        .select("nation", (F.col("n").cast("double") / F.col("tn")).alias("p"))
    )
    ent = p.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_brands"),
        (
            -F.sum(quantize(F.col("p") * F.log("p"), 9)).cast("double") / 1e9
        ).alias("shannon_h"),
        (1 - dsum(F.col("p") * F.col("p"), 9)).alias("simpson_d"),
    )
    return ent.select(
        "nation",
        "n_brands",
        (quantize("shannon_h", 6) / 1e6).alias("shannon_h"),
        (quantize("simpson_d", 6) / 1e6).alias("simpson_d"),
    ).orderBy("nation")


# --- q498: unit-price dispersion per brand across suppliers — the
# procurement audit "are we paying different suppliers very different
# prices for the same brand?": per-(brand, supplier) mean unit price,
# then per-brand coefficient of variation and max/min spread. Two
# grouped aggregates on natural keys; the per-brand supplier set is a
# rollup, never a pairwise join. -----------------------------------------------
@query(
    "q498_brand_price_dispersion",
    oracle=f"""
    WITH per_pair AS MATERIALIZED (
        SELECT p.p_brand AS brand, l.l_suppkey AS supp,
               CAST(SUM({sql_quantize('l.l_extendedprice / l.l_quantity', 4)})
                    AS DOUBLE) / 1e4 / COUNT(*) AS price
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand, supp
    ),
    per_brand AS (
        SELECT brand,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM({sql_quantize('price', 6)}) AS DOUBLE) / 1e6 AS s,
               CAST(SUM({sql_quantize('price * price', 2)}) AS DOUBLE) / 1e2 AS ss,
               MAX(price) AS mx, MIN(price) AS mn
        FROM per_pair GROUP BY brand
    )
    SELECT brand, n_suppliers,
           CAST({sql_quantize(
               'SQRT((ss - s * s / n_suppliers) / (n_suppliers - 1)) '
               '/ (s / n_suppliers)', 6)} AS DOUBLE) / 1e6 AS price_cv,
           CAST({sql_quantize('mx / mn', 6)} AS DOUBLE) / 1e6 AS spread_ratio
    FROM per_brand
    ORDER BY brand
    """,
)
def q498(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    per_pair = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_suppkey").alias("supp"))
        .agg(
            (
                dsum(F.col("l_extendedprice") / F.col("l_quantity"), 4)
                / F.count(F.lit(1))
            ).alias("price")
        )
    )
    per_brand = per_pair.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        dsum("price", 6).alias("s"),
        dsum(F.col("price") * F.col("price"), 2).alias("ss"),
        F.max("price").alias("mx"),
        F.min("price").alias("mn"),
    )
    cv = F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n_suppliers"))
        / (F.col("n_suppliers") - 1)
    ) / (F.col("s") / F.col("n_suppliers"))
    return per_brand.select(
        "brand",
        "n_suppliers",
        (quantize(cv, 6) / 1e6).alias("price_cv"),
        (quantize(F.col("mx") / F.col("mn"), 6) / 1e6).alias("spread_ratio"),
    ).orderBy("brand")


# --- q499: Lorenz curve at decile boundaries of customer revenue —
# "the bottom d×10% of customers hold what share of revenue?" The
# curve behind the Gini: distributed prefix sums over the per-customer
# revenue histogram (global_prefix_counts — one groupBy + one offset
# pass, never a data-sized one-task sort), then each decile boundary
# picks the first prefix row covering ceil(d·N/10) customers. -------------------
@query(
    "q499_lorenz_curve_deciles",
    oracle=f"""
    WITH rev AS MATERIALIZED (
        SELECT o_custkey,
               CAST(SUM({sql_quantize('o_totalprice', 2)}) AS BIGINT) AS yq
        FROM orders GROUP BY o_custkey
    ),
    pref AS MATERIALIZED (
        SELECT yq,
               CAST(SUM(cnt) OVER (ORDER BY yq) AS BIGINT) AS cum_n,
               CAST(SUM(CAST(yq AS HUGEINT) * cnt) OVER (ORDER BY yq)
                    AS BIGINT) AS cum_y
        FROM (
            SELECT yq, CAST(COUNT(*) AS BIGINT) AS cnt FROM rev GROUP BY yq
        )
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(yq AS HUGEINT)) AS BIGINT) AS ty
        FROM rev
    ),
    grid AS (SELECT UNNEST(generate_series(1, 10)) AS d)
    SELECT g.d AS decile,
           CAST(MIN(p.cum_n) AS BIGINT) AS n_customers,
           CAST(CAST(SIGN(share) * FLOOR(ABS(share) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS rev_share
    FROM grid g, tot t,
         LATERAL (
             SELECT cum_n, CAST(cum_y AS DOUBLE) / t.ty AS share
             FROM pref
             WHERE cum_n >= CAST(CEIL(g.d * t.n / 10.0) AS BIGINT)
             ORDER BY cum_n LIMIT 1
         ) p
    GROUP BY g.d, share
    ORDER BY decile
    """,
)
def q499(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    orders = T(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(quantize("o_totalprice", 2)).cast("long").alias("yq")
    )
    hist = rev.groupBy("yq").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    hist = hist.withColumn("yc", F.col("yq") * F.col("cnt"))
    pref = tracked_persist(
        global_prefix_counts(hist, [F.asc("yq")], {"cum_n": "cnt", "cum_y": "yc"})
    )
    tot = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yq").cast("long").alias("ty"),
    )
    grid = T(spark, sf_dir, "region").sparkSession.range(1, 11).select(
        F.col("id").cast("int").alias("d")
    )
    # first prefix row covering each decile threshold: min cum_n per d
    j = (
        F.broadcast(grid)
        .crossJoin(F.broadcast(tot))
        .join(
            pref,
            F.col("cum_n")
            >= F.ceil(F.col("d") * F.col("n") / 10.0).cast("long"),
        )
    )
    picked = j.groupBy("d", "n", "ty").agg(
        F.min("cum_n").cast("long").alias("n_customers"),
        F.min_by("cum_y", "cum_n").alias("cum_y_at"),
    )
    return picked.select(
        F.col("d").alias("decile"),
        "n_customers",
        (
            quantize(F.col("cum_y_at").cast("double") / F.col("ty"), 6) / 1e6
        ).alias("rev_share"),
    ).orderBy("decile")


# --- q500: slow-mover / dead-stock aging report — bucket every part by
# months since its LAST shipment (relative to the corpus max date so
# the report is reproducible at any SF) and total the retail value
# locked in each bucket. One rollup on partkey + one broadcast scalar
# anchor + one bounded-bucket aggregate — the inventory-aging twin of
# q361's ABC-XYZ matrix. --------------------------------------------------------
@query(
    "q500_dead_stock_aging",
    oracle="""
    WITH anchor AS (SELECT MAX(l_shipdate) AS mx FROM lineitem),
    last_sold AS MATERIALIZED (
        SELECT l_partkey AS pk, MAX(l_shipdate) AS last_ship
        FROM lineitem GROUP BY pk
    ),
    aged AS (
        SELECT p.p_partkey, p.p_retailprice,
               CASE
                   WHEN datediff('day', ls.last_ship, a.mx) < 180 THEN '0-6m'
                   WHEN datediff('day', ls.last_ship, a.mx) < 365 THEN '6-12m'
                   WHEN datediff('day', ls.last_ship, a.mx) < 730 THEN '12-24m'
                   ELSE '24m+'
               END AS bucket
        FROM part p JOIN last_sold ls ON ls.pk = p.p_partkey, anchor a
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CAST(SIGN(p_retailprice)
                         * FLOOR(ABS(p_retailprice) * 100.0 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 100.0 AS locked_value
    FROM aged
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q500(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    anchor = li.agg(F.max("l_shipdate").alias("mx"))
    last_sold = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.max("l_shipdate").alias("last_ship")
    )
    days = F.datediff(F.col("mx"), F.col("last_ship"))
    aged = (
        part.join(last_sold, part.p_partkey == F.col("pk"))
        .crossJoin(F.broadcast(anchor))
        .select(
            "p_retailprice",
            F.when(days < 180, "0-6m")
            .when(days < 365, "6-12m")
            .when(days < 730, "12-24m")
            .otherwise("24m+")
            .alias("bucket"),
        )
    )
    return (
        aged.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            dsum("p_retailprice", 2).alias("locked_value"),
        )
        .orderBy("bucket")
    )


# --- q501: order-to-ship lead-time percentile ladder per priority —
# p50/p90/p99 of datediff(ship, orderdate) in integer days: exact
# interpolated percentiles over an INTEGER measure, grouped by the
# bounded 5-priority set. The SLA-monitoring ladder beside q348's
# latency percentiles; both engines interpolate (1−g)·a + g·b over
# identical integers. -----------------------------------------------------------
@query(
    "q501_lead_time_percentiles",
    oracle="""
    WITH agg AS (
        SELECT o.o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               quantile_cont(CAST(datediff('day', o.o_orderdate,
                                           l.l_shipdate) AS DOUBLE),
                             0.5) AS p50r,
               quantile_cont(CAST(datediff('day', o.o_orderdate,
                                           l.l_shipdate) AS DOUBLE),
                             0.9) AS p90r,
               quantile_cont(CAST(datediff('day', o.o_orderdate,
                                           l.l_shipdate) AS DOUBLE),
                             0.99) AS p99r
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY priority
    )
    SELECT priority, n_lines,
           CAST(CAST(SIGN(p50r) * FLOOR(ABS(p50r) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS p50,
           CAST(CAST(SIGN(p90r) * FLOOR(ABS(p90r) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS p90,
           CAST(CAST(SIGN(p99r) * FLOOR(ABS(p99r) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS p99
    FROM agg
    ORDER BY priority
    """,
)
def q501(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    lead = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").cast("double").alias("lt"),
    )
    out = lead.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.expr("percentile(lt, 0.5)").alias("p50r"),
        F.expr("percentile(lt, 0.9)").alias("p90r"),
        F.expr("percentile(lt, 0.99)").alias("p99r"),
    )
    return out.select(
        "priority",
        "n_lines",
        (quantize("p50r", 6) / 1e6).alias("p50"),
        (quantize("p90r", 6) / 1e6).alias("p90"),
        (quantize("p99r", 6) / 1e6).alias("p99"),
    ).orderBy("priority")


# --- q517: monthly growth accounting of the customer base — the
# classic NEW / RETAINED / RESURRECTED / CHURNED decomposition over
# order activity: new = first-ever active month, retained = active
# this month and last, resurrected = active now but not last month
# (and not new), churned(m) = active in m−1 but not in m. One distinct
# (customer, month) rollup + two self-joins on the month-shifted key —
# no per-customer window over the raw fact table. -------------------------------
@query(
    "q517_growth_accounting",
    oracle="""
    WITH active AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c,
               date_trunc('month', o_orderdate) AS m
        FROM orders
    ),
    firsts AS MATERIALIZED (
        SELECT c, MIN(m) AS fm FROM active GROUP BY c
    ),
    labeled AS MATERIALIZED (
        SELECT a.c, a.m,
               CASE
                   WHEN f.fm = a.m THEN 'new'
                   WHEN p.c IS NOT NULL THEN 'retained'
                   ELSE 'resurrected'
               END AS state
        FROM active a
        JOIN firsts f ON f.c = a.c
        LEFT JOIN active p
          ON p.c = a.c AND p.m = a.m - INTERVAL 1 MONTH
    ),
    churn AS MATERIALIZED (
        SELECT a.m + INTERVAL 1 MONTH AS m, COUNT(*) AS n_churned
        FROM active a
        LEFT JOIN active nx
          ON nx.c = a.c AND nx.m = a.m + INTERVAL 1 MONTH
        WHERE nx.c IS NULL
          AND a.m + INTERVAL 1 MONTH <= (SELECT MAX(m) FROM active)
        GROUP BY a.m
    )
    SELECT l.m AS month,
           CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
           CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resurrected,
           CAST(COALESCE(MAX(ch.n_churned), 0) AS BIGINT) AS n_churned
    FROM labeled l LEFT JOIN churn ch ON ch.m = l.m
    GROUP BY l.m
    ORDER BY month
    """,
)
def q517(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    active = tracked_persist(
        orders.select(
            F.col("o_custkey").alias("c"),
            F.date_trunc("month", "o_orderdate").alias("m"),
        ).distinct()
    )
    firsts = active.groupBy("c").agg(F.min("m").alias("fm"))
    prev = active.select(
        "c", F.add_months(F.col("m"), 1).cast("timestamp").alias("m")
    ).withColumnRenamed("c", "pc")
    labeled = (
        active.join(firsts, "c")
        .join(
            prev,
            (F.col("c") == F.col("pc")) & (active.m == prev.m),
            "left",
        )
        .select(
            active.m.alias("m"),
            F.when(F.col("fm") == active.m, "new")
            .when(F.col("pc").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("state"),
        )
    )
    max_m = active.agg(F.max("m").alias("mx"))
    nxt = active.select(
        F.col("c").alias("nc"), F.col("m").alias("nm")
    )
    churn = (
        active.join(
            nxt,
            (F.col("c") == F.col("nc"))
            & (F.add_months(F.col("m"), 1).cast("timestamp") == F.col("nm")),
            "left_anti",
        )
        .crossJoin(F.broadcast(max_m))
        .filter(F.add_months(F.col("m"), 1).cast("timestamp") <= F.col("mx"))
        .groupBy(F.add_months(F.col("m"), 1).cast("timestamp").alias("m"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    out = (
        labeled.groupBy("m")
        .agg(
            F.sum(F.when(F.col("state") == "new", 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("state") == "retained", 1).otherwise(0))
            .cast("long")
            .alias("n_retained"),
            F.sum(F.when(F.col("state") == "resurrected", 1).otherwise(0))
            .cast("long")
            .alias("n_resurrected"),
        )
        .join(churn, "m", "left")
        .select(
            F.col("m").alias("month"),
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        )
    )
    return out.orderBy("month")


# --- q518: inter-purchase time distribution + memorylessness index
# per market segment — consecutive-order gaps in days (per-customer
# LAG over the customer-partitioned order sequence: high-cardinality
# partition key, proper parallelism), then per segment mean, median
# and the median/(mean·ln2) ratio that equals 1 for an exponential
# (memoryless) process — the renewal-theory diagnostic behind
# "when is a customer overdue?". ------------------------------------------------
@query(
    "q518_interpurchase_memorylessness",
    oracle="""
    WITH seq AS MATERIALIZED (
        SELECT o.o_custkey,
               datediff('day',
                        LAG(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                                                 ORDER BY o.o_orderdate,
                                                          o.o_orderkey),
                        o.o_orderdate) AS gap,
               c.c_mktsegment AS segment
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT segment, n_gaps,
           CAST(CAST(SIGN(mean_r) * FLOOR(ABS(mean_r) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS mean_gap,
           CAST(CAST(SIGN(med_r) * FLOOR(ABS(med_r) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS median_gap,
           CAST(CAST(SIGN(mli) * FLOOR(ABS(mli) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS memorylessness
    FROM (
        SELECT segment,
               CAST(COUNT(gap) AS BIGINT) AS n_gaps,
               CAST(SUM(gap) AS DOUBLE) / COUNT(gap) AS mean_r,
               quantile_cont(CAST(gap AS DOUBLE), 0.5) AS med_r,
               quantile_cont(CAST(gap AS DOUBLE), 0.5)
                   / ((CAST(SUM(gap) AS DOUBLE) / COUNT(gap)) * LN(2)) AS mli
        FROM seq WHERE gap IS NOT NULL
        GROUP BY segment
    )
    ORDER BY segment
    """,
)
def q518(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "o_custkey",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).alias("gap"),
            F.col("c_mktsegment").alias("segment"),
        )
        .filter(F.col("gap").isNotNull())
    )
    agg = seq.groupBy("segment").agg(
        F.count("gap").cast("long").alias("n_gaps"),
        (F.sum("gap").cast("double") / F.count("gap")).alias("mean_r"),
        F.expr("percentile(CAST(gap AS DOUBLE), 0.5)").alias("med_r"),
    )
    import math

    mli = F.col("med_r") / (F.col("mean_r") * math.log(2))
    return agg.select(
        "segment",
        "n_gaps",
        (quantize("mean_r", 6) / 1e6).alias("mean_gap"),
        (quantize("med_r", 6) / 1e6).alias("median_gap"),
        (quantize(mli, 6) / 1e6).alias("memorylessness"),
    ).orderBy("segment")


# --- q530: Poisson goodness-of-fit of order basket sizes — does
# lines-per-order follow a Poisson(λ̂)? Chi-square over the bounded
# k = 0..9,10+ support with the MLE λ̂ = mean basket size and exact
# e^{-λ}λ^k/k! cell probabilities (closed form — no special functions).
# The "is demand memoryless at the basket level" companion to q518's
# inter-purchase exponential check. ----------------------------------------------
@query(
    "q530_basket_size_poisson_gof",
    oracle="""
    WITH baskets AS MATERIALIZED (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k
        FROM lineitem GROUP BY l_orderkey
    ),
    lam AS (
        SELECT CAST(SUM(k) AS DOUBLE) / COUNT(*) AS l,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM baskets
    ),
    hist AS MATERIALIZED (
        SELECT LEAST(k, 10) AS kb, CAST(COUNT(*) AS BIGINT) AS o
        FROM baskets GROUP BY kb
    ),
    grid AS MATERIALIZED (
        SELECT g.kb,
               CASE WHEN g.kb < 10 THEN EXP(-m.l) * POW(m.l, g.kb)
                         / CASE g.kb WHEN 0 THEN 1 WHEN 1 THEN 1
                                     WHEN 2 THEN 2 WHEN 3 THEN 6
                                     WHEN 4 THEN 24 WHEN 5 THEN 120
                                     WHEN 6 THEN 720 WHEN 7 THEN 5040
                                     WHEN 8 THEN 40320 ELSE 362880 END
                    ELSE 1 - (EXP(-m.l) * (1 + m.l + POW(m.l,2)/2
                              + POW(m.l,3)/6 + POW(m.l,4)/24 + POW(m.l,5)/120
                              + POW(m.l,6)/720 + POW(m.l,7)/5040
                              + POW(m.l,8)/40320 + POW(m.l,9)/362880))
               END AS p,
               m.n
        FROM (SELECT UNNEST(generate_series(0, 10)) AS kb) g, lam m
    )
    SELECT CAST(g.kb AS BIGINT) AS basket_size,
           COALESCE(h.o, 0) AS observed,
           CAST(CAST(SIGN(g.n * g.p) * FLOOR(ABS(g.n * g.p) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS expected,
           CAST(CAST(SIGN(chi) * FLOOR(ABS(chi) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS cell_chi2
    FROM grid g
    LEFT JOIN hist h ON h.kb = g.kb,
    LATERAL (
        SELECT (COALESCE(h.o, 0) - g.n * g.p) * (COALESCE(h.o, 0) - g.n * g.p)
               / (g.n * g.p) AS chi
    ) c
    ORDER BY basket_size
    """,
)
def q530(spark, sf_dir):
    import math

    li = T(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    lam = baskets.agg(
        (F.sum("k").cast("double") / F.count(F.lit(1))).alias("l"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    hist = baskets.groupBy(F.least("k", F.lit(10)).alias("kb")).agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    grid = small_local_df(
        spark, [(kb, float(math.factorial(kb)) if kb < 10 else 0.0) for kb in range(11)],
        "kb long, fact double",
    )
    g = F.broadcast(grid).crossJoin(F.broadcast(lam))
    pmf = F.exp(-F.col("l")) * F.pow(F.col("l"), F.col("kb")) / F.col("fact")
    # 10+ tail: 1 − CDF(9)
    cdf9 = F.exp(-F.col("l")) * sum(
        F.pow(F.col("l"), i) / float(math.factorial(i)) for i in range(10)
    )
    gp = g.select(
        "kb", "n", F.when(F.col("kb") < 10, pmf).otherwise(1 - cdf9).alias("p")
    )
    j = gp.join(hist, "kb", "left")
    obs = F.coalesce("o", F.lit(0))
    e = F.col("n") * F.col("p")
    chi = (obs - e) * (obs - e) / e
    return j.select(
        F.col("kb").alias("basket_size"),
        obs.cast("long").alias("observed"),
        (quantize(e, 6) / 1e6).alias("expected"),
        (quantize(chi, 6) / 1e6).alias("cell_chi2"),
    ).orderBy("basket_size")


# --- q534: Pareto concentration per brand — what share of each
# brand's revenue comes from its top-20% parts (the 80/20 audit at
# brand granularity, the curve-point complement to q499's global
# Lorenz deciles)? Per-(brand, part) rollup → per-brand part counts →
# top-k by revenue via dense rank over the bounded per-brand part
# list. ------------------------------------------------------------------------------
@query(
    "q534_brand_pareto_8020",
    oracle="""
    WITH pp AS MATERIALIZED (
        SELECT p.p_brand AS brand, l.l_partkey AS pk,
               CAST(SUM(CAST(SIGN(l.l_extendedprice)
                             * FLOOR(ABS(l.l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS rev_q
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand, pk
    ),
    ranked AS MATERIALIZED (
        SELECT brand, rev_q,
               ROW_NUMBER() OVER (PARTITION BY brand
                                  ORDER BY rev_q DESC, pk) AS r,
               COUNT(*) OVER (PARTITION BY brand) AS np
        FROM pp
    )
    SELECT brand,
           CAST(MAX(np) AS BIGINT) AS n_parts,
           CAST(CEIL(MAX(np) / 5.0) AS BIGINT) AS top20_parts,
           CAST(CAST(SIGN(share) * FLOOR(ABS(share) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS top20_rev_share
    FROM (
        SELECT brand, np,
               CAST(SUM(CASE WHEN r <= CEIL(np / 5.0) THEN rev_q ELSE 0 END)
                    AS DOUBLE) / SUM(rev_q) AS share
        FROM ranked
        GROUP BY brand, np
    ) x
    GROUP BY brand, share
    ORDER BY brand
    """,
)
def q534(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    pp = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_partkey").alias("pk"))
        .agg(F.sum(quantize("l_extendedprice", 2)).cast("long").alias("rev_q"))
    )
    w_rank = Window.partitionBy("brand").orderBy(F.desc("rev_q"), "pk")
    w_cnt = Window.partitionBy("brand")
    ranked = pp.select(
        "brand",
        "rev_q",
        F.row_number().over(w_rank).alias("r"),
        F.count(F.lit(1)).over(w_cnt).alias("np"),
    )
    out = ranked.groupBy("brand", "np").agg(
        (
            F.sum(
                F.when(
                    F.col("r") <= F.ceil(F.col("np") / 5.0), F.col("rev_q")
                ).otherwise(0)
            ).cast("double")
            / F.sum("rev_q")
        ).alias("share")
    )
    return out.select(
        "brand",
        F.col("np").cast("long").alias("n_parts"),
        F.ceil(F.col("np") / 5.0).cast("long").alias("top20_parts"),
        (quantize("share", 6) / 1e6).alias("top20_rev_share"),
    ).orderBy("brand")


# --- q535: catalog activation curve — when did each part make its
# FIRST sale, how long after entering the catalog does the catalog
# "activate"? First-sale month histogram + running share of the
# catalog activated + the months-to-90% summary. One min-rollup on
# partkey, then window algebra over the bounded month spine. ---------------------
@query(
    "q535_catalog_activation",
    oracle="""
    WITH firsts AS MATERIALIZED (
        SELECT l_partkey, MIN(date_trunc('month', l_shipdate)) AS fm
        FROM lineitem GROUP BY l_partkey
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS total
           FROM part),
    monthly AS MATERIALIZED (
        SELECT fm, CAST(COUNT(*) AS BIGINT) AS n_first FROM firsts GROUP BY fm
    ),
    curve AS MATERIALIZED (
        SELECT fm, n_first,
               CAST(SUM(n_first) OVER (ORDER BY fm) AS BIGINT) AS cum_first
        FROM monthly
    )
    SELECT fm AS month, n_first,
           cum_first,
           CAST(CAST(SIGN(share) * FLOOR(ABS(share) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS activated_share
    FROM (
        SELECT fm, n_first, cum_first,
               CAST(cum_first AS DOUBLE) / (SELECT total FROM np) AS share
        FROM curve
    )
    ORDER BY month
    """,
)
def q535(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    firsts = li.groupBy("l_partkey").agg(
        F.min(F.date_trunc("month", "l_shipdate")).alias("fm")
    )
    np_ = part.agg(F.count(F.lit(1)).cast("long").alias("total"))
    monthly = firsts.groupBy("fm").agg(
        F.count(F.lit(1)).cast("long").alias("n_first")
    )
    w_run = Window.orderBy("fm").rowsBetween(Window.unboundedPreceding, 0)
    curve = monthly.select(
        "fm",
        "n_first",
        F.sum("n_first").over(w_run).cast("long").alias("cum_first"),
    )
    return (
        curve.crossJoin(F.broadcast(np_))
        .select(
            F.col("fm").alias("month"),
            "n_first",
            "cum_first",
            (
                quantize(F.col("cum_first").cast("double") / F.col("total"), 6)
                / 1e6
            ).alias("activated_share"),
        )
        .orderBy("month")
    )


# --- q536: duplicate-order audit — exact-duplicate candidate groups
# on the (customer, order date, total price) business key: the
# warehouse-side twin of the corpus dedup tier (q29), catching
# double-submitted orders. Hash-groupBy on the composite key; only
# groups with >1 member survive. ---------------------------------------------------
@query(
    "q536_duplicate_order_audit",
    oracle="""
    WITH dup AS MATERIALIZED (
        SELECT o_custkey, o_orderdate,
               CAST(CAST(SIGN(o_totalprice) * FLOOR(ABS(o_totalprice) * 100.0
                          + 0.5) AS BIGINT) AS BIGINT) AS price_q,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY o_custkey, o_orderdate, price_q
        HAVING COUNT(*) > 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
           CAST(COALESCE(SUM(n_orders), 0) AS BIGINT) AS n_dup_orders,
           CAST(COALESCE(SUM(n_orders - 1), 0) AS BIGINT) AS n_removable,
           CAST(COALESCE(MAX(n_orders), 0) AS BIGINT) AS max_group
    FROM dup
    """,
)
def q536(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    dup = (
        orders.groupBy(
            "o_custkey",
            "o_orderdate",
            quantize("o_totalprice", 2).alias("price_q"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .filter(F.col("n_orders") > 1)
    )
    return dup.agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_groups"),
        F.coalesce(F.sum("n_orders"), F.lit(0)).cast("long").alias("n_dup_orders"),
        F.coalesce(F.sum(F.col("n_orders") - 1), F.lit(0))
        .cast("long")
        .alias("n_removable"),
        F.coalesce(F.max("n_orders"), F.lit(0)).cast("long").alias("max_group"),
    )


# --- q702: quantile-based shape statistics of customer spend —
# Bowley (1920) skewness (Q₁+Q₃−2·Q₂)/(Q₃−Q₁) and Moors (1988)
# kurtosis ((E₇−E₅)+(E₃−E₁))/(Q₃−Q₁) from EXACT distributed octiles
# (the q499 prefix machinery, boundaries ⌈i·N/8⌉): the outlier-immune
# complements of the moment-based q487/q701 shape tests. ------------------------
@query(
    "q702_bowley_moors_shape",
    oracle=f"""
    WITH rev AS MATERIALIZED (
        SELECT o_custkey,
               CAST(SUM({sql_quantize('o_totalprice', 2)}) AS BIGINT) AS yq
        FROM orders GROUP BY o_custkey
    ),
    pref AS MATERIALIZED (
        SELECT yq,
               CAST(SUM(cnt) OVER (ORDER BY yq) AS BIGINT) AS cum_n
        FROM (
            SELECT yq, CAST(COUNT(*) AS BIGINT) AS cnt FROM rev GROUP BY yq
        )
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rev),
    grid AS (SELECT UNNEST(generate_series(1, 7)) AS i),
    oct_ AS MATERIALIZED (
        SELECT g.i, p.v
        FROM grid g, tot t,
             LATERAL (
                 SELECT CAST(yq AS DOUBLE) / 100.0 AS v
                 FROM pref
                 WHERE cum_n >= CAST(CEIL(g.i * t.n / 8.0) AS BIGINT)
                 ORDER BY cum_n LIMIT 1
             ) p
    ),
    w AS (
        SELECT MAX(CASE WHEN i = 1 THEN v END) AS e1,
               MAX(CASE WHEN i = 2 THEN v END) AS q1,
               MAX(CASE WHEN i = 3 THEN v END) AS e3,
               MAX(CASE WHEN i = 4 THEN v END) AS q2,
               MAX(CASE WHEN i = 5 THEN v END) AS e5,
               MAX(CASE WHEN i = 6 THEN v END) AS q3,
               MAX(CASE WHEN i = 7 THEN v END) AS e7
        FROM oct_
    )
    SELECT (SELECT n FROM tot) AS n_customers,
           CAST({sql_quantize('(q1 + q3 - 2.0 * q2) / (q3 - q1)', 6)}
                AS DOUBLE) / 1e6 AS bowley_skew,
           CAST({sql_quantize('((e7 - e5) + (e3 - e1)) / (q3 - q1)', 6)}
                AS DOUBLE) / 1e6 AS moors_kurtosis
    FROM w
    """,
)
def q702(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    orders = T(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(quantize("o_totalprice", 2)).cast("long").alias("yq")
    )
    hist = rev.groupBy("yq").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    pref = tracked_persist(
        global_prefix_counts(hist, [F.asc("yq")], {"cum_n": "cnt"})
    )
    tot = rev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = small_local_df(
        orders.sparkSession, [(i,) for i in range(1, 8)], "i int"
    )
    j = (
        F.broadcast(grid)
        .crossJoin(F.broadcast(tot))
        .join(
            pref,
            F.col("cum_n")
            >= F.ceil(F.col("i") * F.col("n") / 8.0).cast("long"),
        )
    )
    oct_ = j.groupBy("i", "n").agg(
        (F.min_by("yq", "cum_n").cast("double") / 100.0).alias("v")
    )
    w = oct_.groupBy("n").agg(
        F.max(F.when(F.col("i") == 1, F.col("v"))).alias("e1"),
        F.max(F.when(F.col("i") == 2, F.col("v"))).alias("q1"),
        F.max(F.when(F.col("i") == 3, F.col("v"))).alias("e3"),
        F.max(F.when(F.col("i") == 4, F.col("v"))).alias("q2"),
        F.max(F.when(F.col("i") == 5, F.col("v"))).alias("e5"),
        F.max(F.when(F.col("i") == 6, F.col("v"))).alias("q3"),
        F.max(F.when(F.col("i") == 7, F.col("v"))).alias("e7"),
    )
    bowley = (F.col("q1") + F.col("q3") - 2.0 * F.col("q2")) / (
        F.col("q3") - F.col("q1")
    )
    moors = ((F.col("e7") - F.col("e5")) + (F.col("e3") - F.col("e1"))) / (
        F.col("q3") - F.col("q1")
    )
    return w.select(
        F.col("n").alias("n_customers"),
        (quantize(bowley, 6) / 1e6).alias("bowley_skew"),
        (quantize(moors, 6) / 1e6).alias("moors_kurtosis"),
    )


# --- q703: Theil T inequality DECOMPOSED between and within regions —
# T = T_between + Σ_g s_g·T_g exactly (the additive decomposability
# that makes Theil the inequality index of choice for drill-downs):
# which share of spend inequality is regional structure vs within-
# region dispersion? Per-customer terms quantized; group shares exact. ----------
@query(
    "q703_theil_decomposition_regions",
    oracle=f"""
    WITH spend AS MATERIALIZED (
        SELECT r.r_name AS reg,
               CAST(SUM({sql_quantize('o.o_totalprice', 2)}) AS BIGINT) AS yq
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY o.o_custkey, reg
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yq) AS BIGINT) AS ty
        FROM spend
    ),
    tt AS (
        SELECT CAST(SUM({sql_quantize(
                   '(CAST(yq AS DOUBLE) / t.ty)'
                   ' * LN((CAST(yq AS DOUBLE) / t.ty) * t.n)', 9)})
                    AS DOUBLE) / 1e9 AS t_total
        FROM spend, tot t
    ),
    grp AS MATERIALIZED (
        SELECT reg, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(yq) AS BIGINT) AS yg
        FROM spend GROUP BY reg
    ),
    tb AS (
        SELECT CAST(SUM({sql_quantize(
                   '(CAST(g.yg AS DOUBLE) / t.ty)'
                   ' * LN((CAST(g.yg AS DOUBLE) / t.ty)'
                   '      / (CAST(g.ng AS DOUBLE) / t.n))', 9)})
                    AS DOUBLE) / 1e9 AS t_between
        FROM grp g, tot t
    )
    SELECT (SELECT n FROM tot) AS n_customers,
           CAST({sql_quantize('tt.t_total', 6)} AS DOUBLE) / 1e6
               AS theil_total,
           CAST({sql_quantize('tb.t_between', 6)} AS DOUBLE) / 1e6
               AS theil_between,
           CAST({sql_quantize('tt.t_total - tb.t_between', 6)}
                AS DOUBLE) / 1e6 AS theil_within,
           CAST({sql_quantize('tb.t_between / tt.t_total', 6)}
                AS DOUBLE) / 1e6 AS between_share
    FROM tt, tb
    """,
)
def q703(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    nat = T(spark, sf_dir, "nation")
    reg = T(spark, sf_dir, "region")
    spend = tracked_persist(
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("o_custkey", F.col("r_name").alias("reg"))
        .agg(F.sum(quantize("o_totalprice", 2)).cast("long").alias("yq"))
    )
    tot = spend.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yq").cast("long").alias("ty"),
    )
    share = F.col("yq").cast("double") / F.col("ty")
    tt = spend.crossJoin(F.broadcast(tot)).agg(
        dsum(share * F.log(share * F.col("n")), 9).alias("t_total")
    )
    grp = spend.groupBy("reg").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("yq").cast("long").alias("yg"),
    )
    gs = F.col("yg").cast("double") / F.col("ty")
    ns = F.col("ng").cast("double") / F.col("n")
    tb = grp.crossJoin(F.broadcast(tot)).agg(
        dsum(gs * F.log(gs / ns), 9).alias("t_between")
    )
    j = tt.crossJoin(F.broadcast(tb)).crossJoin(F.broadcast(tot))
    return j.select(
        F.col("n").alias("n_customers"),
        (quantize("t_total", 6) / 1e6).alias("theil_total"),
        (quantize("t_between", 6) / 1e6).alias("theil_between"),
        (quantize(F.col("t_total") - F.col("t_between"), 6) / 1e6).alias(
            "theil_within"
        ),
        (quantize(F.col("t_between") / F.col("t_total"), 6) / 1e6).alias(
            "between_share"
        ),
    )


# --- q704: Lorenz asymmetry coefficient (Damgaard & Weiner 1998) of
# customer spend — S = F(μ) + L(μ): S = 1 means the Lorenz curve is
# symmetric; S < 1 says inequality is driven by many SMALL customers,
# S > 1 by a few GIANT ones — the "which tail causes the Gini"
# diagnostic on top of q236/q499 (discrete convention: strict y < μ,
# documented). One broadcast mean + one conditional aggregate. -----------------
@query(
    "q704_lorenz_asymmetry",
    oracle=f"""
    WITH rev AS MATERIALIZED (
        SELECT o_custkey,
               CAST(SUM({sql_quantize('o_totalprice', 2)}) AS BIGINT) AS yq
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yq) AS BIGINT) AS ty
        FROM rev
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN CAST(yq AS DOUBLE)
                                  < CAST(t.ty AS DOUBLE) / t.n
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
               CAST(SUM(CASE WHEN CAST(yq AS DOUBLE)
                                  < CAST(t.ty AS DOUBLE) / t.n
                        THEN yq ELSE 0 END) AS BIGINT) AS y_below
        FROM rev, tot t
    )
    SELECT t.n AS n_customers, s.n_below,
           CAST({sql_quantize(
               'CAST(s.n_below AS DOUBLE) / t.n', 6)} AS DOUBLE) / 1e6
               AS f_at_mean,
           CAST({sql_quantize(
               'CAST(s.y_below AS DOUBLE) / t.ty', 6)} AS DOUBLE) / 1e6
               AS l_at_mean,
           CAST({sql_quantize(
               'CAST(s.n_below AS DOUBLE) / t.n'
               ' + CAST(s.y_below AS DOUBLE) / t.ty', 6)} AS DOUBLE) / 1e6
               AS lorenz_asymmetry
    FROM s, tot t
    """,
)
def q704(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(quantize("o_totalprice", 2)).cast("long").alias("yq")
    )
    from pandrs_spark.operators.util import tracked_persist

    rev = tracked_persist(rev)
    tot = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yq").cast("long").alias("ty"),
    )
    mu = F.col("ty").cast("double") / F.col("n")
    s = rev.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.when(F.col("yq").cast("double") < mu, 1).otherwise(0))
        .cast("long")
        .alias("n_below"),
        F.sum(F.when(F.col("yq").cast("double") < mu, F.col("yq")).otherwise(0))
        .cast("long")
        .alias("y_below"),
        F.first("n").alias("n"),
        F.first("ty").alias("ty"),
    )
    fmean = F.col("n_below").cast("double") / F.col("n")
    lmean = F.col("y_below").cast("double") / F.col("ty")
    return s.select(
        F.col("n").alias("n_customers"),
        "n_below",
        (quantize(fmean, 6) / 1e6).alias("f_at_mean"),
        (quantize(lmean, 6) / 1e6).alias("l_at_mean"),
        (quantize(fmean + lmean, 6) / 1e6).alias("lorenz_asymmetry"),
    )


# --- q709: Ehrenberg brand-performance measures per market segment —
# penetration (share of the segment's registry that bought at all in
# 1995), purchase frequency among buyers, and repeat rate (≥2 orders):
# the NBD-Dirichlet descriptive trio ("double jeopardy": small brands
# lose twice) read off exact counts; one registry left join + one
# bounded segment rollup. ----------------------------------------------------------
@query(
    "q709_ehrenberg_brand_measures",
    oracle="""
    WITH k AS MATERIALIZED (
        SELECT c.c_mktsegment AS seg,
               CAST(COALESCE(o.k, 0) AS BIGINT) AS k
        FROM customer c
        LEFT JOIN (
            SELECT o_custkey, COUNT(*) AS k FROM orders
            WHERE EXTRACT(year FROM o_orderdate) = 1995
            GROUP BY o_custkey
        ) o ON o.o_custkey = c.c_custkey
    ),
    s AS (
        SELECT seg,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN k >= 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS buyers,
               CAST(SUM(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS repeaters,
               CAST(SUM(k) AS BIGINT) AS orders_
        FROM k GROUP BY seg
    )
    SELECT seg AS segment, n AS n_customers, buyers,
           CAST(CAST(SIGN(pen) * FLOOR(ABS(pen) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS penetration,
           CASE WHEN buyers > 0 THEN
               CAST(CAST(SIGN(freq) * FLOOR(ABS(freq) * 1e6 + 0.5)
                         AS BIGINT) AS DOUBLE) / 1e6
           END AS purchase_frequency,
           CASE WHEN buyers > 0 THEN
               CAST(CAST(SIGN(rep) * FLOOR(ABS(rep) * 1e6 + 0.5) AS BIGINT)
                    AS DOUBLE) / 1e6
           END AS repeat_rate
    FROM (
        SELECT seg, n, buyers,
               CAST(buyers AS DOUBLE) / n AS pen,
               CAST(orders_ AS DOUBLE) / buyers AS freq,
               CAST(repeaters AS DOUBLE) / buyers AS rep
        FROM s
    )
    """,
)
def q709(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    ok = (
        orders.where(F.year("o_orderdate") == 1995)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    k = cust.join(ok, cust.c_custkey == ok.o_custkey, "left").select(
        F.col("c_mktsegment").alias("seg"),
        F.coalesce(F.col("k"), F.lit(0)).cast("long").alias("k"),
    )
    s = k.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("k") >= 1, 1).otherwise(0))
        .cast("long")
        .alias("buyers"),
        F.sum(F.when(F.col("k") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("repeaters"),
        F.sum("k").cast("long").alias("orders_"),
    )
    pen = F.col("buyers").cast("double") / F.col("n")
    freq = F.col("orders_").cast("double") / F.col("buyers")
    rep = F.col("repeaters").cast("double") / F.col("buyers")
    return s.select(
        F.col("seg").alias("segment"),
        F.col("n").alias("n_customers"),
        "buyers",
        (quantize(pen, 6) / 1e6).alias("penetration"),
        F.when(F.col("buyers") > 0, quantize(freq, 6) / 1e6).alias(
            "purchase_frequency"
        ),
        F.when(F.col("buyers") > 0, quantize(rep, 6) / 1e6).alias(
            "repeat_rate"
        ),
    )


# --- q710: assortment-overlap Jaccard matrix between supplier regions
# — |parts sold by both| / |parts sold by either| for every region
# pair: the catalog-similarity readout that pairs with q641's
# Finger-Kreinin (which weights by revenue share where Jaccard counts
# SKUs). One distinct (region, part) rollup; the pair join fans out
# ≤ 5 regions per part. ------------------------------------------------------------
@query(
    "q710_assortment_jaccard_regions",
    oracle="""
    WITH rp AS MATERIALIZED (
        SELECT DISTINCT r.r_name AS reg, l.l_partkey AS pk
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    sizes AS (
        SELECT reg, CAST(COUNT(*) AS BIGINT) AS sz FROM rp GROUP BY reg
    ),
    inter AS (
        SELECT a.reg AS reg_a, b.reg AS reg_b,
               CAST(COUNT(*) AS BIGINT) AS i
        FROM rp a JOIN rp b ON a.pk = b.pk AND a.reg < b.reg
        GROUP BY reg_a, reg_b
    )
    SELECT i.reg_a, i.reg_b, i.i AS n_common_parts,
           CAST(CAST(SIGN(j) * FLOOR(ABS(j) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS jaccard
    FROM (
        SELECT i.reg_a, i.reg_b, i.i,
               CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS j
        FROM inter i
        JOIN sizes sa ON sa.reg = i.reg_a
        JOIN sizes sb ON sb.reg = i.reg_b
    ) i
    """,
)
def q710(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    sup = T(spark, sf_dir, "supplier")
    nat = T(spark, sf_dir, "nation")
    reg = T(spark, sf_dir, "region")
    rp = tracked_persist(
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(F.col("r_name").alias("reg"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    sizes = rp.groupBy("reg").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    b = rp.select(F.col("reg").alias("reg_b"), "pk")
    inter = (
        rp.join(b, "pk")
        .where(F.col("reg") < F.col("reg_b"))
        .groupBy(F.col("reg").alias("reg_a"), "reg_b")
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    sa = sizes.select(F.col("reg").alias("reg_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("reg").alias("reg_b"), F.col("sz").alias("sb"))
    j = inter.join(F.broadcast(sa), "reg_a").join(F.broadcast(sb), "reg_b")
    return j.select(
        "reg_a",
        "reg_b",
        F.col("i").alias("n_common_parts"),
        (
            quantize(
                F.col("i").cast("double")
                / (F.col("sa") + F.col("sb") - F.col("i")),
                6,
            )
            / 1e6
        ).alias("jaccard"),
    )
