"""Relational operator coverage (SURVEY.md §2.2) over the TPC-H-ish
tables: scans, projection, filters, every join type, hash/sort
aggregation, distinct, rollup/cube/grouping sets, window functions,
sorts/top-k, set ops, scalar functions, pivot, range join, as-of join,
sessionization, JSON extraction.

Scale shapes: dimension sides of joins are broadcast (region/nation/
customer at TPC-H proportions stay small relative to lineitem); all
aggregations are partial-before-shuffle hash aggregates; top-k is
TakeOrderedAndProject (per-partition heaps, no global sort); windows
sort-shuffle once on their partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stepist_spark.operators import asof as asof_ops
from stepist_spark.operators import topk as topk_ops
from stepist_spark.queries import QuerySpec
from stepist_spark.session import load_table


def _ts(s: str):
    return F.lit(s).cast("timestamp_ntz")


# --------------------------------------------------------------------------
# q01 — TPC-H Q1 pricing summary: filter + hash aggregation, including
# conditional aggregates (CASE inside agg — absorbed from the former
# q14 so the registry stays within the driver's 50-entry window).
def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= _ts("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 1).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).cast("bigint").alias("n_high_discount"),
            F.round(
                F.sum(F.when(F.col("l_tax") == 0.0, F.col("l_extendedprice")).otherwise(0.0)), 2
            ).alias("rev_no_tax"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 1) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order,
       CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_discount,
       round(sum(CASE WHEN l_tax = 0.0 THEN l_extendedprice ELSE 0.0 END), 2) AS rev_no_tax
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q02 — TPC-H Q3 shape: 3-way join + agg + global top-k
def q02_top_orders(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf, "orders").filter(F.col("o_orderdate") < _ts("1996-03-15 00:00:00"))
    li = load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") > _ts("1996-03-15 00:00:00"))
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return topk_ops.global_topk(
        agg.select(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        ),
        order=[F.col("revenue").desc(), F.col("l_orderkey").asc()],
        k=10,
    )


Q02_SQL = """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# q03 — TPC-H Q5 shape (flagship): star join region→nation→customer→orders→lineitem
def q03_revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= _ts("1995-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-01-01 00:00:00"))
    )
    li = load_table(spark, sf, "lineitem")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q03_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# q04 — EXISTS / left-semi join (TPC-H Q4 shape) + NOT EXISTS /
# left-anti join (former q05), tag-unioned into one gate so both
# existential join types keep a driver correctness row within the
# 50-entry window. Block 'semi': orders with a late lineitem, counted
# per priority. Block 'anti': customers without any big order, counted
# per market segment with their balance sum.
def q04_semi_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    orders_96 = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-01-01 00:00:00"))
    )
    li = load_table(spark, sf, "lineitem")
    has_late = orders_96.join(
        li,
        (orders_96.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders_96.o_orderdate),
        "left_semi",
    )
    semi = has_late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("semi").alias("op"),
        F.col("o_orderpriority").alias("grp"),
        "n",
        F.lit(None).cast("double").alias("sum_bal"),
    )
    cust = load_table(spark, sf, "customer")
    big = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 400000.0)
    anti = (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
        .select(F.lit("anti").alias("op"), F.col("c_mktsegment").alias("grp"), "n", "sum_bal")
    )
    # referential-integrity report rides along (operators/integrity.py):
    # two intact FK relations plus one with a deliberately degraded
    # parent so nonzero orphan counts are certified too
    from stepist_spark.operators.integrity import Relation, fk_report

    orders = load_table(spark, sf, "orders")
    li_all = load_table(spark, sf, "lineitem")
    fk = fk_report(
        spark,
        [
            Relation("lineitem->orders", li_all, orders, "l_orderkey", "o_orderkey"),
            Relation("orders->customer", orders, cust, "o_custkey", "c_custkey"),
            Relation(
                "orders->customer_mod5",
                orders,
                cust.filter(F.col("c_custkey") % 5 != 0),
                "o_custkey",
                "c_custkey",
            ),
        ],
    ).select(
        F.lit("fk").alias("op"),
        F.col("relation").alias("grp"),
        F.col("n_orphans").alias("n"),
        F.col("n_child").cast("double").alias("sum_bal"),
    )
    return semi.unionByName(anti).unionByName(fk)


Q04_SQL = """
SELECT 'semi' AS op, o_orderpriority AS grp, count(*) AS n, CAST(NULL AS DOUBLE) AS sum_bal
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
UNION ALL
SELECT 'anti' AS op, c_mktsegment AS grp, count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
FROM customer
WHERE NOT EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0
)
GROUP BY c_mktsegment
UNION ALL
SELECT 'fk', 'lineitem->orders',
       (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
       CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL) AS DOUBLE)
UNION ALL
SELECT 'fk', 'orders->customer',
       (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
        AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
       CAST((SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL) AS DOUBLE)
UNION ALL
SELECT 'fk', 'orders->customer_mod5',
       (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
        AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 5 <> 0)),
       CAST((SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL) AS DOUBLE)
"""


# --------------------------------------------------------------------------
# q06 — TPC-H Q6 shape: pure filter + scalar agg (pushdown showcase)
def q06_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


Q06_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
"""


# Tag-union merge (round 3, third pass): q01 + q06 are both
# single-scan lineitem aggregates — one gate certifies both, freeing a
# registry slot for the s05 streaming-dedup gate.
def q01_lineitem_aggregates(spark: SparkSession, sf: str) -> DataFrame:
    nd = F.lit(None).cast("double")
    p = q01_pricing_summary(spark, sf).select(
        F.lit("pricing").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        F.col("sum_qty").cast("double").alias("d1"),
        F.col("sum_base_price").cast("double").alias("d2"),
        F.col("sum_disc_price").cast("double").alias("d3"),
        F.col("sum_charge").cast("double").alias("d4"),
        F.col("avg_qty").cast("double").alias("d5"),
        F.col("avg_price").cast("double").alias("d6"),
        F.col("avg_disc").cast("double").alias("d7"),
        F.col("rev_no_tax").cast("double").alias("d8"),
        F.col("count_order").cast("bigint").alias("n1"),
        F.col("n_high_discount").cast("bigint").alias("n2"),
    )
    fx = q06_forecast_revenue(spark, sf).select(
        F.lit("forecast").alias("part"),
        F.lit(None).cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("revenue").cast("double").alias("d1"),
        nd.alias("d2"),
        nd.alias("d3"),
        nd.alias("d4"),
        nd.alias("d5"),
        nd.alias("d6"),
        nd.alias("d7"),
        nd.alias("d8"),
        F.col("n_rows").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )
    return p.unionByName(fx)


Q01M_SQL = f"""
SELECT 'pricing' AS part, l_returnflag AS k1, l_linestatus AS k2,
       CAST(sum_qty AS DOUBLE) AS d1, CAST(sum_base_price AS DOUBLE) AS d2,
       CAST(sum_disc_price AS DOUBLE) AS d3, CAST(sum_charge AS DOUBLE) AS d4,
       CAST(avg_qty AS DOUBLE) AS d5, CAST(avg_price AS DOUBLE) AS d6,
       CAST(avg_disc AS DOUBLE) AS d7, CAST(rev_no_tax AS DOUBLE) AS d8,
       CAST(count_order AS BIGINT) AS n1, CAST(n_high_discount AS BIGINT) AS n2
FROM ({Q01_SQL})
UNION ALL
SELECT 'forecast', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(revenue AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(n_rows AS BIGINT), CAST(NULL AS BIGINT)
FROM ({Q06_SQL})
"""


# --------------------------------------------------------------------------
# q07 — per-group top-k via row_number window
def q07_top_orders_per_segment(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    ranked = topk_ops.grouped_topk(
        joined.select("c_mktsegment", "o_orderkey", "o_totalprice"),
        group_cols=["c_mktsegment"],
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )
    return ranked.select(
        "c_mktsegment",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("rn").cast("bigint").alias("rn"),
    )


Q07_SQL = """
SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM (
    SELECT c_mktsegment, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders JOIN customer ON o_custkey = c_custkey
)
WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# q08 — the window-function suite in one pass (merged former q08 + q29):
# per-customer running sum / lag / row_number, plus per-status float
# RANGE frame, ntile quartiles, and first_value — two window specs over
# the same filtered orders slice, one sort-shuffle each.
def q08_window_suite(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    w_status = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    # float RANGE boundaries aren't expressible through the PySpark
    # Window API (ints only); the SQL frame syntax is
    n_in_band = F.expr(
        "count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice "
        "RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)"
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("orderdate"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_total"),
        F.row_number().over(w).cast("bigint").alias("order_seq"),
        n_in_band.alias("n_in_band"),
        F.ntile(4).over(w_status).cast("bigint").alias("quartile"),
        F.round(F.first("o_totalprice").over(w_status), 2).alias("cheapest_so_far"),
        # rank transforms (round 5): exact rationals of identical ints
        # under the unique (price, orderkey) order — bit-identical
        # doubles on both engines, shipped unrounded
        F.percent_rank().over(w_status).alias("pct_rank"),
        F.cume_dist().over(w_status).alias("cume"),
        # linearly-weighted moving average over the last 4 orders
        # (round 6): exact integer cents through a lag chain, one
        # integer DIV — NULL until the window is complete
        _q08_wma4(w).alias("wma4_cents"),
    )


def _q08_wma4(w) -> "F.Column":
    from stepist_spark.functions.text import _intdiv

    c = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    c1, c2, c3 = (F.lag(c, i).over(w) for i in (1, 2, 3))
    total = c * 4 + c1 * 3 + c2 * 2 + c3
    # _intdiv: (a - a%b)/b — exact for the non-negative cents sums here
    return F.when(c3.isNotNull(), _intdiv(total, F.lit(10).cast("bigint")))


Q08_SQL = """
SELECT o_custkey, o_orderkey, orderdate, prev_price, running_total,
       order_seq, n_in_band, quartile, cheapest_so_far, pct_rank, cume,
       -- (tot - tot%10)/10 mirrors the Spark _intdiv (exact for the
       -- non-negative cents sums here)
       CASE WHEN _c3 IS NOT NULL THEN
         CAST(((_c*4 + _c1*3 + _c2*2 + _c3)
               - (_c*4 + _c1*3 + _c2*2 + _c3) % 10) / 10 AS BIGINT)
       END AS wma4_cents
FROM (
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
           round(lag(o_totalprice) OVER w, 2) AS prev_price,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING), 2) AS running_total,
           row_number() OVER w AS order_seq,
           count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                          RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS n_in_band,
           CAST(ntile(4) OVER ws AS BIGINT) AS quartile,
           round(first_value(o_totalprice) OVER ws, 2) AS cheapest_so_far,
           percent_rank() OVER ws AS pct_rank,
           cume_dist() OVER ws AS cume,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS _c,
           lag(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), 1) OVER w AS _c1,
           lag(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), 2) OVER w AS _c2,
           lag(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), 3) OVER w AS _c3
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           ws AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
)
"""


# --------------------------------------------------------------------------
# q09 — rollup + cube + grouping sets in one tag-unioned gate (merged
# former q09/q10/q20): each block runs the distinct multi-grouping
# operator (DataFrame rollup, DataFrame cube, SQL GROUPING SETS) with a
# harmonized (part, key1, key2, n, sum_val) output schema.
def q09_grouping_multi(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    roll = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_val"))
        .select(
            F.lit("rollup").alias("part"),
            F.col("l_returnflag").alias("key1"),
            F.col("l_linestatus").alias("key2"),
            "n",
            "sum_val",
        )
    )
    cub = (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_val"))
        .select(
            F.lit("cube").alias("part"),
            F.col("o_orderpriority").alias("key1"),
            F.col("o_orderstatus").alias("key2"),
            "n",
            "sum_val",
        )
    )
    li.createOrReplaceTempView("_gs_lineitem")
    gs = spark.sql(
        """
        SELECT 'gsets' AS part, l_returnflag AS key1, l_linestatus AS key2,
               count(*) AS n, round(sum(l_extendedprice), 2) AS sum_val
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )
    # ---- the shared rank-statistics base pass (round 10, verdict #2):
    # mwu/kw/gini all work over value-counts of the SAME fact column
    # (o_totalprice cents) — ONE (status, priority, cents) hash agg,
    # materialized once, feeds every sibling's marginal instead of each
    # statistic re-scanning orders and re-materializing its own frame.
    # All downstream statistics are exact-integer functions of these
    # counts, so hashes are unchanged by construction.
    _cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    vc_base = (
        orders.groupBy(
            F.col("o_orderstatus").alias("o_orderstatus"),
            F.col("o_orderpriority").alias("o_orderpriority"),
            _cents.alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    prio_vc = vc_base.groupBy("o_orderpriority", "v").agg(
        F.sum("c").cast("bigint").alias("c")
    )

    # smoothed target encoding rides along (operators/regression.py):
    # per-priority mean order value with the global prior, exact
    # decimal products, one division
    from stepist_spark.operators.regression import target_encode

    te = target_encode(orders, "o_orderpriority", "o_totalprice", m=10).select(
        F.lit("tenc").alias("part"),
        F.col("category").alias("key1"),
        F.concat_ws(":", F.col("sum_cents").cast("string")).alias("key2"),
        F.col("n"),
        F.col("enc").alias("sum_val"),
    )
    # Gini revenue concentration rides along (operators/anomaly.py):
    # exact rank-weighted sums from the value-counts frame
    from stepist_spark.operators.anomaly import gini_coefficient

    gi = gini_coefficient(
        orders, ["o_orderpriority"], "o_totalprice", value_counts=prio_vc
    ).select(
        F.lit("gini").alias("part"),
        F.col("o_orderpriority").alias("key1"),
        F.concat_ws(
            ":",
            F.col("total_cents").cast("string"),
            F.col("s_scaled").cast("string"),
        ).alias("key2"),
        F.col("n"),
        F.col("gini").alias("sum_val"),
    )
    # WoE / Information Value rides along (operators/regression.py):
    # order-priority risk profile against the 'F' (fulfilled) status —
    # one conditional cell aggregate, exact HUGEINT-product log terms
    from stepist_spark.operators.regression import weight_of_evidence

    wo = weight_of_evidence(
        orders, "o_orderpriority", F.col("o_orderstatus") == "F"
    ).select(
        F.lit("woe").alias("part"),
        F.col("category").alias("key1"),
        F.concat_ws(
            ":",
            F.col("g").cast("string"),
            F.col("b").cast("string"),
            F.col("woe_scaled").cast("string"),
            F.col("iv_term_scaled").cast("string"),
            F.col("iv_scaled").cast("string"),
        ).alias("key2"),
        (F.col("g") + F.col("b")).alias("n"),
        F.col("woe").alias("sum_val"),
    )
    # Mann-Whitney U and Kruskal-Wallis ride along (operators/
    # abtest.py) FUSED: both rank statistics consume ONE shared
    # cumulative over the distinct-cents domain (rank_stats_shared) —
    # one range exchange instead of two, fed from the gate's base pass
    from stepist_spark.operators.abtest import rank_stats_shared

    mw_raw, kw_raw = rank_stats_shared(
        vc_base, "o_orderstatus", "O", "F", "o_orderpriority"
    )
    mw = mw_raw.select(
        F.lit("mwu").alias("part"),
        F.lit("O:F").alias("key1"),
        F.concat_ws(
            ":",
            F.col("u2_a").cast("string"),
            F.col("tie_cubes").cast("string"),
        ).alias("key2"),
        (F.col("n_a") + F.col("n_b")).cast("bigint").alias("n"),
        F.col("z_stat").alias("sum_val"),
    )
    # one-way ANOVA F + eta² rides along (round 10, operators/
    # abtest.py): the PARAMETRIC omnibus twin of 'kw' over the same
    # priorities — exact per-group n/Σx/Σx² off the shared base, the
    # kw sorted-fold for the fractional Σs²/n, one IEEE F sequence
    from stepist_spark.operators.abtest import one_way_anova

    av = one_way_anova(
        orders, "o_orderpriority", "o_totalprice", value_counts=prio_vc
    ).select(
        F.lit("anova").alias("part"),
        F.col("o_orderpriority").alias("key1"),
        F.concat_ws(
            ":",
            F.col("s_g").cast("string"),
            F.col("q_g").cast("string"),
            # coalesce the scaled eta2 to a -1 sentinel BEFORE concat:
            # Spark's concat_ws SKIPS null elements while the DuckDB
            # mirror's || propagates NULL — degenerate inputs (k<2,
            # n<=k, zero SST) would silently diverge (round-10 ADVICE)
            F.coalesce(
                F.floor(F.col("eta2") * 1_000_000 + F.lit(0.5)).cast("bigint"),
                F.lit(-1),
            ).cast("string"),
        ).alias("key2"),
        F.col("n_g").alias("n"),
        F.col("f_stat").alias("sum_val"),
    )
    # Brown-Forsythe (median-centered Levene) rides along (round 10,
    # operators/abtest.py): are the arms' SPREADS equal — one-way
    # ANOVA on |v − median_g| deviations, composed from the grouped-
    # median rank rule and one_way_anova's counts path, off the SAME
    # shared base
    from stepist_spark.operators.abtest import brown_forsythe

    lv = brown_forsythe(
        orders, "o_orderpriority", "o_totalprice", value_counts=prio_vc
    ).select(
        F.lit("levene").alias("part"),
        F.col("o_orderpriority").alias("key1"),
        F.concat_ws(
            ":",
            F.col("s_g").cast("string"),
            F.col("q_g").cast("string"),
            # coalesce the scaled eta2 to a -1 sentinel BEFORE concat:
            # Spark's concat_ws SKIPS null elements while the DuckDB
            # mirror's || propagates NULL — degenerate inputs (k<2,
            # n<=k, zero SST) would silently diverge (round-10 ADVICE)
            F.coalesce(
                F.floor(F.col("eta2") * 1_000_000 + F.lit(0.5)).cast("bigint"),
                F.lit(-1),
            ).cast("string"),
        ).alias("key2"),
        F.col("n_g").alias("n"),
        F.col("f_stat").alias("sum_val"),
    )
    # Kruskal-Wallis: the k-group rank omnibus over order totals
    # across ALL five priorities — exact doubled rank sums per group,
    # sorted-fold float H, riding the SAME fused cumulative as mwu
    kw = kw_raw.select(
        F.lit("kw").alias("part"),
        F.col("o_orderpriority").alias("key1"),
        F.col("r2x").cast("string").alias("key2"),
        F.col("n_g").alias("n"),
        F.col("h_tie").alias("sum_val"),
    )
    # Benjamini-Hochberg FDR over per-priority Welch readouts rides
    # along (round 9, operators/abtest.py): the multiple-testing step
    # a test-every-slice readout needs — A&S-erf normal p-values,
    # step-up rejection over the |slices|-bounded family
    from stepist_spark.operators.abtest import bh_discoveries, welch_ttest_sliced

    wsl = welch_ttest_sliced(
        orders, ["o_orderpriority"], "o_orderstatus", "O", "F", "o_totalprice",
        value_counts=vc_base,
    )
    bh = bh_discoveries(wsl, ["o_orderpriority"], "t_stat", fdr_q=0.10).select(
        F.lit("bh").alias("part"),
        F.col("o_orderpriority").alias("key1"),
        F.concat_ws(
            ":",
            F.col("p_scaled").cast("string"),
            F.col("p_rank").cast("string"),
            F.col("rejected").cast("int").cast("string"),
        ).alias("key2"),
        F.col("m").alias("n"),
        F.col("t_stat").alias("sum_val"),
    )
    return (
        roll.unionByName(cub)
        .unionByName(gs)
        .unionByName(te)
        .unionByName(gi)
        .unionByName(wo)
        .unionByName(mw)
        .unionByName(av)
        .unionByName(lv)
        .unionByName(kw)
        .unionByName(bh)
    )


def _q09_tenc_sql() -> str:
    from stepist_spark.operators.regression import target_encode_sql

    return target_encode_sql(
        "SELECT o_orderpriority, o_totalprice FROM orders",
        "o_orderpriority",
        "o_totalprice",
        m=10,
    )


_Q09_TENC_SQL = _q09_tenc_sql()


def _q09_gini_sql() -> str:
    from stepist_spark.operators.anomaly import gini_coefficient_sql

    return gini_coefficient_sql(
        "SELECT o_orderpriority, o_totalprice FROM orders",
        ["o_orderpriority"],
        "o_totalprice",
    )


_Q09_GINI_SQL = _q09_gini_sql()


def _q09_woe_sql() -> str:
    from stepist_spark.operators.regression import weight_of_evidence_sql

    return weight_of_evidence_sql(
        "SELECT o_orderpriority, o_orderstatus FROM orders",
        "o_orderpriority",
        "o_orderstatus = 'F'",
    )


_Q09_WOE_SQL = _q09_woe_sql()


def _q09_mwu_sql() -> str:
    from stepist_spark.operators.abtest import mann_whitney_u_sql

    return mann_whitney_u_sql(
        "SELECT o_orderstatus, o_totalprice FROM orders",
        "o_orderstatus",
        "O",
        "F",
        "o_totalprice",
    )


_Q09_MWU_SQL = _q09_mwu_sql()


def _q09_kw_sql() -> str:
    from stepist_spark.operators.abtest import kruskal_wallis_sql

    return kruskal_wallis_sql(
        "SELECT o_orderpriority, o_totalprice FROM orders",
        "o_orderpriority",
        "o_totalprice",
    )


_Q09_KW_SQL = _q09_kw_sql()


def _q09_bh_sql() -> str:
    from stepist_spark.operators.abtest import bh_discoveries_sql, welch_ttest_sliced_sql

    wsl = welch_ttest_sliced_sql(
        "SELECT o_orderpriority, o_orderstatus, o_totalprice FROM orders",
        ["o_orderpriority"],
        "o_orderstatus",
        "O",
        "F",
        "o_totalprice",
    )
    return bh_discoveries_sql(wsl, ["o_orderpriority"], "t_stat", fdr_q=0.10)


_Q09_BH_SQL = _q09_bh_sql()


def _q09_anova_sql() -> str:
    from stepist_spark.operators.abtest import one_way_anova_sql

    return one_way_anova_sql(
        "SELECT o_orderpriority, o_totalprice FROM orders",
        "o_orderpriority",
        "o_totalprice",
    )


_Q09_ANOVA_SQL = _q09_anova_sql()


def _q09_levene_sql() -> str:
    from stepist_spark.operators.abtest import brown_forsythe_sql

    return brown_forsythe_sql(
        "SELECT o_orderpriority, o_totalprice FROM orders",
        "o_orderpriority",
        "o_totalprice",
    )


_Q09_LEVENE_SQL = _q09_levene_sql()

Q09_SQL = f"""
SELECT 'rollup' AS part, l_returnflag AS key1, l_linestatus AS key2,
       count(*) AS n, round(sum(l_quantity), 2) AS sum_val
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS part, o_orderpriority AS key1, o_orderstatus AS key2,
       count(*) AS n, round(sum(o_totalprice), 2) AS sum_val
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
UNION ALL
SELECT 'gsets' AS part, l_returnflag AS key1, l_linestatus AS key2,
       count(*) AS n, round(sum(l_extendedprice), 2) AS sum_val
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
UNION ALL
SELECT 'tenc', category, CAST(sum_cents AS VARCHAR), n, enc
FROM ({_Q09_TENC_SQL})
UNION ALL
SELECT 'gini', o_orderpriority,
       CAST(total_cents AS VARCHAR) || ':' || CAST(s_scaled AS VARCHAR),
       n, gini
FROM ({_Q09_GINI_SQL})
UNION ALL
SELECT 'woe', category,
       concat_ws(':', CAST(g AS VARCHAR), CAST(b AS VARCHAR),
                 CAST(woe_scaled AS VARCHAR), CAST(iv_term_scaled AS VARCHAR),
                 CAST(iv_scaled AS VARCHAR)),
       g + b, woe
FROM ({_Q09_WOE_SQL})
UNION ALL
SELECT 'mwu', 'O:F',
       CAST(u2_a AS VARCHAR) || ':' || CAST(tie_cubes AS VARCHAR),
       CAST(n_a + n_b AS BIGINT), z_stat
FROM ({_Q09_MWU_SQL})
UNION ALL
SELECT 'anova', grp,
       CAST(s_g AS VARCHAR) || ':' || CAST(q_g AS VARCHAR) || ':'
           || CAST(COALESCE(CAST(floor(eta2 * 1000000 + 0.5) AS BIGINT), -1) AS VARCHAR),
       n_g, f_stat
FROM ({_Q09_ANOVA_SQL})
UNION ALL
SELECT 'levene', grp,
       CAST(s_g AS VARCHAR) || ':' || CAST(q_g AS VARCHAR) || ':'
           || CAST(COALESCE(CAST(floor(eta2 * 1000000 + 0.5) AS BIGINT), -1) AS VARCHAR),
       n_g, f_stat
FROM ({_Q09_LEVENE_SQL})
UNION ALL
SELECT 'kw', grp, CAST(r2x AS VARCHAR), n_g, h_tie
FROM ({_Q09_KW_SQL})
UNION ALL
SELECT 'bh', o_orderpriority,
       CAST(p_scaled AS VARCHAR) || ':' || CAST(p_rank AS VARCHAR)
           || ':' || CAST(CAST(rejected AS INTEGER) AS VARCHAR),
       m, t_stat
FROM ({_Q09_BH_SQL})
"""


# --------------------------------------------------------------------------
# q12 — set operations: intersect / except / union
def q12_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    big_spenders = orders.filter(F.col("o_totalprice") > 300000.0).select(
        F.col("o_custkey").alias("k")
    ).distinct()
    auto = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("k")
    ).distinct()
    rows = [
        ("intersect", big_spenders.intersect(auto)),
        ("except", big_spenders.exceptAll(auto).distinct()),
        ("union", big_spenders.union(auto).distinct()),
    ]
    out = None
    for op, df in rows:
        one = df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")
        out = one if out is None else out.unionByName(one)
    return out


Q12_SQL = """
WITH big AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 300000.0),
     auto AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
SELECT 'intersect' AS op, count(*) AS n FROM (SELECT k FROM big INTERSECT SELECT k FROM auto)
UNION ALL
SELECT 'except' AS op, count(*) AS n FROM (SELECT k FROM big EXCEPT SELECT k FROM auto)
UNION ALL
SELECT 'union' AS op, count(*) AS n FROM (SELECT k FROM big UNION SELECT k FROM auto)
"""


# --------------------------------------------------------------------------
# q13 — scalar function surface: string / math / conditional / date,
# row-level (date arithmetic absorbed from the former q28 on a
# synthesized per-row date, so date_trunc/last_day/datediff keep a
# per-row gate).
def q13_scalar_functions(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    d = F.date_add(F.lit("1996-01-01").cast("date"), F.col("p_size"))
    return part.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.length(F.col("p_name")).cast("bigint").alias("name_len"),
        F.substring(F.col("p_type"), 1, 5).alias("type_prefix"),
        F.concat_ws("-", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("marked_up"),
        F.abs(F.col("p_size") - F.lit(25)).cast("bigint").alias("size_dist"),
        (F.col("p_size") % 7).cast("bigint").alias("size_mod"),
        F.round(F.sqrt(F.col("p_retailprice")), 6).alias("price_sqrt"),
        F.when(F.col("p_size") > 25, "large").otherwise("small").alias("size_class"),
        d.alias("ship_by"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).cast("bigint").alias("age_days"),
    )


Q13_SQL = """
SELECT p_partkey, upper(p_name) AS name_upper, length(p_name) AS name_len,
       substring(p_type, 1, 5) AS type_prefix,
       concat_ws('-', p_brand, p_type) AS brand_type,
       round(p_retailprice * 1.1, 2) AS marked_up,
       CAST(abs(p_size - 25) AS BIGINT) AS size_dist,
       CAST(p_size % 7 AS BIGINT) AS size_mod,
       round(sqrt(p_retailprice), 6) AS price_sqrt,
       CASE WHEN p_size > 25 THEN 'large' ELSE 'small' END AS size_class,
       DATE '1996-01-01' + p_size AS ship_by,
       date_trunc('month', DATE '1996-01-01' + p_size)::DATE AS month_start,
       last_day(DATE '1996-01-01' + p_size) AS month_end,
       datediff('day', DATE '1996-01-01' + p_size, DATE '1998-12-31') AS age_days
FROM part
"""


# --------------------------------------------------------------------------
# q17 — pivot → unpivot round trip (merged former q17 + q30): the wide
# pivot (status counts per priority, NULL cells zero-filled) is melted
# straight back to long form, so one plan exercises BOTH reshaping
# operators and the output is the zero-completed (priority, status)
# count grid.
def q17_pivot_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    # pivot yields NULL for empty cells; the oracle's CASE-sum yields 0
    wide = piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_f", "n_o", "n_p"],
        variableColumnName="status_col",
        valueColumnName="n",
    )


Q17_SQL = """
UNPIVOT (
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
    FROM orders GROUP BY o_orderpriority
) ON n_f, n_o, n_p INTO NAME status_col VALUE n
"""


# --------------------------------------------------------------------------
# q18 — range join against a broadcast band dimension
PRICE_BANDS = [("budget", 0.0, 20000.0), ("mid", 20000.0, 60000.0), ("premium", 60000.0, 1e9)]


def q18_range_join(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    joined = asof_ops.range_join(li, bands, "l_extendedprice")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def q18_range_join_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """The large-×-large scale strategy for the SAME query: bucketize
    the range key, expand each band to the buckets its span touches,
    EQUI-join on the bucket (hash join — no nested loop), re-check the
    exact predicate. Must produce exactly q18_range_join's result."""
    width = 1000.0
    li = asof_ops.bucketize_range(
        load_table(spark, sf, "lineitem"), "l_extendedprice", width
    )
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    expanded = bands.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / width).cast("bigint"),
                F.floor((F.col("hi") - F.lit(1e-9)) / width).cast("bigint"),
            )
        ),
    )
    joined = li.join(expanded, "_bucket").filter(
        (F.col("l_extendedprice") >= F.col("lo"))
        & (F.col("l_extendedprice") < F.col("hi"))
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


Q18_SQL = f"""
SELECT band, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
JOIN (VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)}) AS bands(band, lo, hi)
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band
"""


# --------------------------------------------------------------------------
# q19 — as-of join oracle: for each purchase, the user's most recent
# signup <= ts. The Spark side is q18's 'asof' part (asof_join_multi).
Q19_SQL = """
WITH p AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events WHERE event_type = 'purchase'),
     s AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'signup')
SELECT p.event_id, p.user_id, p.ts,
       max(s.ts) AS signup_ts,
       epoch_us(p.ts) - epoch_us(max(s.ts)) AS lag_us,
       round(p.value, 2) AS value
FROM p JOIN s ON s.user_id = p.user_id AND s.ts <= p.ts
GROUP BY p.event_id, p.user_id, p.ts, p.value
"""


# forward as-of: earliest signup at-or-after the purchase
Q19F_SQL = """
WITH p AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events WHERE event_type = 'purchase'),
     s AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'signup')
SELECT p.event_id, p.user_id, p.ts,
       min(s.ts) AS signup_ts,
       epoch_us(p.ts) - epoch_us(min(s.ts)) AS lag_us,
       round(p.value, 2) AS value
FROM p JOIN s ON s.user_id = p.user_id AND s.ts >= p.ts
GROUP BY p.event_id, p.user_id, p.ts, p.value
"""


# nearest as-of: minimal |lag|, earlier signup (backward) wins ties
Q19N_SQL = """
WITH p AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events WHERE event_type = 'purchase'),
     s AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'signup')
SELECT event_id, user_id, ts, signup_ts, lag_us, value FROM (
    SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts,
           epoch_us(p.ts) - epoch_us(s.ts) AS lag_us,
           round(p.value, 2) AS value,
           row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(s.ts)), s.ts
           ) AS rn
    FROM p JOIN s ON s.user_id = p.user_id
) WHERE rn = 1
"""


# nearest WITH TOLERANCE: out-of-tolerance candidates are absent, so
# the nearest pick is taken over the within-2h set only
Q19T_SQL = """
WITH p AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events WHERE event_type = 'purchase'),
     s AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'signup')
SELECT event_id, user_id, ts, signup_ts, lag_us, value FROM (
    SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts,
           epoch_us(p.ts) - epoch_us(s.ts) AS lag_us,
           round(p.value, 2) AS value,
           row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(s.ts)), s.ts
           ) AS rn
    FROM p JOIN s ON s.user_id = p.user_id
       AND abs(epoch_us(p.ts) - epoch_us(s.ts)) <= 7200000000
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# q21 — the approximation surface, HASH-GATED: the portable HLL
# (md5-derived registers, integer-exact register sums — see
# operators.sketches) makes even the approximate estimate bit-
# reproducible across engines, so the oracle recomputes the identical
# sketch instead of settling for a rows-only check. Three parts:
# fine-key estimates, the register-MERGE rollup (the 100 TB pattern:
# rollups re-merge kilobyte register tables, never the raw data), and
# the exact distinct count alongside — so the gate also WITNESSES the
# approximation error (~4.6% at p=9). Spark's native Datasketches HLL
# and percentile_approx remain covered by tests/test_sketches.py
# (accuracy-bound assertions; their binary sketches are not engine-
# portable by design).
def q21_approx_sketches(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.operators import sketches

    li = load_table(spark, sf, "lineitem")
    # lazy localCheckpoint (round 11): the fine register table feeds
    # BOTH the fine estimate and the rolled-up merge — the md5-per-row
    # register build is the expensive term and ran twice; the
    # materialized frame is |groups|×2^p rows (tiny)
    fine_regs = sketches.portable_hll_registers(
        li, ["l_returnflag", "l_linestatus"], "l_partkey"
    ).localCheckpoint(eager=False)
    fine = sketches.portable_hll_estimate(
        fine_regs, ["l_returnflag", "l_linestatus"]
    ).select(
        F.lit("fine").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        F.col("approx_distinct").alias("est"),
    )
    rolled_regs = sketches.portable_hll_merge(fine_regs, "l_returnflag")
    rolled = sketches.portable_hll_estimate(rolled_regs, "l_returnflag").select(
        F.lit("rolled").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("approx_distinct").alias("est"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").cast("double").alias("est")
    ).select(
        F.lit("exact").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        "est",
    )

    # approximate percentile, portable flavor: exact DISCRETE median of
    # a deterministic 1/16 hash-sample (an actual element is selected —
    # no interpolation arithmetic to diverge across engines), with the
    # full-data discrete median alongside as the error witness.
    # Scale note: pctl_exact sorts each group in one reducer — it is
    # the TEST-SCALE witness that bounds the sample median's error,
    # not a production pattern; at corpus scale you run only the
    # hash-sample path (the sample rate is the error knob), which
    # sorts 1/16 of the data with the same per-group window.
    from pyspark.sql import Window as W

    from stepist_spark.functions.hashing import word_hash32

    rowkey = F.concat(
        F.col("l_orderkey").cast("string"), F.lit(":"), F.col("l_linenumber").cast("string")
    )

    def _disc_median(src: DataFrame, tag: str) -> DataFrame:
        w = W.partitionBy("l_returnflag").orderBy(
            "l_extendedprice", "l_orderkey", "l_linenumber"
        )
        wn = W.partitionBy("l_returnflag")
        return (
            src.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(wn))
            .filter(F.col("_rn") == F.ceil(F.col("_n") * 0.5).cast("bigint"))
            .select(
                F.lit(tag).alias("part"),
                F.col("l_returnflag").alias("k1"),
                F.lit(None).cast("string").alias("k2"),
                F.col("l_extendedprice").alias("est"),
            )
        )

    base = li.select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
    samp = base.filter(F.pmod(word_hash32(rowkey), F.lit(16)) == 0)
    pctl = _disc_median(samp, "pctl_sample")
    pctl_exact = _disc_median(base, "pctl_exact")

    # mergeable QUANTILE sketch (log-linear integer buckets): the full
    # bucket table certified word-for-word + the rank-located quantile
    # estimates, both hash-gated
    prices = li.select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_c")
    )
    qsk = sketches.qsketch_build(prices, "price_c", sub_bits=5).localCheckpoint(
        eager=False
    )
    qsk_cells = qsk.select(
        F.lit("qsk_cells").alias("part"),
        F.col("bucket").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("cnt").cast("double").alias("est"),
    )
    qsk_est = sketches.qsketch_quantiles(
        qsk, [(1, 2), (9, 10), (99, 100)], sub_bits=5
    ).select(
        F.lit("qsk_est").alias("part"),
        F.concat(F.col("q_num").cast("string"), F.lit("/"), F.col("q_den").cast("string")).alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("est").cast("double").alias("est"),
    )

    # temporal sketch rollup (round 5): rolling 7-day distinct actives
    # from MERGED per-day registers — the merge-don't-rescan twin of
    # q22's exact 'wau' part, with the exact value as the error witness
    wau = sketches.rolling_hll_actives(
        load_table(spark, sf, "events"), "user_id", "ts", window_days=7
    ).select(
        F.lit("wau_hll").alias("part"),
        F.col("day").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("approx_active_users").alias("est"),
    )
    # set-algebra over sketches (round 6): inclusion-exclusion
    # intersection estimates for every event-type pair of user sets —
    # pairwise register-MAX merges over the kilobyte register table,
    # never the raw events — with the exact intersection as witness
    ev = load_table(spark, sf, "events")
    type_regs = sketches.portable_hll_registers(ev, "event_type", "user_id")
    hp_all = sketches.hll_pair_intersections(type_regs, "event_type")
    pair_key = F.concat(F.col("label_a"), F.lit(">"), F.col("label_b"))
    hp = hp_all.select(
        F.lit("hll_pair").alias("part"),
        pair_key.alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("est_inter").alias("est"),
    ).unionByName(
        hp_all.select(
            F.lit("hll_union").alias("part"),
            pair_key.alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("est_union").alias("est"),
        )
    )
    tu = ev.select("event_type", "user_id").distinct()
    pair_exact = (
        tu.alias("a")
        .join(tu.alias("b"), "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .select(
            F.lit("pair_exact").alias("part"),
            F.concat(F.col("ta"), F.lit(">"), F.col("tb")).alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("n_inter").cast("double").alias("est"),
        )
    )
    return (
        fine.unionByName(rolled)
        .unionByName(exact)
        .unionByName(pctl)
        .unionByName(pctl_exact)
        .unionByName(qsk_cells)
        .unionByName(qsk_est)
        .unionByName(wau)
        .unionByName(hp)
        .unionByName(pair_exact)
    )


def _q21_sql() -> str:
    from stepist_spark.functions.hashing import span_hash60_sql
    from stepist_spark.operators.sketches import (
        HLL_P,
        HLL_SCALE_BITS,
        hll_alpha_mm,
    )

    m = 1 << HLL_P
    maxbits = 60 - HLL_P
    # explicit DOUBLE casts: DuckDB parses bare decimal literals as
    # DECIMAL and the product overflows DECIMAL(18); the cast value is
    # the same nearest-double (repr round-trips), so both engines
    # multiply the identical pair of doubles
    amm = f"CAST({hll_alpha_mm()!r} AS DOUBLE)"
    scale = f"CAST({float(1 << HLL_SCALE_BITS)!r} AS DOUBLE)"
    h = span_hash60_sql("CAST(l_partkey AS VARCHAR)")
    raw = f"{amm} * {scale} / s_total"

    def est(select_keys: str, group_keys: str, regs: str) -> str:
        return f"""
SELECT {select_keys},
       round(CASE WHEN ({m} - n_present) > 0 AND ({raw}) <= {2.5 * m}
             THEN {float(m)!r} * ln({float(m)!r} / ({m} - n_present))
             ELSE {raw} END, 4) AS est
FROM (
    SELECT {group_keys},
           CAST(sum(1::BIGINT << ({HLL_SCALE_BITS} - reg)) AS BIGINT)
             + ({m} - count(*)) * (1::BIGINT << {HLL_SCALE_BITS}) AS s_total,
           count(*) AS n_present
    FROM {regs} GROUP BY {group_keys}
)
"""

    hu = span_hash60_sql("CAST(user_id AS VARCHAR)")
    return f"""
WITH fine_regs AS (
    SELECT l_returnflag, l_linestatus, bucket, max(rho) AS reg FROM (
        SELECT l_returnflag, l_linestatus,
               ({h}) % {m} AS bucket,
               CASE WHEN (({h}) >> {HLL_P}) = 0 THEN {maxbits + 1}
                    ELSE {maxbits + 1} - length(bin(({h}) >> {HLL_P})) END AS rho
        FROM lineitem
    ) GROUP BY l_returnflag, l_linestatus, bucket
),
wau_day_regs AS (
    SELECT d, bucket, max(rho) AS reg FROM (
        SELECT CAST(ts AS DATE) AS d,
               ({hu}) % {m} AS bucket,
               CASE WHEN (({hu}) >> {HLL_P}) = 0 THEN {maxbits + 1}
                    ELSE {maxbits + 1} - length(bin(({hu}) >> {HLL_P})) END AS rho
        FROM events
    ) GROUP BY d, bucket
),
wau_merged AS (
    SELECT day, bucket, max(reg) AS reg FROM (
        SELECT d + CAST(o AS INTEGER) AS day, bucket, reg
        FROM wau_day_regs, (SELECT unnest(generate_series(0, 6)) AS o)
    ) c
    JOIN (SELECT DISTINCT d AS day FROM wau_day_regs) obs USING (day)
    GROUP BY day, bucket
),
rolled_regs AS (
    SELECT l_returnflag, bucket, max(reg) AS reg
    FROM fine_regs GROUP BY l_returnflag, bucket
),
type_regs AS (
    SELECT event_type, bucket, max(rho) AS reg FROM (
        SELECT event_type,
               ({hu}) % {m} AS bucket,
               CASE WHEN (({hu}) >> {HLL_P}) = 0 THEN {maxbits + 1}
                    ELSE {maxbits + 1} - length(bin(({hu}) >> {HLL_P})) END AS rho
        FROM events
    ) GROUP BY event_type, bucket
),
type_pairs AS (
    SELECT a.event_type AS label_a, b.event_type AS label_b
    FROM (SELECT DISTINCT event_type FROM events) a
    JOIN (SELECT DISTINCT event_type FROM events) b
      ON a.event_type < b.event_type
),
pair_regs AS (
    SELECT p.label_a, p.label_b, r.bucket, max(r.reg) AS reg
    FROM type_pairs p
    JOIN type_regs r ON r.event_type = p.label_a OR r.event_type = p.label_b
    GROUP BY 1, 2, 3
),
qsk_cells_t AS (
    SELECT bucket, count(*) AS cnt FROM (
        SELECT CASE WHEN v < 32 THEN v
                    ELSE (length(format('{{:b}}', v)) - 1) * 32
                         + v // (1::BIGINT << CAST(length(format('{{:b}}', v)) - 1 - 5 AS INT)) - 32
               END AS bucket
        FROM (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v FROM lineitem)
    ) GROUP BY bucket
),
qsk_cum AS (
    SELECT bucket,
           sum(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
           sum(cnt) OVER () AS n
    FROM qsk_cells_t
),
qsk_lb AS (
    SELECT bucket, cum, n,
           CASE WHEN bucket < 32 THEN bucket
                ELSE CAST(32 + bucket % 32 AS BIGINT)
                     << CAST(bucket // 32 - 5 AS INT)
           END AS lb
    FROM qsk_cum
)
SELECT 'fine' AS part, l_returnflag AS k1, l_linestatus AS k2, est FROM (
    {est("l_returnflag, l_linestatus", "l_returnflag, l_linestatus", "fine_regs")}
)
UNION ALL
SELECT 'rolled', l_returnflag, CAST(NULL AS VARCHAR), est FROM (
    {est("l_returnflag", "l_returnflag", "rolled_regs")}
)
UNION ALL
SELECT 'exact', l_returnflag, CAST(NULL AS VARCHAR),
       CAST(count(DISTINCT l_partkey) AS DOUBLE)
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'pctl_sample', l_returnflag, CAST(NULL AS VARCHAR), est FROM (
    SELECT l_returnflag, l_extendedprice AS est,
           row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
           count(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
    WHERE ({_q21_samp_hash()}) % 16 = 0
) WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)
UNION ALL
SELECT 'pctl_exact', l_returnflag, CAST(NULL AS VARCHAR), est FROM (
    SELECT l_returnflag, l_extendedprice AS est,
           row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
           count(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
) WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)
UNION ALL
SELECT 'qsk_cells', CAST(bucket AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(cnt AS DOUBLE)
FROM qsk_cells_t
UNION ALL
SELECT 'qsk_est', '1/2', CAST(NULL AS VARCHAR), CAST(min(lb) AS DOUBLE)
FROM qsk_lb WHERE cum >= greatest(1, (1 * n + 2 - 1) // 2)
UNION ALL
SELECT 'qsk_est', '9/10', CAST(NULL AS VARCHAR), CAST(min(lb) AS DOUBLE)
FROM qsk_lb WHERE cum >= greatest(1, (9 * n + 10 - 1) // 10)
UNION ALL
SELECT 'qsk_est', '99/100', CAST(NULL AS VARCHAR), CAST(min(lb) AS DOUBLE)
FROM qsk_lb WHERE cum >= greatest(1, (99 * n + 100 - 1) // 100)
UNION ALL
SELECT 'wau_hll', CAST(day AS VARCHAR), CAST(NULL AS VARCHAR), est FROM (
    {est("day", "day", "wau_merged")}
)
UNION ALL
SELECT 'hll_union', label_a || '>' || label_b, CAST(NULL AS VARCHAR), est FROM (
    {est("label_a, label_b", "label_a, label_b", "pair_regs")}
)
UNION ALL
SELECT 'hll_pair', u.label_a || '>' || u.label_b, CAST(NULL AS VARCHAR),
       round(ea.est + eb.est - u.est, 4)
FROM ({est("label_a, label_b", "label_a, label_b", "pair_regs")}) u
JOIN ({est("event_type", "event_type", "type_regs")}) ea
  ON ea.event_type = u.label_a
JOIN ({est("event_type", "event_type", "type_regs")}) eb
  ON eb.event_type = u.label_b
UNION ALL
SELECT 'pair_exact', ta || '>' || tb, CAST(NULL AS VARCHAR),
       CAST(count(*) AS DOUBLE)
FROM (
    SELECT a.event_type AS ta, b.event_type AS tb, a.user_id
    FROM (SELECT DISTINCT event_type, user_id FROM events) a
    JOIN (SELECT DISTINCT event_type, user_id FROM events) b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
) GROUP BY ta, tb
"""


def _q21_samp_hash() -> str:
    from stepist_spark.functions.hashing import word_hash32_sql

    return word_hash32_sql(
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
    )


Q21_SQL = _q21_sql()


# --------------------------------------------------------------------------
# q22 — tumbling event-time window via the streaming helper's batch path
# (stepist_spark.streaming.windows.tumbling_agg: same code the streaming
# runtime runs, here oracle-gated against DuckDB date_trunc buckets —
# valid because 1-hour tumbling windows are epoch-aligned).
def q22_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.streaming.windows import tumbling_agg

    ev = load_table(spark, sf, "events")
    return tumbling_agg(
        ev,
        "ts",
        "1 hour",
        [
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            # JSON extraction rides along (absorbed from the former q15
            # hourly rollup — same buckets, same grain)
            F.sum(F.get_json_object(F.col("props"), "$.k").cast("bigint")).alias("sum_k"),
        ],
        group_by=["event_type"],
    )


Q22_SQL = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       date_trunc('hour', ts::TIMESTAMP) AS window_start,
       date_trunc('hour', ts::TIMESTAMP) + INTERVAL 1 HOUR AS window_end
FROM events GROUP BY event_type, window_start
"""


# --------------------------------------------------------------------------
# q23 — session windows (30-minute gap) via the streaming helper's batch
# path. Spark session_window semantics: a gap of exactly 30min starts a
# NEW session (windows are [ts, ts+gap) and merge only on overlap), so
# the oracle's lag-based sessionization uses `>= gap`.
def q23_session_window(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.streaming.windows import session_agg

    ev = load_table(spark, sf, "events")
    return session_agg(
        ev,
        "ts",
        "30 minutes",
        [F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value")],
        group_by=["user_id"],
    )


Q23_SQL = """
WITH x AS (
    SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
           lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
), s AS (
    SELECT *, sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) >= 1800000000
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
    FROM x
)
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value,
       min(ts) AS window_start, max(ts) + INTERVAL 30 MINUTE AS window_end
FROM s GROUP BY user_id, sess
"""


# --------------------------------------------------------------------------
# q32 — the subquery surface in one gate (merged former q32 + q33):
# IN / NOT IN subqueries including the NOT IN three-valued-logic trap,
# plus uncorrelated scalar subqueries in SELECT and WHERE position.
def q32_subqueries(spark: SparkSession, sf: str) -> DataFrame:
    load_table(spark, sf, "supplier").createOrReplaceTempView("_q32_supplier")
    load_table(spark, sf, "nation").createOrReplaceTempView("_q32_nation")
    # The NULL trap sits in WHERE position: projected NOT-IN-with-NULL
    # is where engines drift from the standard (Spark returns FALSE for
    # the not-found case where the standard says UNKNOWN); the WHERE
    # form (null-aware anti-join: any NULL in the subquery filters ALL
    # rows) is standard on both engines, so trap_count must be 0.
    return spark.sql(
        """
        SELECT s_suppkey, s_name,
               s_nationkey IN (SELECT n_nationkey FROM _q32_nation WHERE n_regionkey = 0)
                   AS in_region0,
               s_nationkey NOT IN (SELECT n_nationkey FROM _q32_nation WHERE n_regionkey = 1)
                   AS not_in_region1,
               (SELECT count(*) FROM _q32_supplier
                WHERE s_nationkey NOT IN (SELECT CASE WHEN n_regionkey = 2 THEN NULL
                                                      ELSE n_nationkey END
                                          FROM _q32_nation))
                   AS trap_count,
               round(s_acctbal - (SELECT avg(s_acctbal) FROM _q32_supplier), 2)
                   AS delta_from_mean
        FROM _q32_supplier
        WHERE s_acctbal <= (SELECT max(s_acctbal) FROM _q32_supplier)
        """
    )


Q32_SQL = """
SELECT s_suppkey, s_name,
       s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
           AS in_region0,
       s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
           AS not_in_region1,
       (SELECT count(*) FROM supplier
        WHERE s_nationkey NOT IN (SELECT CASE WHEN n_regionkey = 2 THEN NULL
                                              ELSE n_nationkey END
                                  FROM nation))
           AS trap_count,
       round(s_acctbal - (SELECT avg(s_acctbal) FROM supplier), 2)
           AS delta_from_mean
FROM supplier
WHERE s_acctbal <= (SELECT max(s_acctbal) FROM supplier)
"""


# --------------------------------------------------------------------------
# q24 — correlated scalar subquery: customers above their nation's mean
# balance. Spark: SQL correlated subquery (decorrelated by Catalyst
# into an aggregate + join — the plan a hand-written join would give).
def q24_correlated_subquery(spark: SparkSession, sf: str) -> DataFrame:
    load_table(spark, sf, "customer").createOrReplaceTempView("_q24_customer")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
        FROM _q24_customer o
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM _q24_customer i
                           WHERE i.c_nationkey = o.c_nationkey)
        """
    )


Q24_SQL = """
SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
FROM customer o
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer i
                   WHERE i.c_nationkey = o.c_nationkey)
"""


# --------------------------------------------------------------------------
# q25 — exact percentiles + array aggregation per group (merged former
# q25 + q26, same l_returnflag grain). l_quantity is whole numbers, so
# the percentile interpolation (lo + frac*(hi-lo)) is FP-exact on both
# engines. The sliced distinct-quantity array ships as a STRING
# (concat_ws / array_to_string): the driver's canonicalizer pandas-sorts
# every output column and crashes on raw array cells (unhashable
# numpy.ndarray — the round-1 q26 failure), so no registered query may
# output an array-typed column.
def q25_percentile_arrays(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    arr = F.array_sort(F.collect_set(F.col("l_quantity").cast("bigint")))
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.25)").alias("p25_qty"),
        F.expr("percentile(l_quantity, 0.95)").alias("p95_qty"),
        F.concat_ws(
            ",", F.transform(F.slice(arr, 1, 5), lambda x: x.cast("string"))
        ).alias("low5"),
        F.size(arr).cast("bigint").alias("n_distinct_qty"),
        F.element_at(arr, -1).alias("max_qty"),
    )


Q25_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.25) AS p25_qty,
       quantile_cont(l_quantity, 0.95) AS p95_qty,
       array_to_string(list_sort(list(DISTINCT CAST(l_quantity AS BIGINT)))[1:5], ',') AS low5,
       len(list(DISTINCT CAST(l_quantity AS BIGINT))) AS n_distinct_qty,
       list_sort(list(DISTINCT CAST(l_quantity AS BIGINT)))[-1] AS max_qty
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# q27 — string aggregation (listagg) with deterministic ordering
def q27_string_agg(spark: SparkSession, sf: str) -> DataFrame:
    na = load_table(spark, sf, "nation")
    re = load_table(spark, sf, "region")
    return (
        na.join(F.broadcast(re), na["n_regionkey"] == re["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


Q27_SQL = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --------------------------------------------------------------------------
# q34 — LATERAL correlated subquery join: each customer's top-2 orders
# by price. The lateral per-row subquery is the SQL-standard spelling;
# Catalyst decorrelates it into a ranked window join rather than
# executing per-customer probes.
def q34_lateral_topn(spark: SparkSession, sf: str) -> DataFrame:
    load_table(spark, sf, "customer").createOrReplaceTempView("_q34_customer")
    load_table(spark, sf, "orders").createOrReplaceTempView("_q34_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey,
               round(t.o_totalprice, 2) AS o_totalprice
        FROM _q34_customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice FROM _q34_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        """
    )


Q34_SQL = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey,
       round(t.o_totalprice, 2) AS o_totalprice
FROM customer c,
LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
"""


# --------------------------------------------------------------------------
# q35 — price histogram on exact integer cents (25,000.00-wide buckets):
# engine-portable bucketing without width_bucket's FP boundary hazards.
# Per-bucket multi-distinct aggregation rides along (absorbed from the
# former q11): count distinct + min/max/avg per bucket.
def q35_price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    bucket = (cents - cents % 2_500_000) / 2_500_000
    return (
        orders.withColumn("bucket", bucket.cast("bigint"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


Q35_SQL = """
SELECT CAST((cents - cents % 2500000) / 2500000 AS BIGINT) AS bucket,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price,
       count(DISTINCT o_custkey) AS n_customers,
       round(avg(o_totalprice), 4) AS avg_price,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_totalprice, o_custkey FROM orders)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Tag-union merged gates (round-2, second pass): the driver verifies
# only the first 50 registry entries, and the LLM-pipeline surface grew
# past the window, so paired relational gates are unioned under a
# common tagged schema (the q09 pattern). Each wrapper reuses the
# ORIGINAL query function and oracle SQL unchanged — both engines remap
# the same sub-results to the same generic columns, so per-query
# correctness semantics are untouched.
def q07_grouped_topn(spark: SparkSession, sf: str) -> DataFrame:
    w = q07_top_orders_per_segment(spark, sf).select(
        F.lit("window").alias("part"),
        F.col("c_mktsegment").alias("seg"),
        F.col("rn").cast("bigint").alias("k"),
        "o_orderkey",
        F.col("totalprice").alias("price"),
    )
    lat = q34_lateral_topn(spark, sf).select(
        F.lit("lateral").alias("part"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_custkey").cast("bigint").alias("k"),
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
    )
    return w.unionByName(lat)


Q07M_SQL = f"""
SELECT 'window' AS part, c_mktsegment AS seg, CAST(rn AS BIGINT) AS k,
       o_orderkey, totalprice AS price
FROM ({Q07_SQL})
UNION ALL
SELECT 'lateral', c_mktsegment, CAST(c_custkey AS BIGINT), o_orderkey, o_totalprice
FROM ({Q34_SQL})
"""


def _diff_snapshots(spark: SparkSession, sf: str):
    """Deterministic old/new snapshot pair carved from orders: every
    35th key of the old slice is removed, every (k % 3 == 1) key's
    custkey shifts (changed), and the % 7 == 3 slice arrives as new
    keys (added)."""
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.ascii("o_orderstatus").cast("bigint").alias("st"),
    )
    old = o.filter(F.col("k") % 7 == 0)
    new = (
        old.filter(F.col("k") % 35 != 0)
        .select(
            "k",
            F.when(F.col("k") % 3 == 1, F.col("ck") + 3).otherwise(F.col("ck")).alias("ck"),
            F.when(F.col("k") % 5 == 2, F.col("st") + 1).otherwise(F.col("st")).alias("st"),
        )
        .unionByName(o.filter(F.col("k") % 7 == 3))
    )
    return old, new


def q12_reshape_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    s = q12_set_ops(spark, sf).select(
        F.lit("setop").alias("part"),
        F.col("op").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n").cast("bigint").alias("n"),
    )
    p = q17_pivot_unpivot(spark, sf).select(
        F.lit("pivot").alias("part"),
        F.col("o_orderpriority").alias("k1"),
        F.col("status_col").alias("k2"),
        F.col("n").cast("bigint").alias("n"),
    )
    # snapshot diff rides along (operators/cdc.snapshot_diff): status
    # counts plus per-column change attribution over a deterministic
    # old/new pair — full outer join set semantics, the same family
    from stepist_spark.operators.cdc import snapshot_diff

    old, new = _diff_snapshots(spark, sf)
    diff = snapshot_diff(old, new, ["k"]).localCheckpoint(eager=False)
    d_status = diff.groupBy("status").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("diff").alias("part"),
        F.col("status").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n").cast("bigint").alias("n"),
    )
    d_cols = (
        diff.select(F.explode("changed_cols").alias("colname"))
        .groupBy("colname")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("diff_cols").alias("part"),
            F.col("colname").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("n").cast("bigint").alias("n"),
        )
    )
    return s.unionByName(p).unionByName(d_status).unionByName(d_cols)


_DIFF_SNAP_SQL = """
d_old AS (
    SELECT o_orderkey AS k, CAST(o_custkey AS BIGINT) AS ck,
           CAST(ascii(o_orderstatus) AS BIGINT) AS st
    FROM orders WHERE o_orderkey % 7 = 0
),
d_new AS (
    SELECT k, CASE WHEN k % 3 = 1 THEN ck + 3 ELSE ck END AS ck,
           CASE WHEN k % 5 = 2 THEN st + 1 ELSE st END AS st
    FROM d_old WHERE k % 35 <> 0
    UNION ALL
    SELECT o_orderkey, CAST(o_custkey AS BIGINT),
           CAST(ascii(o_orderstatus) AS BIGINT)
    FROM orders WHERE o_orderkey % 7 = 3
),
d_joined AS (
    SELECT COALESCE(o.k, n.k) AS k,
           o.k IS NOT NULL AS in_o, n.k IS NOT NULL AS in_n,
           (o.k IS NOT NULL AND n.k IS NOT NULL AND o.ck IS DISTINCT FROM n.ck) AS ch_ck,
           (o.k IS NOT NULL AND n.k IS NOT NULL AND o.st IS DISTINCT FROM n.st) AS ch_st
    FROM d_old o FULL OUTER JOIN d_new n ON o.k = n.k
),
d_status AS (
    SELECT CASE WHEN NOT in_o THEN 'added'
                WHEN NOT in_n THEN 'removed'
                WHEN ch_ck OR ch_st THEN 'changed'
                ELSE 'unchanged' END AS status, ch_ck, ch_st
    FROM d_joined
)
"""

Q12M_SQL = f"""
WITH {_DIFF_SNAP_SQL.strip()}
SELECT 'setop' AS part, op AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(n AS BIGINT) AS n
FROM ({Q12_SQL})
UNION ALL
SELECT 'pivot', o_orderpriority, status_col, CAST(n AS BIGINT) FROM ({Q17_SQL})
UNION ALL
SELECT 'diff', status, CAST(NULL AS VARCHAR), count(*) FROM d_status GROUP BY status
UNION ALL
SELECT 'diff_cols', 'ck', CAST(NULL AS VARCHAR), count(*) FROM d_status
WHERE ch_ck HAVING count(*) > 0
UNION ALL
SELECT 'diff_cols', 'st', CAST(NULL AS VARCHAR), count(*) FROM d_status
WHERE ch_st HAVING count(*) > 0
"""


def q13_scalar_string_suite(spark: SparkSession, sf: str) -> DataFrame:
    sc = q13_scalar_functions(spark, sf).select(
        F.lit("scalar").alias("part"),
        F.col("p_partkey").cast("string").alias("k1"),
        F.col("name_upper").alias("s1"),
        F.col("type_prefix").alias("s2"),
        F.col("brand_type").alias("s3"),
        F.col("size_class").alias("s4"),
        F.col("name_len").alias("n1"),
        F.col("size_dist").alias("n2"),
        F.col("size_mod").alias("n3"),
        F.col("age_days").alias("n4"),
        F.col("marked_up").alias("d1"),
        F.col("price_sqrt").alias("d2"),
        F.col("ship_by").alias("dt1"),
        F.col("month_start").alias("dt2"),
        F.col("month_end").alias("dt3"),
    )
    # array higher-order-function suite ('array' part): the list
    # surface a pipeline uses constantly — transform/filter/aggregate
    # fold/sort/distinct/slice all JVM-side (no UDF), mirrored by
    # DuckDB's list lambdas
    words = F.split(F.col("p_name"), " ")
    arr = load_table(spark, sf, "part").select(
        F.lit("array").alias("part"),
        F.col("p_partkey").cast("string").alias("k1"),
        F.array_join(F.array_sort(words), ",").alias("s1"),
        F.array_join(
            F.transform(words, lambda x: F.concat_ws(":", x, F.length(x).cast("string"))),
            ",",
        ).alias("s2"),
        F.array_join(F.slice(F.array_sort(words), 1, 2), ",").alias("s3"),
        F.array_join(F.reverse(F.array_sort(words)), ",").alias("s4"),
        F.aggregate(
            words, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("n1"),
        F.size(F.filter(words, lambda x: F.length(x) > 4)).cast("bigint").alias("n2"),
        F.size(F.array_distinct(words)).cast("bigint").alias("n3"),
        F.lit(None).cast("bigint").alias("n4"),
        F.lit(None).cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("date").alias("dt1"),
        F.lit(None).cast("date").alias("dt2"),
        F.lit(None).cast("date").alias("dt3"),
    )
    # regex scalar suite ('regex' part): extraction/replacement/match
    # counting with character-class patterns that parse identically in
    # Java regex and RE2
    rx = load_table(spark, sf, "part").select(
        F.lit("regex").alias("part"),
        F.col("p_partkey").cast("string").alias("k1"),
        F.regexp_extract(F.col("p_type"), "^([A-Z]+)", 1).alias("s1"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "_").alias("s2"),
        F.regexp_extract(F.col("p_brand"), "([0-9]+)", 1).alias("s3"),
        F.lit(None).cast("string").alias("s4"),
        F.size(F.expr("regexp_extract_all(p_name, '[a-z]+', 0)")).cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.lit(None).cast("bigint").alias("n4"),
        F.lit(None).cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("date").alias("dt1"),
        F.lit(None).cast("date").alias("dt2"),
        F.lit(None).cast("date").alias("dt3"),
    )
    sa = q27_string_agg(spark, sf).select(
        F.lit("stragg").alias("part"),
        F.col("r_name").alias("k1"),
        F.col("nations").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.lit(None).cast("string").alias("s3"),
        F.lit(None).cast("string").alias("s4"),
        F.col("n_nations").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.lit(None).cast("bigint").alias("n4"),
        F.lit(None).cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("date").alias("dt1"),
        F.lit(None).cast("date").alias("dt2"),
        F.lit(None).cast("date").alias("dt3"),
    )
    # table profiler rides along (operators/profiling.py): one-pass
    # exact per-column stats over orders' exact-typed columns
    from stepist_spark.operators.profiling import profile_table

    pr = profile_table(
        load_table(spark, sf, "orders"), _PROFILE_COLS
    ).select(
        F.lit("profile").alias("part"),
        F.col("col_name").alias("k1"),
        F.col("min_repr").alias("s1"),
        F.col("max_repr").alias("s2"),
        F.lit(None).cast("string").alias("s3"),
        F.lit(None).cast("string").alias("s4"),
        F.col("n_rows").alias("n1"),
        F.col("n_nulls").alias("n2"),
        F.col("n_distinct").alias("n3"),
        F.lit(None).cast("bigint").alias("n4"),
        F.lit(None).cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("date").alias("dt1"),
        F.lit(None).cast("date").alias("dt2"),
        F.lit(None).cast("date").alias("dt3"),
    )
    # data-quality expectations ride along (operators/expectations.py):
    # row-level checks share ONE aggregate pass; the report mixes
    # passing and violated constraints so the gate discriminates
    from stepist_spark.operators.expectations import expect

    ex = expect(load_table(spark, sf, "lineitem"), _EXPECT_CONSTRAINTS).select(
        F.lit("expect").alias("part"),
        F.col("constraint").alias("k1"),
        F.col("column").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.lit(None).cast("string").alias("s3"),
        F.lit(None).cast("string").alias("s4"),
        F.col("violations").alias("n1"),
        F.col("total").alias("n2"),
        F.col("passed").cast("bigint").alias("n3"),
        F.lit(None).cast("bigint").alias("n4"),
        F.lit(None).cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("date").alias("dt1"),
        F.lit(None).cast("date").alias("dt2"),
        F.lit(None).cast("date").alias("dt3"),
    )
    # Benford first-digit audit rides along (operators/profiling.py):
    # leading digit from the cents STRING — no log10 boundary risk
    from stepist_spark.operators.profiling import benford_digits, column_entropy

    bf = benford_digits(load_table(spark, sf, "orders"), "o_totalprice").select(
        F.lit("benford").alias("part"),
        F.col("digit").alias("k1"),
        F.lit(None).cast("string").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.lit(None).cast("string").alias("s3"),
        F.lit(None).cast("string").alias("s4"),
        F.col("n").alias("n1"),
        F.col("total").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.lit(None).cast("bigint").alias("n4"),
        F.col("share").alias("d1"),
        F.col("deviation").alias("d2"),
        F.lit(None).cast("date").alias("dt1"),
        F.lit(None).cast("date").alias("dt2"),
        F.lit(None).cast("date").alias("dt3"),
    )
    # per-column Shannon entropy rides along (same module): one
    # unpivot-explode scan, order-free integer log terms
    en = column_entropy(load_table(spark, sf, "orders"), _PROFILE_COLS).select(
        F.lit("entropy").alias("part"),
        F.col("col_name").alias("k1"),
        F.lit(None).cast("string").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.lit(None).cast("string").alias("s3"),
        F.lit(None).cast("string").alias("s4"),
        F.col("n").alias("n1"),
        F.col("n_distinct").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.lit(None).cast("bigint").alias("n4"),
        F.col("entropy").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("date").alias("dt1"),
        F.lit(None).cast("date").alias("dt2"),
        F.lit(None).cast("date").alias("dt3"),
    )
    return (
        sc.unionByName(arr)
        .unionByName(rx)
        .unionByName(sa)
        .unionByName(pr)
        .unionByName(ex)
        .unionByName(bf)
        .unionByName(en)
    )


#: mixed pass/fail so the expect gate discriminates: the between and
#: in_set checks are deliberately narrower than the data
_EXPECT_CONSTRAINTS = [
    ("not_null", "l_orderkey"),
    ("non_negative", "l_quantity"),
    ("between", "l_discount", 0.0, 0.05),
    ("in_set", "l_returnflag", ["A", "N"]),
    ("matches", "l_linestatus", "^[OF]$"),
    ("unique", ["l_orderkey", "l_linenumber"]),
    ("unique", ["l_partkey"]),
]


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_orderpriority",
    "o_orderdate",
]


def _q13_profile_sql() -> str:
    from stepist_spark.operators.profiling import profile_table_sql

    return profile_table_sql("SELECT * FROM orders", _PROFILE_COLS)


def _q13_expect_sql() -> str:
    from stepist_spark.operators.expectations import expect_sql

    return expect_sql("lineitem", _EXPECT_CONSTRAINTS)


def _q13_benford_sql() -> str:
    from stepist_spark.operators.profiling import benford_digits_sql

    return benford_digits_sql("SELECT * FROM orders", "o_totalprice")


def _q13_entropy_sql() -> str:
    from stepist_spark.operators.profiling import column_entropy_sql

    return column_entropy_sql("SELECT * FROM orders", _PROFILE_COLS)


Q13M_SQL = f"""
SELECT 'scalar' AS part, CAST(p_partkey AS VARCHAR) AS k1,
       name_upper AS s1, type_prefix AS s2, brand_type AS s3, size_class AS s4,
       name_len AS n1, size_dist AS n2, size_mod AS n3, age_days AS n4,
       marked_up AS d1, price_sqrt AS d2,
       ship_by AS dt1, month_start AS dt2, month_end AS dt3
FROM ({Q13_SQL})
UNION ALL
SELECT 'array', CAST(p_partkey AS VARCHAR),
       array_to_string(list_sort(string_split(p_name, ' ')), ','),
       array_to_string(list_transform(string_split(p_name, ' '),
                                      x -> x || ':' || CAST(length(x) AS VARCHAR)), ','),
       array_to_string(list_slice(list_sort(string_split(p_name, ' ')), 1, 2), ','),
       array_to_string(list_reverse(list_sort(string_split(p_name, ' '))), ','),
       CAST(list_sum(list_transform(string_split(p_name, ' '), x -> length(x))) AS BIGINT),
       CAST(len(list_filter(string_split(p_name, ' '), x -> length(x) > 4)) AS BIGINT),
       CAST(len(list_distinct(string_split(p_name, ' '))) AS BIGINT),
       CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(NULL AS DATE)
FROM part
UNION ALL
SELECT 'regex', CAST(p_partkey AS VARCHAR),
       regexp_extract(p_type, '^([A-Z]+)', 1),
       regexp_replace(p_name, '[aeiou]', '_', 'g'),
       regexp_extract(p_brand, '([0-9]+)', 1),
       CAST(NULL AS VARCHAR),
       CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(NULL AS DATE)
FROM part
UNION ALL
SELECT 'stragg', r_name, nations, NULL, NULL, NULL,
       CAST(n_nations AS BIGINT), NULL, NULL, NULL,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(NULL AS DATE)
FROM ({Q27_SQL})
UNION ALL
SELECT 'profile', col_name, min_repr, max_repr, NULL, NULL,
       n_rows, n_nulls, n_distinct, NULL,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(NULL AS DATE)
FROM ({_q13_profile_sql()})
UNION ALL
SELECT 'expect', "constraint", "column", NULL, NULL, NULL,
       violations, total, CAST(passed AS BIGINT), NULL,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(NULL AS DATE)
FROM ({_q13_expect_sql()})
UNION ALL
SELECT 'benford', digit, NULL, NULL, NULL, NULL,
       n, total, CAST(NULL AS BIGINT), NULL,
       share, deviation,
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(NULL AS DATE)
FROM ({_q13_benford_sql()})
UNION ALL
SELECT 'entropy', col_name, NULL, NULL, NULL, NULL,
       n, n_distinct, CAST(NULL AS BIGINT), NULL,
       entropy, CAST(NULL AS DOUBLE),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(NULL AS DATE)
FROM ({_q13_entropy_sql()})
"""


def q18_temporal_joins(spark: SparkSession, sf: str) -> DataFrame:
    rj = q18_range_join(spark, sf).select(
        F.lit("range").alias("part"),
        F.col("band").alias("k1"),
        F.lit(None).cast("timestamp_ntz").alias("ts1"),
        F.lit(None).cast("timestamp_ntz").alias("ts2"),
        F.col("n").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("sum_price").alias("d1"),
    )
    rb = q18_range_join_bucketed(spark, sf).select(
        F.lit("range_bucketed").alias("part"),
        F.col("band").alias("k1"),
        F.lit(None).cast("timestamp_ntz").alias("ts1"),
        F.lit(None).cast("timestamp_ntz").alias("ts2"),
        F.col("n").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("sum_price").alias("d1"),
    )

    # all four as-of views (backward / forward / nearest / tolerance-
    # bounded nearest) of the SAME purchases×signups pair share ONE
    # (user, time) sort via asof_join_multi — four separate asof_join
    # calls would re-shuffle the union identically four times
    ev_all = load_table(spark, sf, "events")
    purchases = ev_all.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = ev_all.filter(F.col("event_type") == "signup").select("user_id", "ts")
    aj_all = asof_ops.asof_join_multi(
        purchases,
        signups,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=[],
        specs=[
            ("asof", "backward", None),
            ("asof_fwd", "forward", None),
            ("asof_near", "nearest", None),
            # tolerance-bounded nearest: candidates beyond 2h are
            # treated as ABSENT, so the pick must fall back to the
            # other side before dropping the row
            ("asof_tol", "nearest", F.expr("INTERVAL 2 HOURS")),
        ],
    )
    lag_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("asof_ts").cast("timestamp")
    )
    aj = aj_all.select(
        "part",
        F.col("event_id").cast("string").alias("k1"),
        F.col("ts").alias("ts1"),
        F.col("asof_ts").alias("ts2"),
        F.col("user_id").cast("bigint").alias("n1"),
        lag_us.cast("bigint").alias("n2"),
        F.round("value", 2).alias("d1"),
    )

    # time-series regularization rides along (operators/timeseries.py):
    # per event type, a 6-hour grid forward-filled from the (type, ts)
    # pre-aggregated observations — one sequence explode + one as-of
    # sort, the hypertable gapfill/locf shape
    from stepist_spark.operators.timeseries import resample_ffill

    obs = (
        load_table(spark, sf, "events")
        .groupBy("event_type", "ts")
        .agg(F.round(F.max("value"), 2).alias("v"))
    )
    rs = resample_ffill(obs, "event_type", "ts", ["v"], step="6 hours").select(
        F.lit("resample").alias("part"),
        F.col("event_type").alias("k1"),
        F.col("grid_ts").alias("ts1"),
        F.col("ts").alias("ts2"),
        F.lit(None).cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("v").alias("d1"),
    )
    # time-weighted average (operators/timeseries.py): the hypertable
    # time_weight('LOCF') primitive over the raw irregular events —
    # exact decimal value×duration sums, one window + one agg
    from stepist_spark.operators.timeseries import time_weighted_avg

    tw = time_weighted_avg(
        load_table(spark, sf, "events"), ["event_type"], "ts", "value", "event_id"
    ).select(
        F.lit("twa").alias("part"),
        F.col("event_type").alias("k1"),
        F.col("first_ts").cast("timestamp_ntz").alias("ts1"),
        F.col("last_ts").cast("timestamp_ntz").alias("ts2"),
        F.col("n_samples").cast("bigint").alias("n1"),
        F.col("total_us").alias("n2"),
        F.col("twa").alias("d1"),
    )
    # OHLC candlestick downsampling rides along (operators/
    # timeseries.py): one min_by/max_by hash aggregate per (type, day)
    # — integer cents, composite epoch_us·10^19+id ordering key
    from stepist_spark.operators.timeseries import ohlc_bars

    oh = ohlc_bars(
        load_table(spark, sf, "events"), ["event_type"], "ts", "value", "event_id"
    ).select(
        F.lit("ohlc").alias("part"),
        F.concat_ws(
            ":",
            F.col("event_type"),
            F.col("open_cents").cast("string"),
            F.col("high_cents").cast("string"),
            F.col("low_cents").cast("string"),
            F.col("close_cents").cast("string"),
        ).alias("k1"),
        F.col("bucket").cast("timestamp_ntz").alias("ts1"),
        F.lit(None).cast("timestamp_ntz").alias("ts2"),
        F.col("n_ticks").alias("n1"),
        F.col("volume_cents").alias("n2"),
        F.col("vwap_cents").alias("d1"),
    )
    # CUSUM change-point rides along (operators/anomaly.py): the
    # largest cumulative level-shift deviation per event type —
    # multiplied-through exact integers, no float mean
    from stepist_spark.operators.anomaly import cusum_changepoint

    cu = cusum_changepoint(
        load_table(spark, sf, "events"), ["event_type"], "ts", "value", "event_id"
    ).select(
        F.lit("cusum").alias("part"),
        F.concat_ws(
            ":",
            F.col("event_type"),
            F.col("change_id").cast("string"),
            F.col("d_abs_scaled").cast("string"),
        ).alias("k1"),
        F.col("change_ts").cast("timestamp_ntz").alias("ts1"),
        F.lit(None).cast("timestamp_ntz").alias("ts2"),
        F.col("n").alias("n1"),
        F.col("t_at_max").alias("n2"),
        F.col("cusum_stat").alias("d1"),
    )
    # autocorrelation function rides along (operators/timeseries.py):
    # lag-1..5 Pearson of each type's DAILY cents series — the raw
    # events collapse to the day grain first, so the lag windows run
    # over |days|-sized frames; exact sufficient stats, corr_matrix
    # IEEE formula
    from stepist_spark.operators.timeseries import acf

    # the tiny (|types|×|days|) daily frame feeds TWO consumers (acf
    # and the Mann-Kendall trend below) — materialize it once instead
    # of re-running the events scan+aggregate per branch (guide §2.3)
    daily = (
        load_table(spark, sf, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("c").alias("v"))
        .localCheckpoint(eager=False)
    )
    ac = acf(daily, ["event_type"], "d", "v", max_lag=5).select(
        F.lit("acf").alias("part"),
        F.concat_ws(":", F.col("event_type"), F.col("lag").cast("string")).alias(
            "k1"
        ),
        F.lit(None).cast("timestamp_ntz").alias("ts1"),
        F.lit(None).cast("timestamp_ntz").alias("ts2"),
        F.col("n_pairs").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("corr").alias("d1"),
    )
    # cross-correlation function rides the same day grain (round 8,
    # operators/timeseries.py): lead-lag Pearson between daily
    # purchase cents and daily click counts at k = -3..3 — acf's
    # two-series generalization, one window pass over the |days| frame
    from stepist_spark.operators.timeseries import ccf

    two = (
        load_table(spark, sf, "events")
        .select(
            F.to_date("ts").alias("d"),
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        )
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("px"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("bigint")
            .alias("cy"),
        )
        .withColumn("g", F.lit("all"))
    )
    cc = ccf(two, ["g"], "d", "px", "cy", max_lag=3).select(
        F.lit("ccf").alias("part"),
        F.concat_ws(":", F.col("g"), F.col("lag").cast("string")).alias("k1"),
        F.lit(None).cast("timestamp_ntz").alias("ts1"),
        F.lit(None).cast("timestamp_ntz").alias("ts2"),
        F.col("n_pairs").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("corr").alias("d1"),
    )
    # Mann-Kendall + Theil-Sen rides the SAME day grain (round 9,
    # operators/timeseries.py): per-type monotone drift S/var18/z plus
    # the doubled exact-integer Sen slope median — the robust "is this
    # metric trending" readout over the bounded |days| frame
    from stepist_spark.operators.timeseries import mann_kendall_trend

    dtrend = daily.select(
        "event_type",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("t"),
        "v",
    )
    mk = mann_kendall_trend(dtrend, ["event_type"], "t", "v").select(
        F.lit("trend").alias("part"),
        F.concat_ws(
            ":",
            F.col("event_type"),
            F.col("s").cast("string"),
            F.col("var18").cast("string"),
            F.col("sen2x_scaled").cast("string"),
        ).alias("k1"),
        F.lit(None).cast("timestamp_ntz").alias("ts1"),
        F.lit(None).cast("timestamp_ntz").alias("ts2"),
        F.col("n_obs").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("z_stat").alias("d1"),
    )
    return (
        rj.unionByName(rb)
        .unionByName(aj)
        .unionByName(rs)
        .unionByName(tw)
        .unionByName(_q18_islands(spark, sf))
        .unionByName(oh)
        .unionByName(cu)
        .unionByName(ac)
        .unionByName(cc)
        .unionByName(mk)
    )


def _q18_islands(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-union (gaps-and-islands) part: each event claims a
    30-minute activity interval; overlapping intervals per user merge
    into islands (operators/timeseries.py merge_intervals)."""
    from stepist_spark.operators.timeseries import merge_intervals

    iv = load_table(spark, sf, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    return merge_intervals(iv, "k", "s", "e").select(
        F.lit("island").alias("part"),
        F.col("k").cast("string").alias("k1"),
        F.col("island_start").alias("ts1"),
        F.col("island_end").alias("ts2"),
        F.col("island").cast("bigint").alias("n1"),
        F.col("n_intervals").alias("n2"),
        F.col("covered_us").cast("double").alias("d1"),
    )


def _resample_sql() -> str:
    from stepist_spark.operators.timeseries import resample_ffill_sql

    return resample_ffill_sql(
        "SELECT event_type, ts::TIMESTAMP AS ts, round(max(value), 2) AS v "
        "FROM events GROUP BY event_type, ts",
        "event_type",
        "ts",
        ["v"],
        step_sql="INTERVAL 6 HOUR",
    )


_RESAMPLE_SQL = _resample_sql()


def _twa_sql() -> str:
    from stepist_spark.operators.timeseries import time_weighted_avg_sql

    return time_weighted_avg_sql(
        "SELECT event_type, ts::TIMESTAMP AS ts, value, event_id FROM events",
        ["event_type"], "ts", "value", "event_id",
    )


_TWA_SQL = _twa_sql()


def _islands_sql() -> str:
    from stepist_spark.operators.timeseries import merge_intervals_sql

    return merge_intervals_sql(
        "SELECT user_id AS k, ts::TIMESTAMP AS s, "
        "ts::TIMESTAMP + INTERVAL 30 MINUTE AS e FROM events"
    )


_ISLANDS_SQL = _islands_sql()


def _q18_ohlc_sql() -> str:
    from stepist_spark.operators.timeseries import ohlc_bars_sql

    return ohlc_bars_sql(
        "SELECT event_type, ts::TIMESTAMP AS ts, value, event_id FROM events",
        ["event_type"], "ts", "value", "event_id",
    )


_Q18_OHLC_SQL = _q18_ohlc_sql()


def _q18_cusum_sql() -> str:
    from stepist_spark.operators.anomaly import cusum_changepoint_sql

    return cusum_changepoint_sql(
        "SELECT event_type, ts::TIMESTAMP AS ts, value, event_id FROM events",
        ["event_type"], "ts", "value", "event_id",
    )


_Q18_CUSUM_SQL = _q18_cusum_sql()


def _q18_acf_sql() -> str:
    from stepist_spark.operators.timeseries import acf_sql

    return acf_sql(
        "SELECT event_type, CAST(ts AS DATE) AS d, "
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v "
        "FROM events GROUP BY event_type, CAST(ts AS DATE)",
        ["event_type"],
        "d",
        "v",
        max_lag=5,
    )


_Q18_ACF_SQL = _q18_acf_sql()


def _q18_ccf_sql() -> str:
    from stepist_spark.operators.timeseries import ccf_sql

    return ccf_sql(
        "SELECT 'all' AS g, CAST(ts AS DATE) AS d, "
        "CAST(sum(CASE WHEN event_type = 'purchase' "
        "THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS px, "
        "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cy "
        "FROM events GROUP BY CAST(ts AS DATE)",
        ["g"],
        "d",
        "px",
        "cy",
        max_lag=3,
    )


_Q18_CCF_SQL = _q18_ccf_sql()


def _q18_trend_sql() -> str:
    from stepist_spark.operators.timeseries import mann_kendall_trend_sql

    return mann_kendall_trend_sql(
        "SELECT event_type, "
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t, "
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v "
        "FROM events GROUP BY event_type, CAST(ts AS DATE)",
        ["event_type"],
        "t",
        "v",
    )


_Q18_TREND_SQL = _q18_trend_sql()

Q18M_SQL = f"""
SELECT 'range' AS part, band AS k1,
       CAST(NULL AS TIMESTAMP) AS ts1, CAST(NULL AS TIMESTAMP) AS ts2,
       CAST(n AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2, sum_price AS d1
FROM ({Q18_SQL})
UNION ALL
SELECT 'range_bucketed', band,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(n AS BIGINT), CAST(NULL AS BIGINT), sum_price
FROM ({Q18_SQL})
UNION ALL
SELECT 'asof', CAST(event_id AS VARCHAR), ts, signup_ts,
       CAST(user_id AS BIGINT), CAST(lag_us AS BIGINT), value
FROM ({Q19_SQL})
UNION ALL
SELECT 'asof_fwd', CAST(event_id AS VARCHAR), ts, signup_ts,
       CAST(user_id AS BIGINT), CAST(lag_us AS BIGINT), value
FROM ({Q19F_SQL})
UNION ALL
SELECT 'asof_near', CAST(event_id AS VARCHAR), ts, signup_ts,
       CAST(user_id AS BIGINT), CAST(lag_us AS BIGINT), value
FROM ({Q19N_SQL})
UNION ALL
SELECT 'asof_tol', CAST(event_id AS VARCHAR), ts, signup_ts,
       CAST(user_id AS BIGINT), CAST(lag_us AS BIGINT), value
FROM ({Q19T_SQL})
UNION ALL
SELECT 'resample', k, grid_ts, ts,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), v
FROM ({_RESAMPLE_SQL})
UNION ALL
SELECT 'twa', event_type, first_ts, last_ts,
       CAST(n_samples AS BIGINT), CAST(total_us AS BIGINT), twa
FROM ({_TWA_SQL})
UNION ALL
SELECT 'island', CAST(k AS VARCHAR), island_start, island_end,
       CAST(island AS BIGINT), n_intervals, CAST(covered_us AS DOUBLE)
FROM ({_ISLANDS_SQL})
UNION ALL
SELECT 'ohlc',
       event_type || ':' || CAST(open_cents AS VARCHAR)
           || ':' || CAST(high_cents AS VARCHAR)
           || ':' || CAST(low_cents AS VARCHAR)
           || ':' || CAST(close_cents AS VARCHAR),
       bucket, CAST(NULL AS TIMESTAMP),
       n_ticks, volume_cents, vwap_cents
FROM ({_Q18_OHLC_SQL})
UNION ALL
SELECT 'cusum',
       event_type || ':' || CAST(change_id AS VARCHAR)
           || ':' || CAST(d_abs_scaled AS VARCHAR),
       change_ts, CAST(NULL AS TIMESTAMP),
       n, t_at_max, cusum_stat
FROM ({_Q18_CUSUM_SQL})
UNION ALL
SELECT 'acf', event_type || ':' || CAST(lag AS VARCHAR),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       n_pairs, CAST(NULL AS BIGINT), corr
FROM ({_Q18_ACF_SQL})
UNION ALL
SELECT 'ccf', g || ':' || CAST(lag AS VARCHAR),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       n_pairs, CAST(NULL AS BIGINT), corr
FROM ({_Q18_CCF_SQL})
UNION ALL
SELECT 'trend',
       event_type || ':' || CAST(s AS VARCHAR)
           || ':' || CAST(var18 AS VARCHAR)
           || ':' || CAST(sen2x_scaled AS VARCHAR),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       n_obs, CAST(NULL AS BIGINT), z_stat
FROM ({_Q18_TREND_SQL})
"""


def _q22_events(spark: SparkSession, sf: str) -> DataFrame:
    """The q22 shared events frame. Measured trade (sf0.1, 32 threads):
    staging this once via repartition(user_id)+localCheckpoint so the
    eight user-keyed parts share one exchange LOSES ~15% — the
    materialize+re-read of the fact rows costs more than the repeated
    columnar parquet scans it saves. Parquet scans stay the shared
    substrate; at cluster scale the same sharing is the storage
    layer's job (bucketed/partitioned staging tables), not a runtime
    checkpoint.

    Round-12 closure of that recommendation: the in-gate BUCKETED
    staging table WAS built and measured — one user_id-bucketed,
    (user_id, ts)-sorted catalog write per invocation, bucket count =
    the session shuffle-partition setting. The mechanism works exactly
    as the round-11 root-cause predicted: the user-keyed parts plan
    with ZERO exchanges (probed: session_stats 1 Exchange → 0,
    SelectedBucketsCount in the scan) and vectorization + per-branch
    pruning are kept. The gate is still ~20% SLOWER at sf0.1
    (interleaved A/B, warm: staged {12.3, 12.7, 14.2}s vs plain
    {10.0, 10.1, 11.2}s) — the sorted bucketed write of the full
    table costs more than ten ~100k-row exchanges. Conclusion: the
    sharing only pays when the staging write is amortized across MANY
    queries (a persistent warehouse staging table maintained by the
    ingest layer), never inside a single gate at any SF where the
    per-part exchange is this small. Reverted; plain load stays."""
    return load_table(spark, sf, "events")


def q22_event_windows(spark: SparkSession, sf: str) -> DataFrame:
    # the hourly tumbling aggregate feeds BOTH the 'tumble' part and
    # the rolling z-score — materialize the (tiny, |types|×|hours|)
    # table once instead of re-running the events aggregation
    tw = q22_tumbling_window(spark, sf).localCheckpoint(eager=False)
    t = tw.select(
        F.lit("tumble").alias("part"),
        F.col("event_type").alias("wkey"),
        F.col("n").cast("bigint").alias("n"),
        "sum_value",
        F.col("sum_k").cast("bigint").alias("sum_k"),
        "window_start",
        "window_end",
    )
    s = q23_session_window(spark, sf).select(
        F.lit("session").alias("part"),
        F.col("user_id").cast("string").alias("wkey"),
        F.col("n_events").cast("bigint").alias("n"),
        "sum_value",
        F.lit(None).cast("bigint").alias("sum_k"),
        "window_start",
        "window_end",
    )
    # two-level temporal analytics ride along: each hourly window's
    # count scored against its own 6-window rolling history
    # (operators/anomaly.py — exact bigint frame sums, no stddev_samp)
    from stepist_spark.operators.anomaly import rolling_zscore

    az = rolling_zscore(tw, ["event_type"], "window_start", "n").select(
        F.lit("zscore").alias("part"),
        F.col("event_type").alias("wkey"),
        F.col("n").cast("bigint").alias("n"),
        "sum_value",
        F.col("sum_k").cast("bigint").alias("sum_k"),
        "window_start",
        "window_end",
        "z",
        "is_anomaly",
    )
    # time-constrained funnel (view -> click -> purchase, each within
    # 1 day of the previous step): sequence analytics over the same
    # events table
    from stepist_spark.operators.anomaly import funnel_stages

    ev = _q22_events(spark, sf)
    fu = funnel_stages(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], max_gap="1 day",
    ).select(
        F.lit("funnel").alias("part"),
        F.col("stage").alias("wkey"),
        F.col("n_users").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
        F.col("stage_idx").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # behavior analytics over the same events table: the empirical
    # Markov transition matrix and the weekly cohort-retention triangle
    # (operators/anomaly.py — one window pass / two aggregations each)
    from stepist_spark.operators.anomaly import cohort_retention, event_transitions

    # ev is a plain parquet load by design — see _q22_events: staging
    # it once (repartition+localCheckpoint) measured ~15% SLOWER than
    # letting each user-keyed part re-scan the columnar source
    tr = event_transitions(ev, "user_id", "ts", "event_type", "event_id").select(
        F.lit("transition").alias("part"),
        F.concat("from_type", F.lit(">"), "to_type").alias("wkey"),
        F.col("n_transitions").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
        F.lit(None).cast("bigint").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    co = cohort_retention(ev, "user_id", "ts").select(
        F.lit("cohort").alias("part"),
        F.col("cohort_week").cast("string").alias("wkey"),
        F.col("n_users").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
        F.col("week_offset").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # rolling 7-day distinct actives (operators/sessions.py): each
    # (user, day) pair contributes itself forward — one shuffle, exact
    from stepist_spark.operators.sessions import rolling_active_users

    wa = rolling_active_users(ev, "user_id", "ts", window_days=7).select(
        F.lit("wau").alias("part"),
        F.col("day").cast("string").alias("wkey"),
        F.col("active_users").cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
        F.lit(None).cast("bigint").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # gaps-and-islands engagement metric (operators/sessions.py):
    # longest consecutive-day streak + total active days per user
    from stepist_spark.operators.sessions import longest_daily_streak

    st = longest_daily_streak(ev, "user_id", "ts").select(
        F.lit("streak").alias("part"),
        F.col("user_id").cast("string").alias("wkey"),
        F.col("longest_streak").cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
        F.col("n_active_days").cast("bigint").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # batch sessionization (operators/sessions.py): gap-based session
    # stats — one user-partitioned window + one co-partitioned agg;
    # duration_sec certifies the integer-microsecond time math
    from stepist_spark.operators.sessions import session_stats

    se = session_stats(ev, "user_id", "ts", 1800, "event_id").select(
        F.lit("sessionize").alias("part"),
        F.concat(
            F.col("user_id").cast("string"), F.lit(":"), F.col("session_idx")
        ).alias("wkey"),
        F.col("n_events").cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
        F.col("duration_sec").alias("sum_k"),
        F.col("session_start").cast("timestamp_ntz").alias("window_start"),
        F.col("session_end").cast("timestamp_ntz").alias("window_end"),
    )
    # multi-touch attribution rides along (operators/attribution.py):
    # one reverse-running-count window maps every click/view to the
    # user's next purchase; per-conversion paths + linear channel
    # credit (exact scaled-integer credits — order-free sums)
    from stepist_spark.operators.attribution import (
        attributed_touches,
        channel_credit,
        conversion_paths,
    )

    at = attributed_touches(
        ev, "user_id", "ts", "event_type", "value", "event_id",
        "purchase", ["click", "view"],
    ).localCheckpoint(eager=False)
    ap = conversion_paths(at).select(
        F.lit("attrib").alias("part"),
        F.concat_ws(
            ":",
            F.col("conv_id").cast("string"),
            F.col("first_touch_type"),
            F.col("last_touch_type"),
        ).alias("wkey"),
        F.col("n_touches").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
        F.col("value_cents").alias("sum_k"),
        F.col("conv_ts").cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    ac = channel_credit(at, "linear").select(
        F.lit("attrib_credit").alias("part"),
        F.col("touch_type").alias("wkey"),
        F.col("n_touches").alias("n"),
        F.col("credit").alias("sum_value"),
        F.col("credit_scaled").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # day-of-week seasonal residuals ride along (operators/anomaly.py):
    # daily counts -> cohort windows over the tiny frame, residuals
    # multiplied through to exact integers
    from stepist_spark.operators.anomaly import seasonal_baseline

    sb = seasonal_baseline(ev, ["event_type"], "ts").select(
        F.lit("seasonal").alias("part"),
        F.concat_ws(
            ":",
            F.col("event_type"),
            F.col("day").cast("string"),
            F.col("dow").cast("string"),
        ).alias("wkey"),
        F.col("n"),
        F.col("resid").alias("sum_value"),
        F.col("resid_scaled").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # top event 3-gram paths ride along (operators/anomaly.py): all
    # leads share one user-keyed window sort; top-20 by count
    from stepist_spark.operators.anomaly import event_paths

    pa = event_paths(
        ev, "user_id", "ts", "event_type", "event_id", path_len=3, top_k=20
    ).select(
        F.lit("path3").alias("part"),
        F.col("path").alias("wkey"),
        F.col("n"),
        F.lit(None).cast("double").alias("sum_value"),
        F.lit(None).cast("bigint").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # time-to-convert per first-touch channel (operators/attribution.py)
    from stepist_spark.operators.attribution import time_to_convert

    tc = time_to_convert(at).select(
        F.lit("ttc").alias("part"),
        F.col("first_touch_type").alias("wkey"),
        F.col("n_conv").alias("n"),
        F.col("mean_us").alias("sum_value"),
        F.col("median_us").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # week-over-week change rides along (operators/timeseries.py):
    # calendar-aligned day-vs-day-minus-7 comparison of the per-type
    # daily counts — prev packed into the key, exact ratio_scaled
    from stepist_spark.operators.timeseries import period_over_period

    daily_n = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    wow = period_over_period(daily_n, ["event_type"], "d", "v", 7).select(
        F.lit("wow").alias("part"),
        F.concat_ws(
            ":",
            F.col("event_type"),
            F.col("d").cast("string"),
            F.coalesce(F.col("prev_v").cast("string"), F.lit("x")),
        ).alias("wkey"),
        F.col("v").alias("n"),
        F.col("ratio").alias("sum_value"),
        F.col("ratio_scaled").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # temporal-texture signal (operators/anomaly.py): inter-arrival CV
    # and Goh-Barabasi burstiness per type — one type-keyed window sort
    from stepist_spark.operators.anomaly import interarrival_burstiness

    bu = interarrival_burstiness(ev, ["event_type"], "ts", "event_id").select(
        F.lit("burst").alias("part"),
        F.col("event_type").alias("wkey"),
        F.col("n_gaps").alias("n"),
        F.col("burstiness").alias("sum_value"),
        F.col("sum_us").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # trending/recency signal (operators/timeseries.py): exact
    # integer-halving decayed popularity per type, anchored to the
    # data's own max day
    from stepist_spark.operators.timeseries import decayed_counts

    dc = decayed_counts(ev, ["event_type"], "ts", half_life_days=7).select(
        F.lit("decay").alias("part"),
        F.col("event_type").alias("wkey"),
        F.col("n_events").alias("n"),
        F.col("score").alias("sum_value"),
        F.col("score_scaled").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # 'tsplit' — embargoed temporal train/val/test split (round 7,
    # operators/sampling.temporal_split): boundaries at 70%/85% of the
    # events time span with a 1-day embargo before each; one bounded
    # driver read parameterizes the exact µs boundaries (the r01/s03
    # discipline), the oracle recomputes them inline. Per-split counts
    # + exact cents sums are hash-gated — embargoed rows stay VISIBLE
    # as their own split.
    from stepist_spark.operators.sampling import temporal_split

    mnmx = ev.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mn"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mx"),
    ).collect()[0]
    mn, mx = int(mnmx["mn"]), int(mnmx["mx"])
    val_us = mn + ((mx - mn) * 7) // 10
    test_us = mn + ((mx - mn) * 17) // 20
    emb_us = 86_400 * 1_000_000
    ts = temporal_split(
        ev, "ts", val_us, test_start_us=test_us, embargo_us=emb_us
    ).groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("sum_k"),
    ).select(
        F.lit("tsplit").alias("part"),
        F.col("split").alias("wkey"),
        "n",
        F.lit(None).cast("double").alias("sum_value"),
        "sum_k",
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    # 'km' — Kaplan-Meier conversion-latency survival (operators/
    # survival.py): per user, DAYS from first signup to the first
    # purchase at-or-after it; users who never purchase are right-
    # censored at the corpus max ts (reusing the tsplit driver read).
    # Exact integer-µs day truncation; the curve is the running
    # floor(ln((n−d)/n)·1e6) integer sum per user-segment — value-
    # counts frame bounded by |segments|×|span days| at any SF.
    from stepist_spark.operators.survival import kaplan_meier

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("t0"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("t1"))
        .join(su, "user_id")
        .filter(F.col("t1") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("t1").alias("t1"))
    )
    units = su.join(pu, "user_id", "left").select(
        (F.col("user_id") % 3).cast("string").alias("seg"),
        F.expr(f"(coalesce(t1, {mx}L) - t0) DIV 86400000000").alias("dur_days"),
        F.col("t1").isNotNull().cast("bigint").alias("ev_flag"),
    )
    km = kaplan_meier(units, "dur_days", "ev_flag", ["seg"]).select(
        F.lit("km").alias("part"),
        F.concat_ws(
            ":",
            "seg",
            F.col("t").cast("string"),
            F.col("d").cast("string"),
            F.col("c").cast("string"),
        ).alias("wkey"),
        F.col("n_risk").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
        F.col("s_log_scaled").alias("sum_k"),
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    nulls = [F.lit(None).cast("double").alias("z"),
             F.lit(None).cast("boolean").alias("is_anomaly")]
    return (
        t.select("*", *nulls)
        .unionByName(ts.select("*", *nulls))
        .unionByName(km.select("*", *nulls))
        .unionByName(s.select("*", *nulls))
        .unionByName(fu.select("*", *nulls))
        .unionByName(tr.select("*", *nulls))
        .unionByName(co.select("*", *nulls))
        .unionByName(wa.select("*", *nulls))
        .unionByName(st.select("*", *nulls))
        .unionByName(se.select("*", *nulls))
        .unionByName(ap.select("*", *nulls))
        .unionByName(ac.select("*", *nulls))
        .unionByName(pa.select("*", *nulls))
        .unionByName(sb.select("*", *nulls))
        .unionByName(tc.select("*", *nulls))
        .unionByName(wow.select("*", *nulls))
        .unionByName(bu.select("*", *nulls))
        .unionByName(dc.select("*", *nulls))
        .unionByName(az)
    )


def _q22m_sql() -> str:
    from stepist_spark.operators.anomaly import (
        cohort_retention_sql,
        event_transitions_sql,
        funnel_stages_sql,
        rolling_zscore_sql,
    )
    from stepist_spark.operators.sessions import session_stats_sql

    az = rolling_zscore_sql(Q22_SQL, ["event_type"], "window_start", "n")
    fu = funnel_stages_sql(
        "SELECT user_id, ts::TIMESTAMP AS ts, event_type FROM events",
        "user_id", "ts", "event_type", ["view", "click", "purchase"],
        max_gap_sql="INTERVAL 1 DAY",
    )
    tr = event_transitions_sql(
        "SELECT user_id, ts::TIMESTAMP AS ts, event_type, event_id FROM events",
        "user_id", "ts", "event_type", "event_id",
    )
    co = cohort_retention_sql(
        "SELECT user_id, ts::TIMESTAMP AS ts FROM events", "user_id", "ts"
    )
    se = session_stats_sql(
        "SELECT user_id, ts::TIMESTAMP AS ts, event_id FROM events",
        "user_id", "ts", 1800, "event_id",
    )
    from stepist_spark.operators.sessions import (
        longest_daily_streak_sql,
        rolling_active_users_sql,
    )

    wa = rolling_active_users_sql(
        "SELECT user_id, ts::TIMESTAMP AS ts FROM events",
        "user_id", "ts", window_days=7,
    )
    sk = longest_daily_streak_sql(
        "SELECT user_id, ts::TIMESTAMP AS ts FROM events", "user_id", "ts"
    )
    from stepist_spark.operators.attribution import (
        attributed_touches_sql,
        channel_credit_sql,
        conversion_paths_sql,
    )

    at = attributed_touches_sql(
        "events", "user_id", "ts::TIMESTAMP", "event_type", "value", "event_id",
        "purchase", ["click", "view"],
    )
    ap = conversion_paths_sql(at)
    ac = channel_credit_sql(at, "linear")
    from stepist_spark.operators.anomaly import event_paths_sql

    pa = event_paths_sql(
        "SELECT user_id, ts::TIMESTAMP AS ts, event_type, event_id FROM events",
        "user_id", "ts", "event_type", "event_id", path_len=3, top_k=20,
    )
    from stepist_spark.operators.attribution import time_to_convert_sql

    tc = time_to_convert_sql(at)
    from stepist_spark.operators.anomaly import seasonal_baseline_sql

    sb = seasonal_baseline_sql(
        "SELECT event_type, ts::TIMESTAMP AS ts FROM events", ["event_type"], "ts"
    )
    from stepist_spark.operators.anomaly import interarrival_burstiness_sql

    bu = interarrival_burstiness_sql(
        "SELECT event_type, ts, event_id FROM events",
        ["event_type"],
        "ts",
        "event_id",
    )
    from stepist_spark.operators.timeseries import decayed_counts_sql

    dc = decayed_counts_sql(
        "SELECT event_type, ts FROM events", ["event_type"], "ts", half_life_days=7
    )
    from stepist_spark.operators.survival import kaplan_meier_sql

    km = kaplan_meier_sql(
        """
WITH su AS (SELECT user_id, min(epoch_us(ts::TIMESTAMP)) AS t0
            FROM events WHERE event_type = 'signup' GROUP BY user_id),
pu AS (SELECT e.user_id, min(epoch_us(e.ts::TIMESTAMP)) AS t1
       FROM events e JOIN su USING (user_id)
       WHERE e.event_type = 'purchase' AND epoch_us(e.ts::TIMESTAMP) >= su.t0
       GROUP BY e.user_id),
mx AS (SELECT max(epoch_us(ts::TIMESTAMP)) AS m FROM events)
SELECT CAST(su.user_id % 3 AS VARCHAR) AS seg,
       (coalesce(pu.t1, mx.m) - su.t0) // 86400000000 AS dur_days,
       CASE WHEN pu.t1 IS NULL THEN 0 ELSE 1 END AS ev_flag
FROM su LEFT JOIN pu USING (user_id), mx
""",
        "dur_days",
        "ev_flag",
        [("seg", "seg")],
    )
    from stepist_spark.operators.timeseries import period_over_period_sql

    wow = period_over_period_sql(
        "SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v "
        "FROM events GROUP BY event_type, CAST(ts AS DATE)",
        ["event_type"],
        "d",
        "v",
        period_days=7,
    )
    return f"""
SELECT 'tumble' AS part, event_type AS wkey, CAST(n AS BIGINT) AS n,
       sum_value, CAST(sum_k AS BIGINT) AS sum_k, window_start, window_end,
       CAST(NULL AS DOUBLE) AS z, CAST(NULL AS BOOLEAN) AS is_anomaly
FROM ({Q22_SQL})
UNION ALL
SELECT 'session', CAST(user_id AS VARCHAR), CAST(n_events AS BIGINT),
       sum_value, CAST(NULL AS BIGINT), window_start, window_end,
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({Q23_SQL})
UNION ALL
SELECT 'funnel', stage, n_users, CAST(NULL AS DOUBLE), stage_idx,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({fu})
UNION ALL
SELECT 'transition', from_type || '>' || to_type, n_transitions,
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({tr})
UNION ALL
SELECT 'cohort', CAST(cohort_week AS VARCHAR), n_users,
       CAST(NULL AS DOUBLE), week_offset,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({co})
UNION ALL
SELECT 'wau', CAST(day AS VARCHAR), CAST(active_users AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({wa})
UNION ALL
SELECT 'streak', CAST(u AS VARCHAR), CAST(longest_streak AS BIGINT),
       CAST(NULL AS DOUBLE), n_active_days,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({sk})
UNION ALL
SELECT 'sessionize', CAST(u AS VARCHAR) || ':' || CAST(session_idx AS VARCHAR),
       CAST(n_events AS BIGINT), CAST(NULL AS DOUBLE), duration_sec,
       session_start, session_end,
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({se})
UNION ALL
SELECT 'attrib',
       CAST(conv_id AS VARCHAR) || ':' || first_touch_type
           || ':' || last_touch_type,
       n_touches, CAST(NULL AS DOUBLE), value_cents,
       conv_ts, CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({ap})
UNION ALL
SELECT 'attrib_credit', touch_type, n_touches, credit, credit_scaled,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({ac})
UNION ALL
SELECT 'path3', path, n, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({pa})
UNION ALL
SELECT 'wow',
       event_type || ':' || CAST(d AS VARCHAR)
           || ':' || coalesce(CAST(prev_v AS VARCHAR), 'x'),
       v, ratio, ratio_scaled,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({wow})
UNION ALL
SELECT 'burst', event_type, n_gaps, burstiness, sum_us,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({bu})
UNION ALL
SELECT 'decay', event_type, n_events, score, score_scaled,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({dc})
UNION ALL
SELECT 'seasonal',
       event_type || ':' || CAST(day AS VARCHAR) || ':' || CAST(dow AS VARCHAR),
       n, resid, resid_scaled,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({sb})
UNION ALL
SELECT 'ttc', first_touch_type, n_conv, mean_us, median_us,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({tc})
UNION ALL
SELECT 'zscore', event_type, CAST(n AS BIGINT), sum_value,
       CAST(sum_k AS BIGINT), window_start, window_end, z, is_anomaly
FROM ({az})
UNION ALL
SELECT 'tsplit', split, CAST(count(*) AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM (
    SELECT value,
           CASE WHEN us < mn + ((mx - mn) * 7) // 10 - 86400000000 THEN 'train'
                WHEN us < mn + ((mx - mn) * 7) // 10 THEN 'embargo'
                WHEN us < mn + ((mx - mn) * 17) // 20 - 86400000000 THEN 'val'
                WHEN us < mn + ((mx - mn) * 17) // 20 THEN 'embargo'
                ELSE 'test' END AS split
    FROM (SELECT value, epoch_us(ts::TIMESTAMP) AS us FROM events),
         (SELECT min(epoch_us(ts::TIMESTAMP)) AS mn,
                 max(epoch_us(ts::TIMESTAMP)) AS mx FROM events)
)
GROUP BY split
UNION ALL
SELECT 'km',
       seg || ':' || CAST(t AS VARCHAR) || ':' || CAST(d AS VARCHAR)
           || ':' || CAST(c AS VARCHAR),
       n_risk, CAST(NULL AS DOUBLE), s_log_scaled,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM ({km})
"""


Q22M_SQL = _q22m_sql()


def q24_subquery_suite(spark: SparkSession, sf: str) -> DataFrame:
    co = q24_correlated_subquery(spark, sf).select(
        F.lit("corr").alias("part"),
        F.col("c_custkey").cast("bigint").alias("k1"),
        F.lit(None).cast("string").alias("s1"),
        F.lit(None).cast("boolean").alias("b1"),
        F.lit(None).cast("boolean").alias("b2"),
        F.col("c_nationkey").cast("bigint").alias("n1"),
        F.col("acctbal").alias("d1"),
    )
    il = q32_subqueries(spark, sf).select(
        F.lit("inlist").alias("part"),
        F.col("s_suppkey").cast("bigint").alias("k1"),
        F.col("s_name").alias("s1"),
        F.col("in_region0").alias("b1"),
        F.col("not_in_region1").alias("b2"),
        F.col("trap_count").cast("bigint").alias("n1"),
        F.col("delta_from_mean").alias("d1"),
    )
    # skyline part (operators/skyline.py): per-priority Pareto frontier
    # of orders minimizing (price cents, days since 1992-01-01) — the
    # oracle verifies with the brute-force correlated NOT EXISTS, so
    # the window formulation is checked against the subquery SEMANTICS,
    # not a mirror of itself
    from stepist_spark.operators.skyline import skyline

    pts = load_table(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("x"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
        ).cast("bigint").alias("y"),
    )
    sky = skyline(pts, "x", "y", ["o_orderpriority"]).select(
        F.lit("skyline").alias("part"),
        F.col("o_orderkey").cast("bigint").alias("k1"),
        F.col("o_orderpriority").alias("s1"),
        F.lit(None).cast("boolean").alias("b1"),
        F.lit(None).cast("boolean").alias("b2"),
        F.col("x").alias("n1"),
        F.col("y").cast("double").alias("d1"),
    )
    return co.unionByName(il).unionByName(sky)


def _q24m_sql() -> str:
    from stepist_spark.operators.skyline import skyline_not_exists_sql

    sky = skyline_not_exists_sql(
        """SELECT o_orderkey AS k, o_orderpriority AS g,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
                  CAST(date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) AS y
           FROM orders""",
        "x", "y", ["g"], select_cols="a.k, a.g, a.x, a.y",
    )
    return f"""
SELECT 'corr' AS part, CAST(c_custkey AS BIGINT) AS k1,
       CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS BOOLEAN) AS b1,
       CAST(NULL AS BOOLEAN) AS b2, CAST(c_nationkey AS BIGINT) AS n1,
       acctbal AS d1
FROM ({Q24_SQL})
UNION ALL
SELECT 'inlist', CAST(s_suppkey AS BIGINT), s_name, in_region0,
       not_in_region1, CAST(trap_count AS BIGINT), delta_from_mean
FROM ({Q32_SQL})
UNION ALL
SELECT 'skyline', CAST(k AS BIGINT), g, CAST(NULL AS BOOLEAN),
       CAST(NULL AS BOOLEAN), x, CAST(y AS DOUBLE)
FROM ({sky})
"""


Q24M_SQL = _q24m_sql()


def q25_percentile_histogram(spark: SparkSession, sf: str) -> DataFrame:
    pc = q25_percentile_arrays(spark, sf).select(
        F.lit("pct").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.col("median_qty").cast("double").alias("d1"),
        F.col("p25_qty").cast("double").alias("d2"),
        F.col("p95_qty").cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.col("low5").alias("s1"),
        F.col("n_distinct_qty").cast("bigint").alias("n1"),
        F.col("max_qty").cast("bigint").alias("n2"),
    )
    hi = q35_price_histogram(spark, sf).select(
        F.lit("hist").alias("part"),
        F.col("bucket").cast("string").alias("k1"),
        F.col("sum_price").cast("double").alias("d1"),
        F.col("avg_price").cast("double").alias("d2"),
        F.col("min_price").cast("double").alias("d3"),
        F.col("max_price").cast("double").alias("d4"),
        F.lit(None).cast("string").alias("s1"),
        F.col("n_orders").cast("bigint").alias("n1"),
        F.col("n_customers").cast("bigint").alias("n2"),
    )
    # ONE 3-column lineitem projection feeds every lineitem part below
    # (mad/ols/wmed/winsor/ks/qbucket/welch/propz/psi). Measured trade
    # (sf0.1): materializing it via localCheckpoint LOSES ~10% vs
    # letting each part re-run the cheap columnar parquet scan — the
    # same result as q22's staging experiment; a cluster deployment
    # shares the pass via a storage-layer staging table instead
    li3 = load_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    # ---- the shared rank-statistics base passes (round 10, verdict
    # #2): TWO materialized hash-agg bases — (flag, qty) RAW-value
    # counts and (flag, price-cents) counts — feed every value-counts
    # statistic below (mad/qbucket/pctc off quantity; winsor/ks/psi
    # off price) instead of each part re-aggregating the raw rows: at
    # scale the fact table is scanned TWICE for seven statistics, and
    # every downstream number is an exact-integer function of the
    # counts, so hashes are unchanged by construction. (wmed keeps its
    # own pass — it aggregates quantity WEIGHTS at raw-price grain,
    # not row counts, and keying it off cents would change the emitted
    # value type; spear's pair ranks can't ride single-column counts.)
    qty_base = (
        li3.groupBy("l_returnflag", "l_quantity")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    qty_cents = (
        qty_base.select(
            "l_returnflag",
            F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
            .cast("bigint").alias("v"),
            "c",
        )
        .groupBy("l_returnflag", "v")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    price_cents = (
        li3.groupBy(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    # robust statistics ride along (operators/anomaly.py): exact
    # discrete per-group median + MAD — always an actual data value,
    # bit-identical across engines regardless of tie order
    from stepist_spark.operators.anomaly import grouped_median_mad

    mm = grouped_median_mad(
        li3.select("l_returnflag", "l_quantity"),
        ["l_returnflag"],
        "l_quantity",
        value_counts=qty_base,
    ).select(
        F.lit("mad").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.col("median").cast("double").alias("d1"),
        F.col("mad").cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.lit(None).cast("string").alias("s1"),
        F.col("n").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )
    # grouped OLS trend fit rides along (operators/regression.py):
    # price-vs-quantity per returnflag — exact decimal sufficient
    # statistics, double formula evaluated identically in both engines
    from stepist_spark.operators.regression import grouped_ols

    ols = grouped_ols(
        li3,
        ["l_returnflag"],
        "l_quantity",
        "l_extendedprice",
    ).select(
        F.lit("ols").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.col("slope").alias("d1"),
        F.col("intercept").alias("d2"),
        F.col("r2").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.lit(None).cast("string").alias("s1"),
        F.col("n").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )
    # importance-weighted robust center (operators/anomaly.py): exact
    # lower weighted median of extendedprice weighted by quantity —
    # always an actual data value, doubled-cumulative integer decision
    from stepist_spark.operators.anomaly import grouped_weighted_median

    wm = grouped_weighted_median(
        li3.select(
            "l_returnflag", "l_extendedprice",
            F.col("l_quantity").cast("bigint").alias("w"),
        ),
        ["l_returnflag"],
        "l_extendedprice",
        "w",
    ).select(
        F.lit("wmed").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.col("weighted_median").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.lit(None).cast("string").alias("s1"),
        F.col("total_weight").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )
    # chi-square contingency cells ride along (operators/regression.py):
    # event_type x user-segment independence — exact bigint counts,
    # one-division expected values, per-cell contribution round 6
    from stepist_spark.operators.regression import chi_square_contingency

    chi = chi_square_contingency(
        load_table(spark, sf, "events").select(
            "event_type", (F.col("user_id") % 4).alias("seg")
        ),
        "event_type",
        "seg",
    ).select(
        F.lit("chi2").alias("part"),
        F.concat(F.col("a"), F.lit(":"), F.col("b").cast("string")).alias("k1"),
        F.col("expected").alias("d1"),
        F.col("contrib").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.concat(
            F.col("col_n").cast("string"), F.lit(":"), F.col("n").cast("string")
        ).alias("s1"),
        F.col("observed").alias("n1"),
        F.col("row_n").alias("n2"),
    )
    # one-pass Pearson correlation matrix rides along (operators/
    # regression.py): all pairwise corrs of four lineitem measures
    # from ONE sufficient-statistics aggregate
    from stepist_spark.operators.regression import corr_matrix

    corr_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    cor = corr_matrix(
        load_table(spark, sf, "lineitem").select(*corr_cols), corr_cols
    ).select(
        F.lit("corr").alias("part"),
        F.concat(F.col("col_a"), F.lit(":"), F.col("col_b")).alias("k1"),
        F.col("corr").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.lit(None).cast("string").alias("s1"),
        F.col("n").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )
    # winsorized robust mean rides along (operators/anomaly.py):
    # p5/p95 clamp located and applied on the value-counts frame —
    # raw rows touched once
    from stepist_spark.operators.anomaly import winsorized_stats

    ws = winsorized_stats(
        li3.select("l_returnflag", "l_extendedprice"),
        ["l_returnflag"],
        "l_extendedprice",
        value_counts=price_cents,
    ).select(
        F.lit("winsor").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.col("mean_wins").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.concat_ws(
            ":",
            F.col("p_lo_cents").cast("string"),
            F.col("p_hi_cents").cast("string"),
            F.col("sum_wins_cents").cast("string"),
        ).alias("s1"),
        F.col("n").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )
    # two-sample KS drift rides along (operators/regression.py):
    # cross-multiplied exact CDF distance between returnflag groups
    from stepist_spark.operators.regression import ks_two_sample

    ks = ks_two_sample(
        li3.select("l_returnflag", "l_extendedprice"),
        "l_returnflag",
        "l_extendedprice",
        "A",
        "N",
        value_counts=price_cents,
    ).select(
        F.lit("ks").alias("part"),
        F.concat_ws(
            ":",
            F.col("v_at_max_cents").cast("string"),
            F.col("d_scaled").cast("string"),
        ).alias("k1"),
        F.col("ks").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.lit(None).cast("string").alias("s1"),
        F.col("n_a").alias("n1"),
        F.col("n_b").alias("n2"),
    )
    # equal-frequency bucket map rides along (operators/anomaly.py):
    # quantile discretization of l_quantity (small distinct domain)
    from stepist_spark.operators.anomaly import quantile_buckets

    qb = quantile_buckets(
        li3.select("l_returnflag", "l_quantity"),
        ["l_returnflag"],
        "l_quantity",
        n_buckets=4,
        value_counts=qty_cents.withColumnRenamed("v", "v_cents"),
    ).select(
        F.lit("qbucket").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.lit(None).cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.concat_ws(
            ":", F.col("v_cents").cast("string"), F.col("bucket").cast("string")
        ).alias("s1"),
        F.col("c").alias("n1"),
        F.col("bucket").alias("n2"),
    )
    # A/B experiment readout rides along (operators/abtest.py): Welch's
    # unequal-variance t on extendedprice and the pooled two-proportion
    # z on a quantity-threshold conversion, both between returnflag
    # cohorts A and N — ONE conditional sufficient-statistics aggregate
    # each, exact decimal sums, fixed IEEE formula
    from stepist_spark.operators.abtest import ab_readout_fused

    li_ab = li3
    # welch/propz/cuped ride ONE fused sufficient-statistics aggregate
    # (guide §2.3): the three parts previously each ran their own
    # conditional aggregate over the identical A/N row set — three fact
    # scans for one row of exact sums each. ab_readout_fused computes
    # the union of the sums in a single pass and replays each part's
    # original IEEE output projection, so values are identical by
    # construction (pinned by tests/test_abtest_fused.py).
    # Round-12 NEGATIVE result (measured, reverted): extending this
    # fusion to ols+corr+did via one (returnflag, post-cutover)-grouped
    # grand aggregate (and a lighter ols+corr flag-grouped variant) was
    # built, value-pinned, and measured SLOWER at sf0.1 — in-session
    # alternation, warm rounds: originals 4.0-4.4s vs grand 4.7-5.2s vs
    # ols+corr 4.4-4.9s for the six frames. The separate global
    # aggregates are lean flat-agg stages that already execute
    # CONCURRENTLY inside the gate's single union job, while a grouped
    # base pays a per-row hash-map probe plus a checkpoint barrier the
    # consumers must wait on; scan savings (24→21 gate scans) did not
    # meet the round-12 bar (wall-neutral only with ≥2× scan cut).
    wt_f, pz_f, cu_f = ab_readout_fused(
        li_ab, "l_returnflag", "A", "N",
        "l_extendedprice", "l_quantity", F.col("l_quantity") >= 25,
    )
    wt = wt_f.select(
        F.lit("welch").alias("part"),
        F.lit("A:N").alias("k1"),
        F.col("t_stat").alias("d1"),
        F.col("welch_df").alias("d2"),
        F.col("mean_a").alias("d3"),
        F.col("mean_b").alias("d4"),
        F.concat_ws(
            ":",
            F.col("sum_a").cast("string"),
            F.col("sum_b").cast("string"),
            F.col("sumsq_a").cast("string"),
            F.col("sumsq_b").cast("string"),
        ).alias("s1"),
        F.col("n_a").alias("n1"),
        F.col("n_b").alias("n2"),
    )
    pz = pz_f.select(
        F.lit("propz").alias("part"),
        F.lit("A:N").alias("k1"),
        F.col("z_stat").alias("d1"),
        F.col("rate_a").alias("d2"),
        F.col("rate_b").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.concat_ws(
            ":", F.col("s_a").cast("string"), F.col("s_b").cast("string")
        ).alias("s1"),
        F.col("n_a").alias("n1"),
        F.col("n_b").alias("n2"),
    )
    # CUPED variance-reduced readout rides the SAME A/B cohorts
    # (operators/abtest.py): l_quantity as the pre-period covariate for
    # the extendedprice metric — ONE pooled sufficient-statistics
    # aggregate; θ, adjusted means and ρ² are fixed IEEE sequences over
    # exact decimal sums
    cu = cu_f.select(
        F.lit("cuped").alias("part"),
        F.lit("A:N").alias("k1"),
        F.col("theta").alias("d1"),
        F.col("adj_mean_a").alias("d2"),
        F.col("adj_mean_b").alias("d3"),
        F.col("rho2").alias("d4"),
        F.concat_ws(
            ":",
            F.col("sum_a").cast("string"),
            F.col("sum_b").cast("string"),
            F.col("cov_sum_a").cast("string"),
            F.col("cov_sum_b").cast("string"),
        ).alias("s1"),
        F.col("n_a").alias("n1"),
        F.col("n_b").alias("n2"),
    )
    # decision-stump feature ranking rides along (operators/
    # regression.py): Gini-impurity decrease of purchase-vs-rest on
    # the user-segment and hour-of-day features — exact integer DIV
    # cell arithmetic, one melt + one hash aggregate
    from stepist_spark.operators.regression import (
        feature_cells,
        mutual_information,
        split_gain,
    )

    ev_feat = load_table(spark, sf, "events").select(
        (F.col("event_type") == "purchase").alias("is_purchase"),
        (F.col("user_id") % 4).cast("string").alias("seg"),
        F.expr("hour(ts) div 6").cast("string").alias("hq"),
    )
    # mutual information rides the SAME feature frame — and both
    # rankings consume ONE shared (feature, value, label) cell-count
    # aggregate: the identical melt+agg child in the two branches
    # collapses to a single scan/shuffle via ReusedExchange, halving
    # the fact-table melt cost at 100 TB
    ev_cells = feature_cells(ev_feat, "is_purchase", ["seg", "hq"])

    mi = mutual_information(
        ev_feat, "is_purchase", ["seg", "hq"], cells_df=ev_cells
    ).select(
        F.lit("mi").alias("part"),
        F.col("feature").alias("k1"),
        F.col("mi").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.col("mi_scaled").cast("string").alias("s1"),
        F.col("n").alias("n1"),
        F.col("n_values").alias("n2"),
    )
    sg = split_gain(
        ev_feat, "is_purchase", ["seg", "hq"], cells_df=ev_cells
    ).select(
        F.lit("gain").alias("part"),
        F.col("feature").alias("k1"),
        F.col("gain").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.concat_ws(
            ":",
            F.col("parent_gini_scaled").cast("string"),
            F.col("gain_scaled").cast("string"),
        ).alias("s1"),
        F.col("n").alias("n1"),
        F.col("n_values").alias("n2"),
    )
    # ANSI PERCENTILE_CONT rides along (operators/anomaly.py): the
    # SQL-standard interpolated quantile, exact rational numerator
    # over the value-counts frame — complements the discrete 'pct'
    # and 'wmed' parts which emit actual data values
    from stepist_spark.operators.anomaly import grouped_percentile_cont

    pcc = grouped_percentile_cont(
        li3.select("l_returnflag", "l_quantity"), ["l_returnflag"], "l_quantity",
        value_counts=qty_cents,
    ).select(
        F.lit("pctc").alias("part"),
        F.concat_ws(
            ":",
            F.col("l_returnflag"),
            F.col("q_num").cast("string"),
            F.col("q_den").cast("string"),
        ).alias("k1"),
        F.col("value").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.col("v_scaled_num").cast("string").alias("s1"),
        F.col("n").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )
    # PSI drift monitoring rides along (operators/regression.py):
    # reference-derived equal-frequency bins, smoothed scaled-ln
    # integer terms — the production model-monitoring twin of the 'ks'
    # hypothesis test above
    from stepist_spark.operators.regression import psi_drift

    ps = psi_drift(
        li_ab, "l_returnflag", "A", "N", "l_extendedprice",
        value_counts=price_cents,
    ).select(
        F.lit("psi").alias("part"),
        F.col("bin").cast("string").alias("k1"),
        F.col("psi").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.concat_ws(
            ":",
            F.col("hi_cents").cast("string"),
            F.col("term_scaled").cast("string"),
        ).alias("s1"),
        F.col("c_ref").alias("n1"),
        F.col("c_cmp").alias("n2"),
    )
    # Poisson-bootstrap CI of the mean extendedprice (round 7,
    # operators/bootstrap.py): 32 deterministic hash-Poisson replicates
    # over a %5 order slice — every replicate's exact (n_eff,
    # sum_scaled) integers are hash-gated, plus the nearest-rank 95%
    # interval over the replicate table. Lazy localCheckpoint: the
    # 32-row replicate frame feeds both parts without re-running the
    # explode+aggregate pass.
    from stepist_spark.operators import bootstrap as bs
    from stepist_spark.session import spread

    # spread(): the filtered scan is 1-2 input partitions and the
    # 32-replicate weight derivation (33 md5/row, interpreted HOF)
    # would serialize on one core (measured ~30s -> ~1s at sf0.1)
    li_b = spread(
        load_table(spark, sf, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    ).select(
        F.concat_ws(":", "l_orderkey", "l_linenumber").alias("rid"),
        "l_extendedprice",
    )
    # NO localCheckpoint here: an RDD-scan leaf inside the 20-branch
    # union makes AQE bail out for the WHOLE gate plan (measured
    # 12.7s -> 48.7s total with every other branch losing partition
    # coalescing); recomputing the cheap replicate pass for the second
    # consumer costs ~0.2s
    reps = bs.bootstrap_replicates(li_b, "l_extendedprice", "rid", n_boot=32)
    boot = reps.select(
        F.lit("boot").alias("part"),
        F.col("b").cast("string").alias("k1"),
        F.col("mean").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.lit(None).cast("string").alias("s1"),
        F.col("n_eff").alias("n1"),
        F.col("sum_scaled").alias("n2"),
    )
    bootci = bs.percentile_ci(reps).select(
        F.lit("bootci").alias("part"),
        F.lit(None).cast("string").alias("k1"),
        F.col("lo_mean").alias("d1"),
        F.col("hi_mean").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.lit(None).cast("string").alias("s1"),
        F.col("n_boot").alias("n1"),
        F.col("lo_rank").alias("n2"),
    )
    # Spearman rank correlation rides along (round 9, operators/
    # regression.py): the monotone twin of 'corr' — doubled tie-
    # averaged ranks from two value-frame cumulatives, exact
    # decimal(38,0) rank sums, corr_matrix IEEE rho
    from stepist_spark.operators.regression import spearman_corr

    sp = spearman_corr(
        li3, "l_quantity", "l_extendedprice",
        x_counts=qty_cents.groupBy("v").agg(F.sum("c").cast("bigint").alias("c")),
        y_counts=price_cents.groupBy("v").agg(F.sum("c").cast("bigint").alias("c")),
    ).select(
        F.lit("spear").alias("part"),
        F.lit(None).cast("string").alias("k1"),
        F.col("rho").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.concat_ws(
            ":",
            F.col("sxx2").cast("string"),
            F.col("syy2").cast("string"),
            F.col("sxy2").cast("string"),
        ).alias("s1"),
        F.col("n").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )
    # difference-in-differences rides along (round 9, operators/
    # abtest.py): returned-vs-kept lineitems across the 1995-06-17
    # ship-date cutover — one conditional cell aggregate, exact sums
    from stepist_spark.operators.abtest import diff_in_diff

    li_dd = load_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_shipdate", "l_extendedprice"
    )
    dd = diff_in_diff(
        li_dd,
        F.col("l_returnflag") == "A",
        F.col("l_shipdate") >= F.lit("1995-06-17 00:00:00").cast("timestamp_ntz"),
        "l_extendedprice",
    ).select(
        F.lit("did").alias("part"),
        F.concat_ws(
            ":",
            F.col("n_t1").cast("string"),
            F.col("n_t0").cast("string"),
            F.col("n_c1").cast("string"),
            F.col("n_c0").cast("string"),
        ).alias("k1"),
        F.col("did").alias("d1"),
        F.col("t_stat").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.concat_ws(
            ":",
            F.col("s_t1").cast("string"),
            F.col("s_t0").cast("string"),
            F.col("s_c1").cast("string"),
            F.col("s_c0").cast("string"),
        ).alias("s1"),
        (F.col("n_t1") + F.col("n_t0")).cast("bigint").alias("n1"),
        (F.col("n_c1") + F.col("n_c0")).cast("bigint").alias("n2"),
    )
    return (
        pc.unionByName(hi)
        .unionByName(mm)
        .unionByName(ols)
        .unionByName(wm)
        .unionByName(chi)
        .unionByName(cor)
        .unionByName(ws)
        .unionByName(ks)
        .unionByName(qb)
        .unionByName(wt)
        .unionByName(pz)
        .unionByName(cu)
        .unionByName(sg)
        .unionByName(mi)
        .unionByName(ps)
        .unionByName(pcc)
        .unionByName(boot)
        .unionByName(bootci)
        .unionByName(sp)
        .unionByName(dd)
    )


def _q25_mad_sql() -> str:
    from stepist_spark.operators.anomaly import grouped_median_mad_sql

    return grouped_median_mad_sql(
        "SELECT l_returnflag, l_quantity FROM lineitem",
        ["l_returnflag"],
        "l_quantity",
    )


_Q25_MAD_SQL = _q25_mad_sql()


def _q25_ols_sql() -> str:
    from stepist_spark.operators.regression import grouped_ols_sql

    return grouped_ols_sql(
        "SELECT l_returnflag, l_quantity, l_extendedprice FROM lineitem",
        ["l_returnflag"],
        "l_quantity",
        "l_extendedprice",
    )


_Q25_OLS_SQL = _q25_ols_sql()


def _q25_wmed_sql() -> str:
    from stepist_spark.operators.anomaly import grouped_weighted_median_sql

    return grouped_weighted_median_sql(
        "SELECT l_returnflag, l_extendedprice, CAST(l_quantity AS BIGINT) AS w "
        "FROM lineitem",
        ["l_returnflag"],
        "l_extendedprice",
        "w",
    )


_Q25_WMED_SQL = _q25_wmed_sql()


def _q25_chi2_sql() -> str:
    from stepist_spark.operators.regression import chi_square_contingency_sql

    return chi_square_contingency_sql(
        "(SELECT event_type, user_id % 4 AS seg FROM events)",
        "event_type",
        "seg",
    )


_Q25_CHI2_SQL = _q25_chi2_sql()


def _q25_corr_sql() -> str:
    from stepist_spark.operators.regression import corr_matrix_sql

    return corr_matrix_sql(
        "SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem",
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


_Q25_CORR_SQL = _q25_corr_sql()


def _q25_winsor_sql() -> str:
    from stepist_spark.operators.anomaly import winsorized_stats_sql

    return winsorized_stats_sql(
        "SELECT l_returnflag, l_extendedprice FROM lineitem",
        ["l_returnflag"],
        "l_extendedprice",
    )


_Q25_WINSOR_SQL = _q25_winsor_sql()


def _q25_ks_sql() -> str:
    from stepist_spark.operators.regression import ks_two_sample_sql

    return ks_two_sample_sql(
        "SELECT l_returnflag, l_extendedprice FROM lineitem",
        "l_returnflag",
        "l_extendedprice",
        "A",
        "N",
    )


_Q25_KS_SQL = _q25_ks_sql()


def _q25_qbucket_sql() -> str:
    from stepist_spark.operators.anomaly import quantile_buckets_sql

    return quantile_buckets_sql(
        "SELECT l_returnflag, l_quantity FROM lineitem",
        ["l_returnflag"],
        "l_quantity",
        n_buckets=4,
    )


_Q25_QBUCKET_SQL = _q25_qbucket_sql()


def _q25_welch_sql() -> str:
    from stepist_spark.operators.abtest import welch_ttest_sql

    return welch_ttest_sql(
        "SELECT l_returnflag, l_extendedprice FROM lineitem",
        "l_returnflag",
        "A",
        "N",
        "l_extendedprice",
    )


_Q25_WELCH_SQL = _q25_welch_sql()


def _q25_propz_sql() -> str:
    from stepist_spark.operators.abtest import two_proportion_ztest_sql

    return two_proportion_ztest_sql(
        "SELECT l_returnflag, l_quantity FROM lineitem",
        "l_returnflag",
        "A",
        "N",
        "l_quantity >= 25",
    )


_Q25_PROPZ_SQL = _q25_propz_sql()


def _q25_cuped_sql() -> str:
    from stepist_spark.operators.abtest import cuped_adjusted_sql

    return cuped_adjusted_sql(
        "SELECT l_returnflag, l_extendedprice, l_quantity FROM lineitem",
        "l_returnflag",
        "A",
        "N",
        "l_extendedprice",
        "l_quantity",
    )


_Q25_CUPED_SQL = _q25_cuped_sql()


def _q25_gain_sql() -> str:
    from stepist_spark.operators.regression import split_gain_sql

    return split_gain_sql(
        "SELECT * FROM events",
        "event_type = 'purchase'",
        {
            "seg": "CAST(user_id % 4 AS VARCHAR)",
            "hq": "CAST(hour(ts) // 6 AS VARCHAR)",
        },
    )


_Q25_GAIN_SQL = _q25_gain_sql()


def _q25_pctc_sql() -> str:
    from stepist_spark.operators.anomaly import grouped_percentile_cont_sql

    return grouped_percentile_cont_sql(
        "SELECT l_returnflag, l_quantity FROM lineitem",
        ["l_returnflag"],
        "l_quantity",
    )


_Q25_PCTC_SQL = _q25_pctc_sql()


def _q25_psi_sql() -> str:
    from stepist_spark.operators.regression import psi_drift_sql

    return psi_drift_sql(
        "SELECT l_returnflag, l_extendedprice FROM lineitem",
        "l_returnflag",
        "A",
        "N",
        "l_extendedprice",
    )


_Q25_PSI_SQL = _q25_psi_sql()


def _q25_mi_sql() -> str:
    from stepist_spark.operators.regression import mutual_information_sql

    return mutual_information_sql(
        "SELECT * FROM events",
        "event_type = 'purchase'",
        {
            "seg": "CAST(user_id % 4 AS VARCHAR)",
            "hq": "CAST(hour(ts) // 6 AS VARCHAR)",
        },
    )


_Q25_MI_SQL = _q25_mi_sql()

def _q25_boot_sql() -> str:
    from stepist_spark.operators.bootstrap import bootstrap_replicates_sql

    return bootstrap_replicates_sql(
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
        "WHERE l_orderkey % 5 = 0",
        value_expr="l_extendedprice",
        id_expr="CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)",
        n_boot=32,
    )


_Q25_BOOT_SQL = _q25_boot_sql()


def _q25_ci_sql() -> str:
    from stepist_spark.operators.bootstrap import percentile_ci_sql

    return percentile_ci_sql(_Q25_BOOT_SQL)


_Q25_CI_SQL = _q25_ci_sql()


def _q25_spear_sql() -> str:
    from stepist_spark.operators.regression import spearman_corr_sql

    return spearman_corr_sql(
        "SELECT l_quantity, l_extendedprice FROM lineitem",
        "l_quantity",
        "l_extendedprice",
    )


_Q25_SPEAR_SQL = _q25_spear_sql()


def _q25_did_sql() -> str:
    from stepist_spark.operators.abtest import diff_in_diff_sql

    return diff_in_diff_sql(
        "SELECT l_returnflag, l_shipdate, l_extendedprice FROM lineitem",
        "l_returnflag = 'A'",
        "l_shipdate >= TIMESTAMP '1995-06-17 00:00:00'",
        "l_extendedprice",
    )


_Q25_DID_SQL = _q25_did_sql()


Q25M_SQL = f"""
SELECT 'pct' AS part, k1, d1, d2, d3, d4, s1, n1, n2 FROM (
  SELECT l_returnflag AS k1, CAST(median_qty AS DOUBLE) AS d1,
         CAST(p25_qty AS DOUBLE) AS d2, CAST(p95_qty AS DOUBLE) AS d3,
         CAST(NULL AS DOUBLE) AS d4, low5 AS s1,
         CAST(n_distinct_qty AS BIGINT) AS n1, CAST(max_qty AS BIGINT) AS n2
  FROM ({Q25_SQL})
)
UNION ALL
SELECT 'hist', CAST(bucket AS VARCHAR), CAST(sum_price AS DOUBLE),
       CAST(avg_price AS DOUBLE), CAST(min_price AS DOUBLE),
       CAST(max_price AS DOUBLE), CAST(NULL AS VARCHAR),
       CAST(n_orders AS BIGINT), CAST(n_customers AS BIGINT)
FROM ({Q35_SQL})
UNION ALL
SELECT 'mad', l_returnflag, CAST(median AS DOUBLE), CAST(mad AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
       CAST(n AS BIGINT), CAST(NULL AS BIGINT)
FROM ({_Q25_MAD_SQL})
UNION ALL
SELECT 'ols', l_returnflag, slope, intercept, r2, CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(n AS BIGINT), CAST(NULL AS BIGINT)
FROM ({_Q25_OLS_SQL})
UNION ALL
SELECT 'wmed', l_returnflag, CAST(weighted_median AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(total_weight AS BIGINT),
       CAST(NULL AS BIGINT)
FROM ({_Q25_WMED_SQL})
UNION ALL
SELECT 'chi2', a || ':' || CAST(b AS VARCHAR), expected, contrib,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(col_n AS VARCHAR) || ':' || CAST(n AS VARCHAR),
       observed, row_n
FROM ({_Q25_CHI2_SQL})
UNION ALL
SELECT 'corr', col_a || ':' || col_b, corr, CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
       CAST(n AS BIGINT), CAST(NULL AS BIGINT)
FROM ({_Q25_CORR_SQL})
UNION ALL
SELECT 'winsor', l_returnflag, mean_wins, CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(p_lo_cents AS VARCHAR) || ':' || CAST(p_hi_cents AS VARCHAR)
           || ':' || CAST(sum_wins_cents AS VARCHAR),
       CAST(n AS BIGINT), CAST(NULL AS BIGINT)
FROM ({_Q25_WINSOR_SQL})
UNION ALL
SELECT 'ks', CAST(v_at_max_cents AS VARCHAR) || ':' || CAST(d_scaled AS VARCHAR),
       ks, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), n_a, n_b
FROM ({_Q25_KS_SQL})
UNION ALL
SELECT 'qbucket', l_returnflag, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(v_cents AS VARCHAR) || ':' || CAST(bucket AS VARCHAR),
       c, bucket
FROM ({_Q25_QBUCKET_SQL})
UNION ALL
SELECT 'welch', 'A:N', t_stat, welch_df, mean_a, mean_b,
       CAST(sum_a AS VARCHAR) || ':' || CAST(sum_b AS VARCHAR)
           || ':' || CAST(sumsq_a AS VARCHAR) || ':' || CAST(sumsq_b AS VARCHAR),
       n_a, n_b
FROM ({_Q25_WELCH_SQL})
UNION ALL
SELECT 'propz', 'A:N', z_stat, rate_a, rate_b, CAST(NULL AS DOUBLE),
       CAST(s_a AS VARCHAR) || ':' || CAST(s_b AS VARCHAR), n_a, n_b
FROM ({_Q25_PROPZ_SQL})
UNION ALL
SELECT 'cuped', 'A:N', theta, adj_mean_a, adj_mean_b, rho2,
       CAST(sum_a AS VARCHAR) || ':' || CAST(sum_b AS VARCHAR)
           || ':' || CAST(cov_sum_a AS VARCHAR) || ':' || CAST(cov_sum_b AS VARCHAR),
       n_a, n_b
FROM ({_Q25_CUPED_SQL})
UNION ALL
SELECT 'gain', feature, gain, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE),
       CAST(parent_gini_scaled AS VARCHAR) || ':' || CAST(gain_scaled AS VARCHAR),
       n, n_values
FROM ({_Q25_GAIN_SQL})
UNION ALL
SELECT 'psi', CAST(bin AS VARCHAR), psi, CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(hi_cents AS VARCHAR) || ':' || CAST(term_scaled AS VARCHAR),
       c_ref, c_cmp
FROM ({_Q25_PSI_SQL})
UNION ALL
SELECT 'mi', feature, mi, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(mi_scaled AS VARCHAR), n, n_values
FROM ({_Q25_MI_SQL})
UNION ALL
SELECT 'pctc',
       l_returnflag || ':' || CAST(q_num AS VARCHAR) || ':' || CAST(q_den AS VARCHAR),
       value, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(v_scaled_num AS VARCHAR), n, CAST(NULL AS BIGINT)
FROM ({_Q25_PCTC_SQL})
UNION ALL
SELECT 'boot', CAST(b AS VARCHAR), mean, CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
       n_eff, sum_scaled
FROM ({_Q25_BOOT_SQL})
UNION ALL
SELECT 'bootci', CAST(NULL AS VARCHAR), lo_mean, hi_mean,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
       n_boot, lo_rank
FROM ({_Q25_CI_SQL})
UNION ALL
SELECT 'spear', CAST(NULL AS VARCHAR), rho,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(sxx2 AS VARCHAR) || ':' || CAST(syy2 AS VARCHAR)
           || ':' || CAST(sxy2 AS VARCHAR),
       n, CAST(NULL AS BIGINT)
FROM ({_Q25_SPEAR_SQL})
UNION ALL
SELECT 'did',
       CAST(n_t1 AS VARCHAR) || ':' || CAST(n_t0 AS VARCHAR)
           || ':' || CAST(n_c1 AS VARCHAR) || ':' || CAST(n_c0 AS VARCHAR),
       did, t_stat, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(s_t1 AS VARCHAR) || ':' || CAST(s_t0 AS VARCHAR)
           || ':' || CAST(s_c1 AS VARCHAR) || ':' || CAST(s_c0 AS VARCHAR),
       CAST(n_t1 + n_t0 AS BIGINT), CAST(n_c1 + n_c0 AS BIGINT)
FROM ({_Q25_DID_SQL})
"""


def q02_join_agg_topk(spark: SparkSession, sf: str) -> DataFrame:
    t = q02_top_orders(spark, sf).select(
        F.lit("top").alias("part"),
        F.col("l_orderkey").cast("bigint").alias("k"),
        F.col("o_orderpriority").alias("s1"),
        F.col("o_orderdate").cast("string").alias("s2"),
        F.col("revenue").alias("rev"),
        F.lit(None).cast("bigint").alias("n"),
    )
    r = q03_revenue_by_nation(spark, sf).select(
        F.lit("nation").alias("part"),
        F.lit(None).cast("bigint").alias("k"),
        F.col("n_name").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.col("revenue").alias("rev"),
        F.col("n_items").cast("bigint").alias("n"),
    )
    # market-basket association rules ride along
    # (operators/association.py): parts co-ordered within orders,
    # top-50 directional rules by lift — counts packed into s2.
    # The pair-count co-occurrence pass is computed ONCE and shared
    # with the item-item CF part below (localCheckpoint).
    from stepist_spark.operators.association import (
        association_rules,
        item_similarity,
        pair_counts,
    )

    li = load_table(spark, sf, "lineitem")
    pc = pair_counts(li, "l_orderkey", "l_partkey").localCheckpoint(eager=False)
    ar = association_rules(
        li,
        "l_orderkey",
        "l_partkey",
        min_pair_support=2,
        k=50,
        pair_counts_df=pc,
    ).select(
        F.lit("rules").alias("part"),
        F.col("antecedent").cast("bigint").alias("k"),
        F.col("consequent").cast("string").alias("s1"),
        # confidence is pair_n/ante_n, fully determined by the packed
        # counts — certify the exact integers, not a double's string form
        F.concat_ws(
            ":",
            F.col("ante_n").cast("string"),
            F.col("cons_n").cast("string"),
            F.col("n_baskets").cast("string"),
        ).alias("s2"),
        F.col("lift").alias("rev"),
        F.col("pair_n").alias("n"),
    )
    # RFM customer segmentation rides along (operators/segmentation.py):
    # one orders aggregate to the |customers|-row frame, three
    # tie-stable NTILE windows over that dimension-sized table
    from stepist_spark.operators.segmentation import rfm_segments

    rfm = rfm_segments(
        load_table(spark, sf, "orders"), "o_custkey", "o_orderdate", "o_totalprice"
    ).select(
        F.lit("rfm").alias("part"),
        F.col("customer").cast("bigint").alias("k"),
        F.col("segment").alias("s1"),
        F.col("last_ts").cast("string").alias("s2"),
        # cents/100.0 is the same single IEEE division in both engines
        (F.col("monetary_cents").cast("double") / F.lit(100.0)).alias("rev"),
        F.col("frequency").alias("n"),
    )
    # item-item collaborative filtering (operators/association.py):
    # cosine top-3 neighbors per part from the SAME pair-count pass
    cf = item_similarity(
        li,
        "l_orderkey",
        "l_partkey",
        min_pair_support=2,
        top_n=3,
        pair_counts_df=pc,
    ).select(
        F.lit("cf").alias("part"),
        F.col("item").cast("bigint").alias("k"),
        F.col("neighbor").cast("string").alias("s1"),
        F.concat_ws(
            ":",
            F.col("rank").cast("string"),
            F.col("item_n").cast("string"),
            F.col("neighbor_n").cast("string"),
        ).alias("s2"),
        F.col("cosine").alias("rev"),
        F.col("pair_n").alias("n"),
    )
    return t.unionByName(r).unionByName(ar).unionByName(rfm).unionByName(cf)


def _q02_rules_sql() -> str:
    from stepist_spark.operators.association import association_rules_sql

    return association_rules_sql("lineitem", "l_orderkey", "l_partkey", 2, 50)


_Q02_RULES_SQL = _q02_rules_sql()


def _q02_rfm_sql() -> str:
    from stepist_spark.operators.segmentation import rfm_segments_sql

    return rfm_segments_sql(
        "SELECT * FROM orders", "o_custkey", "o_orderdate", "o_totalprice"
    )


_Q02_RFM_SQL = _q02_rfm_sql()


def _q02_cf_sql() -> str:
    from stepist_spark.operators.association import item_similarity_sql

    return item_similarity_sql("lineitem", "l_orderkey", "l_partkey", 2, 3)


_Q02_CF_SQL = _q02_cf_sql()

Q02M_SQL = f"""
SELECT 'top' AS part, CAST(l_orderkey AS BIGINT) AS k, o_orderpriority AS s1,
       CAST(o_orderdate AS VARCHAR) AS s2, revenue AS rev, CAST(NULL AS BIGINT) AS n
FROM ({Q02_SQL})
UNION ALL
SELECT 'nation', CAST(NULL AS BIGINT), n_name, CAST(NULL AS VARCHAR), revenue,
       CAST(n_items AS BIGINT)
FROM ({Q03_SQL})
UNION ALL
SELECT 'rules', CAST(antecedent AS BIGINT), CAST(consequent AS VARCHAR),
       CAST(ante_n AS VARCHAR) || ':' || CAST(cons_n AS VARCHAR)
           || ':' || CAST(n_baskets AS VARCHAR),
       lift, pair_n
FROM ({_Q02_RULES_SQL})
UNION ALL
SELECT 'rfm', CAST(customer AS BIGINT), segment, CAST(last_ts AS VARCHAR),
       CAST(monetary_cents AS DOUBLE) / 100.0, frequency
FROM ({_Q02_RFM_SQL})
UNION ALL
SELECT 'cf', CAST(item AS BIGINT), CAST(neighbor AS VARCHAR),
       CAST(rank AS VARCHAR) || ':' || CAST(item_n AS VARCHAR)
           || ':' || CAST(neighbor_n AS VARCHAR),
       cosine, pair_n
FROM ({_Q02_CF_SQL})
"""


# Registry discipline (round-2): the driver's correctness harness
# checks the FIRST 50 entries of __spark_entry__.queries() in
# registration order, so the whole catalog is merged to ≤50 entries —
# redundant relational gates were folded into these survivors (q14→q01,
# q05→q04, q29→q08, q10/q20→q09, q11→q35, q28→q13, q15→q22, q30→q17,
# q31→q21, q26→q25, q33→q32; q16's lag-gap sessionization is subsumed
# by q23's session_window gate). Round-3 second pass: the tag-union
# merges are NOW IN EFFECT — q34→q07, q17→q12, q27→q13, q19→q18,
# q23→q22, q32→q24, q35→q25, plus q03→q02 (both join+agg+top-k star
# shapes) — freeing eight slots, spent on the round-2 LLM-pipeline
# gates (t21–t25, v07, v08 in queries/llm_text.py, llm_vectors.py) and
# the w01 sink round-trip gate (queries/composite.py). Every merged
# wrapper reuses the ORIGINAL query function and oracle SQL unchanged,
# so per-query correctness semantics are untouched.
QUERIES = [
    QuerySpec("q01_pricing_summary", q01_lineitem_aggregates, Q01M_SQL, "TPC-H Q1 multi-agg + Q6 filter-only scalar agg, tag-unioned"),
    QuerySpec("q02_join_agg_topk", q02_join_agg_topk, Q02M_SQL, "TPC-H Q3 top-10 + Q5 star join, tag-unioned"),
    QuerySpec("q04_semi_anti_join", q04_semi_anti_join, Q04_SQL, "EXISTS / left-semi + NOT EXISTS / left-anti joins"),
    QuerySpec("q07_grouped_topn", q07_grouped_topn, Q07M_SQL, "grouped top-k window + LATERAL top-n, tag-unioned"),
    QuerySpec("q08_window_suite", q08_window_suite, Q08_SQL, "running sum/lag/row_number + RANGE frame/ntile/first_value"),
    QuerySpec("q09_grouping_multi", q09_grouping_multi, Q09_SQL, "ROLLUP + CUBE + GROUPING SETS, tag-unioned"),
    QuerySpec("q12_reshape_set_ops", q12_reshape_set_ops, Q12M_SQL, "set ops + pivot/unpivot, tag-unioned"),
    QuerySpec("q13_scalar_string_suite", q13_scalar_string_suite, Q13M_SQL, "scalar functions + ordered string agg, tag-unioned"),
    QuerySpec("q18_temporal_joins", q18_temporal_joins, Q18M_SQL, "range join + as-of join, tag-unioned"),
    QuerySpec("q21_approx_sketches", q21_approx_sketches, Q21_SQL, "portable HLL estimates + register-merge rollup vs exact, hash-gated"),
    QuerySpec("q22_event_windows", q22_event_windows, Q22M_SQL, "tumbling + session event windows + product analytics + embargoed temporal split, tag-unioned"),
    QuerySpec("q24_subquery_suite", q24_subquery_suite, Q24M_SQL, "correlated + IN/NOT IN/scalar subqueries, tag-unioned"),
    QuerySpec("q25_percentile_histogram", q25_percentile_histogram, Q25M_SQL, "exact percentiles + integer-exact histogram + robust/hypothesis statistics + Poisson-bootstrap CI, tag-unioned"),
]
