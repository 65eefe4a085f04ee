"""The remaining classic TPC-H query shapes (Q6-Q21 family), adapted to
the harness star schema (TESTDATA.md has no partsupp table and lineitem
carries no commitdate/receiptdate/shipmode; each adaptation documents
the substitution inline). Together with workload.relational (Q2, Q3,
Q5, Q10, Q14, Q18, Q19, Q22), workload.core (Q1) and the Q4/Q17 shapes
(``exists_shiplag`` / ``scalar_subquery_lowqty``) this completes the
22-query TPC-H benchmark surface — the relational depth the reference's
declared-but-dead SQL grammar (file_server/fileserver.py:1372-1384)
implies but never implements.

Most shapes are SQL-first (`registry.sql_query`): the oracle text is
also the Spark builder. Catalyst pushes filters and pruning into the
parquet scans and AQE chooses broadcast vs shuffle; a kept builder
hints broadcasts only on fixed-size dimensions (nation/region/supplier),
never on SF-scaling tables (policed by
plans.unbounded_scaling_broadcasts).

Determinism rules (same as workload.relational): DECIMAL-cast sums,
integer cross-multiplication instead of float division for predicates,
single IEEE double division only of already-exact aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload.registry import query, sql_query, table

_DEC = "decimal(18,2)"

_SQL_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


# TPC-H Q6: revenue increase from hypothetically eliminating a discount
# band.
sql_query(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))
             AS revenue_delta,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
)


# TPC-H Q7: bilateral shipping volume between two nations by year.
# Spark joins in FROM order, so the supplier-nation filter is joined
# before orders: it cuts lineitem before the lineitem ⋈ orders shuffle.
sql_query(
    "tpch_q7_nation_volume",
    f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(sum({_SQL_REVENUE}) AS DECIMAL(30,4)) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND n1.n_name <> n2.n_name
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)


# TPC-H Q8: NATION_3's share of PROMO-part revenue sold into ASIA, per
# order year. Spark joins in FROM order (no cost-based reordering), so
# the PROMO part filter is joined first: it cuts lineitem before the
# lineitem ⋈ orders shuffle.
sql_query(
    "tpch_q8_market_share",
    f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                         THEN {_SQL_REVENUE} ELSE 0 END) AS DOUBLE)
             / CAST(sum({_SQL_REVENUE}) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n1.n_regionkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    GROUP BY o_year
    """,
)


# TPC-H Q9 adapted: product-line profit by supplier nation and year.
sql_query(
    "tpch_q9_product_profit",
    f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum({_SQL_REVENUE}
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,4))
             AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)
    """,
)


# TPC-H Q11 adapted: parts whose traded value exceeds 1.3× the mean per-
# part value (partsupp-less: value = lineitem revenue per part).
sql_query(
    "tpch_q11_key_parts",
    f"""
    WITH pv AS (
      SELECT l_partkey,
             CAST(sum({_SQL_REVENUE}) AS DECIMAL(30,4)) AS part_value
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT CAST(sum(part_value) AS DECIMAL(38,4)) AS total_value,
             count(*) AS n_parts
      FROM pv
    )
    SELECT l_partkey, part_value
    FROM pv, tot
    WHERE part_value * n_parts * 10 > 13 * total_value
    """,
)


# TPC-H Q12 adapted: priority split of 1997 shipments, grouped by
# l_returnflag (the harness lineitem has no l_shipmode; returnflag is
# the closest low-cardinality line attribute).
sql_query(
    "tpch_q12_priority_buckets",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)


# TPC-H Q13: distribution of customers by how many (non-5-LOW) orders
# they placed — the two-level aggregate over a left outer join that must
# keep zero-order customers (count(o_orderkey) skips the NULLs a LEFT
# JOIN manufactures).
sql_query(
    "tpch_q13_order_count_dist",
    """
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON o_custkey = c_custkey
                       AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
)


# TPC-H Q15: the supplier(s) with maximum quarterly revenue.
sql_query(
    "tpch_q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum({_SQL_REVENUE}) AS DECIMAL(30,4)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    ), m AS (
      SELECT max(total_revenue) AS max_revenue FROM revenue
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM revenue, m
    JOIN supplier ON s_suppkey = supplier_no
    WHERE total_revenue = max_revenue
    """,
)


# TPC-H Q16 adapted: how many distinct suppliers can ship each (brand,
# type, size) combination — partsupp-less, so supply relationships come
# from observed lineitems, and the classic '%Complaints%' supplier
# exclusion becomes s_acctbal < 0 (the harness supplier table has no
# comment column).
sql_query(
    "tpch_q16_supplier_variety",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 9, 19, 25, 36, 49)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)


# TPC-H Q20 adapted: suppliers who moved more than a threshold quantity
# of red parts in 1997 (partsupp-less: 'has excess stock to promote'
# becomes 'observed heavy shipper').
sql_query(
    "tpch_q20_heavy_shippers",
    """
    WITH shipped AS (
      SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red %'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, qty
    FROM supplier JOIN shipped ON l_suppkey = s_suppkey
    WHERE qty > 50
    """,
)


# TPC-H Q21 adapted: suppliers who single-handedly held up a multi-
# supplier order ('late' = shipped >90 days after the order date; the
# harness has no commit/receipt dates).
sql_query(
    "tpch_q21_waiting_suppliers",
    """
    WITH li AS (
      SELECT l_orderkey, l_suppkey,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp
      FROM li GROUP BY l_orderkey
    ), blamed AS (
      SELECT DISTINCT li.l_orderkey, li.l_suppkey
      FROM li
      JOIN per_order ON per_order.l_orderkey = li.l_orderkey
      WHERE li.late = 1 AND n_supp > 1 AND n_late_supp = 1
    )
    SELECT s_name, count(*) AS numwait
    FROM blamed JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    """,
)


# TPC-H Q4 (order-priority checking): orders placed in one quarter with
# at least one late line, counted per priority.
sql_query(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-07-01'
      AND o.o_orderdate < DATE '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)


# TPC-H Q17 (small-quantity-order revenue): revenue lost if orders below
# 20% of a part's average order quantity were no longer taken, over one
# brand's small parts (the harness part table has no p_container, so the
# Brand#23/MED BOX gate is adapted to Brand#1/p_size<=10).
sql_query(
    "tpch_q17_small_qty_revenue",
    """
    WITH pp AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#1' AND p_size <= 10
    ), pavg AS (
      SELECT l_partkey, sum(l_quantity) AS qsum,
             CAST(count(*) AS BIGINT) AS qcnt
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(30,2)) AS STRING) AS sum_price,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100
                AS BIGINT) // 7 AS BIGINT) AS avg_yearly_cents
    FROM lineitem l
    JOIN pp ON pp.p_partkey = l.l_partkey
    JOIN pavg a ON a.l_partkey = l.l_partkey
    WHERE 5 * l.l_quantity * a.qcnt < a.qsum
    """,
)


@query(
    "interval_prorate_revenue",
    oracle=f"""
    WITH li AS (
      SELECT CAST(o.o_orderdate AS DATE) AS d0,
             CAST(l.l_shipdate AS DATE) AS d1,
             CAST(floor({_SQL_REVENUE} * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), iv AS (
      SELECT d0, cents,
             CAST(greatest(date_diff('day', d0, d1), 0) + 1 AS BIGINT) AS days
      FROM li
    ), slices AS (
      SELECT CAST(date_trunc('month', d0 + CAST(u.i AS INTEGER)) AS DATE)
               AS month,
             cents // days
               + CASE WHEN u.i < cents % days THEN 1 ELSE 0 END AS day_cents
      FROM iv, unnest(generate_series(0, days - 1)) AS u(i)
    )
    SELECT month,
           CAST(count(*) AS BIGINT) AS n_day_slices,
           CAST(sum(day_cents) AS BIGINT) AS prorated_cents
    FROM slices GROUP BY month
    """,
)
def q_interval_prorate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar proration — the revenue-recognition shape: each line's
    discounted revenue is spread uniformly over the days of its
    order-to-ship interval and re-aggregated per calendar month, so a
    line ordered in January and shipped in March contributes to all
    three months. Conservation is EXACT in integer cents: each of the
    `days` slices gets cents DIV days, and the remainder cents go one
    each to the first cents % days slices — Σ slices = cents per line,
    so Σ months = Σ lines to the cent (no float proration drift);
    degenerate ship-before-order rows clamp to a single slice at the
    order date.

    Plan: one equi-join orders⋈lineitem on the order key, a
    per-row `sequence` explode whose fan-out is bounded by the maximum
    fulfillment lead (a domain constant — ~4 months in TPC-H — not a
    function of corpus size), and one hash-agg to ≤|months| rows.
    No window, nothing driver-side."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC)
    )
    iv = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.to_date("o_orderdate").alias("d0"),
        F.to_date("l_shipdate").alias("d1"),
        F.floor(rev * 100).cast("long").alias("cents"),
    ).select(
        "d0",
        "cents",
        (
            F.greatest(F.datediff("d1", "d0"), F.lit(0)) + 1
        ).cast("long").alias("days"),
    )
    # Explode per MONTH, not per day: the day fan-out averages ~60 rows
    # per line (bounded by the fulfillment lead) where the month
    # fan-out is <=5 — the per-month slice sum is closed-form because
    # the interval's day indexes [s, e] inside one month are contiguous:
    # n*q base cents plus one remainder cent for each index below
    # r = cents % days (count = |[s,e] ∩ [0,r-1]|). Integer-exact, so
    # conservation and the oracle hash are unchanged; the Generate
    # output shrinks ~12-20x.
    last = F.date_add(F.col("d0"), (F.col("days") - 1).cast("int"))
    months = iv.select(
        "d0",
        "cents",
        "days",
        last.alias("dend"),
        F.explode(
            F.sequence(
                F.to_date(F.date_trunc("month", F.col("d0"))),
                F.to_date(F.date_trunc("month", last)),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month"),
    )
    s = F.datediff(F.greatest(F.col("month"), F.col("d0")), F.col("d0"))
    e = F.datediff(F.least(F.last_day(F.col("month")), F.col("dend")), F.col("d0"))
    n = (e - s + 1).cast("long")
    q = F.expr("cents DIV days")
    r = F.expr("cents % days")
    extra = F.greatest(F.lit(0).cast("long"), (F.least(e.cast("long"), r - 1) - s + 1))
    slices = months.select(
        "month",
        n.alias("n_slices"),
        (n * q + extra).cast("long").alias("month_cents"),
    )
    return slices.groupBy("month").agg(
        F.sum("n_slices").cast("long").alias("n_day_slices"),
        F.sum("month_cents").cast("long").alias("prorated_cents"),
    )
