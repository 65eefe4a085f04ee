"""Classic analytical query shapes (TPC-H-style) over the harness
tables — the relational depth the reference's declared-but-dead SQL
surface (`SELECT` grammar at file_server/fileserver.py:1372-1382, dead
JOIN stub at fileserver.py:1383-1384) implies but never implements.

Most queries are SQL-first (`registry.sql_query`): the oracle text is
also the Spark builder. The DataFrame builders left are the ones that
beat that text or keep a scale property it loses (reasons in
tests/test_sql_first.py). Either way Catalyst supplies pushdown,
pruning and join ordering, and AQE picks broadcast vs shuffle join at
runtime.

Determinism rules (same as workload.core): DECIMAL-cast sums with
pinned scale (double aggregation is order-dependent), integer
cross-multiplication instead of float division, deterministic LIMIT
tie-breaks, identical aliases Spark-side and oracle-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload.registry import query, sql_query, table

#: Q3-style cutoff: orders placed before / shipped after this instant.
Q3_CUT = "1998-01-01"
#: Q18-style large-order quantity threshold (99th pct of per-order sums).
Q18_MIN_QTY = 300
#: Moving-window width for the RANGE-frame query, in seconds (30 days).
MOVING_RANGE_S = 30 * 24 * 3600

_DEC = "decimal(18,2)"

#: DuckDB token-array twin (same as workload.text._sql_tokens('text')).
_SQL_TOKS_REL = "list_filter(string_split(text, ' '), x -> x <> '')"


def _revenue() -> F.Column:
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    return price * (F.lit(1).cast(_DEC) - disc)


_SQL_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


# TPC-H Q3 shape: top-10 unshipped-revenue orders. Both date filters
# reach the parquet scans and the LIMIT lowers to TakeOrderedAndProject.
# Revenue is summed per orderkey BEFORE the joins (eager aggregation by
# hand: Catalyst does not move aggregates through joins), so the join
# shuffles one row per order instead of one per lineitem. The grouping
# is the same because o_orderdate/o_orderpriority depend on the key, and
# decimal sums are exact in any order.
sql_query(
    "tpch_q3_shipping",
    f"""
    WITH rev AS (
      SELECT l_orderkey,
             CAST(sum({_SQL_REVENUE}) AS DECIMAL(30,4)) AS revenue
      FROM lineitem
      WHERE l_shipdate > TIMESTAMP '{Q3_CUT}'
      GROUP BY l_orderkey
    )
    SELECT l_orderkey, revenue, o_orderdate, o_orderpriority
    FROM rev
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate < TIMESTAMP '{Q3_CUT}'
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)


@query(
    "tpch_q5_region_volume",
    oracle=f"""
    SELECT n_name,
           CAST(sum({_SQL_REVENUE}) AS DECIMAL(30,4)) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q_tpch_q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue by nation within a region.

    Fixed-size dimensions (supplier, nation, region) carry explicit
    broadcast hints; customer does NOT — its size scales with SF
    (sf100 ≈ 15 M rows), so the hint that wins at sf0.1 would OOM the
    build side at 100×. AQE still picks broadcast for customer at small
    SF and falls back to shuffle join when it grows. The only
    unavoidable big shuffle is lineitem ⋈ orders on orderkey, and the
    region filter prunes nations before the fact tables are touched.
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    df = (
        orders.join(cust, F.col("c_custkey") == F.col("o_custkey"))
        # merge hint: lineitem is the fact — force the sort-merge path
        # (shuffles on the join key, spills gracefully, never OOMs) so
        # the planner can't broadcast a table that only LOOKS small at
        # bench SF (pruned-scan estimate < 10 MB at sf0.1).
        .join(li.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return df.groupBy("n_name").agg(
        F.sum(_revenue()).cast("decimal(30,4)").alias("revenue")
    )


@query(
    "tpch_q18_large_orders",
    oracle=f"""
    SELECT c_name, o_orderkey, o_orderdate,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS total_qty
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {Q18_MIN_QTY}
    )
    GROUP BY c_name, o_orderkey, o_orderdate
    """,
)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders via an aggregated semi-join.

    The HAVING subquery is a groupBy + filter whose (orderkey) result is
    semi-joined back into the fact — at scale the aggregate is partial
    (map-side combine) and the semi-join's build side is only the rare
    qualifying keys. Customer is joined without a broadcast hint (it
    scales with SF); AQE broadcasts it while it fits.
    """
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty = F.col("l_quantity").cast(_DEC)
    # The HAVING aggregate IS the output measure: each result group is
    # one order (o_orderkey is a group key), so total_qty equals the
    # per-order sum the qualifying filter already computed. Carrying
    # `sq` through the join replaces the r12 before-plan's second
    # lineitem scan + sort-merge join + |lineitems|-row re-aggregate
    # with a row-per-order inner join; DECIMAL sums are exact, so the
    # value is bit-identical.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("sq"))
        .filter(F.col("sq") > Q18_MIN_QTY)
    )
    return (
        orders.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("sq").cast("decimal(30,2)").alias("total_qty"),
        )
    )


# TPC-H Q4 shape: orders with at least one slow-shipping lineitem (>= 90
# days after order date), counted by priority.
sql_query(
    "exists_shiplag",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY o_orderpriority
    """,
)


# TPC-H Q17 shape: lines below 20% of their part's average quantity.
sql_query(
    "scalar_subquery_lowqty",
    """
    WITH stats AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS sq,
             count(*) AS n
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS low_qty_spend,
           count(*) AS n_lines
    FROM lineitem
    JOIN stats ON lineitem.l_partkey = stats.l_partkey
    JOIN part ON p_partkey = lineitem.l_partkey
    WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n < sq
    GROUP BY p_brand
    """,
)


# INTERSECT (set semantics): customers with both a finished and an open
# order.
sql_query(
    "intersect_customers",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)


# EXCEPT (set semantics): customers with a finished order but no open
# one.
sql_query(
    "except_customers",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)


# GROUPING SETS beyond rollup/cube: per-flag, per-status, and grand
# totals in one pass (Expand + single aggregate — one shuffle instead of
# three unioned jobs).
sql_query(
    "grouping_sets_agg",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS rflag,
           coalesce(l_linestatus, 'ALL') AS lstatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)


@query(
    "window_moving_sum",
    oracle=f"""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                OVER (PARTITION BY l_suppkey ORDER BY epoch(l_shipdate)
                      RANGE BETWEEN {MOVING_RANGE_S} PRECEDING AND CURRENT ROW)
                AS DECIMAL(30,2)) AS qty_30d
    FROM lineitem
    """,
)
def q_window_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day moving quantity per supplier: a RANGE frame over event
    time (epoch seconds — Spark range frames are numeric). Same-instant
    rows share a frame, so the result is order-deterministic even with
    timestamp ties."""
    li = table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(F.unix_timestamp("l_shipdate"))
        .rangeBetween(-MOVING_RANGE_S, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast(_DEC)).over(w).cast("decimal(30,2)").alias("qty_30d"),
    )


# Calendar-bucketed aggregate (date_trunc) — the batch twin of the
# streaming tumbling window over `events`.
sql_query(
    "monthly_order_stats",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS total_price
    FROM orders
    GROUP BY 1
    """,
)


# TPC-H Q14 shape: conditional aggregation (promo revenue share) over a
# fact ⋈ part join — one pass, no second scan for the denominator; the
# share reported in exact basis points.
sql_query(
    "tpch_q14_promo",
    f"""
    SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_SQL_REVENUE} ELSE 0 END)
                AS DECIMAL(30,4)) AS promo_revenue,
           CAST(sum({_SQL_REVENUE}) AS DECIMAL(30,4)) AS total_revenue,
           CAST(floor(sum(CASE WHEN p_type = 'PROMO' THEN {_SQL_REVENUE} ELSE 0 END)
                      * 10000.0 / sum({_SQL_REVENUE})) AS BIGINT) AS promo_bp
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)


# TPC-H Q19 shape: OR-of-ANDs predicates spanning both join sides.
sql_query(
    "tpch_q19_disjunctive",
    f"""
    SELECT CAST(sum({_SQL_REVENUE}) AS DECIMAL(30,4)) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50
           AND l_quantity BETWEEN 20 AND 40)
    """,
)


# LEFT OUTER join + aggregate: every customer appears, orderless
# customers with n_orders = 0 (count over the nullable key skips NULLs —
# the outer-join row survives the count correctly).
sql_query(
    "join_left_outer",
    """
    SELECT c_custkey, c_name, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DECIMAL(30,2)) AS spend
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)


# FULL OUTER join of two aggregates: nations present on either side
# survive with zero-filled counts — the reconciliation-report shape
# (aggregate-then-join keeps the outer join tiny).
sql_query(
    "join_full_outer",
    """
    SELECT coalesce(c.k, s.k) AS nationkey,
           CAST(coalesce(c.n_cust, 0) AS BIGINT) AS n_cust,
           CAST(coalesce(s.n_supp, 0) AS BIGINT) AS n_supp
    FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
    ON c.k = s.k
    """,
)


@query(
    "union_by_name",
    oracle="""
    SELECT party, custkey, suppkey, count(*) AS n
    FROM (
      SELECT 'customer' AS party, c_custkey AS custkey FROM customer
      UNION ALL BY NAME
      SELECT 'supplier' AS party, s_suppkey AS suppkey FROM supplier
    )
    GROUP BY party, custkey, suppkey
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: `unionByName(allowMissingColumns=True)`
    aligns by column NAME and null-fills the gaps (positional unionAll
    would silently mis-align) — the union you want when appending files
    with drifting schemas."""
    cust = table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("party"), F.col("c_custkey").alias("custkey")
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("party"), F.col("s_suppkey").alias("suppkey")
    )
    u = cust.unionByName(supp, allowMissingColumns=True)
    return u.groupBy("party", "custkey", "suppkey").agg(F.count(F.lit(1)).alias("n"))


# Calendar-part extraction (year/quarter) + aggregate — the date
# function family the reference lacks entirely (SURVEY §2.10: strings
# only).
sql_query(
    "date_parts_agg",
    """
    SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
           CAST(extract(quarter FROM o_orderdate) AS INTEGER) AS qtr,
           count(*) AS n_orders
    FROM orders GROUP BY 1, 2
    """,
)


@query(
    "string_functions_suite",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS uname,
           substr(p_name, 1, 5) AS prefix5,
           lpad(CAST(p_partkey AS STRING), 9, '0') AS padded_key,
           replace(p_name, ' ', '_') AS snake,
           CAST(length(p_name) AS INTEGER) AS name_len,
           CAST(strpos(p_name, ' ') AS INTEGER) AS space_at
    FROM part
    """,
)
def q_string_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string library in one projection: case mapping, substring,
    pad, replace, length, position — all JVM-side codegen (SURVEY §2.10
    upgraded from the reference's 4-function repertoire)."""
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.lpad(F.col("p_partkey").cast("string"), 9, "0").alias("padded_key"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
        F.length("p_name").alias("name_len"),
        F.instr(F.col("p_name"), " ").alias("space_at"),
    )


# Fixed-width histogram: floor-division bucketing + per-bucket stats —
# the distribution-profiling pass a pipeline runs before choosing
# partition bounds or salting thresholds.
sql_query(
    "histogram_prices",
    """
    SELECT CAST(floor(o_totalprice / 30000.0) AS INTEGER) AS bucket,
           count(*) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM orders GROUP BY 1
    """,
)


# Null-safe equi-join (`IS NOT DISTINCT FROM`): NULL keys match each
# other instead of vanishing — required when a join key is legitimately
# absent (here: status 'P' nulled out).
sql_query(
    "join_null_safe",
    """
    WITH keyed AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS k
      FROM orders
    )
    SELECT a.k AS k, count(*) AS n_pairs
    FROM keyed a JOIN keyed b
      ON a.k IS NOT DISTINCT FROM b.k AND a.o_orderkey = b.o_orderkey
    GROUP BY a.k
    """,
)


@query(
    "array_functions_suite",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKS_REL} AS toks FROM documents
    )
    SELECT doc_id,
           toks[1] AS first_tok,
           CAST(len(toks) AS INTEGER) AS n_toks,
           list_contains(toks, 'the') AS has_the,
           CAST(list_position(toks, 'the') AS INTEGER) AS the_at,
           toks[1:3] AS first3,
           list_reverse(toks)[1] AS last_tok
    FROM t
    """,
)
def q_array_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function library in one projection: index
    access, size, membership, position, slice, reverse — all JVM-side
    over the token arrays (SURVEY §2.10: the reference has no array
    functions at all)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " ", -1), lambda x: x != "")
    t = docs.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.element_at("toks", 1).alias("first_tok"),
        F.size("toks").alias("n_toks"),
        F.array_contains("toks", "the").alias("has_the"),
        F.array_position("toks", "the").cast("int").alias("the_at"),
        F.slice("toks", 1, 3).alias("first3"),
        F.element_at(F.reverse("toks"), 1).alias("last_tok"),
    )


# MERGE/upsert emulation on plain parquet: full-outer join of base vs
# updates, update-wins coalesce, action audit column.
sql_query(
    "merge_upsert",
    """
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 != 0
    ), updates AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice,
           CASE WHEN u.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL THEN 'updated'
                WHEN u.o_orderkey IS NOT NULL THEN 'inserted'
                ELSE 'kept' END AS action
    FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    """,
)


#: Shared Q17-style correlated-subquery text — run verbatim by BOTH
#: engines (Spark SQL front-end + Catalyst decorrelation on one side,
#: DuckDB on the other).
_CORRELATED_SQL = """
    SELECT p_brand,
           count(*) AS n_low
    FROM lineitem l
    JOIN part ON p_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * (
            SELECT count(*) FROM lineitem i WHERE i.l_partkey = l.l_partkey
          ) < (
            SELECT CAST(sum(CAST(i.l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2))
            FROM lineitem i WHERE i.l_partkey = l.l_partkey
          )
    GROUP BY p_brand
    """


# The SAME correlated-scalar-subquery SQL text on both engines: Spark's
# SQL front-end decorrelates the two scalar subqueries into
# aggregate+join under the hood (what `scalar_subquery_lowqty` wrote by
# hand) — proving the declarative surface, not just the DataFrame API,
# is complete.
sql_query("correlated_subquery_sql", _CORRELATED_SQL)


# Top-k over a NULLABLE key with explicit NULLS LAST: Spark orders nulls
# FIRST by default in descending sorts while DuckDB orders them LAST —
# any ordering over nullable keys must spell the placement out or the
# two engines silently disagree.
sql_query(
    "topk_nulls_last",
    """
    SELECT o_orderkey, k FROM (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS k
      FROM orders
    )
    ORDER BY k DESC NULLS LAST, o_orderkey
    LIMIT 10
    """,
)


# Conditional exact distinct counts in one aggregation: the FILTER
# clause becomes count_distinct over a NULL-when-excluded key (NULLs
# don't count) — three distinct-count columns, one pass, one Expand.
sql_query(
    "filtered_distinct_counts",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_cust_all,
           count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F') AS n_cust_f,
           count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'O') AS n_cust_o
    FROM orders GROUP BY o_orderpriority
    """,
)


# Two-grain aggregate: per-supplier quantity, then each supplier's share
# of its NATION's total as a window over the aggregated rows (the
# percent-of-total pattern one level up — the window sees |suppliers|
# rows, never |lineitems|).
sql_query(
    "supplier_share_of_nation",
    """
    WITH per_supp AS (
      SELECT s_nationkey, l_suppkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS qty
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY s_nationkey, l_suppkey
    )
    SELECT s_nationkey, l_suppkey, qty,
           CAST(floor(qty * 10000.0 / sum(qty) OVER (PARTITION BY s_nationkey)) AS BIGINT) AS share_bp
    FROM per_supp
    """,
)


@query(
    "map_functions_suite",
    oracle="""
    SELECT o_orderkey,
           m['status'][1] AS status_v,
           m['priority'][1] AS priority_v,
           m['absent'][1] AS missing_v,
           CAST(cardinality(m) AS INTEGER) AS n_entries,
           list_sort(map_keys(m)) AS keys_sorted
    FROM (
      SELECT o_orderkey,
             map(['status', 'priority'], [o_orderstatus, o_orderpriority]) AS m
      FROM orders
    )
    """,
)
def q_map_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed columns: construction, key lookup (present + absent →
    NULL), cardinality, sorted key list. Map values are projected to
    scalars/arrays before returning — map column ORDER is
    engine-defined, so comparing raw maps across engines is a trap;
    projecting through lookups is the portable form."""
    orders = table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    t = orders.select("o_orderkey", m.alias("m"))
    return t.select(
        "o_orderkey",
        F.element_at("m", "status").alias("status_v"),
        F.element_at("m", "priority").alias("priority_v"),
        F.element_at("m", "absent").alias("missing_v"),
        F.size("m").alias("n_entries"),
        F.array_sort(F.map_keys("m")).alias("keys_sorted"),
    )


# TPC-H Q10 shape: top-20 customers by revenue lost to returns. The
# MERGE hint keeps the filtered lineitem on the sort-merge path: its
# pruned-scan estimate looks small enough to broadcast at bench SF.
sql_query(
    "tpch_q10_returned_items",
    f"""
    SELECT /*+ MERGE(lineitem) */ c_custkey, c_name,
           CAST(sum({_SQL_REVENUE}) AS DECIMAL(30,4)) AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)


# TPC-H Q2 shape (adapted: no partsupp table in the harness, so lineitem
# stands in as the part-supplier price relation): for each small part,
# every supplier achieving the minimum observed price — the correlated-
# min subquery, decorrelated by hand into aggregate + self-equi-join on
# (key, min).
sql_query(
    "tpch_q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey, min(min_price) AS best_price
      FROM cost GROUP BY l_partkey
    )
    SELECT c.l_partkey AS partkey, p_brand, s_name,
           CAST(c.min_price AS DECIMAL(18,2)) AS price
    FROM cost c
    JOIN best b ON c.l_partkey = b.l_partkey AND c.min_price = b.best_price
    JOIN part ON p_partkey = c.l_partkey
    JOIN supplier ON s_suppkey = c.l_suppkey
    WHERE p_size <= 10
    """,
)


# TPC-H Q22 shape (nation key instead of phone prefixes): customers
# richer than the positive-balance average with no PENDING order (every
# harness customer has ordered at least once, so the original never-
# ordered predicate is vacuously empty), rolled up by nation.
sql_query(
    "tpch_q22_idle_rich_customers",
    """
    SELECT n_name, count(*) AS n_cust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (
      SELECT avg(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_acctbal > 0
    )
    AND NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
    )
    GROUP BY n_name
    """,
)


@query(
    "orders_sla_first_ship",
    oracle="""
    WITH fs AS (
      SELECT l_orderkey, min(l_shipdate) AS first_ship
      FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (fs.first_ship
                < o.o_orderdate + INTERVAL 30 DAY) AS BIGINT) AS within_30d,
           CAST(CASE WHEN count(*) = 0 THEN 0
                ELSE floor(count(*) FILTER (fs.first_ship
                     < o.o_orderdate + INTERVAL 30 DAY) * 10000.0 / count(*))
                END AS BIGINT) AS sla_bp,
           CAST(max(date_diff('day', o.o_orderdate, fs.first_ship))
             AS BIGINT) AS worst_lag_days
    FROM orders o JOIN fs ON fs.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q_orders_sla_first_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA by priority class: share of orders whose FIRST
    line shipped within 30 days (exact basis points) and the worst
    observed lag — the operational scorecard dual of `tpch_q4`'s
    late-line count.

    Plan: lineitem pre-aggregates to one first-ship row per order
    BEFORE the join (eager aggregation — the join carries |orders|
    rows, not |lineitem|), then a priority hash-agg.
    """
    li = table(spark, sf_dir, "lineitem")
    fs = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("first_ship"))
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = o.join(fs, o["o_orderkey"] == fs["l_orderkey"])
    within = F.col("first_ship") < F.date_add(F.col("o_orderdate"), 30)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(within.cast("long")).alias("within_30d"),
        F.when(F.count(F.lit(1)) == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.sum(within.cast("long")).cast("double")
                * 10000.0
                / F.count(F.lit(1)).cast("double")
            )
        )
        .cast("long")
        .alias("sla_bp"),
        F.max(F.datediff(F.col("first_ship"), F.col("o_orderdate")))
        .cast("long")
        .alias("worst_lag_days"),
    )


@query(
    "join_not_in_null_aware",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders
    FROM orders
    WHERE nullif(o_custkey, 1) NOT IN
          (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderstatus
    """,
)
def q_join_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware NOT IN, decomposed into a scale-safe plan. The naive
    `col NOT IN (subquery)` forces Spark into NullAwareAntiJoin, which
    REQUIRES broadcasting the subquery — fine for a dim, fatal when the
    inner side scales (it falls back to BroadcastNestedLoopJoin). This
    query implements the full three-valued semantics with bounded
    broadcasts only:

    - `S` empty        -> every row qualifies (even NULL left keys);
    - `S` contains NULL -> no row qualifies;
    - otherwise        -> left key NOT NULL and no equi-match.

    Plan: one shuffled left outer join on the key (both sides scale
    freely), plus a single-row aggregate indicator {|S|, has_null}
    broadcast to every partition (bounded-hint class, like the
    decile-bounds broadcast). The left key is made genuinely nullable
    with NULLIF so the NULL branch is exercised, not just typed.

    Reference parity note: the reference's SELECT grammar
    (file_server/fileserver.py:1372-1382) has no subqueries at all;
    this is the engine completing the declared-but-dead relational
    surface with the semantics SQL actually requires."""
    orders = table(spark, sf_dir, "orders").withColumn(
        "lk", F.expr("nullif(o_custkey, 1)")
    )
    inner = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("rk"))
    )
    ind = inner.agg(
        F.count(F.lit(1)).cast("long").alias("n_inner"),
        F.coalesce(
            F.max(F.when(F.col("rk").isNull(), 1).otherwise(0)), F.lit(0)
        ).alias("has_null"),
    )
    matched = inner.where(F.col("rk").isNotNull()).distinct().withColumn(
        "_m", F.lit(1)
    )
    j = (
        orders.join(matched, orders["lk"] == matched["rk"], "left")
        .crossJoin(F.broadcast(ind))
    )
    qualifies = (F.col("n_inner") == 0) | (
        (F.col("has_null") == 0)
        & F.col("lk").isNotNull()
        & F.col("_m").isNull()
    )
    return (
        j.where(qualifies)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


#: Digit-tree hierarchy rollup via WITH RECURSIVE — the same SQL text
#: runs verbatim on Spark 4 (recursive CTE support, SPARK-24497) and
#: DuckDB. Integer division is spelled floor(x/10.0) because the
#: engines disagree on the token (`DIV` vs `//`) but agree exactly on
#: IEEE floor of a small-integer double quotient.
_RECURSIVE_ROLLUP_SQL = """
WITH RECURSIVE chain(anc, dollars) AS (
  SELECT p_partkey AS anc, CAST(floor(p_retailprice) AS BIGINT) AS dollars
  FROM part
  UNION ALL
  SELECT CAST(floor(anc / 10.0) AS BIGINT) AS anc, dollars
  FROM chain WHERE anc > 0
)
SELECT anc AS ancestor,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(dollars) AS BIGINT) AS total_dollars
FROM chain
WHERE anc < 1000
GROUP BY anc
HAVING count(*) >= 2
ORDER BY ancestor
"""


# Hierarchical (BOM-style) rollup through a recursive CTE — the classic
# WITH RECURSIVE workload (org charts, bill-of-materials, account
# trees), here over the implicit decimal-digit tree parent(k) = ⌊k/10⌋:
# every part's whole-dollar retail price is propagated up its ancestor
# chain and summed per ancestor. The forest (one parent per node,
# strictly decreasing key) makes UNION ALL emit depth(k) <= ceil(log10
# max_key) rows per part, so the recursion is linear in input. Spark
# caps the TOTAL rows a recursive CTE emits at
# spark.sql.cteRecursionRowLimit (default 1M, first crossed at sf1.0);
# session.get_spark() raises it, and a bare driver session keeps the
# default and errors loudly past it. The depth guard
# (cteRecursionLevelLimit = 100) stays at its default everywhere.
sql_query("sql_recursive_hierarchy_rollup", _RECURSIVE_ROLLUP_SQL)


# INTERSECT ALL (bag semantics): each customer key appears
# min(#finished, #open) times — the multiset counterpart of
# `intersect_customers`. Spark plans it as a count-aggregate + generate,
# shuffled on the key, never a join of the raw relations.
sql_query(
    "intersect_all_customers",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)


# EXCEPT ALL (bag semantics): each customer key appears max(#finished −
# #open, 0) times — multiset difference.
sql_query(
    "except_all_customers",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)


# ---------------------------------------------------------------------------
# Per-group statistical mode with deterministic tie-break.


@query(
    "mode_quantity_by_flag",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity) AS BIGINT) AS qty,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag,
           CAST(-(max(struct_pack(a := cnt, b := -qty)).b) AS BIGINT) AS mode_qty,
           CAST(max(struct_pack(a := cnt, b := -qty)).a AS BIGINT) AS mode_cnt,
           CAST(count(*) AS BIGINT) AS n_distinct_qty
    FROM c GROUP BY l_returnflag
    """,
)
def q_mode_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode of line quantity per return flag, ties broken
    to the SMALLEST quantity via a lexicographic (count, -qty) struct
    max — the deterministic mode an engine must offer (an arbitrary-
    tie mode is unusable in a differential pipeline).

    Plan: one (flag, qty) hash-agg with map-side partials, then a
    |flags| x |distinct qty| re-agg — never a sort, never a window.
    """
    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.floor("l_quantity").cast("long").alias("qty")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    best = F.max(F.struct(F.col("cnt").alias("a"), (-F.col("qty")).alias("b")))
    return c.groupBy("l_returnflag").agg(
        (-best.getField("b")).cast("long").alias("mode_qty"),
        best.getField("a").cast("long").alias("mode_cnt"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_qty"),
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence (source x lang contingency).


# Chi-square test of independence on the source x lang contingency
# table, exact to the per-cell floor.
sql_query(
    "independence_chi2_source_lang",
    """
    WITH o AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS obs
      FROM documents GROUP BY source, lang
    ),
    rm AS (SELECT source, CAST(sum(obs) AS BIGINT) AS r FROM o GROUP BY source),
    cm AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS c FROM o GROUP BY lang),
    tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
                   CAST(count(DISTINCT source) AS BIGINT) AS nr,
                   CAST(count(DISTINCT lang) AS BIGINT) AS nc
            FROM o),
    cells AS (
      SELECT rm.source, cm.lang, coalesce(o.obs, 0) AS obs, rm.r, cm.c, n, nr, nc
      FROM rm CROSS JOIN cm
      LEFT JOIN o ON o.source = rm.source AND o.lang = cm.lang
      CROSS JOIN tot
    )
    SELECT CAST(min(n) AS BIGINT) AS n,
           CAST(min((nr - 1) * (nc - 1)) AS BIGINT) AS dof,
           CAST(sum((CAST(obs AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                    * (CAST(obs AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                    * 1000000
                    // (CAST(r AS HUGEINT) * c * n)) AS BIGINT) AS chi2_e6
    FROM cells
    """,
)


#: Verbatim-SQL LATERAL top-N: the SAME text runs on Spark (lateral
#: correlated subquery, SPARK-34382 surface) and DuckDB — engine
#: parity for the dependent-join idiom, like the WITH RECURSIVE twin.
_LATERAL_TOPN_SQL = """
SELECT r.r_name, t.n_name, t.n_customers
FROM region r, LATERAL (
  SELECT n.n_name, count(*) AS n_customers
  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY n_customers DESC, n_name
  LIMIT 2
) t
"""


# Verbatim-SQL LATERAL dependent join: per region, the top-2 nations by
# customer count from a correlated lateral subquery with its own GROUP
# BY / ORDER BY / LIMIT — the SAME SQL text executes on Spark and on the
# oracle engine (the dependent-join surface an engine must expose for
# migrating SQL verbatim, the LATERAL sibling of
# `sql_recursive_hierarchy_rollup`).
sql_query("sql_lateral_topn_per_region", _LATERAL_TOPN_SQL)
