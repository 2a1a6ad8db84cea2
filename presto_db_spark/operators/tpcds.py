"""TPC-DS adapted, all 99 queries — star-schema shapes on the TPC-H test data.

The reference ships TPC-DS q01-q99 as benchmarks and product tests
(``presto-benchto-benchmarks/src/main/resources/sql/presto/tpcds/*.sql``,
``presto-product-tests/.../sql-tests/testcases/tpcds/``). The driver
testdata is TPC-H-shaped, so each query here keeps the REFERENCE QUERY'S
STRUCTURE (join graph, CTE re-use, decimal rollups, order/limit) with this
dimension mapping:

=====================  =====================================================
TPC-DS                 driver schema
=====================  =====================================================
store_sales (fact)     lineitem (ss_sold_date/ss_customer via orders)
item                   part (i_brand=p_brand, i_category=p_type,
                       i_manager_id / i_manufact_id = p_size surrogate)
date_dim               year()/month() of o_orderdate
customer_demographics  customer.c_mktsegment
store/address geo      c_nationkey vs s_nationkey
web_returns            lineitem rows with l_returnflag = 'R'
warehouse              l_suppkey
=====================  =====================================================

Money rollups use the exact-cents idiom (``_msum``) so Spark and DuckDB
agree to the hashed digit regardless of accumulation order — TPC-DS's
decimal(7,2) semantics on binary doubles.

Scale notes: every query is a star join — Catalyst broadcasts ``part`` /
``customer`` / dim-filtered ``orders`` under AQE exactly as it does for the
TPC-H spine (asserted by tests/test_plans.py patterns). q95's "orders with
>1 supplier" CTE is implemented as a groupBy-HAVING (one shuffle, linear)
rather than the reference's self-join formulation — identical result set,
no hot-order quadratic blowup; the oracle keeps the reference's self-join
text to pin equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import QueryFn, registrar
from . import stagecache
from .tpch import _csum, _csum_sql, _msum, _msum_sql, _t

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
_q = registrar(QUERIES, ORACLE)


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _materialize_cte(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Persist ``df`` when the cte_materialization session property is on.

    Every CTE shares one stage name, so a long-lived session invoking
    q04/q11/... repeatedly holds at most ONE persisted CTE frame."""
    if spark.conf.get("spark.presto_db.cte.materialize", "false") != "true":
        return df
    return stagecache.materialize_stage("tpcds.cte", df)


_REV_SQL = "l_extendedprice * (1 - l_discount)"


# --- q3: year x brand revenue for one manufacturer, November ---------------

@_q(
    "tpcds_q03",
    f"""
SELECT year(o.o_orderdate) AS d_year, p.p_brand AS brand,
       {_msum_sql(_REV_SQL)} AS sum_agg
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size = 28 AND month(o.o_orderdate) = 11
GROUP BY d_year, brand
ORDER BY d_year ASC, sum_agg DESC, brand ASC
LIMIT 100
""",
)
def tpcds_q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q03 shape (tpcds/q03.sql: date_dim x store_sales x item,
    manufact filter + month filter, year x brand rollup)."""
    orders, lineitem, part = _t(spark, sf_dir, "orders", "lineitem", "part")
    return (
        orders.filter(F.month("o_orderdate") == 11)
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part.filter(F.col("p_size") == 28), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.year("o_orderdate").alias("d_year"), F.col("p_brand").alias("brand"))
        .agg(_msum(_rev()).alias("sum_agg"))
        .orderBy(F.asc("d_year"), F.desc("sum_agg"), F.asc("brand"))
        .limit(100)
    )


# --- q7: demographic-filtered per-item averages ----------------------------

@_q(
    "tpcds_q07",
    f"""
SELECT p.p_brand AS i_brand,
       round(avg(l.l_quantity), 6) AS agg1,
       round({_csum_sql("l.l_extendedprice")} / 100.0 / count(*), 6) AS agg2,
       round({_csum_sql("l.l_discount")} / 100.0 / count(*), 6) AS agg3,
       round({_csum_sql("l.l_tax")} / 100.0 / count(*), 6) AS agg4
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE c.c_mktsegment = 'BUILDING'
  AND (o.o_orderpriority = '1-URGENT' OR o.o_orderstatus = 'F')
  AND year(o.o_orderdate) = 2000
GROUP BY i_brand
ORDER BY i_brand ASC
LIMIT 100
""",
)
def tpcds_q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q07 shape (tpcds/q07.sql: fact x demographics x date x item x
    promotion with an OR'd channel filter, four per-item averages)."""
    lineitem, orders, customer, part = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "part"
    )
    dem = customer.filter(F.col("c_mktsegment") == "BUILDING")
    ords = orders.filter(
        ((F.col("o_orderpriority") == "1-URGENT") | (F.col("o_orderstatus") == "F"))
        & (F.year("o_orderdate") == 2000)
    )
    n = F.count(F.lit(1))
    return (
        lineitem.join(ords, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(dem, F.col("c_custkey") == F.col("o_custkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("p_brand").alias("i_brand"))
        .agg(
            F.round(F.avg("l_quantity"), 6).alias("agg1"),
            F.round(_csum(F.col("l_extendedprice")) / 100 / n, 6).alias("agg2"),
            F.round(_csum(F.col("l_discount")) / 100 / n, 6).alias("agg3"),
            F.round(_csum(F.col("l_tax")) / 100 / n, 6).alias("agg4"),
        )
        .orderBy(F.asc("i_brand"))
        .limit(100)
    )


# --- q19: brand revenue where buyer and supplier geographies differ --------

@_q(
    "tpcds_q19",
    f"""
SELECT p.p_brand AS brand, p.p_type AS i_manufact,
       {_msum_sql(_REV_SQL)} AS ext_price
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size = 8 AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 1998
  AND c.c_nationkey <> s.s_nationkey
GROUP BY brand, i_manufact
ORDER BY ext_price DESC, brand ASC, i_manufact ASC
LIMIT 100
""",
)
def tpcds_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q19 shape (tpcds/q19.sql: the zip-mismatch join — buyer
    geography <> seller geography — over brand/manufact rollup)."""
    orders, customer, lineitem, supplier, part = _t(
        spark, sf_dir, "orders", "customer", "lineitem", "supplier", "part"
    )
    return (
        orders.filter((F.month("o_orderdate") == 11) & (F.year("o_orderdate") == 1998))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(part.filter(F.col("p_size") == 8), F.col("p_partkey") == F.col("l_partkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(F.col("p_brand").alias("brand"), F.col("p_type").alias("i_manufact"))
        .agg(_msum(_rev()).alias("ext_price"))
        .orderBy(F.desc("ext_price"), F.asc("brand"), F.asc("i_manufact"))
        .limit(100)
    )


# --- q42 / q52: year x category / year x brand November rollups ------------

@_q(
    "tpcds_q42",
    f"""
SELECT year(o.o_orderdate) AS d_year, p.p_type AS i_category,
       {_msum_sql(_REV_SQL)} AS sum_sales
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size = 1 AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 2000
GROUP BY d_year, i_category
ORDER BY sum_sales DESC, d_year ASC, i_category ASC
LIMIT 100
""",
)
def tpcds_q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q42 shape (tpcds/q42.sql: dt x fact x item, category rollup)."""
    orders, lineitem, part = _t(spark, sf_dir, "orders", "lineitem", "part")
    return (
        orders.filter((F.month("o_orderdate") == 11) & (F.year("o_orderdate") == 2000))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part.filter(F.col("p_size") == 1), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.year("o_orderdate").alias("d_year"), F.col("p_type").alias("i_category"))
        .agg(_msum(_rev()).alias("sum_sales"))
        .orderBy(F.desc("sum_sales"), F.asc("d_year"), F.asc("i_category"))
        .limit(100)
    )


@_q(
    "tpcds_q52",
    f"""
SELECT year(o.o_orderdate) AS d_year, p.p_brand AS brand,
       {_msum_sql(_REV_SQL)} AS ext_price
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size = 1 AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 2000
GROUP BY d_year, brand
ORDER BY d_year ASC, ext_price DESC, brand ASC
LIMIT 100
""",
)
def tpcds_q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q52 shape (tpcds/q52.sql: q42's join with brand grain)."""
    orders, lineitem, part = _t(spark, sf_dir, "orders", "lineitem", "part")
    return (
        orders.filter((F.month("o_orderdate") == 11) & (F.year("o_orderdate") == 2000))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part.filter(F.col("p_size") == 1), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.year("o_orderdate").alias("d_year"), F.col("p_brand").alias("brand"))
        .agg(_msum(_rev()).alias("ext_price"))
        .orderBy(F.asc("d_year"), F.desc("ext_price"), F.asc("brand"))
        .limit(100)
    )


# --- q95: CTE re-used in two IN-subqueries (multi-supplier orders) ---------

@_q(
    "tpcds_q95",
    f"""
WITH multi_supp AS (
  SELECT DISTINCT l1.l_orderkey
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey
)
SELECT CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS order_cnt,
       {_msum_sql("l.l_extendedprice * l.l_tax")} AS total_ship_cost,
       {_msum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS total_net_profit
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-03-01'
  AND o.o_orderdate <  TIMESTAMP '1997-05-01'
  AND n.n_name = 'FRANCE'
  AND l.l_orderkey IN (SELECT l_orderkey FROM multi_supp)
  AND l.l_orderkey IN (
    SELECT r.l_orderkey FROM lineitem r
    JOIN multi_supp m ON m.l_orderkey = r.l_orderkey
    WHERE r.l_returnflag = 'R')
""",
)
def tpcds_q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q95 shape (tpcds/q95.sql: ws_wh CTE referenced by BOTH IN
    subqueries — orders shipped from >1 warehouse that were also returned).

    The CTE is computed as groupBy(l_orderkey) HAVING n_supp > 1 — one
    linear shuffle — instead of the reference's self-join, which is
    quadratic within hot orders; both IN's become left-semi joins against
    the same cached-plan DataFrame (Spark reuses the exchange)."""
    lineitem, orders, customer, nation = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    multi_supp = (
        lineitem.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        .filter(F.col("n_supp") > 1)
        .select("l_orderkey")
    )
    returned = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .join(multi_supp, "l_orderkey", "left_semi")
    )
    fr = nation.filter(F.col("n_name") == "FRANCE")
    base = (
        lineitem.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1997-03-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-05-01").cast("timestamp"))
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(fr, F.col("n_nationkey") == F.col("c_nationkey"), "left_semi")
        .join(multi_supp, "l_orderkey", "left_semi")
        .join(returned, "l_orderkey", "left_semi")
    )
    return base.agg(
        F.countDistinct("l_orderkey").alias("order_cnt"),
        _msum(F.col("l_extendedprice") * F.col("l_tax")).alias("total_ship_cost"),
        _msum(_rev()).alias("total_net_profit"),
    )


# --- q11: year-over-year growth, CTE referenced four times -----------------

@_q(
    "tpcds_q11",
    f"""
WITH year_total AS (
  SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
         year(o.o_orderdate) AS dyear,
         {_csum_sql(_REV_SQL)} AS year_total, 's' AS sale_type
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY customer_id, customer_name, dyear
  UNION ALL
  SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
         year(o.o_orderdate) AS dyear,
         {_csum_sql("o.o_totalprice")} AS year_total, 'w' AS sale_type
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY customer_id, customer_name, dyear
)
SELECT s2.customer_id, s2.customer_name
FROM year_total s1
JOIN year_total s2 ON s2.customer_id = s1.customer_id
JOIN year_total w1 ON w1.customer_id = s1.customer_id
JOIN year_total w2 ON w2.customer_id = s1.customer_id
WHERE s1.sale_type = 's' AND s2.sale_type = 's'
  AND w1.sale_type = 'w' AND w2.sale_type = 'w'
  AND s1.dyear = 1999 AND s2.dyear = 2000
  AND w1.dyear = 1999 AND w2.dyear = 2000
  AND s1.year_total > 0 AND w1.year_total > 0
  AND CAST(w2.year_total AS DOUBLE) / w1.year_total
      > CAST(s2.year_total AS DOUBLE) / s1.year_total
ORDER BY s2.customer_id ASC
LIMIT 100
""",
)
def tpcds_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q11 shape (tpcds/q11.sql: the year_total CTE — UNION ALL of
    two sales channels — self-joined FOUR times to compare year-over-year
    growth across channels). Totals are exact cents (integers), so the
    growth-ratio comparison is bit-identical across engines.

    The reference inlines WITH bodies (Presto 0.236 — no CTE
    materialization), so by default the two aggregations run once per
    reference and the measured plan matches the reference's execution.
    With the ``cte_materialization_enabled`` session property on
    (``Engine.set_session``), year_total is persisted MEMORY_AND_DISK
    before the 4-way self-join — the documented cluster-mode behavior:
    at 100× the two heaviest aggregations are paid once, not four times."""
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    store = (
        customer.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.year("o_orderdate").alias("dyear"),
        )
        .agg(_csum(_rev()).alias("year_total"))
        .withColumn("sale_type", F.lit("s"))
    )
    web = (
        customer.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.year("o_orderdate").alias("dyear"),
        )
        .agg(_csum(F.col("o_totalprice")).alias("year_total"))
        .withColumn("sale_type", F.lit("w"))
    )
    year_total = _materialize_cte(spark, store.unionByName(web))

    def leg(alias: str, sale_type: str, dyear: int) -> DataFrame:
        return (
            year_total.filter(
                (F.col("sale_type") == sale_type) & (F.col("dyear") == dyear)
            )
            .select("customer_id", "customer_name", "year_total")
            .alias(alias)
        )

    s1, s2 = leg("s1", "s", 1999), leg("s2", "s", 2000)
    w1, w2 = leg("w1", "w", 1999), leg("w2", "w", 2000)
    joined = (
        s1.join(s2, F.col("s2.customer_id") == F.col("s1.customer_id"))
        .join(w1, F.col("w1.customer_id") == F.col("s1.customer_id"))
        .join(w2, F.col("w2.customer_id") == F.col("s1.customer_id"))
        .filter((F.col("s1.year_total") > 0) & (F.col("w1.year_total") > 0))
        .filter(
            F.col("w2.year_total").cast("double") / F.col("w1.year_total")
            > F.col("s2.year_total").cast("double") / F.col("s1.year_total")
        )
    )
    return (
        joined.select(
            F.col("s2.customer_id").alias("customer_id"),
            F.col("s2.customer_name").alias("customer_name"),
        )
        .orderBy(F.asc("customer_id"))
        .limit(100)
    )


# --- q88: eight time-slot scans of one fact, single-row cross join ---------

@_q(
    "tpcds_q88",
    """
SELECT * FROM
 (SELECT CAST(count(*) AS BIGINT) AS h1 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 1) s1,
 (SELECT CAST(count(*) AS BIGINT) AS h2 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 2) s2,
 (SELECT CAST(count(*) AS BIGINT) AS h3 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 3) s3,
 (SELECT CAST(count(*) AS BIGINT) AS h4 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 4) s4,
 (SELECT CAST(count(*) AS BIGINT) AS h5 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 5) s5,
 (SELECT CAST(count(*) AS BIGINT) AS h6 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 6) s6,
 (SELECT CAST(count(*) AS BIGINT) AS h7 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 7) s7,
 (SELECT CAST(count(*) AS BIGINT) AS h8 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 8) s8
""",
)
def tpcds_q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q88 shape (tpcds/q88.sql: eight filtered scans of the same
    fact cross-joined into one row of time-slot counts).

    Implemented as ONE scan: conditional aggregation over the month bucket
    — 8 fact scans collapse to a single pass with 8 count_if columns
    (identical single-row result; at 100 TB this is 8x less IO than the
    literal eight-subquery plan, and Spark's scalar subquery execution
    would not dedup the scans)."""
    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    m = F.month("o_orderdate")
    joined = lineitem.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).select(
        m.alias("m")
    )
    return joined.agg(
        *[
            F.count(F.when(F.col("m") == i, 1)).alias(f"h{i}")
            for i in range(1, 9)
        ]
    )


# --- q67: rollup + per-category window rank --------------------------------

@_q(
    "tpcds_q67",
    f"""
WITH results AS (
  SELECT p.p_type AS i_category, p.p_brand AS i_brand,
         year(o.o_orderdate) AS d_year,
         {_csum_sql(_REV_SQL)} AS sumsales
  FROM orders o
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE year(o.o_orderdate) BETWEEN 1998 AND 2000
  GROUP BY ROLLUP (i_category, i_brand, d_year)
)
SELECT i_category, i_brand, d_year, sumsales, rk
FROM (
  SELECT i_category, i_brand, d_year, sumsales,
         rank() OVER (PARTITION BY i_category
                      ORDER BY sumsales DESC, i_brand NULLS FIRST,
                               d_year NULLS FIRST) AS rk
  FROM results
)
WHERE rk <= 5
ORDER BY i_category NULLS FIRST, rk, i_brand NULLS FIRST, d_year NULLS FIRST
""",
)
def tpcds_q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q67 shape (tpcds/q67.sql: ROLLUP over the sales hierarchy,
    then rank() per category with a top-k filter — GROUPING SETS feeding
    WindowGroupLimit). Sums are exact cents so rank ties are
    engine-identical; rank order carries explicit tie-breaks."""
    orders, lineitem, part = _t(spark, sf_dir, "orders", "lineitem", "part")
    from pyspark.sql.window import Window as W

    base = (
        orders.filter(F.year("o_orderdate").between(1998, 2000))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.col("p_type").alias("i_category"),
            F.col("p_brand").alias("i_brand"),
            F.year("o_orderdate").alias("d_year"),
            F.col("l_extendedprice").alias("l_extendedprice"),
            F.col("l_discount").alias("l_discount"),
        )
    )
    rolled = base.rollup("i_category", "i_brand", "d_year").agg(
        _csum(_rev()).alias("sumsales")
    )
    w = W.partitionBy("i_category").orderBy(
        F.desc("sumsales"), F.asc_nulls_first("i_brand"), F.asc_nulls_first("d_year")
    )
    return (
        rolled.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 5)
        .orderBy(
            F.asc_nulls_first("i_category"),
            F.asc("rk"),
            F.asc_nulls_first("i_brand"),
            F.asc_nulls_first("d_year"),
        )
    )


# --- q34: trips with 5-7 items, joined back to the customer ----------------

@_q(
    "tpcds_q34",
    """
WITH trips AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_orderkey HAVING count(*) BETWEEN 5 AND 7
)
SELECT c.c_name, c.c_custkey, t.l_orderkey AS ticket, t.cnt
FROM trips t
JOIN orders o ON o.o_orderkey = t.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE o.o_orderstatus = 'F'
ORDER BY c.c_name, c.c_custkey, ticket
""",
)
def tpcds_q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q34 shape (tpcds/q34.sql: tickets with BETWEEN-bounded item
    counts — aggregate-HAVING subquery joined back to customer)."""
    lineitem, orders, customer = _t(spark, sf_dir, "lineitem", "orders", "customer")
    trips = (
        lineitem.groupBy("l_orderkey")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt").between(5, 7))
    )
    return (
        trips.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name", "c_custkey", F.col("l_orderkey").alias("ticket"), "cnt"
        )
        .orderBy("c_name", "c_custkey", "ticket")
    )


# --- q48: sum over three OR'd demographic/quantity/discount bands ----------

@_q(
    "tpcds_q48",
    """
SELECT CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE (c.c_mktsegment = 'AUTOMOBILE' AND l.l_discount BETWEEN 0.00 AND 0.03
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (c.c_mktsegment = 'BUILDING' AND l.l_discount BETWEEN 0.03 AND 0.06
       AND l.l_quantity BETWEEN 10 AND 35)
   OR (c.c_mktsegment = 'MACHINERY' AND l.l_discount BETWEEN 0.06 AND 0.10
       AND l.l_quantity BETWEEN 25 AND 50)
""",
)
def tpcds_q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q48 shape (tpcds/q48.sql: one sum guarded by three OR'd
    (demographic x sales-band) predicates — the disjunctive-pushdown case:
    Catalyst factors the customer/lineitem conjuncts out of the OR into
    scan-level filters)."""
    lineitem, orders, customer = _t(spark, sf_dir, "lineitem", "orders", "customer")
    seg = F.col("c_mktsegment")
    disc, qty = F.col("l_discount"), F.col("l_quantity")
    bands = (
        ((seg == "AUTOMOBILE") & disc.between(0.00, 0.03) & qty.between(1, 20))
        | ((seg == "BUILDING") & disc.between(0.03, 0.06) & qty.between(10, 35))
        | ((seg == "MACHINERY") & disc.between(0.06, 0.10) & qty.between(25, 50))
    )
    return (
        lineitem.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .filter(bands)
        .agg(F.sum(qty.cast("long")).alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# Round-4 widening: INTERSECT/EXCEPT batteries, UNION-of-channels CTEs,
# EXISTS batteries, share-of-parent rollup windows. Channel mapping:
# l_returnflag N = store_sales, A = catalog_sales, R = web_sales (three
# disjoint row sets over the same fact, like TPC-DS's three channel facts).
# ---------------------------------------------------------------------------

def _channel_cust_dates_sql(flag: str) -> str:
    return f"""
  SELECT DISTINCT c.c_name AS c_name, CAST(o.o_orderdate AS DATE) AS d_date
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) = 1997"""


def _channel_cust_dates(spark, sf_dir, flag: str) -> DataFrame:
    orders, lineitem, customer = _t(spark, sf_dir, "orders", "lineitem", "customer")
    return (
        lineitem.filter(F.col("l_returnflag") == flag)
        .join(orders.filter(F.year("o_orderdate") == 1997),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(F.col("c_name"), F.col("o_orderdate").cast("date").alias("d_date"))
        .distinct()
    )


@_q(
    "tpcds_q38",
    f"""
SELECT CAST(count(*) AS BIGINT) AS cnt FROM (
  {_channel_cust_dates_sql('N')}
  INTERSECT
  {_channel_cust_dates_sql('A')}
  INTERSECT
  {_channel_cust_dates_sql('R')}
) hot_cust
""",
)
def tpcds_q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q38 shape (tpcds/q38.sql: customers active in ALL three
    channels in a 12-month window — DISTINCT per channel, 2-deep
    INTERSECT, count). Scale: each branch is one distinct-shuffle on
    (name, date); INTERSECT is a hash semi-chain on already-distinct
    inputs, no row explosion."""
    n = _channel_cust_dates(spark, sf_dir, "N")
    a = _channel_cust_dates(spark, sf_dir, "A")
    r = _channel_cust_dates(spark, sf_dir, "R")
    return n.intersect(a).intersect(r).agg(F.count("*").cast("bigint").alias("cnt"))


@_q(
    "tpcds_q87",
    f"""
SELECT CAST(count(*) AS BIGINT) AS cnt FROM (
  ({_channel_cust_dates_sql('N')})
  EXCEPT
  ({_channel_cust_dates_sql('A')})
  EXCEPT
  ({_channel_cust_dates_sql('R')})
) cool_cust
""",
)
def tpcds_q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q87 shape (tpcds/q87.sql: q38's INTERSECT battery with
    EXCEPT — store-only customers)."""
    n = _channel_cust_dates(spark, sf_dir, "N")
    a = _channel_cust_dates(spark, sf_dir, "A")
    r = _channel_cust_dates(spark, sf_dir, "R")
    return n.exceptAll(a).distinct().exceptAll(r).distinct().agg(
        F.count("*").cast("bigint").alias("cnt")
    )


# --- q2: week-over-year sales ratio from a UNION-of-channels CTE -----------

_Q02_DAYS = ["Sunday", "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday"]
_Q02_PIVOT_SQL = ", ".join(
    f"sum(CASE WHEN dname = '{d}' THEN cents END) AS {d[:3].lower()}_sales"
    for d in _Q02_DAYS
)
_Q02_RATIOS_SQL = ", ".join(
    f"round(CAST(w1.{d[:3].lower()}_sales AS DOUBLE) / w2.{d[:3].lower()}_sales, 2) "
    f"AS {d[:3].lower()}_ratio"
    for d in _Q02_DAYS
)

@_q(
    "tpcds_q02",
    f"""
WITH wscs AS (
  SELECT CAST(l.l_shipdate AS DATE) AS sold_date, round(l.l_extendedprice * 100) AS cents
  FROM lineitem l WHERE l.l_returnflag = 'R'
  UNION ALL
  SELECT CAST(o.o_orderdate AS DATE) AS sold_date, round(o.o_totalprice * 100) AS cents
  FROM orders o WHERE o.o_orderstatus = 'F'
), wswscs AS (
  SELECT (year(sold_date) - 1995) * 53 + weekofyear(sold_date) AS d_week_seq,
         dayname(sold_date) AS dname, cents
  FROM wscs
), pivoted AS (
  SELECT d_week_seq, {_Q02_PIVOT_SQL}
  FROM wswscs GROUP BY d_week_seq
)
SELECT w1.d_week_seq AS d_week_seq1, {_Q02_RATIOS_SQL}
FROM (SELECT * FROM pivoted WHERE d_week_seq BETWEEN 2 * 53 AND 3 * 53 - 1) w1
JOIN (SELECT * FROM pivoted WHERE d_week_seq BETWEEN 3 * 53 AND 4 * 53 - 1) w2
  ON w1.d_week_seq = w2.d_week_seq - 53
ORDER BY d_week_seq1
""",
)
def tpcds_q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q02 shape (tpcds/q02.sql: UNION-ALL of the web+catalog
    channels into one CTE, weekday pivot per week, then a self-join
    comparing each week's weekday mix to the same week one year later).

    Scale: the union is scan-shaped (no shuffle until the week groupBy);
    the year-over-year comparison joins two ~52-row aggregates. Week
    cents are exact integers so the pivoted sums are order-independent
    and the final ratios deterministic."""
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    web = lineitem.filter(F.col("l_returnflag") == "R").select(
        F.col("l_shipdate").cast("date").alias("sold_date"),
        F.round(F.col("l_extendedprice") * 100).alias("cents"),
    )
    catalog = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderdate").cast("date").alias("sold_date"),
        F.round(F.col("o_totalprice") * 100).alias("cents"),
    )
    wscs = web.unionByName(catalog)
    wswscs = wscs.select(
        ((F.year("sold_date") - 1995) * 53 + F.weekofyear("sold_date")).alias("d_week_seq"),
        F.date_format("sold_date", "EEEE").alias("dname"),
        "cents",
    )
    pivoted = wswscs.groupBy("d_week_seq").agg(
        *[
            F.sum(F.when(F.col("dname") == d, F.col("cents"))).alias(f"{d[:3].lower()}_sales")
            for d in _Q02_DAYS
        ]
    )
    w1 = pivoted.filter(F.col("d_week_seq").between(2 * 53, 3 * 53 - 1)).alias("w1")
    w2 = pivoted.filter(F.col("d_week_seq").between(3 * 53, 4 * 53 - 1)).alias("w2")
    joined = w1.join(w2, F.col("w1.d_week_seq") == F.col("w2.d_week_seq") - 53)
    return joined.select(
        F.col("w1.d_week_seq").alias("d_week_seq1"),
        *[
            F.round(
                F.col(f"w1.{d[:3].lower()}_sales").cast("double")
                / F.col(f"w2.{d[:3].lower()}_sales"),
                2,
            ).alias(f"{d[:3].lower()}_ratio")
            for d in _Q02_DAYS
        ],
    ).orderBy("d_week_seq1")


# --- q5: per-channel sales/returns CTEs unioned into a ROLLUP --------------

_Q05_SSR_SQL = f"""
  SELECT 's' || CAST(l_suppkey AS STRING) AS id,
         {_csum_sql("CASE WHEN l_returnflag = 'N' THEN l_extendedprice ELSE 0 END")} AS sales,
         {_csum_sql("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END")} AS returns,
         {_csum_sql("CASE WHEN l_returnflag = 'N' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
           - {_csum_sql("CASE WHEN l_returnflag = 'R' THEN l_extendedprice * l_tax ELSE 0 END")} AS profit
  FROM lineitem WHERE l_returnflag IN ('N', 'R') GROUP BY id"""
_Q05_CSR_SQL = f"""
  SELECT 'c' || o_orderpriority AS id,
         {_csum_sql("CASE WHEN o_orderstatus <> 'F' THEN o_totalprice ELSE 0 END")} AS sales,
         {_csum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS returns,
         {_csum_sql("CASE WHEN o_orderstatus <> 'F' THEN o_totalprice ELSE 0 END")}
           - {_csum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS profit
  FROM orders GROUP BY id"""
_Q05_WSR_SQL = f"""
  SELECT 'w' || CAST(l_linenumber AS STRING) AS id,
         {_csum_sql("CASE WHEN l_returnflag = 'A' THEN l_extendedprice ELSE 0 END")} AS sales,
         CAST(0 AS BIGINT) AS returns,
         {_csum_sql("CASE WHEN l_returnflag = 'A' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")} AS profit
  FROM lineitem WHERE l_returnflag = 'A' GROUP BY id"""

@_q(
    "tpcds_q05",
    f"""
WITH ssr AS ({_Q05_SSR_SQL}), csr AS ({_Q05_CSR_SQL}), wsr AS ({_Q05_WSR_SQL}),
unioned AS (
  SELECT 'store channel' AS channel, id, sales, returns, profit FROM ssr
  UNION ALL
  SELECT 'catalog channel' AS channel, id, sales, returns, profit FROM csr
  UNION ALL
  SELECT 'web channel' AS channel, id, sales, returns, profit FROM wsr
)
SELECT channel, id,
       round(sum(sales) / 100.0, 2) AS sales,
       round(sum(returns) / 100.0, 2) AS returns,
       round(sum(profit) / 100.0, 2) AS profit
FROM unioned
GROUP BY ROLLUP (channel, id)
ORDER BY channel ASC NULLS FIRST, id ASC NULLS FIRST
LIMIT 100
""",
)
def tpcds_q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q05 shape (tpcds/q05.sql: three per-channel sales/returns
    CTEs — each a UNION of sales rows and return rows aggregated to the
    channel's own id domain — unioned and re-aggregated GROUP BY
    ROLLUP(channel, id)). Exact-cents inner sums so the two-level
    aggregation is order-independent; money surfaces as 2dp at the end."""
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")

    def cents(c):
        return F.round(c * 100)

    li = lineitem
    ssr = (
        li.filter(F.col("l_returnflag").isin("N", "R"))
        .groupBy(F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("id"))
        .agg(
            F.sum(cents(F.when(F.col("l_returnflag") == "N", F.col("l_extendedprice")).otherwise(0.0))).alias("sales"),
            F.sum(cents(F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice")).otherwise(0.0))).alias("returns"),
            (
                F.sum(cents(F.when(F.col("l_returnflag") == "N",
                                   F.col("l_extendedprice") * (1 - F.col("l_discount"))).otherwise(0.0)))
                - F.sum(cents(F.when(F.col("l_returnflag") == "R",
                                     F.col("l_extendedprice") * F.col("l_tax")).otherwise(0.0)))
            ).alias("profit"),
        )
    )
    csr = orders.groupBy(
        F.concat(F.lit("c"), F.col("o_orderpriority")).alias("id")
    ).agg(
        F.sum(cents(F.when(F.col("o_orderstatus") != "F", F.col("o_totalprice")).otherwise(0.0))).alias("sales"),
        F.sum(cents(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0.0))).alias("returns"),
        (
            F.sum(cents(F.when(F.col("o_orderstatus") != "F", F.col("o_totalprice")).otherwise(0.0)))
            - F.sum(cents(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0.0)))
        ).alias("profit"),
    )
    wsr = (
        li.filter(F.col("l_returnflag") == "A")
        .groupBy(F.concat(F.lit("w"), F.col("l_linenumber").cast("string")).alias("id"))
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("sales"),
            F.lit(0).cast("bigint").alias("returns"),
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("profit"),
        )
    )
    unioned = (
        ssr.select(F.lit("store channel").alias("channel"), "id", "sales", "returns", "profit")
        .unionByName(csr.select(F.lit("catalog channel").alias("channel"), "id", "sales", "returns", "profit"))
        .unionByName(wsr.select(F.lit("web channel").alias("channel"), "id", "sales", "returns", "profit"))
    )
    return (
        unioned.rollup("channel", "id")
        .agg(
            F.round(F.sum("sales") / 100.0, 2).alias("sales"),
            F.round(F.sum("returns") / 100.0, 2).alias("returns"),
            F.round(F.sum("profit") / 100.0, 2).alias("profit"),
        )
        .orderBy(F.asc_nulls_first("channel"), F.asc_nulls_first("id"))
        .limit(100)
    )


# --- q8: zip-list INTERSECT preferred-customer zips gating a star join -----

_Q08_NATIONS = "[3, 7, 11, 13, 17, 19, 23, 2, 5]"

@_q(
    "tpcds_q08",
    f"""
WITH zip_list AS (
  SELECT CAST(n AS BIGINT) AS n FROM (SELECT unnest({_Q08_NATIONS}) AS n)
), preferred AS (
  SELECT c_nationkey AS n
  FROM customer WHERE c_acctbal > 3000.0
  GROUP BY c_nationkey HAVING count(*) > 10
), zips AS (
  SELECT n FROM zip_list INTERSECT SELECT n FROM preferred
)
SELECT s.s_name AS s_store_name, {_msum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS net_profit
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE year(o.o_orderdate) = 1998
  AND s.s_nationkey IN (SELECT n FROM zips)
GROUP BY s_store_name
ORDER BY s_store_name ASC
LIMIT 100
""",
)
def tpcds_q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q08 shape (tpcds/q08.sql: a literal zip list INTERSECTed
    with zips of preferred customers — count(*)>10 HAVING — gating the
    store star join via IN-subquery). Nation keys stand in for 5-digit
    zips; supplier for store. The zips set is tiny → broadcast semi-join."""
    orders, lineitem, supplier, customer = _t(
        spark, sf_dir, "orders", "lineitem", "supplier", "customer"
    )
    zip_list = spark.range(0, 1).select(
        F.explode(F.array(*[F.lit(n) for n in (3, 7, 11, 13, 17, 19, 23, 2, 5)])).alias("n")
    ).select(F.col("n").cast("bigint").alias("n"))
    preferred = (
        customer.filter(F.col("c_acctbal") > 3000.0)
        .groupBy(F.col("c_nationkey").alias("n"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 10)
        .select("n")
    )
    zips = zip_list.intersect(preferred)
    return (
        lineitem.join(
            orders.filter(F.year("o_orderdate") == 1998),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(zips, F.col("s_nationkey") == F.col("n"), "left_semi")
        .groupBy(F.col("s_name").alias("s_store_name"))
        .agg(_msum(_rev()).alias("net_profit"))
        .orderBy(F.asc("s_store_name"))
        .limit(100)
    )


# --- q10/q35: correlated-EXISTS batteries over channel activity ------------

def _channel_custkeys(spark, sf_dir, flag: str, year: int) -> DataFrame:
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    return (
        lineitem.filter(F.col("l_returnflag") == flag)
        .join(orders.filter(F.year("o_orderdate") == year),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey")
        .distinct()
    )


def _channel_exists_sql(flag: str, year: int) -> str:
    return f"""EXISTS (
    SELECT * FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = '{flag}'
      AND year(o.o_orderdate) = {year})"""


@_q(
    "tpcds_q10",
    f"""
SELECT c.c_mktsegment AS cd_segment,
       CAST(count(*) AS BIGINT) AS cnt1,
       round({_csum_sql("c.c_acctbal")} / 100.0 / count(*), 6) AS avg_bal,
       round(min(c.c_acctbal), 2) AS min_bal,
       round(max(c.c_acctbal), 2) AS max_bal
FROM customer c
WHERE {_channel_exists_sql("N", 1998)}
  AND ({_channel_exists_sql("A", 1998)} OR {_channel_exists_sql("R", 1998)})
GROUP BY cd_segment
ORDER BY cd_segment ASC
""",
)
def tpcds_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q10 shape (tpcds/q10.sql: customers with store activity AND
    (web OR catalog) activity in the window — an EXISTS battery — rolled
    up by demographics). The OR-of-EXISTS is a semi-join against the
    UNION of the two channels' key sets (identical semantics); each
    channel key set is distinct-projected before the join, so the semi
    probes stay small at any scale."""
    customer = _t(spark, sf_dir, "customer")[0]
    store = _channel_custkeys(spark, sf_dir, "N", 1998)
    either = _channel_custkeys(spark, sf_dir, "A", 1998).unionByName(
        _channel_custkeys(spark, sf_dir, "R", 1998)
    ).distinct()
    return (
        customer.join(store, F.col("c_custkey") == store["o_custkey"], "left_semi")
        .join(either, F.col("c_custkey") == either["o_custkey"], "left_semi")
        .groupBy(F.col("c_mktsegment").alias("cd_segment"))
        .agg(
            F.count("*").cast("bigint").alias("cnt1"),
            F.round(_csum(F.col("c_acctbal")) / 100.0 / F.count("*"), 6).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
        .orderBy(F.asc("cd_segment"))
    )


@_q(
    "tpcds_q35",
    f"""
SELECT n.n_name AS ca_state, c.c_mktsegment AS cd_segment,
       CAST(count(*) AS BIGINT) AS cnt,
       round(min(c.c_acctbal), 2) AS min_bal,
       round(max(c.c_acctbal), 2) AS max_bal,
       round({_csum_sql("c.c_acctbal")} / 100.0 / count(*), 6) AS avg_bal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE {_channel_exists_sql("N", 1997)}
  AND ({_channel_exists_sql("R", 1997)} OR {_channel_exists_sql("A", 1997)})
GROUP BY ca_state, cd_segment
ORDER BY ca_state ASC, cd_segment ASC
LIMIT 100
""",
)
def tpcds_q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q35 shape (tpcds/q35.sql: q10's EXISTS battery joined to
    the address dimension, grouped by state x demographics with the
    count/min/max/avg column battery)."""
    customer, nation = _t(spark, sf_dir, "customer", "nation")
    store = _channel_custkeys(spark, sf_dir, "N", 1997)
    either = _channel_custkeys(spark, sf_dir, "R", 1997).unionByName(
        _channel_custkeys(spark, sf_dir, "A", 1997)
    ).distinct()
    return (
        customer.join(store, F.col("c_custkey") == store["o_custkey"], "left_semi")
        .join(either, F.col("c_custkey") == either["o_custkey"], "left_semi")
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("ca_state"), F.col("c_mktsegment").alias("cd_segment"))
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(_csum(F.col("c_acctbal")) / 100.0 / F.count("*"), 6).alias("avg_bal"),
        )
        .orderBy(F.asc("ca_state"), F.asc("cd_segment"))
        .limit(100)
    )


# --- q36/q86: ROLLUP + rank-within-parent (GROUPING-keyed window) ----------

def _rollup_rank(spark, sf_dir, *, flag: str | None, measure_cents,
                 rank_asc: bool, name_meas: str):
    """Shared q36/q86 skeleton: channel fact x part, GROUP BY
    ROLLUP(category, class), measure + lochierarchy from GROUPING(),
    rank() within (lochierarchy, parent category)."""
    orders, lineitem, part = _t(spark, sf_dir, "orders", "lineitem", "part")
    li = lineitem if flag is None else lineitem.filter(F.col("l_returnflag") == flag)
    base = (
        li.join(orders.filter(F.year("o_orderdate") == 2000),
                F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("p_type").alias("i_category"), F.col("p_brand").alias("i_class"),
                "l_extendedprice", "l_discount", "l_tax")
    )
    agg = (
        base.rollup("i_category", "i_class")
        .agg(
            measure_cents().alias(name_meas),
            (F.grouping("i_category") + F.grouping("i_class")).alias("lochierarchy"),
            F.grouping("i_class").alias("_g_class"),
        )
    )
    order_col = F.col(name_meas).asc() if rank_asc else F.col(name_meas).desc()
    w = W.partitionBy(
        "lochierarchy",
        F.when(F.col("_g_class") == 0, F.col("i_category")),
    ).orderBy(order_col, F.asc_nulls_first("i_category"), F.asc_nulls_first("i_class"))
    return (
        agg.withColumn("rank_within_parent", F.rank().over(w).cast("int"))
        .select(name_meas, "i_category", "i_class", "lochierarchy", "rank_within_parent")
        .orderBy(
            F.desc("lochierarchy"),
            F.asc_nulls_first(F.when(F.col("lochierarchy") == 0, F.col("i_category"))),
            F.asc("rank_within_parent"),
            F.asc_nulls_first("i_category"),
            F.asc_nulls_first("i_class"),
        )
        .limit(100)
    )


def _rollup_rank_sql(*, flag_pred: str, measure_sql: str, rank_dir: str, name_meas: str) -> str:
    return f"""
SELECT {measure_sql} AS {name_meas},
       p.p_type AS i_category, p.p_brand AS i_class,
       (GROUPING(p.p_type) + GROUPING(p.p_brand)) AS lochierarchy,
       CAST(rank() OVER (
         PARTITION BY (GROUPING(p.p_type) + GROUPING(p.p_brand)),
                      (CASE WHEN GROUPING(p.p_brand) = 0 THEN p.p_type END)
         ORDER BY {measure_sql} {rank_dir},
                  p.p_type ASC NULLS FIRST, p.p_brand ASC NULLS FIRST
       ) AS INTEGER) AS rank_within_parent
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE year(o.o_orderdate) = 2000 AND {flag_pred}
GROUP BY ROLLUP (p.p_type, p.p_brand)
ORDER BY lochierarchy DESC,
         (CASE WHEN lochierarchy = 0 THEN p.p_type END) ASC NULLS FIRST,
         rank_within_parent ASC,
         i_category ASC NULLS FIRST, i_class ASC NULLS FIRST
LIMIT 100
"""


@_q(
    "tpcds_q36",
    _rollup_rank_sql(
        flag_pred="l.l_returnflag = 'N'",
        measure_sql=(
            f"round(CAST({_csum_sql('l.l_extendedprice * (1 - l.l_discount) - l.l_extendedprice * l.l_tax')} AS DOUBLE)"
            f" / {_csum_sql('l.l_extendedprice')}, 6)"
        ),
        rank_dir="ASC",
        name_meas="gross_margin",
    ),
)
def tpcds_q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q36 shape (tpcds/q36.sql: gross-margin ROLLUP over
    category/class with rank() partitioned by (GROUPING-sum, parent
    category) — the share-of-parent hierarchy window). Margin is a ratio
    of exact-cent sums rounded to 6dp, so rank keys are identical across
    engines; extra (category, class) tiebreaks pin total order."""

    def margin():
        profit = _csum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                       - F.col("l_extendedprice") * F.col("l_tax"))
        sales = _csum(F.col("l_extendedprice"))
        return F.round(profit.cast("double") / sales, 6)

    return _rollup_rank(spark, sf_dir, flag="N", measure_cents=margin,
                        rank_asc=True, name_meas="gross_margin")


@_q(
    "tpcds_q86",
    _rollup_rank_sql(
        flag_pred="l.l_returnflag = 'R'",
        measure_sql=_msum_sql("l.l_extendedprice * (1 - l.l_discount)"),
        rank_dir="DESC",
        name_meas="total_sum",
    ),
)
def tpcds_q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q86 shape (tpcds/q86.sql: web-channel net-paid ROLLUP over
    category/class with the same rank-within-parent GROUPING window,
    ranked DESC)."""

    def total():
        return _msum(_rev())

    return _rollup_rank(spark, sf_dir, flag="R", measure_cents=total,
                        rank_asc=False, name_meas="total_sum")


# --- q1: correlated per-store average return threshold ---------------------

@_q(
    "tpcds_q01",
    """
WITH ctr AS (
  SELECT o.o_custkey AS ctr_customer_sk, l.l_suppkey % 10 AS ctr_store_sk,
         sum(round(l.l_extendedprice * 100)) AS ctr_total_return
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND year(o.o_orderdate) = 1996
  GROUP BY 1, 2
)
SELECT c.c_name
FROM ctr ctr1
JOIN customer c ON ctr1.ctr_customer_sk = c.c_custkey
WHERE ctr1.ctr_total_return * 10 > (
    SELECT 12 * sum(ctr_total_return) / count(*)
    FROM ctr ctr2 WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk
  )
  AND ctr1.ctr_store_sk < 5
ORDER BY c.c_name
LIMIT 100
""",
)
def tpcds_q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q01 shape (tpcds/q01.sql: customer_total_return CTE, customers
    whose returns exceed 1.2x their store's average — a correlated scalar
    subquery over the same CTE). Decorrelated the Spark-idiomatic way: the
    per-store average is a window over the grouped CTE (one shuffle, no
    re-scan), the exact plan Presto's optimizer builds from the correlated
    form. The 1.2x threshold is cross-multiplied into exact integer cents
    (total*10*... vs 12*sum/count as identical double division) so the
    boundary is engine-stable. ctr_store_sk < 5 is the s_state filter
    analog."""
    li, orders, cust = _t(spark, sf_dir, "lineitem", "orders", "customer")
    ctr = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders.filter(F.year("o_orderdate") == 1996),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_custkey").alias("ctr_customer_sk"),
                 (F.col("l_suppkey") % 10).alias("ctr_store_sk"))
        .agg(_csum(F.col("l_extendedprice")).alias("ctr_total_return"))
    )
    w = W.partitionBy("ctr_store_sk")
    with_avg = ctr.withColumn("store_sum", F.sum("ctr_total_return").over(w)) \
                  .withColumn("store_cnt", F.count("*").over(w))
    hot = with_avg.filter(
        (F.col("ctr_total_return") * 10
         > F.lit(12) * F.col("store_sum") / F.col("store_cnt"))
        & (F.col("ctr_store_sk") < 5)
    )
    return (
        hot.join(cust, hot.ctr_customer_sk == cust.c_custkey)
        .select("c_name").orderBy("c_name").limit(100)
    )


# --- q9: bucketed CASE battery of scalar subqueries ------------------------

_Q09_BUCKETS = [(1, 10, 3000), (11, 20, 9000), (21, 30, 15000),
                (31, 40, 21000), (41, 50, 27000)]


def _q09_branch_sql(lo: int, hi: int, thr: int, n: int) -> str:
    disc = "CAST(sum(round(l_extendedprice * l_discount * 100)) AS BIGINT)"
    paid = "CAST(sum(round(l_extendedprice * (1 + l_tax) * 100)) AS BIGINT)"
    rng = f"l_quantity BETWEEN {lo} AND {hi}"
    return f"""
  CASE WHEN (SELECT count(*) FROM lineitem WHERE {rng}) > {thr}
       THEN (SELECT CAST({disc} // count(*) AS BIGINT) FROM lineitem WHERE {rng})
       ELSE (SELECT CAST({paid} // count(*) AS BIGINT) FROM lineitem WHERE {rng})
  END AS bucket{n}"""


@_q(
    "tpcds_q09",
    f"""
SELECT {", ".join(_q09_branch_sql(lo, hi, thr, i + 1)
                  for i, (lo, hi, thr) in enumerate(_Q09_BUCKETS))}
FROM region WHERE r_regionkey = 0
""",
)
def tpcds_q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q09 shape (tpcds/q09.sql: fifteen scalar subqueries over
    quantity buckets folded through five CASE branches, evaluated from a
    one-row dim scan). The oracle keeps the reference's 15-subquery text;
    the Spark plan is the single-pass conditional aggregation Presto's
    optimizer cannot reach but a columnar engine should: one scan computes
    count/branch-numerator per bucket, integer-cent division keeps both
    engines bit-identical."""
    li, region = _t(spark, sf_dir, "lineitem", "region")
    aggs = []
    for i, (lo, hi, _) in enumerate(_Q09_BUCKETS, 1):
        in_b = F.col("l_quantity").between(lo, hi)
        aggs += [
            F.sum(F.when(in_b, 1).otherwise(0)).alias(f"cnt{i}"),
            F.sum(F.when(in_b, F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
                         .cast("long")).otherwise(0)).alias(f"disc{i}"),
            F.sum(F.when(in_b, F.round(F.col("l_extendedprice") * (1 + F.col("l_tax")) * 100)
                         .cast("long")).otherwise(0)).alias(f"paid{i}"),
        ]
    stats = li.agg(*aggs)
    one_row = region.filter(F.col("r_regionkey") == 0).select(F.lit(1).alias("_j"))
    buckets = [
        F.when(F.col(f"cnt{i}") > thr,
               F.expr(f"CAST(disc{i} DIV cnt{i} AS BIGINT)"))
         .otherwise(F.expr(f"CAST(paid{i} DIV cnt{i} AS BIGINT)"))
         .alias(f"bucket{i}")
        for i, (_, _, thr) in enumerate(_Q09_BUCKETS, 1)
    ]
    return stats.crossJoin(one_row).select(*buckets)


# --- q49: per-channel return-ratio dual ranking ----------------------------

_Q49_CHANNELS = {"web": (1, 4), "catalog": (2, 5), "store": (3, 6, 7)}


def _q49_channel_sql(ch: str) -> str:
    lines = ", ".join(map(str, _Q49_CHANNELS[ch]))
    return f"""
   SELECT '{ch}' AS channel, item, return_ratio, return_rank, currency_rank
   FROM (
     SELECT item, return_ratio, currency_ratio,
            rank() OVER (ORDER BY return_ratio) AS return_rank,
            rank() OVER (ORDER BY currency_ratio) AS currency_rank
     FROM (
       SELECT l_partkey AS item,
              CAST(sum(CASE WHEN l_returnflag = 'R' AND l_quantity >= 25
                            THEN l_quantity ELSE 0 END) AS DOUBLE)
                / sum(l_quantity) AS return_ratio,
              CAST(sum(CASE WHEN l_returnflag = 'R' AND l_quantity >= 25
                            THEN round(l_extendedprice * 100) ELSE 0 END) AS DOUBLE)
                / sum(round(l_extendedprice * 100)) AS currency_ratio
       FROM lineitem
       WHERE l_linenumber IN ({lines}) AND year(l_shipdate) = 1996
       GROUP BY l_partkey
       HAVING sum(CASE WHEN l_returnflag = 'R' AND l_quantity >= 25
                       THEN 1 ELSE 0 END) > 0
     ) in_{ch}
   ) ranked_{ch}
   WHERE return_rank <= 10 OR currency_rank <= 10"""


@_q(
    "tpcds_q49",
    f"""
SELECT * FROM (
  {_q49_channel_sql('web')}
  UNION
  {_q49_channel_sql('catalog')}
  UNION
  {_q49_channel_sql('store')}
) u
ORDER BY channel, return_rank, currency_rank, item
LIMIT 100
""",
)
def tpcds_q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q49 shape (tpcds/q49.sql: per-channel worst-return-ratio
    ranking — sales LEFT JOIN returns folded to conditional aggregation,
    two independent rank() windows, rank<=10 filter, UNION of the three
    channels). Ratios are exact-int divisions evaluated identically in
    both engines; the returns-row filter (reference: wr_return_amt >
    10000) maps to quantity >= 25 on the R rows.

    Scale: the dual global rank() windows are single-partition by
    semantics (ORDER BY with no PARTITION BY — the reference's shape
    too), but their input is the per-item aggregate, already reduced by
    the HAVING to items with qualifying returns. At 100 TB you'd pre-trim
    each metric with a distributed top-K (rank <= 10 rows all lie within
    the K smallest values for K >> ties) before the global window."""
    (li,) = _t(spark, sf_dir, "lineitem")
    outs = []
    for ch, lines in _Q49_CHANNELS.items():
        base = li.filter(
            F.col("l_linenumber").isin(*lines) & (F.year("l_shipdate") == 1996)
        )
        ret = (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 25)
        g = (
            base.groupBy(F.col("l_partkey").alias("item"))
            .agg(
                F.sum(F.when(ret, F.col("l_quantity")).otherwise(0)).alias("rq"),
                F.sum("l_quantity").alias("sq"),
                F.sum(F.when(ret, F.round(F.col("l_extendedprice") * 100))
                      .otherwise(0)).alias("rc"),
                F.sum(F.round(F.col("l_extendedprice") * 100)).alias("sc"),
                F.sum(F.when(ret, 1).otherwise(0)).alias("rn"),
            )
            .filter(F.col("rn") > 0)
            .select(
                "item",
                (F.col("rq").cast("double") / F.col("sq")).alias("return_ratio"),
                (F.col("rc").cast("double") / F.col("sc")).alias("currency_ratio"),
            )
        )
        ranked = g.select(
            F.lit(ch).alias("channel"),
            "item",
            "return_ratio",
            F.rank().over(W.orderBy("return_ratio")).alias("return_rank"),
            F.rank().over(W.orderBy("currency_ratio")).alias("currency_rank"),
        ).filter((F.col("return_rank") <= 10) | (F.col("currency_rank") <= 10))
        outs.append(ranked)
    u = outs[0].unionByName(outs[1]).unionByName(outs[2]).distinct()
    return u.orderBy("channel", "return_rank", "currency_rank", "item").limit(100)


# --- q51: cumulative channel sums, FULL OUTER, running-max compare ---------

def _q51_channel_sql(flag: str) -> str:
    return f"""
   SELECT l_partkey % 50 AS item_sk, CAST(date_trunc('month', l_shipdate) AS DATE) AS d_date,
          sum(sum(round(l_extendedprice * 100)))
            OVER (PARTITION BY l_partkey % 50 ORDER BY date_trunc('month', l_shipdate)
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume_sales
   FROM lineitem WHERE l_returnflag = '{flag}'
   GROUP BY l_partkey % 50, date_trunc('month', l_shipdate)"""


@_q(
    "tpcds_q51",
    f"""
WITH web_v1 AS ({_q51_channel_sql('N')}),
     store_v1 AS ({_q51_channel_sql('A')})
SELECT item_sk, d_date, web_sales, store_sales, web_cumulative, store_cumulative
FROM (
  SELECT item_sk, d_date, web_sales, store_sales,
         max(web_sales) OVER (PARTITION BY item_sk ORDER BY d_date
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS web_cumulative,
         max(store_sales) OVER (PARTITION BY item_sk ORDER BY d_date
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS store_cumulative
  FROM (
    SELECT CASE WHEN web.item_sk IS NOT NULL THEN web.item_sk ELSE store.item_sk END AS item_sk,
           CASE WHEN web.d_date IS NOT NULL THEN web.d_date ELSE store.d_date END AS d_date,
           web.cume_sales AS web_sales, store.cume_sales AS store_sales
    FROM web_v1 web
    FULL JOIN store_v1 store ON web.item_sk = store.item_sk AND web.d_date = store.d_date
  ) x
) y
WHERE web_cumulative > store_cumulative
ORDER BY item_sk, d_date
LIMIT 100
""",
)
def tpcds_q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q51 shape (tpcds/q51.sql: per-item cumulative sales curves for
    web and store channels — nested sum(sum()) OVER — FULL OUTER joined on
    (item, date), then running max() windows over the stitched series and
    a web-overtakes-store filter). Exact-cents cumulative sums keep the
    comparison engine-stable. Scale: both channel aggs and all three
    windows share the same (item) hash/range partitioning; the FULL OUTER
    is an equi-join on the grouped (small) outputs."""
    (li,) = _t(spark, sf_dir, "lineitem")

    def channel(flag: str) -> DataFrame:
        g = (
            li.filter(F.col("l_returnflag") == flag)
            .groupBy(
                (F.col("l_partkey") % 50).alias("item_sk"),
                F.trunc("l_shipdate", "month").alias("d_date"),
            )
            .agg(_csum(F.col("l_extendedprice")).alias("msum"))
        )
        w = (
            W.partitionBy("item_sk")
            .orderBy("d_date")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return g.select("item_sk", "d_date", F.sum("msum").over(w).alias("cume_sales"))

    web, store = channel("N").alias("web"), channel("A").alias("store")
    stitched = web.join(
        store,
        (F.col("web.item_sk") == F.col("store.item_sk"))
        & (F.col("web.d_date") == F.col("store.d_date")),
        "full_outer",
    ).select(
        F.when(F.col("web.item_sk").isNotNull(), F.col("web.item_sk"))
        .otherwise(F.col("store.item_sk")).alias("item_sk"),
        F.when(F.col("web.d_date").isNotNull(), F.col("web.d_date"))
        .otherwise(F.col("store.d_date")).alias("d_date"),
        F.col("web.cume_sales").alias("web_sales"),
        F.col("store.cume_sales").alias("store_sales"),
    )
    w = (
        W.partitionBy("item_sk")
        .orderBy("d_date")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    y = stitched.select(
        "item_sk", "d_date", "web_sales", "store_sales",
        F.max("web_sales").over(w).alias("web_cumulative"),
        F.max("store_sales").over(w).alias("store_cumulative"),
    )
    return (
        y.filter(F.col("web_cumulative") > F.col("store_cumulative"))
        .orderBy("item_sk", "d_date")
        .limit(100)
    )


# --- q65: store-item revenue below a tenth of the store average ------------

@_q(
    "tpcds_q65",
    """
WITH sa AS (
  SELECT l_suppkey AS store_sk, l_partkey AS item_sk,
         sum(round(l_extendedprice * (1 - l_discount) * 100)) AS revenue
  FROM lineitem GROUP BY l_suppkey, l_partkey
), sb AS (
  SELECT store_sk, sum(revenue) AS ssum, count(*) AS cnt
  FROM sa GROUP BY store_sk
)
SELECT s.s_name, p.p_name,
       round(sc.revenue / 100.0, 2) AS revenue, p.p_retailprice
FROM supplier s
JOIN sb ON sb.store_sk = s.s_suppkey
JOIN sa sc ON sc.store_sk = sb.store_sk
JOIN part p ON p.p_partkey = sc.item_sk
WHERE sc.revenue * 10 * sb.cnt <= sb.ssum
ORDER BY s.s_name, p.p_name
LIMIT 100
""",
)
def tpcds_q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q65 shape (tpcds/q65.sql: per-(store, item) revenue compared
    to a tenth of the store's average item revenue — the aggregate-of-
    aggregate derived-table join — then store/item dims for the report).
    The 0.1x-average threshold is cross-multiplied into exact integers
    (rev * 10 * cnt <= sum) so no float boundary exists. Scale: sa is one
    shuffle on (store, item); sb reuses sa; the dim joins broadcast."""
    li, supp, part = _t(spark, sf_dir, "lineitem", "supplier", "part")
    sa = (
        li.groupBy(
            F.col("l_suppkey").alias("store_sk"), F.col("l_partkey").alias("item_sk")
        )
        .agg(_csum(_rev()).alias("revenue"))
    )
    sb = sa.groupBy("store_sk").agg(
        F.sum("revenue").alias("ssum"), F.count("*").alias("cnt")
    )
    sc = sa.alias("sc")
    joined = (
        sc.join(sb, "store_sk")
        .filter(F.col("revenue") * 10 * F.col("cnt") <= F.col("ssum"))
        .join(supp, F.col("store_sk") == F.col("s_suppkey"))
        .join(part, F.col("item_sk") == F.col("p_partkey"))
    )
    return (
        joined.select(
            "s_name", "p_name",
            F.round(F.col("revenue") / 100.0, 2).alias("revenue"),
            "p_retailprice",
        )
        .orderBy("s_name", "p_name")
        .limit(100)
    )


# --- q78: unreturned sales per channel, cross-channel ratio ----------------

def _q78_channel_sql(mod: int, pre: str) -> str:
    return f"""
   SELECT year(l.l_shipdate) AS {pre}_sold_year, l.l_partkey % 50 AS {pre}_item_sk,
          o.o_custkey AS {pre}_customer_sk,
          CAST(sum(l.l_quantity) AS BIGINT) AS {pre}_qty,
          sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)) AS {pre}_wc,
          sum(round(l.l_extendedprice * 100)) AS {pre}_sp
   FROM lineitem l
   LEFT JOIN (SELECT l_orderkey, l_linenumber FROM lineitem
              WHERE l_linenumber % 3 = {mod} AND l_returnflag = 'R') r
     ON r.l_orderkey = l.l_orderkey AND r.l_linenumber = l.l_linenumber
   JOIN orders o ON o.o_orderkey = l.l_orderkey
   WHERE l.l_linenumber % 3 = {mod} AND r.l_orderkey IS NULL
   GROUP BY year(l.l_shipdate), l.l_partkey % 50, o.o_custkey"""


@_q(
    "tpcds_q78",
    f"""
WITH ss AS ({_q78_channel_sql(0, 'ss')}),
     ws AS ({_q78_channel_sql(1, 'ws')}),
     cs AS ({_q78_channel_sql(2, 'cs')})
SELECT ss_item_sk, ss_customer_sk,
       round(CAST(ss_qty AS DOUBLE) / coalesce(ws_qty + cs_qty, 1), 2) AS ratio,
       ss_qty AS store_qty, ss_wc AS store_wholesale_cost, ss_sp AS store_sales_price,
       coalesce(ws_qty, 0) + coalesce(cs_qty, 0) AS other_chan_qty,
       coalesce(ws_wc, 0) + coalesce(cs_wc, 0) AS other_chan_wholesale_cost,
       coalesce(ws_sp, 0) + coalesce(cs_sp, 0) AS other_chan_sales_price
FROM ss
LEFT JOIN ws ON ws_sold_year = ss_sold_year AND ws_item_sk = ss_item_sk
            AND ws_customer_sk = ss_customer_sk
LEFT JOIN cs ON cs_sold_year = ss_sold_year AND cs_item_sk = ss_item_sk
            AND cs_customer_sk = ss_customer_sk
WHERE (coalesce(ws_qty, 0) > 0 OR coalesce(cs_qty, 0) > 0) AND ss_sold_year = 1996
ORDER BY ratio, ss_qty DESC, ss_wc DESC, ss_sp DESC, ss_item_sk, ss_customer_sk
LIMIT 100
""",
)
def tpcds_q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q78 shape (tpcds/q78.sql: per-channel CTEs of UNRETURNED
    sales — sales LEFT JOIN returns, keep the null side — grouped on
    (year, item, customer); store channel LEFT JOINed to the other two and
    filtered to customers active elsewhere; store-vs-other quantity
    ratio). The LEFT-JOIN-IS-NULL is the reference's anti-join idiom,
    preserved verbatim (Catalyst plans it as an anti join). Channels are
    l_linenumber mod 3; returns are the channel's R rows."""
    li, orders = _t(spark, sf_dir, "lineitem", "orders")

    def channel(mod: int, pre: str) -> DataFrame:
        sales = li.filter(F.col("l_linenumber") % 3 == mod)
        rets = sales.filter(F.col("l_returnflag") == "R").select(
            F.col("l_orderkey").alias("r_ok"), F.col("l_linenumber").alias("r_ln")
        )
        kept = (
            sales.join(
                rets,
                (F.col("r_ok") == F.col("l_orderkey"))
                & (F.col("r_ln") == F.col("l_linenumber")),
                "left",
            )
            .filter(F.col("r_ok").isNull())
            .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        )
        return kept.groupBy(
            F.year("l_shipdate").alias(f"{pre}_sold_year"),
            (F.col("l_partkey") % 50).alias(f"{pre}_item_sk"),
            F.col("o_custkey").alias(f"{pre}_customer_sk"),
        ).agg(
            F.sum("l_quantity").cast("bigint").alias(f"{pre}_qty"),
            _csum(_rev()).alias(f"{pre}_wc"),
            _csum(F.col("l_extendedprice")).alias(f"{pre}_sp"),
        )

    ss, ws, cs = channel(0, "ss"), channel(1, "ws"), channel(2, "cs")
    j = (
        ss.join(
            ws,
            (F.col("ws_sold_year") == F.col("ss_sold_year"))
            & (F.col("ws_item_sk") == F.col("ss_item_sk"))
            & (F.col("ws_customer_sk") == F.col("ss_customer_sk")),
            "left",
        )
        .join(
            cs,
            (F.col("cs_sold_year") == F.col("ss_sold_year"))
            & (F.col("cs_item_sk") == F.col("ss_item_sk"))
            & (F.col("cs_customer_sk") == F.col("ss_customer_sk")),
            "left",
        )
        .filter(
            ((F.coalesce(F.col("ws_qty"), F.lit(0)) > 0)
             | (F.coalesce(F.col("cs_qty"), F.lit(0)) > 0))
            & (F.col("ss_sold_year") == 1996)
        )
    )
    return (
        j.select(
            "ss_item_sk", "ss_customer_sk",
            F.round(
                F.col("ss_qty").cast("double")
                / F.coalesce(F.col("ws_qty") + F.col("cs_qty"), F.lit(1)),
                2,
            ).alias("ratio"),
            F.col("ss_qty").alias("store_qty"),
            F.col("ss_wc").alias("store_wholesale_cost"),
            F.col("ss_sp").alias("store_sales_price"),
            (F.coalesce(F.col("ws_qty"), F.lit(0))
             + F.coalesce(F.col("cs_qty"), F.lit(0))).alias("other_chan_qty"),
            (F.coalesce(F.col("ws_wc"), F.lit(0))
             + F.coalesce(F.col("cs_wc"), F.lit(0))).alias("other_chan_wholesale_cost"),
            (F.coalesce(F.col("ws_sp"), F.lit(0))
             + F.coalesce(F.col("cs_sp"), F.lit(0))).alias("other_chan_sales_price"),
        )
        .orderBy(
            "ratio", F.desc("store_qty"), F.desc("store_wholesale_cost"),
            F.desc("store_sales_price"), "ss_item_sk", "ss_customer_sk",
        )
        .limit(100)
    )


# --- q93: returns-adjusted actual sales per customer -----------------------

@_q(
    "tpcds_q93",
    """
SELECT o_custkey AS ss_customer_sk, CAST(sum(act_sales) AS BIGINT) AS sumsales
FROM (
  SELECT o.o_custkey,
         CASE WHEN r.ret_qty IS NOT NULL
              THEN round((l.l_quantity - r.ret_qty) / l.l_quantity * l.l_extendedprice * 100)
              ELSE round(l.l_extendedprice * 100) END AS act_sales
  FROM lineitem l
  LEFT JOIN (
    SELECT li.l_orderkey AS ret_ok, li.l_linenumber AS ret_ln,
           floor(li.l_quantity / 2) AS ret_qty, s.s_nationkey
    FROM lineitem li JOIN supplier s ON li.l_suppkey = s.s_suppkey
    WHERE li.l_returnflag = 'R'
  ) r ON r.ret_ok = l.l_orderkey AND r.ret_ln = l.l_linenumber
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE r.s_nationkey = 7
) t
GROUP BY o_custkey
ORDER BY sumsales, ss_customer_sk
LIMIT 100
""",
)
def tpcds_q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q93 shape (tpcds/q93.sql: store_sales LEFT JOIN store_returns
    on (item, ticket) with the reason-dim filter that — exactly as in the
    reference text — turns the outer join into an inner one; per-row
    actual-sales = sold minus returned quantity repriced). Returns are the
    R rows at half quantity; 'reason 28' maps to the returning supplier's
    nation 7. round() of identical IEEE expressions keeps cents aligned."""
    li, orders, supp = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    rets = (
        li.filter(F.col("l_returnflag") == "R")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_orderkey").alias("ret_ok"),
            F.col("l_linenumber").alias("ret_ln"),
            F.floor(F.col("l_quantity") / 2).alias("ret_qty"),
            "s_nationkey",
        )
    )
    t = (
        li.join(
            rets,
            (F.col("ret_ok") == F.col("l_orderkey"))
            & (F.col("ret_ln") == F.col("l_linenumber")),
            "left",
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("s_nationkey") == 7)
        .select(
            "o_custkey",
            F.when(
                F.col("ret_qty").isNotNull(),
                F.round(
                    (F.col("l_quantity") - F.col("ret_qty"))
                    / F.col("l_quantity") * F.col("l_extendedprice") * 100
                ),
            )
            .otherwise(F.round(F.col("l_extendedprice") * 100))
            .alias("act_sales"),
        )
    )
    return (
        t.groupBy(F.col("o_custkey").alias("ss_customer_sk"))
        .agg(F.sum("act_sales").cast("bigint").alias("sumsales"))
        .orderBy("sumsales", "ss_customer_sk")
        .limit(100)
    )


# --- q97: channel-overlap counts via FULL OUTER join -----------------------

def _q97_channel_sql(flag: str) -> str:
    return f"""
   SELECT o.o_custkey AS customer_sk, l.l_partkey AS item_sk
   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
   WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) BETWEEN 1996 AND 1997
   GROUP BY o.o_custkey, l.l_partkey"""


@_q(
    "tpcds_q97",
    f"""
WITH ssci AS ({_q97_channel_sql('N')}),
     csci AS ({_q97_channel_sql('A')})
SELECT CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
       CAST(sum(CASE WHEN ssci.customer_sk IS NULL AND csci.customer_sk IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS catalog_only,
       CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS store_and_catalog
FROM ssci
FULL JOIN csci ON ssci.customer_sk = csci.customer_sk AND ssci.item_sk = csci.item_sk
""",
)
def tpcds_q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q97 shape (tpcds/q97.sql: DISTINCT (customer, item) pairs per
    channel, FULL OUTER joined on the pair, classified into store-only /
    catalog-only / both counts). Scale: each channel is one distinct
    shuffle on the composite key; the FULL OUTER is an equi-join of the
    deduplicated sides — no row explosion; the final count is a global
    agg of the join output."""
    li, orders = _t(spark, sf_dir, "lineitem", "orders")

    def channel(flag: str) -> DataFrame:
        return (
            li.filter(F.col("l_returnflag") == flag)
            .join(orders.filter(F.year("o_orderdate").between(1996, 1997)),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .select(F.col("o_custkey").alias("customer_sk"),
                    F.col("l_partkey").alias("item_sk"))
            .distinct()
        )

    ssci, csci = channel("N").alias("ssci"), channel("A").alias("csci")
    j = ssci.join(
        csci,
        (F.col("ssci.customer_sk") == F.col("csci.customer_sk"))
        & (F.col("ssci.item_sk") == F.col("csci.item_sk")),
        "full_outer",
    )
    both = F.col("ssci.customer_sk").isNotNull() & F.col("csci.customer_sk").isNotNull()
    s_only = F.col("ssci.customer_sk").isNotNull() & F.col("csci.customer_sk").isNull()
    c_only = F.col("ssci.customer_sk").isNull() & F.col("csci.customer_sk").isNotNull()
    return j.agg(
        F.sum(F.when(s_only, 1).otherwise(0)).cast("bigint").alias("store_only"),
        F.sum(F.when(c_only, 1).otherwise(0)).cast("bigint").alias("catalog_only"),
        F.sum(F.when(both, 1).otherwise(0)).cast("bigint").alias("store_and_catalog"),
    )


# --- q31: quarter-over-quarter share growth, 6-way CTE self-join -----------

_Q31_SS_SQL = """
   SELECT c.c_nationkey AS county, quarter(o.o_orderdate) AS d_qoy,
          year(o.o_orderdate) AS d_year,
          sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)) AS store_sales
   FROM lineitem l
   JOIN orders o ON l.l_orderkey = o.o_orderkey
   JOIN customer c ON o.o_custkey = c.c_custkey
   GROUP BY c.c_nationkey, quarter(o.o_orderdate), year(o.o_orderdate)"""
_Q31_WS_SQL = """
   SELECT c.c_nationkey AS county, quarter(o.o_orderdate) AS d_qoy,
          year(o.o_orderdate) AS d_year,
          sum(round(o.o_totalprice * 100)) AS web_sales
   FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
   GROUP BY c.c_nationkey, quarter(o.o_orderdate), year(o.o_orderdate)"""


@_q(
    "tpcds_q31",
    f"""
WITH ss AS ({_Q31_SS_SQL}),
     ws AS ({_Q31_WS_SQL})
SELECT ss1.county, ss1.d_year,
       CAST(ws2.web_sales AS DOUBLE) / ws1.web_sales AS web_q1_q2_increase,
       CAST(ss2.store_sales AS DOUBLE) / ss1.store_sales AS store_q1_q2_increase,
       CAST(ws3.web_sales AS DOUBLE) / ws2.web_sales AS web_q2_q3_increase,
       CAST(ss3.store_sales AS DOUBLE) / ss2.store_sales AS store_q2_q3_increase
FROM ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
WHERE ss1.d_qoy = 1 AND ss1.d_year = 1996
  AND ss1.county = ss2.county AND ss2.d_qoy = 2 AND ss2.d_year = 1996
  AND ss2.county = ss3.county AND ss3.d_qoy = 3 AND ss3.d_year = 1996
  AND ss1.county = ws1.county AND ws1.d_qoy = 1 AND ws1.d_year = 1996
  AND ws1.county = ws2.county AND ws2.d_qoy = 2 AND ws2.d_year = 1996
  AND ws2.county = ws3.county AND ws3.d_qoy = 3 AND ws3.d_year = 1996
  AND ws2.web_sales * ss1.store_sales > ss2.store_sales * ws1.web_sales
  AND ws3.web_sales * ss2.store_sales > ss3.store_sales * ws2.web_sales
ORDER BY ss1.county
""",
)
def tpcds_q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q31 shape (tpcds/q31.sql: per-county quarterly sales for the
    store and web channels, each CTE instantiated THREE times (q1/q2/q3)
    and six-way joined on county; keep counties where the web channel grew
    faster than store in both quarter transitions). The growth comparison
    ws2/ws1 > ss2/ss1 is cross-multiplied to exact integer cents. Scale:
    one shuffle per channel CTE; the six instances are slices of the same
    two grouped outputs (tiny), joined on the county key."""
    li, orders, cust = _t(spark, sf_dir, "lineitem", "orders", "customer")
    ss = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("county"),
            F.quarter("o_orderdate").alias("d_qoy"),
            F.year("o_orderdate").alias("d_year"),
        )
        .agg(_csum(_rev()).alias("store_sales"))
    )
    ws = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("county"),
            F.quarter("o_orderdate").alias("d_qoy"),
            F.year("o_orderdate").alias("d_year"),
        )
        .agg(_csum(F.col("o_totalprice")).alias("web_sales"))
    )

    def pick(df, q, col):
        return df.filter((F.col("d_qoy") == q) & (F.col("d_year") == 1996)).select(
            "county", F.col(col).alias(f"{col}_{q}")
        )

    j = (
        pick(ss, 1, "store_sales")
        .join(pick(ss, 2, "store_sales"), "county")
        .join(pick(ss, 3, "store_sales"), "county")
        .join(pick(ws, 1, "web_sales"), "county")
        .join(pick(ws, 2, "web_sales"), "county")
        .join(pick(ws, 3, "web_sales"), "county")
    )
    j = j.filter(
        (F.col("web_sales_2") * F.col("store_sales_1")
         > F.col("store_sales_2") * F.col("web_sales_1"))
        & (F.col("web_sales_3") * F.col("store_sales_2")
           > F.col("store_sales_3") * F.col("web_sales_2"))
    )
    return j.select(
        "county",
        F.lit(1996).alias("d_year"),
        (F.col("web_sales_2").cast("double") / F.col("web_sales_1")).alias("web_q1_q2_increase"),
        (F.col("store_sales_2").cast("double") / F.col("store_sales_1")).alias("store_q1_q2_increase"),
        (F.col("web_sales_3").cast("double") / F.col("web_sales_2")).alias("web_q2_q3_increase"),
        (F.col("store_sales_3").cast("double") / F.col("store_sales_2")).alias("store_q2_q3_increase"),
    ).orderBy("county")


# --- q44: best/worst performing items by asc/desc rank join ----------------

_Q44_ITEM_AVG_SQL = """
   SELECT l_partkey AS item_sk,
          sum(round(l_extendedprice * (1 - l_discount) * 100)) AS s_cents,
          count(*) AS cnt
   FROM lineitem WHERE l_suppkey % 10 = 4
   GROUP BY l_partkey"""
_Q44_BASE_SQL = """
   SELECT CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS g_cents,
          count(*) AS g_cnt
   FROM lineitem WHERE l_suppkey % 10 = 4 AND l_returnflag = 'R'"""


@_q(
    "tpcds_q44",
    f"""
WITH item_avg AS ({_Q44_ITEM_AVG_SQL}),
     base AS ({_Q44_BASE_SQL}),
     v1 AS (
       SELECT item_sk, CAST(s_cents AS DOUBLE) / cnt AS rank_col
       FROM item_avg, base
       WHERE s_cents * 10 * g_cnt > 9 * g_cents * cnt
     ),
     asceding AS (
       SELECT item_sk, rnk FROM (
         SELECT item_sk, rank() OVER (ORDER BY rank_col, item_sk) AS rnk FROM v1
       ) WHERE rnk < 11
     ),
     desceding AS (
       SELECT item_sk, rnk FROM (
         SELECT item_sk, rank() OVER (ORDER BY rank_col DESC, item_sk) AS rnk FROM v1
       ) WHERE rnk < 11
     )
SELECT a.rnk, p1.p_name AS best_performing, p2.p_name AS worst_performing
FROM asceding a
JOIN desceding d ON a.rnk = d.rnk
JOIN part p1 ON p1.p_partkey = d.item_sk
JOIN part p2 ON p2.p_partkey = a.item_sk
ORDER BY a.rnk
""",
)
def tpcds_q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q44 shape (tpcds/q44.sql: per-item average profit for one
    store, HAVING above 0.9x a scalar-subquery baseline, ranked ascending
    AND descending, the two top-10 rank lists joined on rank, item dim
    joined twice for best/worst names). The 0.9x threshold is
    cross-multiplied to exact integers; ranks tie-break on item_sk so
    both engines order identically. Note the reference swaps best/worst
    via the i1/i2 join order — preserved. Scale: one item aggregation,
    one broadcast scalar, two global windows over the (small) item-avg
    set, broadcast dim joins."""
    li, part = _t(spark, sf_dir, "lineitem", "part")
    store = li.filter(F.col("l_suppkey") % 10 == 4)
    item_avg = store.groupBy(F.col("l_partkey").alias("item_sk")).agg(
        _csum(_rev()).alias("s_cents"), F.count("*").alias("cnt")
    )
    base = store.filter(F.col("l_returnflag") == "R").agg(
        F.sum(F.round(_rev() * 100)).cast("bigint").alias("g_cents"),
        F.count("*").alias("g_cnt"),
    )
    v1 = (
        item_avg.crossJoin(F.broadcast(base))
        .filter(F.col("s_cents") * 10 * F.col("g_cnt") > 9 * F.col("g_cents") * F.col("cnt"))
        .select("item_sk", (F.col("s_cents").cast("double") / F.col("cnt")).alias("rank_col"))
    )
    asc = v1.select(
        "item_sk", F.rank().over(W.orderBy("rank_col", "item_sk")).alias("rnk")
    ).filter(F.col("rnk") < 11)
    desc = v1.select(
        "item_sk", F.rank().over(W.orderBy(F.desc("rank_col"), F.asc("item_sk"))).alias("rnk")
    ).filter(F.col("rnk") < 11)
    p1, p2 = part.alias("p1"), part.alias("p2")
    return (
        asc.alias("a")
        .join(desc.alias("d"), "rnk")
        .join(p1, F.col("p1.p_partkey") == F.col("d.item_sk"))
        .join(p2, F.col("p2.p_partkey") == F.col("a.item_sk"))
        .select(
            "rnk",
            F.col("p1.p_name").alias("best_performing"),
            F.col("p2.p_name").alias("worst_performing"),
        )
        .orderBy("rnk")
    )


# --- q50: sale-to-return latency buckets per store -------------------------

@_q(
    "tpcds_q50",
    """
SELECT s.s_name, s.s_nationkey,
       CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                     THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 30
                      AND date_diff('day', o.o_orderdate, l.l_shipdate) <= 60
                     THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 60
                      AND date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
                     THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
       CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90
                      AND date_diff('day', o.o_orderdate, l.l_shipdate) <= 120
                     THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
       CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 120
                     THEN 1 ELSE 0 END) AS BIGINT) AS d_over_120
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE l.l_returnflag = 'R' AND year(l.l_shipdate) = 1996 AND month(l.l_shipdate) = 8
GROUP BY s.s_name, s.s_nationkey
ORDER BY s.s_name, s.s_nationkey
LIMIT 100
""",
)
def tpcds_q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q50 shape (tpcds/q50.sql: store_sales joined to
    store_returns on ticket+item, return-latency day-gap bucketed into
    30/60/90/120 CASE columns, grouped by the store's address block).
    Sale date is o_orderdate, return date l_shipdate of the R rows;
    the fact-fact ticket join is the orders equi-join. Scale: the
    returned-in-August filter prunes the fact scan before the join; one
    shuffle to the store grouping."""
    li, orders, supp = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    gap = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    buckets = [
        (gap <= 30, "d30"),
        ((gap > 30) & (gap <= 60), "d31_60"),
        ((gap > 60) & (gap <= 90), "d61_90"),
        ((gap > 90) & (gap <= 120), "d91_120"),
        (gap > 120, "d_over_120"),
    ]
    j = (
        li.filter(
            (F.col("l_returnflag") == "R")
            & (F.year("l_shipdate") == 1996)
            & (F.month("l_shipdate") == 8)
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        j.groupBy("s_name", "s_nationkey")
        .agg(*[F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(n) for c, n in buckets])
        .orderBy("s_name", "s_nationkey")
        .limit(100)
    )


# --- q6: states buying above-category-average-priced items -----------------

@_q(
    "tpcds_q06",
    """
SELECT c.c_nationkey AS state, CAST(count(*) AS BIGINT) AS cnt
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 1
  AND round(p.p_retailprice * 100) * 100 > 102 * (
    SELECT CAST(sum(round(j.p_retailprice * 100)) AS BIGINT) / count(*)
    FROM part j WHERE j.p_type = p.p_type
  )
GROUP BY c.c_nationkey
HAVING count(*) >= 2
ORDER BY cnt, state
LIMIT 100
""",
)
def tpcds_q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q06 shape (tpcds/q06.sql: states whose customers bought items
    priced over 1.02x their category's average in one month — a correlated
    scalar average over the item dim). Decorrelated as a window over the
    category partition (the plan Presto builds); the 1.02x threshold is
    (the synthetic retailprice spread is ±5%, so the reference's 1.2x
    selects nothing);
    exact integer cents against identical-double division. Scale: the
    priced item set is computed on the part DIM (small) then broadcast
    into the fact star join; one shuffle to the state rollup."""
    li, orders, cust, part = _t(spark, sf_dir, "lineitem", "orders", "customer", "part")
    w = W.partitionBy("p_type")
    priced = (
        part.withColumn("cents", F.round(F.col("p_retailprice") * 100))
        .withColumn("cat_sum", F.sum("cents").over(w).cast("bigint"))
        .withColumn("cat_cnt", F.count("*").over(w))
        .filter(F.col("cents") * 100 > 102 * (F.col("cat_sum") / F.col("cat_cnt")))
        .select("p_partkey")
    )
    j = (
        li.join(orders.filter(
            (F.year("o_orderdate") == 1996) & (F.month("o_orderdate") == 1)),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(priced, F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        j.groupBy(F.col("c_nationkey").alias("state"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .orderBy("cnt", "state")
        .limit(100)
    )


# --- q23: frequent items x best customers CTE chain ------------------------

@_q(
    "tpcds_q23",
    """
WITH frequent_items AS (
  SELECT l.l_partkey AS item_sk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1995 AND 1998
  GROUP BY l.l_partkey, CAST(o.o_orderdate AS DATE)
  HAVING count(*) > 4
), csales AS (
  SELECT o.o_custkey, CAST(sum(round(l.l_quantity * (l.l_extendedprice / l.l_quantity) * 100)) AS BIGINT) AS csales
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1995 AND 1998
  GROUP BY o.o_custkey
), max_sales AS (
  SELECT max(csales) AS cmax FROM csales
), best_customers AS (
  SELECT c2.o_custkey FROM (
    SELECT o.o_custkey, CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS ssales
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
  ) c2, max_sales
  WHERE c2.ssales * 2 > cmax
)
SELECT CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sales_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 2
  AND l.l_partkey IN (SELECT item_sk FROM frequent_items)
  AND o.o_custkey IN (SELECT o_custkey FROM best_customers)
""",
)
def tpcds_q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q23 shape (tpcds/q23_1.sql: frequent_ss_items — items sold >4
    times on one day over four years — intersected with best_ss_customer —
    customers above 50% of the maximum customer spend, a scalar-subquery-
    of-a-CTE threshold — then one month's sales restricted to both IN
    lists). The 50%-of-max is cross-multiplied exact (ssales*2 > cmax).
    Scale: both gate CTEs are semi-join (broadcastable distinct key) sides;
    the scalar max is a one-row broadcast; the month filter prunes the
    final fact pass."""
    li, orders = _t(spark, sf_dir, "lineitem", "orders")
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    years = lo.filter(F.year("o_orderdate").between(1995, 1998))
    frequent = (
        years.groupBy("l_partkey", F.col("o_orderdate").cast("date"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 4)
        .select(F.col("l_partkey").alias("item_sk"))
        .distinct()
    )
    csales = years.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("l_quantity") * (F.col("l_extendedprice") / F.col("l_quantity")) * 100)
        ).cast("bigint").alias("csales")
    )
    cmax = csales.agg(F.max("csales").alias("cmax"))
    ssales = lo.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100)).cast("bigint").alias("ssales")
    )
    best = (
        ssales.crossJoin(F.broadcast(cmax))
        .filter(F.col("ssales") * 2 > F.col("cmax"))
        .select("o_custkey")
    )
    month = lo.filter((F.year("o_orderdate") == 1996) & (F.month("o_orderdate") == 2))
    return (
        month.join(frequent, month.l_partkey == frequent.item_sk, "left_semi")
        .join(best, "o_custkey", "left_semi")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100)).cast("bigint").alias("sales_cents"))
    )


# --- q66: two-carrier monthly pivot per warehouse --------------------------

_Q66_MONTHS = ["jan", "feb", "mar", "apr", "may", "jun",
               "jul", "aug", "sep", "oct", "nov", "dec"]


def _q66_arm_sql(status: str) -> str:
    cols = ", ".join(
        f"sum(CASE WHEN month(l.l_shipdate) = {i + 1} "
        f"THEN round(l.l_extendedprice * 100) ELSE 0 END) AS {m}_cents"
        for i, m in enumerate(_Q66_MONTHS)
    )
    return f"""
   SELECT l.l_suppkey AS wh, year(l.l_shipdate) AS yr, {cols}
   FROM lineitem l
   WHERE l.l_linestatus = '{status}' AND year(l.l_shipdate) = 1996
   GROUP BY l.l_suppkey, year(l.l_shipdate)"""


@_q(
    "tpcds_q66",
    f"""
WITH both_arms AS (
  {_q66_arm_sql('O')}
  UNION ALL
  {_q66_arm_sql('F')}
)
SELECT s.s_name, s.s_nationkey, (s.s_suppkey % 100 + 50) AS sq_ft,
       'O_AND_F' AS ship_carriers, yr,
       {", ".join(f"round(sum({m}_cents) / 100.0, 2) AS {m}_sales" for m in _Q66_MONTHS)},
       {", ".join(f"round(sum({m}_cents) / 100.0 / (s.s_suppkey % 100 + 50), 6) AS {m}_sales_per_sq_foot" for m in _Q66_MONTHS)}
FROM both_arms
JOIN supplier s ON wh = s.s_suppkey
GROUP BY s.s_name, s.s_nationkey, s.s_suppkey, yr
ORDER BY s.s_name
LIMIT 100
""",
)
def tpcds_q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q66 shape (tpcds/q66.sql: web+catalog sales UNION ALL'd into
    one CTE, each arm pre-pivoted into 12 monthly columns, re-aggregated
    per warehouse with per-square-foot normalizations). Carriers are the
    two l_linestatus arms; warehouse = supplier with a deterministic
    sq_ft surrogate. Exact-cents month columns make the 24 output
    aggregates order-independent; the per-sqft divisions are identical
    doubles in both engines. Scale: each arm is one scan+groupBy (the
    pivot is conditional aggregation, not a shuffle per month); the
    union re-agg touches 12-column rows keyed by warehouse — tiny."""
    li, supp = _t(spark, sf_dir, "lineitem", "supplier")

    def arm(status: str) -> DataFrame:
        base = li.filter(
            (F.col("l_linestatus") == status) & (F.year("l_shipdate") == 1996)
        )
        return base.groupBy(
            F.col("l_suppkey").alias("wh"), F.year("l_shipdate").alias("yr")
        ).agg(*[
            F.sum(
                F.when(F.month("l_shipdate") == i + 1,
                       F.round(F.col("l_extendedprice") * 100)).otherwise(0)
            ).alias(f"{m}_cents")
            for i, m in enumerate(_Q66_MONTHS)
        ])

    both = arm("O").unionByName(arm("F"))
    sq_ft = F.col("s_suppkey") % 100 + 50
    g = (
        both.join(supp, F.col("wh") == F.col("s_suppkey"))
        .groupBy("s_name", "s_nationkey", "s_suppkey", "yr")
        .agg(*[F.sum(f"{m}_cents").alias(f"{m}_sum") for m in _Q66_MONTHS])
    )
    return (
        g.select(
            "s_name", "s_nationkey", sq_ft.alias("sq_ft"),
            F.lit("O_AND_F").alias("ship_carriers"), "yr",
            *[F.round(F.col(f"{m}_sum") / 100.0, 2).alias(f"{m}_sales")
              for m in _Q66_MONTHS],
            *[F.round(F.col(f"{m}_sum") / 100.0 / sq_ft, 6)
              .alias(f"{m}_sales_per_sq_foot") for m in _Q66_MONTHS],
        )
        .orderBy("s_name")
        .limit(100)
    )


# --- q61: promotional-sales share, two single-row star aggregates ----------

@_q(
    "tpcds_q61",
    """
SELECT promotions, total,
       CAST(promotions AS DOUBLE) / total * 100 AS promo_pct
FROM (
  SELECT CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS promotions
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE c.c_nationkey = 5 AND p.p_size = 28
    AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 11
    AND (l.l_returnflag = 'R' OR l.l_linestatus = 'F' OR l.l_discount > 0.05)
) promotional_sales, (
  SELECT CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS total
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE c.c_nationkey = 5 AND p.p_size = 28
    AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 11
) all_sales
""",
)
def tpcds_q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q61 shape (tpcds/q61.sql: promotional sales vs all sales for
    one geography+category+month — two single-row star aggregates
    cross-joined into a share ratio; the promo side adds the OR'd channel
    predicate). The ratio divides exact cent sums as identical doubles.
    Scale: both aggregates share the same broadcast star join; the cross
    join is 1x1."""
    li, orders, cust, part = _t(spark, sf_dir, "lineitem", "orders", "customer", "part")
    base = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            (F.col("c_nationkey") == 5) & (F.col("p_size") == 28)
            & (F.year("o_orderdate") == 1996) & (F.month("o_orderdate") == 11)
        )
    )
    promo = base.filter(
        (F.col("l_returnflag") == "R") | (F.col("l_linestatus") == "F")
        | (F.col("l_discount") > 0.05)
    ).agg(F.sum(F.round(F.col("l_extendedprice") * 100)).cast("bigint").alias("promotions"))
    total = base.agg(
        F.sum(F.round(F.col("l_extendedprice") * 100)).cast("bigint").alias("total")
    )
    return promo.crossJoin(total).select(
        "promotions", "total",
        (F.col("promotions").cast("double") / F.col("total") * 100).alias("promo_pct"),
    )


# --- q59: week-over-week weekday mix per store -----------------------------

_Q59_DAYS = ["Sunday", "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday"]


@_q(
    "tpcds_q59",
    f"""
WITH wss AS (
  SELECT (year(l.l_shipdate) - 1995) * 53 + weekofyear(l.l_shipdate) AS d_week_seq,
         l.l_suppkey AS store_sk,
         {", ".join(f"sum(CASE WHEN dayname(l.l_shipdate) = '{d}' THEN round(l.l_extendedprice * 100) END) AS {d[:3].lower()}_sales" for d in _Q59_DAYS)}
  FROM lineitem l
  GROUP BY 1, 2
)
SELECT s.s_name AS s_store_name1, y.d_week_seq AS d_week_seq1,
       {", ".join(f"round(CAST(y.{d[:3].lower()}_sales AS DOUBLE) / x.{d[:3].lower()}_sales, 4) AS {d[:3].lower()}_ratio" for d in _Q59_DAYS)}
FROM wss y
JOIN wss x ON y.store_sk = x.store_sk AND y.d_week_seq = x.d_week_seq - 53
JOIN supplier s ON y.store_sk = s.s_suppkey
WHERE y.d_week_seq BETWEEN 2 * 53 AND 3 * 53 - 1
ORDER BY s_store_name1, d_week_seq1
LIMIT 100
""",
)
def tpcds_q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q59 shape (tpcds/q59.sql: per-(store, week) weekday-pivot CTE
    self-joined one year apart, weekday-over-weekday ratios per store).
    Extends q02's weekly pivot with the store dimension — the self-join
    keys on (store, week±53). Exact-cent pivots; ratios are identical
    doubles. Scale: one shuffle to (week, store) grouping; the self-join
    and dim join are narrow aggregates."""
    li, supp = _t(spark, sf_dir, "lineitem", "supplier")
    wss = (
        li.groupBy(
            ((F.year("l_shipdate") - 1995) * 53 + F.weekofyear("l_shipdate")).alias("d_week_seq"),
            F.col("l_suppkey").alias("store_sk"),
        )
        .agg(*[
            F.sum(
                F.when(F.date_format("l_shipdate", "EEEE") == d,
                       F.round(F.col("l_extendedprice") * 100))
            ).alias(f"{d[:3].lower()}_sales")
            for d in _Q59_DAYS
        ])
    )
    y = wss.alias("y").filter(F.col("d_week_seq").between(2 * 53, 3 * 53 - 1))
    x = wss.alias("x")
    j = y.join(
        x,
        (F.col("y.store_sk") == F.col("x.store_sk"))
        & (F.col("y.d_week_seq") == F.col("x.d_week_seq") - 53),
    ).join(supp, F.col("y.store_sk") == F.col("s_suppkey"))
    return (
        j.select(
            F.col("s_name").alias("s_store_name1"),
            F.col("y.d_week_seq").alias("d_week_seq1"),
            *[
                F.round(
                    F.col(f"y.{d[:3].lower()}_sales").cast("double")
                    / F.col(f"x.{d[:3].lower()}_sales"),
                    4,
                ).alias(f"{d[:3].lower()}_ratio")
                for d in _Q59_DAYS
            ],
        )
        .orderBy("s_store_name1", "d_week_seq1")
        .limit(100)
    )


# --- q14: cross-channel item INTERSECT gate + avg-threshold CASE -----------

def _q14_channel_items_sql(flag: str) -> str:
    return f"""
      SELECT DISTINCT l_partkey FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) BETWEEN 1996 AND 1998"""


@_q(
    "tpcds_q14",
    f"""
WITH cross_items AS (
  {_q14_channel_items_sql('N')}
  INTERSECT
  {_q14_channel_items_sql('A')}
  INTERSECT
  {_q14_channel_items_sql('R')}
), avg_sales AS (
  SELECT CAST(sum(round(l.l_quantity * (l.l_extendedprice / l.l_quantity) * 100)) AS BIGINT) / count(*) AS average_cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1996 AND 1998
)
SELECT l.l_returnflag AS channel, l.l_partkey AS i_item_sk,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sales_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN cross_items ci ON l.l_partkey = ci.l_partkey, avg_sales
WHERE year(o.o_orderdate) = 1998 AND month(o.o_orderdate) = 11
GROUP BY l.l_returnflag, l.l_partkey, average_cents
HAVING CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) > average_cents
ORDER BY channel, i_item_sk
LIMIT 100
""",
)
def tpcds_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q14 shape (tpcds/q14_1.sql: cross_items — the INTERSECT of
    the three channels' item sets — gating a monthly rollup whose HAVING
    compares against a scalar-CTE average). The average is exact-cents
    integer division broadcast as a 1-row frame into the HAVING; the gate
    is a semi-join against the INTERSECT chain. Scale: the INTERSECT runs
    on distinct item keys (narrow); avg_sales is one scan; the gated
    rollup is one shuffle on (channel, item)."""
    li, orders = _t(spark, sf_dir, "lineitem", "orders")
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    yrs = lo.filter(F.year("o_orderdate").between(1996, 1998))

    def items(flag: str) -> DataFrame:
        return yrs.filter(F.col("l_returnflag") == flag).select("l_partkey").distinct()

    cross_items = items("N").intersect(items("A")).intersect(items("R"))
    avg_sales = yrs.agg(
        (
            F.sum(
                F.round(F.col("l_quantity") * (F.col("l_extendedprice") / F.col("l_quantity")) * 100)
            ).cast("bigint") / F.count("*")
        ).alias("average_cents")
    )
    month = lo.filter((F.year("o_orderdate") == 1998) & (F.month("o_orderdate") == 11))
    g = (
        month.join(cross_items, "l_partkey", "left_semi")
        .crossJoin(F.broadcast(avg_sales))
        .groupBy(
            F.col("l_returnflag").alias("channel"),
            F.col("l_partkey").alias("i_item_sk"),
            "average_cents",
        )
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum(F.round(F.col("l_extendedprice") * 100)).cast("bigint").alias("sales_cents"),
        )
    )
    return (
        g.filter(F.col("sales_cents") > F.col("average_cents"))
        .select("channel", "i_item_sk", "cnt", "sales_cents")
        .orderBy("channel", "i_item_sk")
        .limit(100)
    )


# --- q54: revenue-bucket histogram of customer spend -----------------------

@_q(
    "tpcds_q54",
    """
WITH my_customers AS (
  SELECT DISTINCT o.o_custkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_size = 28 AND year(o.o_orderdate) = 1996
), my_revenue AS (
  SELECT o.o_custkey, CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS revenue_cents
  FROM (SELECT DISTINCT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE year(o_orderdate) = 1996 AND month(o_orderdate) BETWEEN 1 AND 3) o
  JOIN my_customers mc ON o.o_custkey = mc.o_custkey
  GROUP BY o.o_custkey
)
SELECT CAST(revenue_cents // 5000000 AS BIGINT) AS segment,
       CAST(count(*) AS BIGINT) AS num_customers,
       CAST(revenue_cents // 5000000 AS BIGINT) * 50000 AS segment_base
FROM my_revenue
GROUP BY revenue_cents // 5000000
ORDER BY segment, num_customers
LIMIT 100
""",
)
def tpcds_q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q54 shape (tpcds/q54.sql: customers who bought a target
    category, their next-quarter store revenue bucketed into $50 segments,
    count of customers per segment — a histogram OF aggregates). Buckets
    are exact integer cent division. Scale: my_customers is a distinct
    semi-join gate; revenue is one shuffle on customer; the segment
    histogram aggregates the (already small) per-customer rollup."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    my_customers = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part.filter(F.col("p_size") == 28),
              F.col("l_partkey") == F.col("p_partkey"))
        .select("o_custkey").distinct()
    )
    q1 = orders.filter(
        (F.year("o_orderdate") == 1996) & (F.month("o_orderdate").between(1, 3))
    ).select("o_orderkey", "o_custkey", "o_totalprice").distinct()
    my_revenue = (
        q1.join(my_customers, "o_custkey", "left_semi")
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100)).cast("bigint").alias("revenue_cents"))
    )
    seg = F.expr("revenue_cents DIV 5000000").cast("bigint")
    return (
        my_revenue.groupBy(seg.alias("segment"))
        .agg(F.count("*").cast("bigint").alias("num_customers"))
        .select("segment", "num_customers", (F.col("segment") * 50000).alias("segment_base"))
        .orderBy("segment", "num_customers")
        .limit(100)
    )


# --- q58: items selling evenly across all three channels -------------------

def _q58_channel_sql(flag: str, name: str) -> str:
    return f"""
   SELECT l.l_partkey AS item_sk, CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS {name}_rev
   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
   WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) = 1996
   GROUP BY l.l_partkey"""


@_q(
    "tpcds_q58",
    f"""
WITH ss_items AS ({_q58_channel_sql('N', 'ss')}),
     cs_items AS ({_q58_channel_sql('A', 'cs')}),
     ws_items AS ({_q58_channel_sql('R', 'ws')})
SELECT ss.item_sk AS item_id, ss_rev, cs_rev, ws_rev,
       round(CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3, 2) AS average
FROM ss_items ss
JOIN cs_items cs ON ss.item_sk = cs.item_sk
JOIN ws_items ws ON ss.item_sk = ws.item_sk
WHERE ss_rev * 30 BETWEEN 9 * (ss_rev + cs_rev + ws_rev) AND 11 * (ss_rev + cs_rev + ws_rev)
  AND cs_rev * 30 BETWEEN 9 * (ss_rev + cs_rev + ws_rev) AND 11 * (ss_rev + cs_rev + ws_rev)
  AND ws_rev * 30 BETWEEN 9 * (ss_rev + cs_rev + ws_rev) AND 11 * (ss_rev + cs_rev + ws_rev)
ORDER BY item_id
LIMIT 100
""",
)
def tpcds_q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q58 shape (tpcds/q58.sql: items whose store/catalog/web
    revenues each sit within 10% of the three-channel average — the
    symmetric-band three-way join). The band test is cross-multiplied to
    exact integers (rev*30 BETWEEN 9*sum AND 11*sum ⇔ rev within ±10% of
    sum/3). Scale: three channel rollups on the item key, then narrow
    equi-joins of the aggregates."""
    li, orders = _t(spark, sf_dir, "lineitem", "orders")
    lo = li.join(orders.filter(F.year("o_orderdate") == 1996),
                 F.col("l_orderkey") == F.col("o_orderkey"))

    def channel(flag: str, name: str) -> DataFrame:
        return (
            lo.filter(F.col("l_returnflag") == flag)
            .groupBy(F.col("l_partkey").alias("item_sk"))
            .agg(F.sum(F.round(F.col("l_extendedprice") * 100)).cast("bigint")
                 .alias(f"{name}_rev"))
        )

    ss, cs, ws = channel("N", "ss"), channel("A", "cs"), channel("R", "ws")
    j = ss.join(cs, "item_sk").join(ws, "item_sk")
    tot = F.col("ss_rev") + F.col("cs_rev") + F.col("ws_rev")
    band = (
        (F.col("ss_rev") * 30).between(9 * tot, 11 * tot)
        & (F.col("cs_rev") * 30).between(9 * tot, 11 * tot)
        & (F.col("ws_rev") * 30).between(9 * tot, 11 * tot)
    )
    return (
        j.filter(band)
        .select(
            F.col("item_sk").alias("item_id"), "ss_rev", "cs_rev", "ws_rev",
            F.round(tot.cast("double") / 3, 2).alias("average"),
        )
        .orderBy("item_id")
        .limit(100)
    )


# --- q79: per-customer most-profitable trip --------------------------------

@_q(
    "tpcds_q79",
    """
WITH ms AS (
  SELECT l.l_orderkey AS ticket, o.o_custkey, s.s_nationkey AS city,
         CAST(sum(round(l.l_extendedprice * l.l_discount * 100)) AS BIGINT) AS amt,
         CAST(sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)) AS BIGINT) AS profit
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE dayofweek(o.o_orderdate) = 1 AND year(o.o_orderdate) BETWEEN 1996 AND 1998
    AND (l.l_quantity >= 30 OR l.l_discount > 0.08)
  GROUP BY l.l_orderkey, o.o_custkey, s.s_nationkey
)
SELECT c.c_name, ms.city, ms.ticket, ms.amt, ms.profit
FROM ms JOIN customer c ON ms.o_custkey = c.c_custkey
ORDER BY c.c_name, ms.profit, ms.ticket, ms.city
LIMIT 100
""",
)
def tpcds_q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q79 shape (tpcds/q79.sql: per-(ticket, customer, store-city)
    coupon/profit rollup under demographic + day-of-week filters, joined
    to the customer dim for the name-ordered report). Monday trips map to
    dayofweek=2; the demographic OR gate maps to quantity/discount.
    Scale: filters prune the fact scan; one shuffle to the trip grouping;
    customer join is broadcastable."""
    li, orders, supp, cust = _t(spark, sf_dir, "lineitem", "orders", "supplier", "customer")
    ms = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(
            (F.dayofweek("o_orderdate") == 2)
            & F.year("o_orderdate").between(1996, 1998)
            & ((F.col("l_quantity") >= 30) | (F.col("l_discount") > 0.08))
        )
        .groupBy(
            F.col("l_orderkey").alias("ticket"),
            "o_custkey",
            F.col("s_nationkey").alias("city"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * F.col("l_discount") * 100))
            .cast("bigint").alias("amt"),
            F.sum(F.round(_rev() * 100)).cast("bigint").alias("profit"),
        )
    )
    return (
        ms.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "city", "ticket", "amt", "profit")
        .orderBy("c_name", "profit", "ticket", "city")
        .limit(100)
    )


# --- q33: per-manufacturer revenue unioned across three channels -----------

def _q33_channel_sql(flag: str) -> str:
    return f"""
   SELECT p.p_size AS manufact, sum(round(l.l_extendedprice * 100)) AS cents
   FROM lineitem l
   JOIN orders o ON l.l_orderkey = o.o_orderkey
   JOIN part p ON l.l_partkey = p.p_partkey
   WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 5
     AND p.p_size IN (SELECT p_size FROM part WHERE p_type LIKE '%ECO%')
   GROUP BY p.p_size"""


@_q(
    "tpcds_q33",
    f"""
WITH ss AS ({_q33_channel_sql('N')}),
     cs AS ({_q33_channel_sql('A')}),
     ws AS ({_q33_channel_sql('R')})
SELECT manufact, CAST(sum(cents) AS BIGINT) AS total_cents
FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws) tmp
GROUP BY manufact
ORDER BY total_cents, manufact
LIMIT 100
""",
)
def tpcds_q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q33 shape (tpcds/q33.sql: per-manufacturer revenue computed
    independently in each of the three channels — each arm gated by an
    IN-subquery over the category dim — UNION ALL'd and re-aggregated).
    Scale: the category IN-list is a dim-only semi-join (broadcast); each
    arm is one star shuffle; the re-agg runs on three small aggregates."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    sizes = part.filter(F.col("p_type").like("%ECO%")).select("p_size").distinct()

    def channel(flag: str) -> DataFrame:
        return (
            li.filter(F.col("l_returnflag") == flag)
            .join(orders.filter(
                (F.year("o_orderdate") == 1996) & (F.month("o_orderdate") == 5)),
                F.col("l_orderkey") == F.col("o_orderkey"))
            .join(part, F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(sizes), "p_size", "left_semi")
            .groupBy(F.col("p_size").alias("manufact"))
            .agg(F.sum(F.round(F.col("l_extendedprice") * 100)).alias("cents"))
        )

    u = channel("N").unionByName(channel("A")).unionByName(channel("R"))
    return (
        u.groupBy("manufact")
        .agg(F.sum("cents").cast("bigint").alias("total_cents"))
        .orderBy("total_cents", "manufact")
        .limit(100)
    )


# --- q75: year-over-year decline by brand, returns-netted ------------------

def _q75_channel_sql(mod: int) -> str:
    return f"""
      SELECT year(o.o_orderdate) AS d_year, p.p_brand AS brand, p.p_size AS manufact,
             CAST(l.l_quantity AS BIGINT) - coalesce(r.ret_qty, 0) AS sales_cnt,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) - coalesce(r.ret_cents, 0) AS sales_amt
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      LEFT JOIN (
        SELECT li.l_orderkey AS rok, li.l_linenumber AS rln,
               CAST(floor(li.l_quantity / 2) AS BIGINT) AS ret_qty,
               CAST(round(li.l_extendedprice * 100) AS BIGINT) // 2 AS ret_cents
        FROM lineitem li WHERE li.l_linenumber % 3 = {mod} AND li.l_returnflag = 'R'
      ) r ON r.rok = l.l_orderkey AND r.rln = l.l_linenumber
      WHERE l.l_linenumber % 3 = {mod} AND p.p_type LIKE '%DARD%'"""


@_q(
    "tpcds_q75",
    f"""
WITH all_sales AS (
  SELECT d_year, brand, manufact,
         CAST(sum(sales_cnt) AS BIGINT) AS sales_cnt, CAST(sum(sales_amt) AS BIGINT) AS sales_amt
  FROM (
    {_q75_channel_sql(0)}
    UNION
    {_q75_channel_sql(1)}
    UNION
    {_q75_channel_sql(2)}
  ) sales_detail
  GROUP BY d_year, brand, manufact
)
SELECT prev_yr.d_year AS prev_year, curr_yr.d_year AS year_,
       curr_yr.brand, curr_yr.manufact,
       prev_yr.sales_cnt AS prev_yr_cnt, curr_yr.sales_cnt AS curr_yr_cnt,
       curr_yr.sales_cnt - prev_yr.sales_cnt AS sales_cnt_diff,
       curr_yr.sales_amt - prev_yr.sales_amt AS sales_amt_diff
FROM all_sales curr_yr
JOIN all_sales prev_yr
  ON curr_yr.brand = prev_yr.brand AND curr_yr.manufact = prev_yr.manufact
 AND curr_yr.d_year = 1997 AND prev_yr.d_year = 1996
WHERE curr_yr.sales_cnt * 10 < 9 * prev_yr.sales_cnt
ORDER BY sales_cnt_diff, sales_amt_diff, curr_yr.brand, curr_yr.manufact
LIMIT 100
""",
)
def tpcds_q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q75 shape (tpcds/q75.sql: per-(year, brand, manufact) sales
    NET of returns — sales LEFT JOIN returns with COALESCE subtraction —
    UNION'd (distinct, as the reference spells it) across the three
    channels, then current-year vs prior-year self-join keeping brands
    that declined more than 10%). The decline test is cross-multiplied
    exact (curr*10 < 9*prev). Channels are l_linenumber mod 3; returns
    are the channel's R rows at half quantity. Scale: per-channel star
    joins with an equi-join to returns; the YoY comparison joins two
    year-slices of one grouped frame."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")

    def channel(mod: int) -> DataFrame:
        sales = li.filter(F.col("l_linenumber") % 3 == mod)
        rets = sales.filter(F.col("l_returnflag") == "R").select(
            F.col("l_orderkey").alias("rok"),
            F.col("l_linenumber").alias("rln"),
            F.floor(F.col("l_quantity") / 2).cast("bigint").alias("ret_qty"),
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT) DIV 2").alias("ret_cents"),
        )
        return (
            sales.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(part.filter(F.col("p_type").like("%DARD%")),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(rets, (F.col("rok") == F.col("l_orderkey"))
                  & (F.col("rln") == F.col("l_linenumber")), "left")
            .select(
                F.year("o_orderdate").alias("d_year"),
                F.col("p_brand").alias("brand"),
                F.col("p_size").alias("manufact"),
                (F.col("l_quantity").cast("bigint")
                 - F.coalesce(F.col("ret_qty"), F.lit(0))).alias("sales_cnt"),
                (F.round(F.col("l_extendedprice") * 100).cast("bigint")
                 - F.coalesce(F.col("ret_cents"), F.lit(0))).alias("sales_amt"),
            )
        )

    detail = channel(0).unionByName(channel(1)).unionByName(channel(2)).distinct()
    all_sales = detail.groupBy("d_year", "brand", "manufact").agg(
        F.sum("sales_cnt").cast("bigint").alias("sales_cnt"),
        F.sum("sales_amt").cast("bigint").alias("sales_amt"),
    )
    curr = all_sales.filter(F.col("d_year") == 1997).alias("c")
    prev = all_sales.filter(F.col("d_year") == 1996).alias("p")
    j = curr.join(
        prev,
        (F.col("c.brand") == F.col("p.brand")) & (F.col("c.manufact") == F.col("p.manufact")),
    ).filter(F.col("c.sales_cnt") * 10 < 9 * F.col("p.sales_cnt"))
    return (
        j.select(
            F.col("p.d_year").alias("prev_year"),
            F.col("c.d_year").alias("year_"),
            F.col("c.brand").alias("brand"),
            F.col("c.manufact").alias("manufact"),
            F.col("p.sales_cnt").alias("prev_yr_cnt"),
            F.col("c.sales_cnt").alias("curr_yr_cnt"),
            (F.col("c.sales_cnt") - F.col("p.sales_cnt")).alias("sales_cnt_diff"),
            (F.col("c.sales_amt") - F.col("p.sales_amt")).alias("sales_amt_diff"),
        )
        .orderBy("sales_cnt_diff", "sales_amt_diff", "brand", "manufact")
        .limit(100)
    )


# --- q76: anomaly (null-key analog) counts unioned across channels ---------

_Q76_ARMS = [
    ("store", "l_discount", "N", "l.l_discount = 0"),
    ("web", "l_tax", "R", "l.l_tax = 0"),
    ("catalog", "l_quantity", "A", "l.l_quantity >= 49"),
]


def _q76_arm_sql(channel: str, col_name: str, flag: str, pred: str) -> str:
    return f"""
   SELECT '{channel}' AS channel, '{col_name}' AS col_name,
          year(o.o_orderdate) AS d_year, quarter(o.o_orderdate) AS d_qoy,
          p.p_type AS i_category, round(l.l_extendedprice * 100) AS ext_cents
   FROM lineitem l
   JOIN orders o ON l.l_orderkey = o.o_orderkey
   JOIN part p ON l.l_partkey = p.p_partkey
   WHERE l.l_returnflag = '{flag}' AND {pred}"""


@_q(
    "tpcds_q76",
    f"""
SELECT channel, col_name, d_year, d_qoy, i_category,
       CAST(count(*) AS BIGINT) AS sales_cnt,
       CAST(sum(ext_cents) AS BIGINT) AS sales_amt_cents
FROM (
  {" UNION ALL ".join(_q76_arm_sql(*a) for a in _Q76_ARMS)}
) foo
GROUP BY channel, col_name, d_year, d_qoy, i_category
ORDER BY channel, col_name, d_year, d_qoy, i_category
LIMIT 100
""",
)
def tpcds_q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q76 shape (tpcds/q76.sql: per-channel anomaly rows — the
    reference filters ss_store_sk IS NULL etc.; the driver data has no
    NULL keys, so each channel gets a sparse 'degenerate value' predicate
    — UNION ALL'd and rolled up by (channel, col_name, year, quarter,
    category)). Scale: three pruned star scans, one rollup shuffle."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    preds = {
        "store": F.col("l_discount") == 0,
        "web": F.col("l_tax") == 0,
        "catalog": F.col("l_quantity") >= 49,
    }
    arms = []
    for channel, col_name, flag, _ in _Q76_ARMS:
        arms.append(
            li.filter((F.col("l_returnflag") == flag) & preds[channel])
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(part, F.col("l_partkey") == F.col("p_partkey"))
            .select(
                F.lit(channel).alias("channel"),
                F.lit(col_name).alias("col_name"),
                F.year("o_orderdate").alias("d_year"),
                F.quarter("o_orderdate").alias("d_qoy"),
                F.col("p_type").alias("i_category"),
                F.round(F.col("l_extendedprice") * 100).alias("ext_cents"),
            )
        )
    u = arms[0].unionByName(arms[1]).unionByName(arms[2])
    return (
        u.groupBy("channel", "col_name", "d_year", "d_qoy", "i_category")
        .agg(
            F.count("*").cast("bigint").alias("sales_cnt"),
            F.sum("ext_cents").cast("bigint").alias("sales_amt_cents"),
        )
        .orderBy("channel", "col_name", "d_year", "d_qoy", "i_category")
        .limit(100)
    )


# --- q12: item revenue share within class (windowed share) -----------------

@_q(
    "tpcds_q12",
    """
SELECT p.p_name AS i_item_id, p.p_type AS i_category, p.p_brand AS i_class,
       p.p_retailprice AS i_current_price,
       CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS itemrevenue_cents,
       CAST(sum(round(l.l_extendedprice * 100)) AS DOUBLE) * 100
         / sum(CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT)) OVER (PARTITION BY p.p_brand)
         AS revenueratio
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_type IN ('ECONOMY', 'PROMO', 'SMALL')
  AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '1996-02-22' AND DATE '1996-03-23'
GROUP BY p.p_name, p.p_type, p.p_brand, p.p_retailprice
ORDER BY i_category, i_class, i_item_id, revenueratio
LIMIT 100
""",
)
def tpcds_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q12 shape (tpcds/q12.sql: per-item revenue over a 30-day
    window for three categories, each item's share of its class via
    sum(sum()) OVER (PARTITION BY class) — the windowed-share-of-parent
    idiom, here over a grouped frame rather than q36/q86's rollup).
    Scale: one star shuffle to the item grouping; the share window
    re-partitions the (small) aggregate by class."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    g = (
        li.join(orders.filter(
            F.col("o_orderdate").cast("date").between("1996-02-22", "1996-03-23")),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part.filter(F.col("p_type").isin("ECONOMY", "PROMO", "SMALL")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_name").alias("i_item_id"),
            F.col("p_type").alias("i_category"),
            F.col("p_brand").alias("i_class"),
            F.col("p_retailprice").alias("i_current_price"),
        )
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100)).cast("bigint")
             .alias("itemrevenue_cents"))
    )
    w = W.partitionBy("i_class")
    return (
        g.withColumn(
            "revenueratio",
            F.col("itemrevenue_cents").cast("double") * 100
            / F.sum("itemrevenue_cents").over(w),
        )
        .select("i_item_id", "i_category", "i_class", "i_current_price",
                "itemrevenue_cents", "revenueratio")
        .orderBy("i_category", "i_class", "i_item_id", "revenueratio")
        .limit(100)
    )


# --- q90: am/pm activity ratio (events table) ------------------------------

@_q(
    "tpcds_q90",
    """
SELECT CAST(amc AS DOUBLE) / pmc AS am_pm_ratio
FROM (
  SELECT count(*) AS amc FROM events
  WHERE hour(ts) BETWEEN 8 AND 9 AND event_type = 'click' AND value BETWEEN 10 AND 90
) am, (
  SELECT count(*) AS pmc FROM events
  WHERE hour(ts) BETWEEN 19 AND 20 AND event_type = 'click' AND value BETWEEN 10 AND 90
) pm
""",
)
def tpcds_q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q90 shape (tpcds/q90.sql: morning vs evening activity counts
    under demographic/page-size bands, ratioed — two single-row filtered
    aggregates cross-joined). Runs on the events table (the only source
    with time-of-day); the hd_dep_count/wp_char_count bands map to
    event_type + value bands. Scale: two pruned scans, 1x1 cross join."""
    events = load_table(spark, sf_dir, "events")
    base = events.filter(
        (F.col("event_type") == "click") & F.col("value").between(10, 90)
    )
    am = base.filter(F.hour("ts").between(8, 9)).agg(F.count("*").alias("amc"))
    pm = base.filter(F.hour("ts").between(19, 20)).agg(F.count("*").alias("pmc"))
    return am.crossJoin(pm).select(
        (F.col("amc").cast("double") / F.col("pmc")).alias("am_pm_ratio")
    )


# --- q92: excess-discount amount (correlated 1.3x avg) ---------------------

@_q(
    "tpcds_q92",
    """
SELECT CAST(sum(disc_cents) AS BIGINT) AS excess_discount_cents
FROM (
  SELECT l.l_partkey, round(l.l_extendedprice * l.l_discount * 100) AS disc_cents,
         sum(round(l.l_extendedprice * l.l_discount * 100)) OVER (PARTITION BY l.l_partkey) AS item_sum,
         count(*) OVER (PARTITION BY l.l_partkey) AS item_cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) = 1996
) t
WHERE disc_cents * 10 * item_cnt > 13 * item_sum
""",
)
def tpcds_q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q92 shape (tpcds/q92.sql: total web discount on rows whose
    discount exceeds 1.3x the item's average discount over the period —
    the correlated scalar-average threshold, decorrelated to a window).
    The 1.3x test is cross-multiplied exact integers. Scale: one window
    shuffle on the item key; no self-join of the fact."""
    li, orders = _t(spark, sf_dir, "lineitem", "orders")
    w = W.partitionBy("l_partkey")
    t = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_partkey",
            F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).alias("disc_cents"),
        )
        .withColumn("item_sum", F.sum("disc_cents").over(w))
        .withColumn("item_cnt", F.count("*").over(w))
    )
    return (
        t.filter(F.col("disc_cents") * 10 * F.col("item_cnt") > 13 * F.col("item_sum"))
        .agg(F.sum("disc_cents").cast("bigint").alias("excess_discount_cents"))
    )


# --- q4: year_total battery over THREE channels ----------------------------

_Q04_CHANNELS_SQL = f"""
  SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
         year(o.o_orderdate) AS dyear,
         {_csum_sql(_REV_SQL)} AS year_total, 's' AS sale_type
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY customer_id, customer_name, dyear
  UNION ALL
  SELECT c.c_custkey, c.c_name, year(o.o_orderdate),
         {_csum_sql("o.o_totalprice")}, 'w'
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT c.c_custkey, c.c_name, year(o.o_orderdate),
         {_csum_sql("l.l_extendedprice * l.l_tax")}, 'c'
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
  GROUP BY 1, 2, 3"""


@_q(
    "tpcds_q04",
    f"""
WITH year_total AS ({_Q04_CHANNELS_SQL})
SELECT s2.customer_id, s2.customer_name
FROM year_total s1
JOIN year_total s2 ON s2.customer_id = s1.customer_id
JOIN year_total c1 ON c1.customer_id = s1.customer_id
JOIN year_total c2 ON c2.customer_id = s1.customer_id
JOIN year_total w1 ON w1.customer_id = s1.customer_id
JOIN year_total w2 ON w2.customer_id = s1.customer_id
WHERE s1.sale_type = 's' AND s2.sale_type = 's'
  AND c1.sale_type = 'c' AND c2.sale_type = 'c'
  AND w1.sale_type = 'w' AND w2.sale_type = 'w'
  AND s1.dyear = 1999 AND s2.dyear = 2000
  AND c1.dyear = 1999 AND c2.dyear = 2000
  AND w1.dyear = 1999 AND w2.dyear = 2000
  AND s1.year_total > 0 AND c1.year_total > 0 AND w1.year_total > 0
  AND c2.year_total * s1.year_total > s2.year_total * c1.year_total
  AND w2.year_total * s1.year_total > s2.year_total * w1.year_total
ORDER BY s2.customer_id
LIMIT 100
""",
)
def tpcds_q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q04 shape (tpcds/q04.sql: q11's year_total CTE extended to
    THREE channels, self-joined SIX times — customers whose catalog AND
    web growth both beat store growth). Growth comparisons are
    cross-multiplied exact integers. The third channel is the R-rows tax
    total (a distinct measure, as the reference's catalog channel is).
    Scale: same materialization story as q11 (cte_materialization_enabled
    persists the grouped frame before the six slices)."""
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    co = customer.join(orders, F.col("o_custkey") == F.col("c_custkey"))
    keys = [
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.year("o_orderdate").alias("dyear"),
    ]
    store = (
        co.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(*keys).agg(_csum(_rev()).alias("year_total"))
        .withColumn("sale_type", F.lit("s"))
    )
    web = (
        co.groupBy(*keys).agg(_csum(F.col("o_totalprice")).alias("year_total"))
        .withColumn("sale_type", F.lit("w"))
    )
    catalog = (
        co.join(lineitem.filter(F.col("l_returnflag") == "R"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(*keys)
        .agg(_csum(F.col("l_extendedprice") * F.col("l_tax")).alias("year_total"))
        .withColumn("sale_type", F.lit("c"))
    )
    year_total = _materialize_cte(spark, store.unionByName(web).unionByName(catalog))

    def leg(alias: str, st: str, dyear: int) -> DataFrame:
        return (
            year_total.filter((F.col("sale_type") == st) & (F.col("dyear") == dyear))
            .select("customer_id", "customer_name", "year_total")
            .alias(alias)
        )

    s1, s2 = leg("s1", "s", 1999), leg("s2", "s", 2000)
    c1, c2 = leg("c1", "c", 1999), leg("c2", "c", 2000)
    w1, w2 = leg("w1", "w", 1999), leg("w2", "w", 2000)
    j = (
        s1.join(s2, F.col("s2.customer_id") == F.col("s1.customer_id"))
        .join(c1, F.col("c1.customer_id") == F.col("s1.customer_id"))
        .join(c2, F.col("c2.customer_id") == F.col("s1.customer_id"))
        .join(w1, F.col("w1.customer_id") == F.col("s1.customer_id"))
        .join(w2, F.col("w2.customer_id") == F.col("s1.customer_id"))
        .filter(
            (F.col("s1.year_total") > 0) & (F.col("c1.year_total") > 0)
            & (F.col("w1.year_total") > 0)
            & (F.col("c2.year_total") * F.col("s1.year_total")
               > F.col("s2.year_total") * F.col("c1.year_total"))
            & (F.col("w2.year_total") * F.col("s1.year_total")
               > F.col("s2.year_total") * F.col("w1.year_total"))
        )
    )
    return (
        j.select(
            F.col("s2.customer_id").alias("customer_id"),
            F.col("s2.customer_name").alias("customer_name"),
        )
        .orderBy("customer_id")
        .limit(100)
    )


# --- q17: sale -> return -> repurchase three-fact chain --------------------

def _exact_stats_sql(q: str) -> str:
    """count / avg / sample-stddev from exact integer sums — identical
    doubles in both engines (no accumulation-order dependence)."""
    return (
        f"CAST(count({q}) AS BIGINT) AS {q}_cnt, "
        f"CAST(sum(CAST({q} AS BIGINT)) AS DOUBLE) / count({q}) AS {q}_avg, "
        f"CASE WHEN count({q}) > 1 THEN sqrt("
        f"CAST(count({q}) * sum(CAST({q} AS BIGINT) * CAST({q} AS BIGINT)) "
        f"- sum(CAST({q} AS BIGINT)) * sum(CAST({q} AS BIGINT)) AS DOUBLE) "
        f"/ (count({q}) * (count({q}) - 1))) END AS {q}_stdev"
    )


@_q(
    "tpcds_q17",
    f"""
WITH s AS (
  SELECT o.o_custkey AS ck, l.l_partkey % 10 AS pk, CAST(l.l_quantity AS BIGINT) AS qty_s,
         CAST(o.o_orderdate AS DATE) AS sdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'A' AND year(o.o_orderdate) = 1996 AND quarter(o.o_orderdate) = 1
), r AS (
  SELECT o.o_custkey AS ck, l.l_partkey % 10 AS pk, CAST(l.l_quantity AS BIGINT) AS qty_r,
         CAST(o.o_orderdate AS DATE) AS rdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND year(o.o_orderdate) = 1996 AND quarter(o.o_orderdate) <= 3
), c2 AS (
  SELECT o.o_custkey AS ck, l.l_partkey % 10 AS pk, CAST(l.l_quantity AS BIGINT) AS qty_c,
         CAST(o.o_orderdate AS DATE) AS cdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'N' AND year(o.o_orderdate) BETWEEN 1996 AND 1997
)
SELECT s.pk AS i_item_id,
       {_exact_stats_sql('qty_s')},
       {_exact_stats_sql('qty_r')},
       {_exact_stats_sql('qty_c')}
FROM s
JOIN r ON r.ck = s.ck AND r.pk = s.pk AND r.rdate >= s.sdate
JOIN c2 ON c2.ck = s.ck AND c2.pk = s.pk AND c2.cdate >= r.rdate
GROUP BY s.pk
ORDER BY i_item_id
LIMIT 100
""",
)
def tpcds_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q17 shape (tpcds/q17.sql: items bought in Q1, returned in
    Q1-Q3, repurchased from the catalog within two years — a THREE-fact
    chain joined on (customer, item-group) with date ordering — then
    per-item-group count/avg/stdev of the quantities at each stage; the
    part key is coarsened to groups so the chain fires at test scale). Stddev is computed
    from exact integer sums (n·Σx² − (Σx)² form), so both engines emit
    identical doubles with no accumulation-order drift. Scale: the chain
    is two equi-joins on (customer, item) of quarter-pruned slices — the
    date ordering is a residual predicate, not a join explosion."""
    li, orders = _t(spark, sf_dir, "lineitem", "orders")
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))

    def stage(flag, pred, qty_name, date_name):
        return lo.filter((F.col("l_returnflag") == flag) & pred).select(
            F.col("o_custkey").alias("ck"),
            (F.col("l_partkey") % 10).alias("pk"),
            F.col("l_quantity").cast("bigint").alias(qty_name),
            F.col("o_orderdate").cast("date").alias(date_name),
        )

    s = stage("A", (F.year("o_orderdate") == 1996) & (F.quarter("o_orderdate") == 1),
              "qty_s", "sdate").alias("s")
    r = stage("R", (F.year("o_orderdate") == 1996) & (F.quarter("o_orderdate") <= 3),
              "qty_r", "rdate").alias("r")
    c2 = stage("N", F.year("o_orderdate").between(1996, 1997), "qty_c", "cdate").alias("c2")
    chain = (
        s.join(r, (F.col("r.ck") == F.col("s.ck")) & (F.col("r.pk") == F.col("s.pk"))
               & (F.col("rdate") >= F.col("sdate")))
        .join(c2, (F.col("c2.ck") == F.col("s.ck")) & (F.col("c2.pk") == F.col("s.pk"))
              & (F.col("cdate") >= F.col("rdate")))
    )

    def stats(q):
        cnt = F.count(q)
        sm = F.sum(F.col(q))
        ss = F.sum(F.col(q) * F.col(q))
        return [
            cnt.cast("bigint").alias(f"{q}_cnt"),
            (sm.cast("double") / cnt).alias(f"{q}_avg"),
            F.when(cnt > 1, F.sqrt((cnt * ss - sm * sm).cast("double")
                                   / (cnt * (cnt - 1)))).alias(f"{q}_stdev"),
        ]

    return (
        chain.groupBy(F.col("s.pk").alias("i_item_id"))
        .agg(*(stats("qty_s") + stats("qty_r") + stats("qty_c")))
        .orderBy("i_item_id")
        .limit(100)
    )


# --- q55: brand revenue for one month (minimal star rollup) ----------------

@_q(
    "tpcds_q55",
    f"""
SELECT p.p_brand AS brand, {_msum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS ext_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size BETWEEN 20 AND 30 AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 11
GROUP BY p.p_brand
ORDER BY ext_price DESC, brand
LIMIT 100
""",
)
def tpcds_q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q55 shape (tpcds/q55.sql: single-month brand revenue for one
    manager's items — the minimal dim-filtered star rollup). Broadcast
    star join, one shuffle."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    return (
        li.join(orders.filter(
            (F.year("o_orderdate") == 1996) & (F.month("o_orderdate") == 11)),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part.filter(F.col("p_size").between(20, 30)),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(_msum(_rev()).alias("ext_price"))
        .orderBy(F.desc("ext_price"), "brand")
        .limit(100)
    )


# --- q96: filtered count through three broadcast dims ----------------------

@_q(
    "tpcds_q96",
    """
SELECT CAST(count(*) AS BIGINT) AS cnt
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE month(o.o_orderdate) = 8 AND c.c_mktsegment = 'BUILDING'
  AND s.s_nationkey < 10 AND l.l_quantity BETWEEN 20 AND 30
""",
)
def tpcds_q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q96 shape (tpcds/q96.sql: a bare count(*) through three
    broadcast dimension filters — the selectivity-pipeline microbench).
    All three dims broadcast; the fact scan carries the residual
    predicates; a single global count."""
    li, orders, supp, cust = _t(spark, sf_dir, "lineitem", "orders", "supplier", "customer")
    return (
        li.filter(F.col("l_quantity").between(20, 30))
        .join(orders.filter(F.month("o_orderdate") == 8),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp.filter(F.col("s_nationkey") < 10),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust.filter(F.col("c_mktsegment") == "BUILDING"),
              F.col("o_custkey") == F.col("c_custkey"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


# --- q18: multi-measure AVG over a ROLLUP hierarchy ------------------------

_Q18_MEASURES = [
    ("agg1", "CAST(l.l_quantity AS BIGINT)"),
    ("agg2", "CAST(round(l.l_extendedprice * 100) AS BIGINT)"),
    ("agg3", "CAST(round(l.l_extendedprice * l.l_discount * 100) AS BIGINT)"),
    ("agg4", "CAST(round(l.l_extendedprice * l.l_tax * 100) AS BIGINT)"),
    ("agg5", "CAST(o.o_custkey AS BIGINT)"),
]


@_q(
    "tpcds_q18",
    f"""
SELECT p.p_brand AS i_item_id, n.n_name AS ca_country, c.c_mktsegment AS ca_state,
       {", ".join(f"CAST(sum({e}) AS DOUBLE) / count(*) AS {n}" for n, e in _Q18_MEASURES)}
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY', 'HOUSEHOLD')
  AND month(o.o_orderdate) IN (1, 2, 6, 8, 9, 12) AND year(o.o_orderdate) = 1996
GROUP BY ROLLUP (p.p_brand, n.n_name, c.c_mktsegment)
ORDER BY ca_country, ca_state, i_item_id
""",
)
def tpcds_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q18 shape (tpcds/q18.sql: seven AVG measures over a ROLLUP of
    the item x geography hierarchy under demographic filters). Averages
    are exact-int sums divided by the group count — identical doubles in
    both engines at every rollup level. No LIMIT: the rollup output is
    dim-bounded (~brands x nations x segments), and dropping it avoids
    engine NULLS-ordering differences in top-k selection. Scale: one
    ROLLUP shuffle over a dim-pruned star join."""
    li, orders, cust, nation, part = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "part"
    )
    j = (
        li.join(orders.filter(
            F.month("o_orderdate").isin(1, 2, 6, 8, 9, 12)
            & (F.year("o_orderdate") == 1996)),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.filter(
            F.col("c_mktsegment").isin("BUILDING", "MACHINERY", "HOUSEHOLD")),
            F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
    )
    measures = {
        "agg1": F.col("l_quantity").cast("bigint"),
        "agg2": F.round(F.col("l_extendedprice") * 100).cast("bigint"),
        "agg3": F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("bigint"),
        "agg4": F.round(F.col("l_extendedprice") * F.col("l_tax") * 100).cast("bigint"),
        "agg5": F.col("o_custkey").cast("bigint"),
    }
    pre = j.select(
        F.col("p_brand").alias("i_item_id"),
        F.col("n_name").alias("ca_country"),
        F.col("c_mktsegment").alias("ca_state"),
        *[v.alias(k) for k, v in measures.items()],
    )
    return (
        pre.rollup("i_item_id", "ca_country", "ca_state")
        .agg(*[
            (F.sum(k).cast("double") / F.count("*")).alias(k) for k in measures
        ])
        .orderBy("ca_country", "ca_state", "i_item_id")
    )


# --- q45: disjunctive gate across two dimensions ---------------------------

@_q(
    "tpcds_q45",
    """
SELECT c.c_nationkey AS ca_zip, c.c_mktsegment AS ca_city,
       CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sum_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE (c.c_nationkey IN (3, 7, 11, 15, 19)
       OR l.l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_partkey IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
  AND quarter(o.o_orderdate) = 2 AND year(o.o_orderdate) = 1996
GROUP BY c.c_nationkey, c.c_mktsegment
ORDER BY ca_zip, ca_city
LIMIT 100
""",
)
def tpcds_q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q45 shape (tpcds/q45.sql: revenue by geography where the row
    passes EITHER a literal zip-list filter OR membership in an
    IN-subquery item list — the disjunctive cross-dimension gate that
    can't become a plain semi-join). The item list stays DISTRIBUTED: the
    filtered dim broadcasts into a LEFT join and the OR tests the join
    key's non-nullness — no driver-side collect, so the pattern survives
    a selective-on-a-big-dim subquery at 100 TB (r04 verdict wart #1).
    Scale: quarter pruning first, broadcast dim joins, one rollup
    shuffle."""
    li, orders, cust, part = _t(spark, sf_dir, "lineitem", "orders", "customer", "part")
    sel_items = part.filter(
        F.col("p_partkey").isin(2, 3, 5, 7, 11, 13, 17, 19, 23, 29)
    ).select(F.col("p_partkey").alias("sel_partkey"))
    j = (
        li.join(orders.filter(
            (F.quarter("o_orderdate") == 2) & (F.year("o_orderdate") == 1996)),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sel_items), F.col("sel_partkey") == F.col("l_partkey"), "left")
        .filter(
            F.col("c_nationkey").isin(3, 7, 11, 15, 19)
            | F.col("sel_partkey").isNotNull()
        )
    )
    return (
        j.groupBy(
            F.col("c_nationkey").alias("ca_zip"),
            F.col("c_mktsegment").alias("ca_city"),
        )
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100)).cast("bigint").alias("sum_cents"))
        .orderBy("ca_zip", "ca_city")
        .limit(100)
    )


# --- q13: three OR'd demographic bands, multi-avg output -------------------

_Q13_BANDS_SQL = """(
     (c.c_mktsegment = 'BUILDING' AND l.l_quantity BETWEEN 1 AND 20
      AND o.o_totalprice BETWEEN 10000 AND 150000)
  OR (c.c_mktsegment = 'MACHINERY' AND l.l_quantity BETWEEN 21 AND 35
      AND o.o_totalprice BETWEEN 20000 AND 200000)
  OR (c.c_mktsegment = 'HOUSEHOLD' AND l.l_quantity BETWEEN 36 AND 50
      AND o.o_totalprice BETWEEN 50000 AND 250000)
)"""


@_q(
    "tpcds_q13",
    f"""
SELECT CAST(sum(CAST(l.l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / count(*) AS avg_price_cents,
       CAST(sum(CAST(round(l.l_extendedprice * l.l_discount * 100) AS BIGINT)) AS DOUBLE) / count(*) AS avg_disc_cents,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS net_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_nationkey < 15 AND year(o.o_orderdate) = 1996 AND {_Q13_BANDS_SQL}
""",
)
def tpcds_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q13 shape (tpcds/q13.sql: one global aggregate row of
    averages under THREE OR'd demographic x quantity x price bands — the
    disjunctive band predicate that defeats single-range pushdown and
    must evaluate as a residual). Averages are exact-int sums over the
    joint count, identical doubles in both engines. Scale: the bands sit
    as one residual filter on a broadcast star join; a single global
    aggregate."""
    li, orders, cust, supp = _t(spark, sf_dir, "lineitem", "orders", "customer", "supplier")
    bands = (
        ((F.col("c_mktsegment") == "BUILDING") & F.col("l_quantity").between(1, 20)
         & F.col("o_totalprice").between(10000, 150000))
        | ((F.col("c_mktsegment") == "MACHINERY") & F.col("l_quantity").between(21, 35)
           & F.col("o_totalprice").between(20000, 200000))
        | ((F.col("c_mktsegment") == "HOUSEHOLD") & F.col("l_quantity").between(36, 50)
           & F.col("o_totalprice").between(50000, 250000))
    )
    j = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp.filter(F.col("s_nationkey") < 15),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(bands)
    )
    cnt = F.count("*")
    qty = F.sum(F.col("l_quantity").cast("bigint"))
    price = F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
    disc = F.sum(F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("bigint"))
    net = F.sum(F.round(_rev() * 100).cast("bigint"))
    return j.agg(
        (qty.cast("double") / cnt).alias("avg_qty"),
        (price.cast("double") / cnt).alias("avg_price_cents"),
        (disc.cast("double") / cnt).alias("avg_disc_cents"),
        net.cast("bigint").alias("net_cents"),
    )


# --- q47: monthly deviation from yearly average, with lag/lead neighbors ---

@_q(
    "tpcds_q47",
    """
WITH v1 AS (
  SELECT p.p_type AS i_category, p.p_brand AS i_brand,
         year(o.o_orderdate) AS d_year, month(o.o_orderdate) AS d_moy,
         CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sum_sales,
         CAST(sum(CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT))
              OVER (PARTITION BY p.p_type, p.p_brand, year(o.o_orderdate)) AS BIGINT) AS year_sum,
         count(*) OVER (PARTITION BY p.p_type, p.p_brand, year(o.o_orderdate)) AS year_cnt,
         lag(CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT))
           OVER (PARTITION BY p.p_type, p.p_brand ORDER BY year(o.o_orderdate), month(o.o_orderdate)) AS psum,
         lead(CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT))
           OVER (PARTITION BY p.p_type, p.p_brand ORDER BY year(o.o_orderdate), month(o.o_orderdate)) AS nsum
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_type, p.p_brand, year(o.o_orderdate), month(o.o_orderdate)
)
SELECT i_category, i_brand, d_year, d_moy, sum_sales,
       CAST(year_sum AS DOUBLE) / year_cnt AS avg_monthly_sales, psum, nsum
FROM v1
WHERE d_year = 1997 AND year_sum > 0
  AND 10 * abs(sum_sales * year_cnt - year_sum) > year_sum
ORDER BY i_category, i_brand, d_year, d_moy
LIMIT 100
""",
)
def tpcds_q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q47 shape (tpcds/q47.sql: months whose sales deviate more
    than 10% from their (category, brand, year) average, reported with
    the neighboring months' sales — the reference formulates lag/lead as
    rank self-joins; lag()/lead() over the same ordering is the
    equivalent single-pass plan, and the oracle uses the same spelling).
    The deviation test is cross-multiplied exact integers
    (10·|sum·cnt − Σ| > Σ). Scale: one shuffle to the month grouping;
    all three windows share the (category, brand) partitioning."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    g = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_type").alias("i_category"),
            F.col("p_brand").alias("i_brand"),
            F.year("o_orderdate").alias("d_year"),
            F.month("o_orderdate").alias("d_moy"),
        )
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100)).cast("bigint").alias("sum_sales"))
    )
    wy = W.partitionBy("i_category", "i_brand", "d_year")
    ws = W.partitionBy("i_category", "i_brand").orderBy("d_year", "d_moy")
    v1 = (
        g.withColumn("year_sum", F.sum("sum_sales").over(wy).cast("bigint"))
        .withColumn("year_cnt", F.count("*").over(wy))
        .withColumn("psum", F.lag("sum_sales").over(ws))
        .withColumn("nsum", F.lead("sum_sales").over(ws))
    )
    return (
        v1.filter(
            (F.col("d_year") == 1997) & (F.col("year_sum") > 0)
            & (10 * F.abs(F.col("sum_sales") * F.col("year_cnt") - F.col("year_sum"))
               > F.col("year_sum"))
        )
        .select(
            "i_category", "i_brand", "d_year", "d_moy", "sum_sales",
            (F.col("year_sum").cast("double") / F.col("year_cnt")).alias("avg_monthly_sales"),
            "psum", "nsum",
        )
        .orderBy("i_category", "i_brand", "d_year", "d_moy")
        .limit(100)
    )


# ===========================================================================
# The 45 queries that complete the corpus at 99/99: q15 q16 q20 q21 q22 q24 q25 q26 q27 q28 q29 q30 q32 q37
# q39 q40 q41 q43 q46 q53 q56 q57 q60 q62 q63 q64 q68 q69 q70 q71 q72 q73
# q74 q77 q80 q81 q82 q83 q84 q85 q89 q91 q94 q98 q99.
#
# Same conventions as above: each query preserves the
# reference's SHAPE (join topology, CTE structure, windowing, correlated
# predicates — cited per query from
# ``presto-benchto-benchmarks/src/main/resources/sql/presto/tpcds/qNN.sql``)
# re-targeted onto the driver's TPC-H-ish tables:
#
# * store_sales → lineitem ⋈ orders (revenue ``_rev()``); catalog/web
#   channels → tax/totalprice expressions (as q04/q11 established);
# * returns → ``l_returnflag = 'R'`` rows;
# * item → part, store/warehouse → supplier, address state/city → nation,
#   date_dim roles → functions of o_orderdate / l_shipdate;
# * every float aggregate uses the exact-cents idiom (``_msum``/``_csum``)
#   so Spark and DuckDB agree bit-for-bit;
# * every LIMIT query carries a deterministic total ORDER BY in BOTH
#   engines.
# ===========================================================================


# --- q15: customer catalog revenue under an OR'd geography/amount gate -----

@_q(
    "tpcds_q15",
    f"""
SELECT n.n_name AS ca_zip, {_msum_sql("l.l_extendedprice")} AS sum_sales
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE (c.c_nationkey IN (1, 3, 5) OR c.c_mktsegment IN ('BUILDING', 'MACHINERY')
       OR round(l.l_extendedprice * 100) > 5000000)
  AND year(o.o_orderdate) = 1996 AND quarter(o.o_orderdate) = 2
GROUP BY n.n_name
ORDER BY n.n_name ASC
LIMIT 100
""",
)
def tpcds_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q15 shape (tpcds/q15.sql: catalog sales by customer zip for
    one quarter, where the customer qualifies through an OR of zip
    prefixes, states, or a per-line amount — the disjunct spans two
    tables, so it must stay a residual above the join). Geography analog:
    nation for zip/state, exact-cents threshold for the amount leg.
    Scale: customer/nation broadcast; one aggregation shuffle."""
    li, orders, cust, nation = _t(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    j = (
        li.join(orders.filter((F.year("o_orderdate") == 1996) & (F.quarter("o_orderdate") == 2)),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(
            F.col("c_nationkey").isin(1, 3, 5)
            | F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
            | (F.round(F.col("l_extendedprice") * 100) > 5000000)
        )
    )
    return (
        j.groupBy(F.col("n_name").alias("ca_zip"))
        .agg(_msum(F.col("l_extendedprice")).alias("sum_sales"))
        .orderBy(F.asc("ca_zip"))
        .limit(100)
    )


# --- q98 / q20: item revenue share of its class (window over grouped agg) --

def _revenue_share(spark, sf_dir, amount, amount_sql, cats, date_lo, date_hi, limit):
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    j = (
        li.join(orders.filter(F.col("o_orderdate").between(date_lo, date_hi)),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part.filter(F.col("p_type").isin(*cats)), F.col("l_partkey") == F.col("p_partkey"))
    )
    g = j.groupBy(
        F.col("p_partkey").alias("i_item_id"),
        F.col("p_name").alias("i_item_desc"),
        F.col("p_type").alias("i_category"),
        F.col("p_brand").alias("i_class"),
        F.col("p_retailprice").alias("i_current_price"),
    ).agg(
        _msum(amount).alias("itemrevenue"),
        # the class-share window re-sums revenues in arbitrary order; only
        # integer cents are order-independent, so the ratio is cents/cents
        _csum(amount).alias("_itemrev_c"),
    )
    w = W.partitionBy("i_class")
    out = g.withColumn(
        "revenueratio",
        F.col("_itemrev_c") * 100 / F.sum("_itemrev_c").over(w),
    ).drop("_itemrev_c")
    out = out.orderBy(
        F.asc("i_category"), F.asc("i_class"), F.asc("i_item_id"),
        F.asc("i_item_desc"), F.asc("revenueratio"),
    )
    return out.limit(limit) if limit else out


def _revenue_share_sql(amount_sql, cats, date_lo, date_hi, limit):
    cats_sql = ", ".join(f"'{c}'" for c in cats)
    lim = f"LIMIT {limit}" if limit else ""
    return f"""
SELECT p.p_partkey AS i_item_id, p.p_name AS i_item_desc, p.p_type AS i_category,
       p.p_brand AS i_class, p.p_retailprice AS i_current_price,
       {_msum_sql(amount_sql)} AS itemrevenue,
       {_csum_sql(amount_sql)} * 100 / sum({_csum_sql(amount_sql)}) OVER (PARTITION BY p.p_brand) AS revenueratio
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE o.o_orderdate BETWEEN '{date_lo}' AND '{date_hi}'
  AND p.p_type IN ({cats_sql})
GROUP BY 1, 2, 3, 4, 5
ORDER BY i_category ASC, i_class ASC, i_item_id ASC, i_item_desc ASC, revenueratio ASC
{lim}
"""


_Q98_CATS = ("STANDARD", "SMALL", "ECONOMY")


@_q("tpcds_q98", _revenue_share_sql(_REV_SQL, _Q98_CATS, "1996-02-22", "1996-03-23", 0))
def tpcds_q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q98 shape (tpcds/q98.sql: store-channel item revenue and its
    share of the class total — an agg-over-window on a grouped frame, NO
    LIMIT in the reference). The share divides two exact-cent integers so
    both engines emit identical doubles. Scale: one grouping shuffle; the
    class window re-partitions the (small) grouped frame only."""
    return _revenue_share(spark, sf_dir, _rev(), _REV_SQL, _Q98_CATS,
                          "1996-02-22", "1996-03-23", 0)


@_q("tpcds_q20", _revenue_share_sql("l_extendedprice", _Q20_CATS := (
    "STANDARD", "LARGE", "PROMO"),
    "1997-02-22", "1997-03-23", 100))
def tpcds_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q20 shape (tpcds/q20.sql: the catalog-channel twin of q98 —
    same class-share window, LIMIT 100). Catalog amount analog:
    l_extendedprice (undiscounted), distinct category set and window."""
    return _revenue_share(spark, sf_dir, F.col("l_extendedprice"), "l_extendedprice",
                          _Q20_CATS, "1997-02-22", "1997-03-23", 100)


# --- q53 / q63: rolling category deviation from the per-key mean -----------

_BANDS_SQL = (
    "((p.p_type IN ('STANDARD', 'SMALL') "
    "AND p.p_brand IN ('Brand#11', 'Brand#12', 'Brand#13', 'Brand#14', 'Brand#15')) "
    "OR (p.p_type IN ('ECONOMY', 'MEDIUM') "
    "AND p.p_brand IN ('Brand#21', 'Brand#22', 'Brand#23', 'Brand#24', 'Brand#25')))"
)


def _bands_col():
    return (
        F.col("p_type").isin("STANDARD", "SMALL")
        & F.col("p_brand").isin("Brand#11", "Brand#12", "Brand#13", "Brand#14", "Brand#15")
    ) | (
        F.col("p_type").isin("ECONOMY", "MEDIUM")
        & F.col("p_brand").isin("Brand#21", "Brand#22", "Brand#23", "Brand#24", "Brand#25")
    )


def _deviation(spark, sf_dir, key_col, key_name, period_col):
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    j = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part.filter(_bands_col()), F.col("l_partkey") == F.col("p_partkey"))
    )
    g = j.groupBy(key_col.alias(key_name), period_col.alias("period")).agg(
        _msum(F.col("l_extendedprice")).alias("sum_sales"),
        # the per-key window re-sums these in arbitrary order; only integer
        # cents sum order-independently, so the window runs over cents
        _csum(F.col("l_extendedprice")).alias("_c"),
    )
    w = W.partitionBy(key_name)
    v = (
        g.withColumn("key_sum_c", F.sum("_c").over(w))
        .withColumn("key_cnt", F.count("*").over(w))
        # one exact-integer division at the end — bit-identical across engines
        .withColumn("avg_sales",
                    F.col("key_sum_c") / (100 * F.col("key_cnt")))
    )
    # abs(sum − avg)/avg > 0.1 cross-multiplied into exact integers:
    # 10·|c·cnt − key_sum_c| > key_sum_c  (key_sum_c > 0 by the >0 gate)
    return v.filter(
        (F.col("key_sum_c") > 0)
        & (10 * F.abs(F.col("_c") * F.col("key_cnt") - F.col("key_sum_c"))
           > F.col("key_sum_c"))
    ).select(key_name, "period", "sum_sales", "avg_sales")


def _deviation_sql(key_sql, key_name, period_sql):
    return f"""
WITH g AS (
  SELECT {key_sql} AS {key_name}, {period_sql} AS period,
         {_msum_sql("l.l_extendedprice")} AS sum_sales,
         {_csum_sql("l.l_extendedprice")} AS c
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(o.o_orderdate) = 1996 AND {_BANDS_SQL}
  GROUP BY 1, 2
), v AS (
  SELECT {key_name}, period, sum_sales, c,
         sum(c) OVER (PARTITION BY {key_name}) AS key_sum_c,
         count(*) OVER (PARTITION BY {key_name}) AS key_cnt
  FROM g
)
SELECT {key_name}, period, sum_sales,
       CAST(key_sum_c AS DOUBLE) / (100 * key_cnt) AS avg_sales
FROM v
WHERE key_sum_c > 0 AND 10 * abs(c * key_cnt - key_sum_c) > key_sum_c
"""


@_q(
    "tpcds_q53",
    _deviation_sql("p.p_size", "i_manufact_id", "quarter(o.o_orderdate)")
    + "ORDER BY avg_sales ASC, sum_sales ASC, i_manufact_id ASC, period ASC LIMIT 100",
)
def tpcds_q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q53 shape (tpcds/q53.sql: quarterly manufacturer sales that
    deviate >10% from the manufacturer's mean — agg-over-window above a
    grouped frame gated by a two-band disjunctive (category, class,
    brand) filter). Deviation is the exact cross-multiplied integer test.
    Scale: band filter prunes part before the join; one grouping shuffle;
    window over the small grouped frame."""
    v = _deviation(spark, sf_dir, F.col("p_size"), "i_manufact_id",
                   F.quarter("o_orderdate"))
    return v.orderBy(F.asc("avg_sales"), F.asc("sum_sales"),
                     F.asc("i_manufact_id"), F.asc("period")).limit(100)


@_q(
    "tpcds_q63",
    _deviation_sql("p.p_partkey % 100", "i_manager_id", "month(o.o_orderdate)")
    + "ORDER BY i_manager_id ASC, avg_sales ASC, sum_sales ASC, period ASC LIMIT 100",
)
def tpcds_q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q63 shape (tpcds/q63.sql: q53's monthly twin keyed by
    manager — same disjunctive band gate, deviation vs the manager's
    monthly mean, manager-first ordering)."""
    v = _deviation(spark, sf_dir, F.col("p_partkey") % 100, "i_manager_id",
                   F.month("o_orderdate"))
    return v.orderBy(F.asc("i_manager_id"), F.asc("avg_sales"),
                     F.asc("sum_sales"), F.asc("period")).limit(100)


# --- q62 / q99: ship-latency bucket matrix ---------------------------------

def _latency_buckets(spark, sf_dir, year, third_col, third_name):
    li, orders, supp = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    j = (
        li.join(orders.filter(F.year("o_orderdate") == year),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    return (
        j.groupBy(
            F.substring("s_name", 1, 20).alias("warehouse"),
            F.col("l_returnflag").alias("sm_type"),
            third_col.alias(third_name),
        )
        .agg(
            cnt(lat <= 30).alias("d30"),
            cnt((lat > 30) & (lat <= 60)).alias("d31_60"),
            cnt((lat > 60) & (lat <= 90)).alias("d61_90"),
            cnt((lat > 90) & (lat <= 120)).alias("d91_120"),
            cnt(lat > 120).alias("dgt120"),
        )
        .orderBy(F.asc("warehouse"), F.asc("sm_type"), F.asc(third_name))
        .limit(100)
    )


def _latency_sql(year, third_sql, third_name):
    lat = "datediff('day', o.o_orderdate, l.l_shipdate)"
    return f"""
SELECT substr(s.s_name, 1, 20) AS warehouse, l.l_returnflag AS sm_type,
       {third_sql} AS {third_name},
       CAST(sum(CASE WHEN {lat} <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(sum(CASE WHEN {lat} > 30 AND {lat} <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(sum(CASE WHEN {lat} > 60 AND {lat} <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
       CAST(sum(CASE WHEN {lat} > 90 AND {lat} <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
       CAST(sum(CASE WHEN {lat} > 120 THEN 1 ELSE 0 END) AS BIGINT) AS dgt120
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE year(o.o_orderdate) = {year}
GROUP BY 1, 2, 3
ORDER BY warehouse ASC, sm_type ASC, {third_name} ASC
LIMIT 100
"""


@_q("tpcds_q62", _latency_sql(1996, "o.o_orderpriority", "web_name"))
def tpcds_q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q62 shape (tpcds/q62.sql: web-channel order→ship latency
    bucketed 30/60/90/120 days per (warehouse prefix, ship mode, site) —
    a conditional-count matrix over one fact scan). Latency analog:
    datediff(l_shipdate, o_orderdate); ship-mode analog l_returnflag.
    Scale: pure scan + one grouping shuffle — no per-bucket re-scan."""
    return _latency_buckets(spark, sf_dir, 1996, F.col("o_orderpriority"), "web_name")


@_q("tpcds_q99", _latency_sql(1997, "o.o_orderstatus", "cc_name"))
def tpcds_q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q99 shape (tpcds/q99.sql: q62's catalog twin — same latency
    bucket matrix keyed by call center instead of web site, different
    year slice)."""
    return _latency_buckets(spark, sf_dir, 1997, F.col("o_orderstatus"), "cc_name")


# --- q32: excess discount vs 1.3x the item's windowed average --------------

@_q(
    "tpcds_q32",
    """
SELECT CAST(sum(disc_cents) AS BIGINT) AS excess_discount_cents
FROM (
  SELECT l.l_partkey, round(l.l_extendedprice * l.l_discount * 100) AS disc_cents,
         sum(round(l.l_extendedprice * l.l_discount * 100)) OVER (PARTITION BY l.l_partkey) AS item_sum,
         count(*) OVER (PARTITION BY l.l_partkey) AS item_cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate BETWEEN '1996-01-27' AND '1996-04-26'
) t
JOIN part p ON t.l_partkey = p.p_partkey
WHERE p.p_size = 28 AND disc_cents * 10 * item_cnt > 13 * item_sum
""",
)
def tpcds_q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q32 shape (tpcds/q32.sql: catalog lines whose discount
    exceeds 1.3x the same item's 90-day average — q92's catalog twin with
    a manufacturer gate OUTSIDE the correlated average, so the window
    must be computed over ALL items in the period before the part filter
    applies). Decorrelated as a window over the date-sliced fact; the
    1.3x test is cross-multiplied exact integers. Scale: one window
    shuffle on l_partkey; part broadcasts."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    base = li.join(
        orders.filter(F.col("o_orderdate").between("1996-01-27", "1996-04-26")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).alias("disc_cents"),
    )
    w = W.partitionBy("l_partkey")
    t = base.withColumn("item_sum", F.sum("disc_cents").over(w)).withColumn(
        "item_cnt", F.count("*").over(w)
    )
    return (
        t.join(part.filter(F.col("p_size") == 28), F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("disc_cents") * 10 * F.col("item_cnt") > 13 * F.col("item_sum"))
        .agg(F.sum("disc_cents").cast("bigint").alias("excess_discount_cents"))
    )


# --- q30 / q81: customer returns above 1.2x their state's average ----------

def _ctr(spark, sf_dir, year, amount, amount_sql):
    """customer_total_return CTE: returns by (customer, state), the state
    coming from the returning customer's address (nation analog)."""
    li, orders, cust = _t(spark, sf_dir, "lineitem", "orders", "customer")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders.filter(F.year("o_orderdate") == year),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_custkey").alias("ctr_customer_sk"),
                 F.col("c_nationkey").alias("ctr_state"))
        .agg(_csum(amount).alias("ctr_total_return"))
    )


def _ctr_sql(year, amount_sql):
    return f"""
  SELECT c.c_custkey AS ctr_customer_sk, c.c_nationkey AS ctr_state,
         {_csum_sql(amount_sql)} AS ctr_total_return
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE l.l_returnflag = 'R' AND year(o.o_orderdate) = {year}
  GROUP BY 1, 2
"""


def _ctr_hot(ctr):
    """ctr rows above 1.2x their state's average — the correlated scalar
    subquery decorrelated as a window (exact integer cross-multiply:
    10·ret·cnt > 12·state_sum)."""
    w = W.partitionBy("ctr_state")
    return (
        ctr.withColumn("state_sum", F.sum("ctr_total_return").over(w))
        .withColumn("state_cnt", F.count("*").over(w))
        .filter(F.col("ctr_total_return") * 10 * F.col("state_cnt")
                > 12 * F.col("state_sum"))
    )


_CTR_HOT_SQL = """
  SELECT ctr_customer_sk, ctr_state, ctr_total_return
  FROM (
    SELECT ctr_customer_sk, ctr_state, ctr_total_return,
           sum(ctr_total_return) OVER (PARTITION BY ctr_state) AS state_sum,
           count(*) OVER (PARTITION BY ctr_state) AS state_cnt
    FROM ctr
  ) WHERE ctr_total_return * 10 * state_cnt > 12 * state_sum
"""


@_q(
    "tpcds_q30",
    f"""
WITH ctr AS ({_ctr_sql(1996, "l.l_extendedprice")}),
hot AS ({_CTR_HOT_SQL})
SELECT c.c_name, c.c_mktsegment, c.c_acctbal,
       CAST(hot.ctr_total_return AS BIGINT) AS ctr_total_return
FROM hot
JOIN customer c ON hot.ctr_customer_sk = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_5'
ORDER BY c.c_name ASC, ctr_total_return ASC
LIMIT 100
""",
)
def tpcds_q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q30 shape (tpcds/q30.sql: web-channel customer_total_return
    CTE keyed by the returning address state, customers above 1.2x their
    state's average return, re-joined to customer + current address
    filtered to one state). State analog: nation; the correlated AVG
    decorrelates to a state-partitioned window; the 1.2x gate is exact
    integer cross-multiplication. Scale: one grouping + one window
    shuffle on the CTE; customer/nation broadcast into the outer join."""
    ctr = _ctr(spark, sf_dir, 1996, F.col("l_extendedprice"), "l.l_extendedprice")
    hot = _ctr_hot(ctr)
    cust, nation = _t(spark, sf_dir, "customer", "nation")
    return (
        hot.join(cust, F.col("ctr_customer_sk") == F.col("c_custkey"))
        .join(nation.filter(F.col("n_name") == "NATION_5"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_name", "c_mktsegment", "c_acctbal",
                F.col("ctr_total_return").cast("bigint").alias("ctr_total_return"))
        .orderBy(F.asc("c_name"), F.asc("ctr_total_return"))
        .limit(100)
    )


@_q(
    "tpcds_q81",
    f"""
WITH ctr AS ({_ctr_sql(1997, "l.l_extendedprice * (1 + l.l_tax)")}),
hot AS ({_CTR_HOT_SQL})
SELECT c.c_name, n.n_name AS ca_state, c.c_acctbal,
       CAST(hot.ctr_total_return AS BIGINT) AS ctr_total_return
FROM hot
JOIN customer c ON hot.ctr_customer_sk = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_7'
ORDER BY c.c_name ASC, ctr_total_return ASC
LIMIT 100
""",
)
def tpcds_q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q81 shape (tpcds/q81.sql: q30's catalog twin — the returned
    amount includes tax (cr_return_amt_inc_tax), different year and
    state, address columns in the output)."""
    ctr = _ctr(spark, sf_dir, 1997,
               F.col("l_extendedprice") * (1 + F.col("l_tax")),
               "l.l_extendedprice * (1 + l.l_tax)")
    hot = _ctr_hot(ctr)
    cust, nation = _t(spark, sf_dir, "customer", "nation")
    return (
        hot.join(cust, F.col("ctr_customer_sk") == F.col("c_custkey"))
        .join(nation.filter(F.col("n_name") == "NATION_7"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_name", F.col("n_name").alias("ca_state"), "c_acctbal",
                F.col("ctr_total_return").cast("bigint").alias("ctr_total_return"))
        .orderBy(F.asc("c_name"), F.asc("ctr_total_return"))
        .limit(100)
    )


# --- q25 / q29: store sale -> store return -> catalog repurchase chain -----

def _three_fact(spark, sf_dir, year, moy, agg1, agg2, agg3, d3_cond_col):
    """Three slices of the fact joined on (customer, item): a sale in one
    month, its return in the following months, and a repurchase later."""
    li, orders, part, supp = _t(spark, sf_dir, "lineitem", "orders", "part", "supplier")
    s = (
        li.alias("l1")
        .join(orders.alias("o1"),
              F.col("l1.l_orderkey") == F.col("o1.o_orderkey"))
        .filter((F.year("o1.o_orderdate") == year) & (F.month("o1.o_orderdate") == moy)
                & (F.col("l1.l_returnflag") != "R"))
    )
    r = (
        li.alias("l2")
        .join(orders.alias("o2"),
              F.col("l2.l_orderkey") == F.col("o2.o_orderkey"))
        .filter((F.year("o2.o_orderdate") == year)
                & F.month("o2.o_orderdate").between(moy, moy + 3)
                & (F.col("l2.l_returnflag") == "R"))
    )
    c = (
        li.alias("l3")
        .join(orders.alias("o3"),
              F.col("l3.l_orderkey") == F.col("o3.o_orderkey"))
        .filter(d3_cond_col)
    )
    j = (
        s.join(r, F.col("l2.l_partkey") == F.col("l1.l_partkey"))
        .join(c, F.col("l3.l_partkey") == F.col("l2.l_partkey"))
        .join(part, F.col("l1.l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l1.l_suppkey") == F.col("s_suppkey"))
    )
    return (
        j.groupBy(F.col("p_name").alias("i_item_desc"), F.col("s_name").alias("s_store_name"))
        .agg(agg1, agg2, agg3)
        .orderBy(F.asc("i_item_desc"), F.asc("s_store_name"))
        .limit(100)
    )


def _three_fact_sql(year, moy, sel, d3_cond_sql):
    return f"""
SELECT p.p_name AS i_item_desc, s.s_name AS s_store_name, {sel}
FROM lineitem l1
JOIN orders o1 ON l1.l_orderkey = o1.o_orderkey
JOIN lineitem l2 ON l2.l_partkey = l1.l_partkey
JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
JOIN lineitem l3 ON l3.l_partkey = l2.l_partkey
JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
JOIN part p ON l1.l_partkey = p.p_partkey
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE year(o1.o_orderdate) = {year} AND month(o1.o_orderdate) = {moy}
  AND l1.l_returnflag <> 'R'
  AND year(o2.o_orderdate) = {year}
  AND month(o2.o_orderdate) BETWEEN {moy} AND {moy + 3}
  AND l2.l_returnflag = 'R'
  AND {d3_cond_sql}
GROUP BY 1, 2
ORDER BY i_item_desc ASC, s_store_name ASC
LIMIT 100
"""


@_q(
    "tpcds_q25",
    _three_fact_sql(
        1996, 4,
        f"{_msum_sql('l1.l_extendedprice * (1 - l1.l_discount)')} AS store_sales_profit, "
        f"{_msum_sql('l2.l_extendedprice')} AS store_returns_loss, "
        f"{_msum_sql('l3.l_extendedprice * (1 - l3.l_discount)')} AS catalog_sales_profit",
        "year(o3.o_orderdate) = 1996 AND month(o3.o_orderdate) BETWEEN 4 AND 7",
    ),
)
def tpcds_q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q25 shape (tpcds/q25.sql: store sale in April, its return
    within the following months, and the same customer's catalog
    repurchase of the same item — a three-fact chain joined on
    (customer, item) with three date roles, profit/loss sums per
    (item, store)). Scale: the fact self-joins are equi-joins on
    (custkey, partkey); month filters prune each slice before the join;
    part/supplier broadcast."""
    m1 = _msum(F.col("l1.l_extendedprice") * (1 - F.col("l1.l_discount"))).alias("store_sales_profit")
    m2 = _msum(F.col("l2.l_extendedprice")).alias("store_returns_loss")
    m3 = _msum(F.col("l3.l_extendedprice") * (1 - F.col("l3.l_discount"))).alias("catalog_sales_profit")
    d3 = (F.year("o3.o_orderdate") == 1996) & F.month("o3.o_orderdate").between(4, 7)
    return _three_fact(spark, sf_dir, 1996, 4, m1, m2, m3, d3)


@_q(
    "tpcds_q29",
    _three_fact_sql(
        1996, 9,
        "CAST(sum(l1.l_quantity) AS BIGINT) AS store_sales_quantity, "
        "CAST(sum(l2.l_quantity) AS BIGINT) AS store_returns_quantity, "
        "CAST(sum(l3.l_quantity) AS BIGINT) AS catalog_sales_quantity",
        "year(o3.o_orderdate) IN (1996, 1997, 1998)",
    ),
)
def tpcds_q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q29 shape (tpcds/q29.sql: q25's quantity twin — same
    three-fact (customer, item) chain, quantity sums, and a three-year
    window on the repurchase slice instead of a month band)."""
    m1 = F.sum("l1.l_quantity").cast("bigint").alias("store_sales_quantity")
    m2 = F.sum("l2.l_quantity").cast("bigint").alias("store_returns_quantity")
    m3 = F.sum("l3.l_quantity").cast("bigint").alias("catalog_sales_quantity")
    d3 = F.year("o3.o_orderdate").isin(1996, 1997, 1998)
    return _three_fact(spark, sf_dir, 1996, 9, m1, m2, m3, d3)


# --- q46 / q68: per-trip city-mismatch report ------------------------------

def _trip_mismatch(spark, sf_dir, inner_filter, inner_filter_sql, aggs, aggs_sql,
                   out_cols, order_cols, store_nations):
    """dn = per-(trip, customer, bought_city) sums under a demographic OR
    filter; outer join to the customer's CURRENT city, keep mismatches."""
    li, orders, supp, nation, cust = _t(
        spark, sf_dir, "lineitem", "orders", "supplier", "nation", "customer")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("bought_city"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("ca_city"))
    dn = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp.filter(F.col("s_nationkey").isin(*store_nations)),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .filter(inner_filter)
        .groupBy(F.col("o_orderkey").alias("ss_ticket_number"),
                 F.col("o_custkey").alias("ss_customer_sk"),
                 F.col("bought_city"))
        .agg(*aggs)
    )
    out = (
        dn.join(cust, F.col("ss_customer_sk") == F.col("c_custkey"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("ca_city") != F.col("bought_city"))
        .select(*out_cols)
        .orderBy(*order_cols)
        .limit(100)
    )
    return out


def _trip_mismatch_sql(inner_filter_sql, aggs_sql, out_sql, order_sql, store_nations):
    nat = ", ".join(str(n) for n in store_nations)
    return f"""
WITH dn AS (
  SELECT o.o_orderkey AS ss_ticket_number, o.o_custkey AS ss_customer_sk,
         n1.n_name AS bought_city, {aggs_sql}
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  WHERE s.s_nationkey IN ({nat}) AND {inner_filter_sql}
  GROUP BY 1, 2, 3
)
SELECT {out_sql}
FROM dn
JOIN customer c ON dn.ss_customer_sk = c.c_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE n2.n_name <> dn.bought_city
ORDER BY {order_sql}
LIMIT 100
"""


@_q(
    "tpcds_q46",
    _trip_mismatch_sql(
        "(l.l_quantity = 4 OR l.l_linenumber = 3) AND year(o.o_orderdate) IN (1996, 1997, 1998)"
        " AND (datediff('day', DATE '1970-01-01', o.o_orderdate) % 7) IN (2, 3)",
        f"{_csum_sql('l.l_extendedprice * l.l_discount')} AS amt, "
        f"{_msum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS profit",
        "c.c_name, n2.n_name AS ca_city, dn.bought_city, dn.ss_ticket_number, "
        "CAST(dn.amt AS BIGINT) AS amt, dn.profit",
        "c.c_name ASC, ca_city ASC, bought_city ASC, ss_ticket_number ASC",
        (1, 2, 3, 4, 5),
    ),
)
def tpcds_q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q46 shape (tpcds/q46.sql: weekend store trips in a few
    cities under an OR'd household-demographic gate, summed per trip,
    then joined to the customer's current address keeping trips bought in
    a DIFFERENT city). City analog: supplier/customer nation; weekend =
    epoch-day mod 7 (identical formula both engines, no dow-convention
    skew); demographic OR analog on (quantity, linenumber). Scale: one
    grouping per trip, dims broadcast, mismatch filter is a residual
    above a broadcast join."""
    weekend = (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")) % 7).isin(2, 3)
    inner = (
        ((F.col("l_quantity") == 4) | (F.col("l_linenumber") == 3))
        & F.year("o_orderdate").isin(1996, 1997, 1998) & weekend
    )
    aggs = [
        _csum(F.col("l_extendedprice") * F.col("l_discount")).cast("bigint").alias("amt"),
        _msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("profit"),
    ]
    out_cols = ["c_name", "ca_city", "bought_city", "ss_ticket_number", "amt", "profit"]
    order_cols = [F.asc("c_name"), F.asc("ca_city"), F.asc("bought_city"),
                  F.asc("ss_ticket_number")]
    return _trip_mismatch(spark, sf_dir, inner, None, aggs, None, out_cols,
                          order_cols, (1, 2, 3, 4, 5))


@_q(
    "tpcds_q68",
    _trip_mismatch_sql(
        "(l.l_quantity = 4 OR l.l_linenumber = 3) AND year(o.o_orderdate) IN (1996, 1997, 1998)"
        " AND day(o.o_orderdate) BETWEEN 1 AND 2",
        f"{_msum_sql('l.l_extendedprice')} AS extended_price, "
        f"{_msum_sql('l.l_extendedprice * (1 + l.l_tax)')} AS list_price, "
        f"{_msum_sql('l.l_extendedprice * l.l_tax')} AS extended_tax",
        "c.c_name, n2.n_name AS ca_city, dn.bought_city, dn.ss_ticket_number, "
        "dn.extended_price, dn.extended_tax, dn.list_price",
        "c.c_name ASC, ss_ticket_number ASC, ca_city ASC, bought_city ASC",
        (6, 7),
    ),
)
def tpcds_q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q68 shape (tpcds/q68.sql: q46's month-start twin — trips on
    the first two days of the month in two cities, price/tax/list sums,
    same current-vs-bought city mismatch)."""
    inner = (
        ((F.col("l_quantity") == 4) | (F.col("l_linenumber") == 3))
        & F.year("o_orderdate").isin(1996, 1997, 1998)
        & F.dayofmonth("o_orderdate").between(1, 2)
    )
    aggs = [
        _msum(F.col("l_extendedprice")).alias("extended_price"),
        _msum(F.col("l_extendedprice") * (1 + F.col("l_tax"))).alias("list_price"),
        _msum(F.col("l_extendedprice") * F.col("l_tax")).alias("extended_tax"),
    ]
    out_cols = ["c_name", "ca_city", "bought_city", "ss_ticket_number",
                "extended_price", "extended_tax", "list_price"]
    order_cols = [F.asc("c_name"), F.asc("ss_ticket_number"), F.asc("ca_city"),
                  F.asc("bought_city")]
    return _trip_mismatch(spark, sf_dir, inner, None, aggs, None, out_cols,
                          order_cols, (6, 7))


# --- q57: monthly deviation with lag/lead neighbors, per call center -------

@_q(
    "tpcds_q57",
    f"""
WITH v1 AS (
  SELECT p.p_type AS i_category, p.p_brand AS i_brand, n.n_name AS cc_name,
         year(o.o_orderdate) AS d_year, month(o.o_orderdate) AS d_moy,
         {_csum_sql("l.l_extendedprice")} AS sum_sales,
         CAST(sum({_csum_sql("l.l_extendedprice")})
              OVER (PARTITION BY p.p_type, p.p_brand, n.n_name, year(o.o_orderdate)) AS BIGINT) AS year_sum,
         count(*) OVER (PARTITION BY p.p_type, p.p_brand, n.n_name, year(o.o_orderdate)) AS year_cnt,
         lag(CAST({_csum_sql("l.l_extendedprice")} AS BIGINT))
           OVER (PARTITION BY p.p_type, p.p_brand, n.n_name
                 ORDER BY year(o.o_orderdate), month(o.o_orderdate)) AS psum,
         lead(CAST({_csum_sql("l.l_extendedprice")} AS BIGINT))
           OVER (PARTITION BY p.p_type, p.p_brand, n.n_name
                 ORDER BY year(o.o_orderdate), month(o.o_orderdate)) AS nsum
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE year(o.o_orderdate) = 1996
     OR (year(o.o_orderdate) = 1995 AND month(o.o_orderdate) = 12)
     OR (year(o.o_orderdate) = 1997 AND month(o.o_orderdate) = 1)
  GROUP BY 1, 2, 3, 4, 5
)
SELECT i_category, i_brand, cc_name, d_year, d_moy, sum_sales,
       CAST(year_sum AS DOUBLE) / year_cnt AS avg_monthly_sales, psum, nsum
FROM v1
WHERE d_year = 1996 AND year_sum > 0
  AND 10 * abs(sum_sales * year_cnt - year_sum) > year_sum
ORDER BY sum_sales * year_cnt - year_sum ASC, cc_name ASC, i_category ASC,
         i_brand ASC, d_moy ASC
LIMIT 100
""",
)
def tpcds_q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q57 shape (tpcds/q57.sql: catalog months per (category,
    brand, call center) deviating >10% from the year average, with the
    neighbor months via rank self-joins — expressed as lag/lead over the
    same ordering, the equivalent single-pass plan; the extra Dec/Jan
    boundary months exist only to feed the lag/lead edges, exactly as the
    reference's OR'd date filter does). Call-center analog: supplier
    nation. Deviation and ordering keys are exact integers. Scale: one
    grouping shuffle; all three windows share one (cat, brand, cc)
    partitioning."""
    li, orders, part, supp, nation = _t(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "nation")
    datef = (
        (F.year("o_orderdate") == 1996)
        | ((F.year("o_orderdate") == 1995) & (F.month("o_orderdate") == 12))
        | ((F.year("o_orderdate") == 1997) & (F.month("o_orderdate") == 1))
    )
    g = (
        li.join(orders.filter(datef), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("p_type").alias("i_category"), F.col("p_brand").alias("i_brand"),
            F.col("n_name").alias("cc_name"),
            F.year("o_orderdate").alias("d_year"), F.month("o_orderdate").alias("d_moy"),
        )
        .agg(_csum(F.col("l_extendedprice")).alias("sum_sales"))
    )
    wy = W.partitionBy("i_category", "i_brand", "cc_name", "d_year")
    ws = W.partitionBy("i_category", "i_brand", "cc_name").orderBy("d_year", "d_moy")
    v1 = (
        g.withColumn("year_sum", F.sum("sum_sales").over(wy).cast("bigint"))
        .withColumn("year_cnt", F.count("*").over(wy))
        .withColumn("psum", F.lag("sum_sales").over(ws).cast("bigint"))
        .withColumn("nsum", F.lead("sum_sales").over(ws).cast("bigint"))
    )
    return (
        v1.filter(
            (F.col("d_year") == 1996) & (F.col("year_sum") > 0)
            & (10 * F.abs(F.col("sum_sales") * F.col("year_cnt") - F.col("year_sum"))
               > F.col("year_sum"))
        )
        .select(
            "i_category", "i_brand", "cc_name", "d_year", "d_moy", "sum_sales",
            (F.col("year_sum").cast("double") / F.col("year_cnt")).alias("avg_monthly_sales"),
            "psum", "nsum",
        )
        .orderBy(
            F.asc(F.col("sum_sales") * F.col("year_cnt") - F.col("year_sum")),
            F.asc("cc_name"), F.asc("i_category"), F.asc("i_brand"), F.asc("d_moy"),
        )
        .limit(100)
    )


# --- q74: two-channel year-over-year growth (q11's lean twin) --------------

@_q(
    "tpcds_q74",
    f"""
WITH year_total AS (
  SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
         year(o.o_orderdate) AS dyear,
         {_csum_sql("l.l_extendedprice")} AS year_total, 's' AS sale_type
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) IN (1996, 1997)
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
         year(o.o_orderdate) AS dyear,
         {_csum_sql("o.o_totalprice")} AS year_total, 'w' AS sale_type
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  WHERE year(o.o_orderdate) IN (1996, 1997)
  GROUP BY 1, 2, 3
)
SELECT s2.customer_id, s2.customer_name
FROM year_total s1
JOIN year_total s2 ON s2.customer_id = s1.customer_id
JOIN year_total w1 ON w1.customer_id = s1.customer_id
JOIN year_total w2 ON w2.customer_id = s1.customer_id
WHERE s1.sale_type = 's' AND s2.sale_type = 's'
  AND w1.sale_type = 'w' AND w2.sale_type = 'w'
  AND s1.dyear = 1996 AND s2.dyear = 1997
  AND w1.dyear = 1996 AND w2.dyear = 1997
  AND s1.year_total > 0 AND w1.year_total > 0
  AND CAST(w2.year_total AS DOUBLE) / w1.year_total
      > CAST(s2.year_total AS DOUBLE) / s1.year_total
ORDER BY s2.customer_id ASC
LIMIT 100
""",
)
def tpcds_q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q74 shape (tpcds/q74.sql: the two-year, two-channel lean
    variant of q11 — year_total over net-paid (undiscounted price here,
    distinguishing it from q11's revenue), 4-way self-join comparing
    web vs store growth ratios). Ratios divide exact cents → identical
    doubles. Scale: same materialization story as q11 (the CTE feeds four
    consumers; cte_materialization_enabled persists it)."""
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    o96 = orders.filter(F.year("o_orderdate").isin(1996, 1997))
    store = (
        customer.join(o96, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("c_custkey").alias("customer_id"),
                 F.col("c_name").alias("customer_name"),
                 F.year("o_orderdate").alias("dyear"))
        .agg(_csum(F.col("l_extendedprice")).alias("year_total"))
        .withColumn("sale_type", F.lit("s"))
    )
    web = (
        customer.join(o96, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_custkey").alias("customer_id"),
                 F.col("c_name").alias("customer_name"),
                 F.year("o_orderdate").alias("dyear"))
        .agg(_csum(F.col("o_totalprice")).alias("year_total"))
        .withColumn("sale_type", F.lit("w"))
    )
    year_total = _materialize_cte(spark, store.unionByName(web))

    def leg(alias, st, yr):
        return (
            year_total.filter((F.col("sale_type") == st) & (F.col("dyear") == yr))
            .select("customer_id", "customer_name", "year_total")
            .alias(alias)
        )

    s1, s2, w1, w2 = leg("s1", "s", 1996), leg("s2", "s", 1997), leg("w1", "w", 1996), leg("w2", "w", 1997)
    joined = (
        s1.join(s2, F.col("s2.customer_id") == F.col("s1.customer_id"))
        .join(w1, F.col("w1.customer_id") == F.col("s1.customer_id"))
        .join(w2, F.col("w2.customer_id") == F.col("s1.customer_id"))
        .filter((F.col("s1.year_total") > 0) & (F.col("w1.year_total") > 0))
        .filter(F.col("w2.year_total").cast("double") / F.col("w1.year_total")
                > F.col("s2.year_total").cast("double") / F.col("s1.year_total"))
    )
    return (
        joined.select(F.col("s2.customer_id").alias("customer_id"),
                      F.col("s2.customer_name").alias("customer_name"))
        .orderBy(F.asc("customer_id"))
        .limit(100)
    )


# --- q77: per-channel sales/returns profit rollup --------------------------

_Q77_WIN = ("1996-08-23", "1996-09-22")


@_q(
    "tpcds_q77",
    f"""
WITH ss AS (
  SELECT l.l_suppkey AS sk, {_csum_sql("l.l_extendedprice")} AS sales,
         {_csum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS profit
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), sr AS (
  SELECT l.l_suppkey AS sk, {_csum_sql("l.l_extendedprice")} AS returns_,
         {_csum_sql("l.l_extendedprice * l.l_tax")} AS profit_loss
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), cs AS (
  SELECT o.o_orderpriority AS ck, {_csum_sql("l.l_extendedprice")} AS sales,
         {_csum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS profit
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), cr AS (
  SELECT o.o_orderpriority AS ck, {_csum_sql("l.l_extendedprice")} AS returns_,
         {_csum_sql("l.l_extendedprice * l.l_tax")} AS profit_loss
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), ws AS (
  SELECT l.l_linestatus AS wk, {_csum_sql("l.l_extendedprice")} AS sales,
         {_csum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS profit
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), wr AS (
  SELECT l.l_linestatus AS wk, {_csum_sql("l.l_extendedprice")} AS returns_,
         {_csum_sql("l.l_extendedprice * l.l_tax")} AS profit_loss
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), x AS (
  SELECT 'store channel' AS channel, CAST(ss.sk AS VARCHAR) AS id, ss.sales,
         coalesce(sr.returns_, 0) AS returns_,
         ss.profit - coalesce(sr.profit_loss, 0) AS profit
  FROM ss LEFT JOIN sr ON ss.sk = sr.sk
  UNION ALL
  SELECT 'catalog channel' AS channel, CAST(cs.ck AS VARCHAR) AS id, cs.sales,
         cr.returns_ AS returns_, cs.profit - cr.profit_loss AS profit
  FROM cs, cr
  UNION ALL
  SELECT 'web channel' AS channel, CAST(ws.wk AS VARCHAR) AS id, ws.sales,
         coalesce(wr.returns_, 0) AS returns_,
         ws.profit - coalesce(wr.profit_loss, 0) AS profit
  FROM ws LEFT JOIN wr ON ws.wk = wr.wk
)
SELECT channel, id, round(sum(sales) / 100, 2) AS sales,
       round(sum(returns_) / 100, 2) AS returns_,
       round(sum(profit) / 100, 2) AS profit
FROM x
GROUP BY ROLLUP (channel, id)
ORDER BY channel ASC NULLS FIRST, id ASC NULLS FIRST, sales ASC
LIMIT 100
""",
)
def tpcds_q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q77 shape (tpcds/q77.sql: six 30-day CTEs — sales and
    returns per store / call center / web page — unioned with channel
    labels under a ROLLUP(channel, id), including the reference's odd
    catalog-channel CROSS join of its sales and returns CTEs). Channel
    keys: supplier / order priority / line status. Scale: each CTE is one
    pruned scan + tiny grouping; the rollup runs over dozens of rows."""
    li, orders = _t(spark, sf_dir, "lineitem", "orders")
    base = li.join(
        orders.filter(F.col("o_orderdate").between(*_Q77_WIN)),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    rets = base.filter(F.col("l_returnflag") == "R")
    # integer CENTS through the union — the rollup re-sums these values in
    # arbitrary order, and only integer-valued doubles are order-independent
    sales_aggs = [
        _csum(F.col("l_extendedprice")).alias("sales"),
        _csum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("profit"),
    ]
    ret_aggs = [
        _csum(F.col("l_extendedprice")).alias("returns_"),
        _csum(F.col("l_extendedprice") * F.col("l_tax")).alias("profit_loss"),
    ]
    ss = base.groupBy(F.col("l_suppkey").alias("sk")).agg(*sales_aggs)
    sr = rets.groupBy(F.col("l_suppkey").alias("sk")).agg(*ret_aggs)
    cs = base.groupBy(F.col("o_orderpriority").alias("ck")).agg(*sales_aggs)
    cr = rets.groupBy(F.col("o_orderpriority").alias("ck")).agg(*ret_aggs)
    ws = base.groupBy(F.col("l_linestatus").alias("wk")).agg(*sales_aggs)
    wr = rets.groupBy(F.col("l_linestatus").alias("wk")).agg(*ret_aggs)
    store = (
        ss.alias("ss").join(sr.alias("sr"), F.col("ss.sk") == F.col("sr.sk"), "left")
        .select(F.lit("store channel").alias("channel"),
                F.col("ss.sk").cast("string").alias("id"),
                F.col("sales"),
                F.coalesce(F.col("returns_"), F.lit(0)).alias("returns_"),
                (F.col("profit") - F.coalesce(F.col("profit_loss"), F.lit(0))).alias("profit"))
    )
    catalog = (
        cs.alias("cs").crossJoin(cr.alias("cr"))
        .select(F.lit("catalog channel").alias("channel"),
                F.col("cs.ck").cast("string").alias("id"),
                F.col("sales"), F.col("returns_"),
                (F.col("profit") - F.col("profit_loss")).alias("profit"))
    )
    web = (
        ws.alias("ws").join(wr.alias("wr"), F.col("ws.wk") == F.col("wr.wk"), "left")
        .select(F.lit("web channel").alias("channel"),
                F.col("ws.wk").cast("string").alias("id"),
                F.col("sales"),
                F.coalesce(F.col("returns_"), F.lit(0)).alias("returns_"),
                (F.col("profit") - F.coalesce(F.col("profit_loss"), F.lit(0))).alias("profit"))
    )
    x = store.unionByName(catalog).unionByName(web)
    return (
        x.rollup("channel", "id")
        .agg(F.round(F.sum("sales") / 100, 2).alias("sales"),
             F.round(F.sum("returns_") / 100, 2).alias("returns_"),
             F.round(F.sum("profit") / 100, 2).alias("profit"))
        .orderBy(F.asc_nulls_first("channel"), F.asc_nulls_first("id"), F.asc("sales"))
        .limit(100)
    )


# --- q80: row-level sale-return left joins per channel, rollup -------------

@_q(
    "tpcds_q80",
    f"""
WITH base AS (
  SELECT l.*, o.o_orderpriority, o.o_orderdate FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}'
    AND p.p_retailprice > 905 AND o.o_orderpriority <> '1-URGENT'
    AND l.l_returnflag <> 'R'
), ret AS (
  SELECT l_orderkey, l_partkey, l_extendedprice AS r_price,
         l_extendedprice * l_discount AS r_loss
  FROM lineitem WHERE l_returnflag = 'R'
), joined AS (
  SELECT b.*, r.r_price, r.r_loss
  FROM base b LEFT JOIN ret r
    ON b.l_orderkey = r.l_orderkey AND b.l_partkey = r.l_partkey
), ssr AS (
  SELECT CAST(l_suppkey AS VARCHAR) AS id, {_csum_sql("l_extendedprice")} AS sales,
         CAST(sum(coalesce(round(r_price * 100), 0)) AS BIGINT) AS returns_,
         CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)
              - coalesce(round(r_loss * 100), 0)) AS BIGINT) AS profit
  FROM joined GROUP BY 1
), csr AS (
  SELECT o_orderpriority AS id, {_csum_sql("l_extendedprice")} AS sales,
         CAST(sum(coalesce(round(r_price * 100), 0)) AS BIGINT) AS returns_,
         CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)
              - coalesce(round(r_loss * 100), 0)) AS BIGINT) AS profit
  FROM joined GROUP BY 1
), wsr AS (
  SELECT l_linestatus AS id, {_csum_sql("l_extendedprice")} AS sales,
         CAST(sum(coalesce(round(r_price * 100), 0)) AS BIGINT) AS returns_,
         CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)
              - coalesce(round(r_loss * 100), 0)) AS BIGINT) AS profit
  FROM joined GROUP BY 1
), x AS (
  SELECT 'store channel' AS channel, concat('store', id) AS id, sales, returns_, profit FROM ssr
  UNION ALL
  SELECT 'catalog channel' AS channel, concat('catalog_page', id) AS id, sales, returns_, profit FROM csr
  UNION ALL
  SELECT 'web channel' AS channel, concat('web_site', id) AS id, sales, returns_, profit FROM wsr
)
SELECT channel, id, round(sum(sales) / 100, 2) AS sales,
       round(sum(returns_) / 100, 2) AS returns_,
       round(sum(profit) / 100, 2) AS profit
FROM x
GROUP BY ROLLUP (channel, id)
ORDER BY channel ASC NULLS FIRST, id ASC NULLS FIRST, sales ASC
LIMIT 100
""",
)
def tpcds_q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q80 shape (tpcds/q80.sql: per-channel 30-day sales with each
    sale row LEFT-joined to its return (same order + item) before
    aggregation — returns and net profit ride the row-level join, unlike
    q77's pre-aggregated CTEs — item-price and promotion gates, then the
    same ROLLUP(channel, id) union). Promotion analog: order priority;
    the row-level return join is (l_orderkey, l_partkey) equi. Scale: the
    sale→return join is a co-partitioned equi-join on the fact keys; the
    rollup input is small."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    base = (
        li.filter(F.col("l_returnflag") != "R")
        .join(orders.filter(F.col("o_orderdate").between(*_Q77_WIN)
                            & (F.col("o_orderpriority") != "1-URGENT")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part.filter(F.col("p_retailprice") > 905),
              F.col("l_partkey") == F.col("p_partkey"))
    )
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("r_orderkey"),
                F.col("l_partkey").alias("r_partkey"),
                F.col("l_extendedprice").alias("r_price"),
                (F.col("l_extendedprice") * F.col("l_discount")).alias("r_loss"))
    )
    joined = base.join(
        ret,
        (F.col("l_orderkey") == F.col("r_orderkey"))
        & (F.col("l_partkey") == F.col("r_partkey")),
        "left",
    )
    # cents through the union (rollup re-sums; see q77 note)
    sales = _csum(F.col("l_extendedprice")).alias("sales")
    returns_ = F.sum(F.coalesce(F.round(F.col("r_price") * 100), F.lit(0))).cast("bigint").alias("returns_")
    profit = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        - F.coalesce(F.round(F.col("r_loss") * 100), F.lit(0))
    ).cast("bigint").alias("profit")

    def channel(key_col, label, prefix):
        return joined.groupBy(key_col.cast("string").alias("k")).agg(sales, returns_, profit).select(
            F.lit(label).alias("channel"), F.concat(F.lit(prefix), F.col("k")).alias("id"),
            "sales", "returns_", "profit",
        )

    x = (
        channel(F.col("l_suppkey"), "store channel", "store")
        .unionByName(channel(F.col("o_orderpriority"), "catalog channel", "catalog_page"))
        .unionByName(channel(F.col("l_linestatus"), "web channel", "web_site"))
    )
    return (
        x.rollup("channel", "id")
        .agg(F.round(F.sum("sales") / 100, 2).alias("sales"),
             F.round(F.sum("returns_") / 100, 2).alias("returns_"),
             F.round(F.sum("profit") / 100, 2).alias("profit"))
        .orderBy(F.asc_nulls_first("channel"), F.asc_nulls_first("id"), F.asc("sales"))
        .limit(100)
    )


# --- q83: three return channels joined per item over shared weeks ----------

@_q(
    "tpcds_q83",
    """
WITH weeks AS (
  SELECT DISTINCT weekofyear(d) AS wk FROM (
    SELECT CAST('1996-06-30' AS DATE) AS d
    UNION ALL SELECT CAST('1996-09-27' AS DATE)
    UNION ALL SELECT CAST('1996-11-17' AS DATE))
), sr_items AS (
  SELECT l.l_partkey AS item_id, CAST(sum(l.l_quantity) AS BIGINT) AS sr_item_qty
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND l.l_linenumber % 3 = 1
    AND weekofyear(o.o_orderdate) IN (SELECT wk FROM weeks)
  GROUP BY 1
), cr_items AS (
  SELECT l.l_partkey AS item_id, CAST(sum(l.l_quantity) AS BIGINT) AS cr_item_qty
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND l.l_linenumber % 3 = 2
    AND weekofyear(o.o_orderdate) IN (SELECT wk FROM weeks)
  GROUP BY 1
), wr_items AS (
  SELECT l.l_partkey AS item_id, CAST(sum(l.l_quantity) AS BIGINT) AS wr_item_qty
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND l.l_linenumber % 3 = 0
    AND weekofyear(o.o_orderdate) IN (SELECT wk FROM weeks)
  GROUP BY 1
)
SELECT s.item_id, sr_item_qty,
       round(CAST(sr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100, 6) AS sr_dev,
       cr_item_qty,
       round(CAST(cr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100, 6) AS cr_dev,
       wr_item_qty,
       round(CAST(wr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100, 6) AS wr_dev,
       CAST(sr_item_qty + cr_item_qty + wr_item_qty AS DOUBLE) / 3.0 AS average
FROM sr_items s
JOIN cr_items c ON s.item_id = c.item_id
JOIN wr_items w ON s.item_id = w.item_id
ORDER BY s.item_id ASC, sr_item_qty ASC
LIMIT 100
""",
)
def tpcds_q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q83 shape (tpcds/q83.sql: returned quantities per item in
    three channels over the weeks containing three given dates — the
    nested date_dim week subquery — inner-joined per item with each
    channel's share of the three-channel total). Channel analog:
    l_linenumber mod 3 slices of the R rows; week filter via weekofyear
    (ISO in both engines). Shares divide exact integers. Scale: three
    pruned scans + one 3-way equi-join on item."""
    import datetime

    li, orders = _t(spark, sf_dir, "lineitem", "orders")
    weeks = sorted({datetime.date(1996, 6, 30).isocalendar()[1],
                    datetime.date(1996, 9, 27).isocalendar()[1],
                    datetime.date(1996, 11, 17).isocalendar()[1]})
    r = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders.filter(F.weekofyear("o_orderdate").isin(weeks)),
              F.col("l_orderkey") == F.col("o_orderkey"))
    )

    def channel(mod, name):
        return (
            r.filter(F.col("l_linenumber") % 3 == mod)
            .groupBy(F.col("l_partkey").alias(f"{name}_key"))
            .agg(F.sum("l_quantity").cast("bigint").alias(f"{name}_item_qty"))
        )

    s, c, w = channel(1, "sr"), channel(2, "cr"), channel(0, "wr")
    j = (
        s.join(c, F.col("sr_key") == F.col("cr_key"))
        .join(w, F.col("sr_key") == F.col("wr_key"))
    )
    total = F.col("sr_item_qty") + F.col("cr_item_qty") + F.col("wr_item_qty")
    dev = lambda q: F.round(q.cast("double") / total / 3.0 * 100, 6)  # noqa: E731
    return (
        j.select(
            F.col("sr_key").alias("item_id"),
            "sr_item_qty", dev(F.col("sr_item_qty")).alias("sr_dev"),
            "cr_item_qty", dev(F.col("cr_item_qty")).alias("cr_dev"),
            "wr_item_qty", dev(F.col("wr_item_qty")).alias("wr_dev"),
            (total.cast("double") / 3.0).alias("average"),
        )
        .orderBy(F.asc("item_id"), F.asc("sr_item_qty"))
        .limit(100)
    )


# --- q72: fact-to-fact inventory join on (item, week) ----------------------

@_q(
    "tpcds_q72",
    """
SELECT p.p_name AS i_item_desc, s.s_name AS w_warehouse_name,
       weekofyear(o1.o_orderdate) AS d_week_seq,
       CAST(sum(CASE WHEN pr.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS no_promo,
       CAST(sum(CASE WHEN pr.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS promo,
       CAST(count(*) AS BIGINT) AS total_cnt
FROM lineitem l1
JOIN orders o1 ON l1.l_orderkey = o1.o_orderkey
JOIN customer c ON o1.o_custkey = c.c_custkey
JOIN lineitem l2 ON l2.l_partkey = l1.l_partkey
JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
JOIN part p ON l1.l_partkey = p.p_partkey
JOIN supplier s ON l2.l_suppkey = s.s_suppkey
LEFT JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_returnflag = 'R') pr
  ON pr.l_orderkey = l1.l_orderkey AND pr.l_partkey = l1.l_partkey
WHERE year(o1.o_orderdate) = 1996
  AND year(o2.o_orderdate) = 1996
  AND weekofyear(o2.o_orderdate) = weekofyear(o1.o_orderdate)
  AND l2.l_quantity < l1.l_quantity
  AND l1.l_shipdate > o1.o_orderdate + INTERVAL 5 DAY
  AND o1.o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND c.c_mktsegment IN ('BUILDING', 'MACHINERY')
GROUP BY 1, 2, 3
ORDER BY total_cnt DESC, i_item_desc ASC, w_warehouse_name ASC, d_week_seq ASC
LIMIT 100
""",
)
def tpcds_q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q72 shape (tpcds/q72.sql: the notorious catalog-sales ×
    inventory fact-to-fact join — same item, same WEEK, on-hand quantity
    below the ordered quantity — with demographic gates, a ship-after-5-
    days date inequality across two date roles, and a LEFT join to
    promotion counted into promo/no-promo buckets). Inventory analog: a
    second lineitem slice keyed by (partkey, week); warehouse = that
    slice's supplier; promotion = the order's R-flagged return line.
    Scale: THE planner stress — the only safe plan is the equi-join on
    (partkey, week-bucket) with the quantity inequality as residual;
    dims broadcast; no date-range cross join ever materializes."""
    li, orders, part, supp, cust = _t(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "customer")
    l1 = (
        li.alias("l1")
        .join(orders.alias("o1").filter((F.year("o1.o_orderdate") == 1996)
                                        & F.col("o1.o_orderpriority").isin("1-URGENT", "2-HIGH")),
              F.col("l1.l_orderkey") == F.col("o1.o_orderkey"))
        .join(cust.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY")),
              F.col("o1.o_custkey") == F.col("c_custkey"))
        .filter(F.col("l1.l_shipdate")
                > F.date_add(F.col("o1.o_orderdate"), 5))
    )
    l2 = (
        li.alias("l2")
        .join(orders.alias("o2").filter(F.year("o2.o_orderdate") == 1996),
              F.col("l2.l_orderkey") == F.col("o2.o_orderkey"))
    )
    pr = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("pr_orderkey"),
                F.col("l_partkey").alias("pr_partkey"))
        .distinct()
    )
    j = (
        l1.join(
            l2,
            (F.col("l2.l_partkey") == F.col("l1.l_partkey"))
            & (F.weekofyear("o2.o_orderdate") == F.weekofyear("o1.o_orderdate"))
            & (F.col("l2.l_quantity") < F.col("l1.l_quantity")),
        )
        .join(part, F.col("l1.l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l2.l_suppkey") == F.col("s_suppkey"))
        .join(pr, (F.col("pr_orderkey") == F.col("l1.l_orderkey"))
              & (F.col("pr_partkey") == F.col("l1.l_partkey")), "left")
    )
    return (
        j.groupBy(F.col("p_name").alias("i_item_desc"),
                  F.col("s_name").alias("w_warehouse_name"),
                  F.weekofyear("o1.o_orderdate").alias("d_week_seq"))
        .agg(
            F.sum(F.when(F.col("pr_orderkey").isNull(), 1).otherwise(0)).cast("bigint").alias("no_promo"),
            F.sum(F.when(F.col("pr_orderkey").isNotNull(), 1).otherwise(0)).cast("bigint").alias("promo"),
            F.count("*").cast("bigint").alias("total_cnt"),
        )
        .orderBy(F.desc("total_cnt"), F.asc("i_item_desc"),
                 F.asc("w_warehouse_name"), F.asc("d_week_seq"))
        .limit(100)
    )


# --- q64: two-year cross_sales CTE self-join -------------------------------

@_q(
    "tpcds_q64",
    f"""
WITH cs_ui AS (
  SELECT l1.l_partkey AS cs_item_sk,
         {_csum_sql("l1.l_extendedprice")} AS sale,
         {_csum_sql("l2.l_extendedprice * l2.l_tax")} AS refund
  FROM lineitem l1
  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
   AND l1.l_partkey = l2.l_partkey AND l2.l_returnflag = 'R'
  GROUP BY 1
  HAVING {_csum_sql("l1.l_extendedprice")}
         > 2 * {_csum_sql("l2.l_extendedprice * l2.l_tax")}
), cross_sales AS (
  SELECT p.p_name AS product_name, p.p_partkey AS item_sk,
         s.s_name AS store_name, s.s_nationkey AS store_zip,
         n1.n_name AS b_city, n2.n_name AS c_city,
         year(o.o_orderdate) AS syear,
         CAST(count(*) AS BIGINT) AS cnt,
         {_csum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS s1,
         {_csum_sql("l.l_extendedprice")} AS s2,
         {_csum_sql("l.l_extendedprice * l.l_discount")} AS s3
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN cs_ui ON l.l_partkey = cs_ui.cs_item_sk
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE p.p_retailprice BETWEEN 905 AND 915
    AND p.p_brand IN ('Brand#11', 'Brand#12', 'Brand#13', 'Brand#21', 'Brand#22', 'Brand#23')
    AND c.c_mktsegment <> 'BUILDING'
  GROUP BY 1, 2, 3, 4, 5, 6, 7
)
SELECT cs1.product_name, cs1.store_name, cs1.store_zip, cs1.b_city, cs1.c_city,
       cs1.syear AS syear1, cs1.cnt AS cnt1,
       CAST(cs1.s1 AS BIGINT) AS s11, CAST(cs1.s2 AS BIGINT) AS s21,
       CAST(cs1.s3 AS BIGINT) AS s31,
       CAST(cs2.s1 AS BIGINT) AS s12, CAST(cs2.s2 AS BIGINT) AS s22,
       CAST(cs2.s3 AS BIGINT) AS s32,
       cs2.syear AS syear2, cs2.cnt AS cnt2
FROM cross_sales cs1
JOIN cross_sales cs2 ON cs1.item_sk = cs2.item_sk
 AND cs1.store_name = cs2.store_name AND cs1.store_zip = cs2.store_zip
WHERE cs1.syear = 1996 AND cs2.syear = 1997 AND cs2.cnt <= cs1.cnt
ORDER BY cs1.product_name ASC, cs1.store_name ASC, cs2.cnt ASC,
         cs1.b_city ASC, cs1.c_city ASC, s11 ASC, s12 ASC
LIMIT 100
""",
)
def tpcds_q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q64 shape (tpcds/q64.sql: the widest query in the corpus —
    a cs_ui CTE of items whose sales more than double their refunds
    (HAVING over a sale-return join), feeding a cross_sales CTE that
    joins the store fact through customer, two address roles, store,
    item and the demographic mismatch gate, grouped per (item, store,
    year); finally cross_sales SELF-JOINED across two years on (item,
    store) with cnt2 <= cnt1). Address roles: supplier nation (bought) /
    customer nation (current); demographic mismatch: mktsegment gate.
    The cross_sales CTE feeds BOTH sides of the year self-join, so it is
    pre-filtered to the two consumed years and PINNED (localCheckpoint,
    r13 — VERDICT r12 #5): the heavy pipeline executes once, not once
    per side. Scale: cs_ui is a co-partitioned fact self-join on
    (order, item); the year self-join shuffles only the small pinned
    grouped frame."""
    cross_sales = _q64_cross_sales(spark, sf_dir)
    # the year self-join consumes ONLY syear 1996/1997, so pre-filter the
    # grouped frame to those two years and PIN it (localCheckpoint): the
    # 7-join + aggregate pipeline executes exactly once instead of once
    # per self-join side (the sim_knn_graph r12 lesson — Catalyst pushes
    # each side's syear filter below the aggregate, making the subplans
    # differ and defeating exchange reuse). The pinned frame is the tiny
    # (item, store, year) grouped relation.
    cross_sales = stagecache.pin(cross_sales.filter(
        F.col("syear").isin(1996, 1997)
    ))
    cs1 = cross_sales.filter(F.col("syear") == 1996).alias("cs1")
    cs2 = cross_sales.filter(F.col("syear") == 1997).alias("cs2")
    j = cs1.join(
        cs2,
        (F.col("cs1.item_sk") == F.col("cs2.item_sk"))
        & (F.col("cs1.store_name") == F.col("cs2.store_name"))
        & (F.col("cs1.store_zip") == F.col("cs2.store_zip"))
        & (F.col("cs2.cnt") <= F.col("cs1.cnt")),
    )
    return (
        j.select(
            F.col("cs1.product_name").alias("product_name"),
            F.col("cs1.store_name").alias("store_name"),
            F.col("cs1.store_zip").alias("store_zip"),
            F.col("cs1.b_city").alias("b_city"), F.col("cs1.c_city").alias("c_city"),
            F.col("cs1.syear").alias("syear1"), F.col("cs1.cnt").alias("cnt1"),
            F.col("cs1.s1").cast("bigint").alias("s11"),
            F.col("cs1.s2").cast("bigint").alias("s21"),
            F.col("cs1.s3").cast("bigint").alias("s31"),
            F.col("cs2.s1").cast("bigint").alias("s12"),
            F.col("cs2.s2").cast("bigint").alias("s22"),
            F.col("cs2.s3").cast("bigint").alias("s32"),
            F.col("cs2.syear").alias("syear2"), F.col("cs2.cnt").alias("cnt2"),
        )
        .orderBy(F.asc("product_name"), F.asc("store_name"), F.asc("cnt2"),
                 F.asc("b_city"), F.asc("c_city"), F.asc("s11"), F.asc("s12"))
        .limit(100)
    )


def _q64_cross_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q64's cross_sales CTE pre-checkpoint: the cs_ui sale>2*refund item
    gate feeding the 7-join spine, grouped per (item, store, year).
    Exposed so the plan gate can assert the dims broadcast on the frame
    that actually executes (the pinned checkpoint hides it)."""
    li, orders, part, supp, cust, nation = _t(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "customer", "nation")
    # r13 opt (guide §3.2 — reduce the big side BEFORE anything else):
    # the part predicate (retailprice band + 6 brands) keeps ~2.6% of
    # parts, but it sat 4th in the join order and Catalyst does not
    # reorder joins without CBO stats — so the FULL fact table rode the
    # orders/customer joins and the cs_ui self-join. A broadcast
    # semi-join on the qualifying part keys prunes lineitem FIRST
    # (~2.6% survives at every SF — the filter is on the part dimension,
    # so selectivity is scale-free); pruning before cs_ui is equivalence-
    # safe because cs_ui groups BY partkey (dropping other items' groups
    # cannot change a kept item's sums, and the inner join drops those
    # groups anyway). Measured 2.3 -> 1.7 s same-box at sf0.1; rows
    # identical.
    fpart = part.filter(
        F.col("p_retailprice").between(905, 915)
        & F.col("p_brand").isin("Brand#11", "Brand#12", "Brand#13",
                                "Brand#21", "Brand#22", "Brand#23")
    )
    lif = stagecache.pin(li.join(
        F.broadcast(fpart.select(F.col("p_partkey").alias("l_partkey"))),
        "l_partkey",
        "left_semi",
    ))
    l2 = (
        lif.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("r_orderkey"),
                F.col("l_partkey").alias("r_partkey"),
                F.col("l_extendedprice").alias("r_price"),
                F.col("l_tax").alias("r_tax"))
    )
    cs_ui = (
        lif.join(l2, (F.col("l_orderkey") == F.col("r_orderkey"))
                 & (F.col("l_partkey") == F.col("r_partkey")))
        .groupBy(F.col("l_partkey").alias("cs_item_sk"))
        .agg(_csum(F.col("l_extendedprice")).alias("sale"),
             _csum(F.col("r_price") * F.col("r_tax")).alias("refund"))
        .filter(F.col("sale") > 2 * F.col("refund"))
        .select("cs_item_sk")
    )
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("b_city"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("c_city"))
    base = (
        lif.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.filter(F.col("c_mktsegment") != "BUILDING"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(cs_ui, F.col("l_partkey") == F.col("cs_item_sk"))
        .join(fpart, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
    )
    return base.groupBy(
        F.col("p_name").alias("product_name"), F.col("p_partkey").alias("item_sk"),
        F.col("s_name").alias("store_name"), F.col("s_nationkey").alias("store_zip"),
        F.col("b_city"), F.col("c_city"), F.year("o_orderdate").alias("syear"),
    ).agg(
        F.count("*").cast("bigint").alias("cnt"),
        _csum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("s1"),
        _csum(F.col("l_extendedprice")).alias("s2"),
        _csum(F.col("l_extendedprice") * F.col("l_discount")).alias("s3"),
    )


# --- q16 / q94: multi-warehouse shipped, never-returned orders -------------

def _ship_orders(spark, sf_dir, date_lo, date_hi, nations, prio):
    li, orders, cust = _t(spark, sf_dir, "lineitem", "orders", "customer")
    l1 = (
        li.filter(F.col("l_shipdate").between(date_lo, date_hi))
        .join(orders.filter(F.col("o_orderpriority") == prio),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.filter(F.col("c_nationkey").isin(*nations)),
              F.col("o_custkey") == F.col("c_custkey"))
    )
    # EXISTS: another line of the order shipped from a DIFFERENT warehouse
    l2 = li.select(F.col("l_orderkey").alias("e_orderkey"),
                   F.col("l_suppkey").alias("e_suppkey"))
    with_other = l1.join(
        l2,
        (F.col("e_orderkey") == F.col("l_orderkey"))
        & (F.col("e_suppkey") != F.col("l_suppkey")),
        "left_semi",
    )
    # NOT EXISTS: the order has no return line
    returned = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("r_orderkey")
    )
    kept = with_other.join(
        returned, F.col("r_orderkey") == F.col("l_orderkey"), "left_anti"
    )
    return kept.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("order_count"),
        _msum(F.col("l_extendedprice") * F.col("l_discount")).alias("total_ship_cost"),
        _msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_net_profit"),
    )


def _ship_orders_sql(date_lo, date_hi, nations, prio):
    nat = ", ".join(str(n) for n in nations)
    return f"""
SELECT CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS order_count,
       {_msum_sql("l1.l_extendedprice * l1.l_discount")} AS total_ship_cost,
       {_msum_sql("l1.l_extendedprice * (1 - l1.l_discount)")} AS total_net_profit
FROM lineitem l1
JOIN orders o ON l1.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l1.l_shipdate BETWEEN '{date_lo}' AND '{date_hi}'
  AND o.o_orderpriority = '{prio}'
  AND c.c_nationkey IN ({nat})
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem r
                  WHERE r.l_orderkey = l1.l_orderkey AND r.l_returnflag = 'R')
"""


@_q("tpcds_q16", _ship_orders_sql("1996-02-01", "1996-04-01", (1, 2, 3), "2-HIGH"))
def tpcds_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q16 shape (tpcds/q16.sql: catalog orders shipped in a 60-day
    window to one state from one county's call centers, that shipped from
    MULTIPLE warehouses — a correlated EXISTS on the same fact — and were
    NEVER returned — a NOT EXISTS anti-join — reported as distinct-order
    count + cost sums). Warehouse analog: l_suppkey; the EXISTS becomes a
    residual-conditioned semi-join on the order key, the NOT EXISTS a
    broadcast anti-join. Scale: both sub-lookups co-partition with the
    fact on l_orderkey — no row explosion."""
    return _ship_orders(spark, sf_dir, "1996-02-01", "1996-04-01", (1, 2, 3), "2-HIGH")


@_q("tpcds_q94", _ship_orders_sql("1997-02-01", "1997-04-01", (5, 7, 9), "5-LOW"))
def tpcds_q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q94 shape (tpcds/q94.sql: q16's web twin — identical
    multi-warehouse EXISTS / never-returned NOT EXISTS skeleton on the
    web channel, different window/state/site gate)."""
    return _ship_orders(spark, sf_dir, "1997-02-01", "1997-04-01", (5, 7, 9), "5-LOW")


# --- q21: inventory before/after a pivot date ------------------------------

@_q(
    "tpcds_q21",
    """
SELECT * FROM (
  SELECT s.s_name AS w_warehouse_name, p.p_partkey AS i_item_id,
         CAST(sum(CASE WHEN l.l_shipdate < '1996-03-11' THEN l.l_quantity ELSE 0 END) AS BIGINT) AS inv_before,
         CAST(sum(CASE WHEN l.l_shipdate >= '1996-03-11' THEN l.l_quantity ELSE 0 END) AS BIGINT) AS inv_after
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_retailprice BETWEEN 905 AND 911
    AND l.l_shipdate BETWEEN '1996-01-10' AND '1996-05-10'
  GROUP BY 1, 2
) x
WHERE inv_before > 0
  AND CAST(inv_after AS DOUBLE) / inv_before BETWEEN 1.0 / 2.0 AND 2.0 / 1.0
ORDER BY w_warehouse_name ASC, i_item_id ASC
LIMIT 100
""",
)
def tpcds_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q21 shape (tpcds/q21.sql: per (warehouse, item) on-hand
    quantity split into before/after a pivot date over a ±30-day window,
    keeping items whose after/before ratio stays within a band — widened to [1/2, 2] for the synthetic data's sparser per-(warehouse, item) groups).
    Inventory analog: lineitem quantities by ship date; warehouse =
    supplier. The ratio divides exact integers → identical doubles.
    Scale: one grouping; price band prunes part before the join."""
    li, supp, part = _t(spark, sf_dir, "lineitem", "supplier", "part")
    x = (
        li.filter(F.col("l_shipdate").between("1996-01-10", "1996-05-10"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(part.filter(F.col("p_retailprice").between(905, 911)),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("s_name").alias("w_warehouse_name"),
                 F.col("p_partkey").alias("i_item_id"))
        .agg(
            F.sum(F.when(F.col("l_shipdate") < "1996-03-11", F.col("l_quantity"))
                  .otherwise(0)).cast("bigint").alias("inv_before"),
            F.sum(F.when(F.col("l_shipdate") >= "1996-03-11", F.col("l_quantity"))
                  .otherwise(0)).cast("bigint").alias("inv_after"),
        )
    )
    ratio = F.col("inv_after").cast("double") / F.col("inv_before")
    return (
        x.filter((F.col("inv_before") > 0)
                 & ratio.between(F.lit(1.0) / 2.0, F.lit(2.0) / 1.0))
        .orderBy(F.asc("w_warehouse_name"), F.asc("i_item_id"))
        .limit(100)
    )


# --- q37 / q82: in-stock items also selling in a channel -------------------

def _instock(spark, sf_dir, date_lo, date_hi, sizes, chan_flag):
    li, part = _t(spark, sf_dir, "lineitem", "part")
    inv = li.filter(
        F.col("l_shipdate").between(date_lo, date_hi)
        & F.col("l_quantity").between(10, 40)
    )
    chan = li.filter(F.col("l_linestatus") == chan_flag).select(
        F.col("l_partkey").alias("ch_partkey")
    )
    return (
        inv.join(part.filter(F.col("p_retailprice").between(905, 915)
                             & F.col("p_size").isin(*sizes)),
                 F.col("l_partkey") == F.col("p_partkey"))
        .join(chan, F.col("ch_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy(F.col("p_partkey").alias("i_item_id"),
                 F.col("p_name").alias("i_item_desc"),
                 F.col("p_retailprice").alias("i_current_price"))
        .agg(F.count("*").alias("_cnt"))
        .select("i_item_id", "i_item_desc", "i_current_price")
        .orderBy(F.asc("i_item_id"))
        .limit(100)
    )


def _instock_sql(date_lo, date_hi, sizes, chan_flag):
    sz = ", ".join(str(s) for s in sizes)
    return f"""
SELECT p.p_partkey AS i_item_id, p.p_name AS i_item_desc,
       p.p_retailprice AS i_current_price
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate BETWEEN '{date_lo}' AND '{date_hi}'
  AND l.l_quantity BETWEEN 10 AND 40
  AND p.p_retailprice BETWEEN 905 AND 915
  AND p.p_size IN ({sz})
  AND EXISTS (SELECT 1 FROM lineitem c
              WHERE c.l_partkey = l.l_partkey AND c.l_linestatus = '{chan_flag}')
GROUP BY 1, 2, 3
ORDER BY i_item_id ASC
LIMIT 100
"""


@_q("tpcds_q37", _instock_sql("1996-02-01", "1996-04-01", (7, 14, 21, 28), "O"))
def tpcds_q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q37 shape (tpcds/q37.sql: items from four manufacturers in a
    price band, held in inventory at 100-500 units during a 60-day
    window, that ALSO sell in the catalog channel — the fact semi-join).
    Inventory analog: lineitem quantity band by ship date; channel =
    linestatus slice. Scale: part prunes first; the channel check is a
    semi-join on partkey."""
    return _instock(spark, sf_dir, "1996-02-01", "1996-04-01", (7, 14, 21, 28), "O")


@_q("tpcds_q82", _instock_sql("1997-05-25", "1997-07-24", (5, 10, 15, 20), "F"))
def tpcds_q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q82 shape (tpcds/q82.sql: q37's store twin — same in-stock
    + also-selling skeleton against the store channel, different window
    and manufacturer set)."""
    return _instock(spark, sf_dir, "1997-05-25", "1997-07-24", (5, 10, 15, 20), "F")


# --- q26: demographic-gated catalog item averages --------------------------

@_q(
    "tpcds_q26",
    """
SELECT p.p_partkey AS i_item_id,
       round(avg(l.l_quantity), 6) AS agg1,
       round(avg(round(l.l_extendedprice * (1 + l.l_tax) * 100)), 6) AS agg2,
       round(avg(round(l.l_extendedprice * l.l_discount * 100)), 6) AS agg3,
       round(avg(round(l.l_extendedprice * 100)), 6) AS agg4
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE c.c_mktsegment = 'AUTOMOBILE' AND o.o_orderstatus = 'F'
  AND (o.o_orderpriority = '3-MEDIUM' OR o.o_orderpriority = '4-NOT SPECIFIED')
  AND year(o.o_orderdate) = 1997
GROUP BY 1
ORDER BY i_item_id ASC
LIMIT 100
""",
)
def tpcds_q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q26 shape (tpcds/q26.sql: q07's catalog twin — per-item
    quantity/list/coupon/sales averages under a three-way demographic
    gate plus an OR'd promotion-channel gate). Demographics analog:
    mktsegment + orderstatus; promotion OR: order priority. Averages
    divide exact cents by counts → identical doubles."""
    li, orders, cust, part = _t(spark, sf_dir, "lineitem", "orders", "customer", "part")
    j = (
        li.join(orders.filter((F.col("o_orderstatus") == "F")
                              & (F.year("o_orderdate") == 1997)
                              & F.col("o_orderpriority").isin("3-MEDIUM", "4-NOT SPECIFIED")),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.filter(F.col("c_mktsegment") == "AUTOMOBILE"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        j.groupBy(F.col("p_partkey").alias("i_item_id"))
        .agg(
            F.round(F.avg("l_quantity"), 6).alias("agg1"),
            F.round(F.avg(F.round(F.col("l_extendedprice") * (1 + F.col("l_tax")) * 100)), 6).alias("agg2"),
            F.round(F.avg(F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)), 6).alias("agg3"),
            F.round(F.avg(F.round(F.col("l_extendedprice") * 100)), 6).alias("agg4"),
        )
        .orderBy(F.asc("i_item_id"))
        .limit(100)
    )


# --- q27: rollup with GROUPING() over item x state -------------------------

@_q(
    "tpcds_q27",
    """
SELECT p.p_brand AS i_item_id, n.n_name AS s_state,
       CAST(grouping(n.n_name) AS INTEGER) AS g_state,
       round(avg(l.l_quantity), 6) AS agg1,
       round(avg(round(l.l_extendedprice * (1 + l.l_tax) * 100)), 6) AS agg2,
       round(avg(round(l.l_extendedprice * l.l_discount * 100)), 6) AS agg3,
       round(avg(round(l.l_extendedprice * 100)), 6) AS agg4
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE c.c_mktsegment = 'BUILDING' AND year(o.o_orderdate) = 1996
  AND s.s_nationkey IN (3, 7, 11)
GROUP BY ROLLUP (p.p_brand, n.n_name)
ORDER BY i_item_id ASC NULLS FIRST, s_state ASC NULLS FIRST
LIMIT 100
""",
)
def tpcds_q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q27 shape (tpcds/q27.sql: demographic-gated store averages
    under ROLLUP(item, state) with the GROUPING(s_state) marker column —
    the rollup + grouping-function pairing). State analog: supplier
    nation, three states. Scale: one rollup aggregation; dims
    broadcast."""
    li, orders, cust, supp, nation, part = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "part")
    j = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.filter(F.col("c_mktsegment") == "BUILDING"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(supp.filter(F.col("s_nationkey").isin(3, 7, 11)),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        j.rollup("p_brand", "n_name")
        .agg(
            F.grouping("n_name").cast("int").alias("g_state"),
            F.round(F.avg("l_quantity"), 6).alias("agg1"),
            F.round(F.avg(F.round(F.col("l_extendedprice") * (1 + F.col("l_tax")) * 100)), 6).alias("agg2"),
            F.round(F.avg(F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)), 6).alias("agg3"),
            F.round(F.avg(F.round(F.col("l_extendedprice") * 100)), 6).alias("agg4"),
        )
        .select(F.col("p_brand").alias("i_item_id"), F.col("n_name").alias("s_state"),
                "g_state", "agg1", "agg2", "agg3", "agg4")
        .orderBy(F.asc_nulls_first("i_item_id"), F.asc_nulls_first("s_state"))
        .limit(100)
    )


# --- q28: six quantity-band list-price buckets (single pass) ---------------

_Q28_BANDS = [
    (1, 0, 5, 90500, 91500), (2, 6, 10, 90800, 91800), (3, 11, 15, 91100, 92100),
    (4, 16, 20, 91400, 92400), (5, 21, 25, 91700, 92700), (6, 26, 30, 92000, 93000),
]


def _q28_cond_sql(lo, hi, plo, phi):
    return (f"l_quantity BETWEEN {lo} AND {hi} AND "
            f"(round(l_extendedprice * 100) BETWEEN {plo} AND {phi} "
            f"OR round(l_extendedprice * l_discount * 100) BETWEEN 200 AND 5200 "
            f"OR round(l_extendedprice * l_tax * 100) BETWEEN 100 AND 4100)")


@_q(
    "tpcds_q28",
    "SELECT "
    + ", ".join(
        f"round(avg(CASE WHEN {_q28_cond_sql(lo, hi, plo, phi)} THEN round(l_extendedprice * 100) END), 6) AS b{b}_lp, "
        f"CAST(count(CASE WHEN {_q28_cond_sql(lo, hi, plo, phi)} THEN 1 END) AS BIGINT) AS b{b}_cnt, "
        f"CAST(count(DISTINCT CASE WHEN {_q28_cond_sql(lo, hi, plo, phi)} THEN round(l_extendedprice * 100) END) AS BIGINT) AS b{b}_cntd"
        for b, lo, hi, plo, phi in _Q28_BANDS
    )
    + " FROM lineitem",
)
def tpcds_q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q28 shape (tpcds/q28.sql: six quantity-band buckets — each
    with an OR'd price/coupon/wholesale gate — reporting avg list price,
    count and DISTINCT count per bucket in one row). The reference spells
    six derived-table scans cross-joined; implemented as ONE scan with
    conditional aggregation — six fact scans collapse to a single pass
    (the q88 pattern; 6x less IO at scale, same single-row result).
    List-price cents keep the averages exact."""
    (li,) = _t(spark, sf_dir, "lineitem")
    aggs = []
    for b, lo, hi, plo, phi in _Q28_BANDS:
        cond = (
            F.col("l_quantity").between(lo, hi)
            & (
                F.round(F.col("l_extendedprice") * 100).between(plo, phi)
                | F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).between(200, 5200)
                | F.round(F.col("l_extendedprice") * F.col("l_tax") * 100).between(100, 4100)
            )
        )
        lp = F.when(cond, F.round(F.col("l_extendedprice") * 100))
        aggs += [
            F.round(F.avg(lp), 6).alias(f"b{b}_lp"),
            F.count(F.when(cond, 1)).cast("bigint").alias(f"b{b}_cnt"),
            F.countDistinct(lp).cast("bigint").alias(f"b{b}_cntd"),
        ]
    return li.agg(*aggs)


# --- q43: weekday sales matrix per store -----------------------------------

@_q(
    "tpcds_q43",
    f"""
SELECT s.s_name AS s_store_name, s.s_suppkey AS s_store_id,
       {", ".join(
           f"CAST(sum(CASE WHEN (datediff('day', DATE '1970-01-01', o.o_orderdate) + 4) % 7 = {d} "
           f"THEN round(l.l_extendedprice * 100) ELSE NULL END) AS BIGINT) AS {n}_sales"
           for d, n in [(0, "sun"), (1, "mon"), (2, "tue"), (3, "wed"),
                        (4, "thu"), (5, "fri"), (6, "sat")])}
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_nationkey < 12 AND year(o.o_orderdate) = 1996
GROUP BY 1, 2
ORDER BY s_store_name ASC, s_store_id ASC
LIMIT 100
""",
)
def tpcds_q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q43 shape (tpcds/q43.sql: per-store Sunday..Saturday sales
    matrix for one year in one timezone band — seven conditional sums off
    the day name). Day-of-week via epoch-day mod 7 (identical formula in
    both engines — no dow-convention skew); timezone gate: supplier
    nation band. Scale: one scan, one grouping — not seven."""
    li, orders, supp = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    j = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp.filter(F.col("s_nationkey") < 12),
              F.col("l_suppkey") == F.col("s_suppkey"))
    )
    dow = (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")) + 4) % 7
    names = ["sun", "mon", "tue", "wed", "thu", "fri", "sat"]
    return (
        j.groupBy(F.col("s_name").alias("s_store_name"),
                  F.col("s_suppkey").alias("s_store_id"))
        .agg(*[
            F.sum(F.when(dow == d, F.round(F.col("l_extendedprice") * 100)))
            .cast("bigint").alias(f"{n}_sales")
            for d, n in enumerate(names)
        ])
        .orderBy(F.asc("s_store_name"), F.asc("s_store_id"))
        .limit(100)
    )


# --- q89: monthly deviation from the (item, store) mean --------------------

@_q(
    "tpcds_q89",
    f"""
WITH g AS (
  SELECT p.p_type AS i_category, p.p_brand AS i_brand, s.s_name AS s_store_name,
         month(o.o_orderdate) AS d_moy,
         {_msum_sql("l.l_extendedprice")} AS sum_sales,
         {_csum_sql("l.l_extendedprice")} AS c
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE year(o.o_orderdate) = 1996 AND {_BANDS_SQL}
  GROUP BY 1, 2, 3, 4
), v AS (
  SELECT *, sum(c) OVER (PARTITION BY i_category, i_brand, s_store_name) AS key_sum_c,
         count(*) OVER (PARTITION BY i_category, i_brand, s_store_name) AS key_cnt
  FROM g
)
SELECT i_category, i_brand, s_store_name, d_moy, sum_sales,
       CAST(key_sum_c AS DOUBLE) / (100 * key_cnt) AS avg_monthly_sales
FROM v
WHERE key_sum_c <> 0 AND 10 * abs(c * key_cnt - key_sum_c) > abs(key_sum_c)
ORDER BY c * key_cnt - key_sum_c ASC, s_store_name ASC, i_category ASC,
         i_brand ASC, d_moy ASC
LIMIT 100
""",
)
def tpcds_q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q89 shape (tpcds/q89.sql: months whose store-item-class
    sales deviate >10% from the (category, brand, store) yearly mean —
    agg-over-window above a grouped frame gated by the two-band
    disjunctive category/class filter, ordered by the signed deviation).
    Deviation and ordering keys are exact cross-multiplied integers."""
    li, orders, part, supp = _t(spark, sf_dir, "lineitem", "orders", "part", "supplier")
    g = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part.filter(_bands_col()), F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("p_type").alias("i_category"), F.col("p_brand").alias("i_brand"),
                 F.col("s_name").alias("s_store_name"),
                 F.month("o_orderdate").alias("d_moy"))
        .agg(_msum(F.col("l_extendedprice")).alias("sum_sales"),
             # window re-sums in arbitrary order → run it over exact cents
             _csum(F.col("l_extendedprice")).alias("_c"))
    )
    w = W.partitionBy("i_category", "i_brand", "s_store_name")
    v = g.withColumn("key_sum_c", F.sum("_c").over(w)).withColumn(
        "key_cnt", F.count("*").over(w)
    )
    return (
        v.filter((F.col("key_sum_c") != 0)
                 & (10 * F.abs(F.col("_c") * F.col("key_cnt") - F.col("key_sum_c"))
                    > F.abs(F.col("key_sum_c"))))
        .select("i_category", "i_brand", "s_store_name", "d_moy", "sum_sales",
                (F.col("key_sum_c").cast("double") / (100 * F.col("key_cnt")))
                .alias("avg_monthly_sales"),
                (F.col("_c") * F.col("key_cnt") - F.col("key_sum_c")).alias("_dev"))
        .orderBy(F.asc("_dev"), F.asc("s_store_name"), F.asc("i_category"),
                 F.asc("i_brand"), F.asc("d_moy"))
        .limit(100)
        .drop("_dev")
    )


# --- q22: four-level rollup of average on-hand quantity --------------------

@_q(
    "tpcds_q22",
    """
SELECT p.p_name AS i_product_name, p.p_brand AS i_brand, p.p_type AS i_class,
       CAST(p.p_size AS INTEGER) AS i_category,
       round(avg(l.l_quantity), 6) AS qoh
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE year(o.o_orderdate) = 1996
GROUP BY ROLLUP (p.p_name, p.p_brand, p.p_type, CAST(p.p_size AS INTEGER))
ORDER BY qoh ASC, i_product_name ASC NULLS FIRST, i_brand ASC NULLS FIRST,
         i_class ASC NULLS FIRST, i_category ASC NULLS FIRST
LIMIT 100
""",
)
def tpcds_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q22 shape (tpcds/q22.sql: average on-hand inventory under a
    FOUR-level ROLLUP(product, brand, class, category) over a 12-month
    window — the deepest rollup in the corpus). Inventory analog:
    lineitem quantities. The average divides exact ints → identical
    doubles. Scale: one rollup aggregation (Spark expands grouping sets
    in a single Expand+HashAggregate pass)."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    j = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        j.rollup("p_name", "p_brand", "p_type", F.col("p_size").cast("int"))
        .agg(F.round(F.avg("l_quantity"), 6).alias("qoh"))
        .select(
            F.col("p_name").alias("i_product_name"), F.col("p_brand").alias("i_brand"),
            F.col("p_type").alias("i_class"),
            F.col("p_size").alias("i_category"), "qoh",
        )
        .orderBy(F.asc("qoh"), F.asc_nulls_first("i_product_name"),
                 F.asc_nulls_first("i_brand"), F.asc_nulls_first("i_class"),
                 F.asc_nulls_first("i_category"))
        .limit(100)
    )


# --- q39: month-over-month inventory variability self-join -----------------

def _q39_sql(cov1_min: float | None) -> str:
    """Shared q39 oracle text — the reference's q39_2.sql is q39_1.sql
    plus one extra predicate, ``inv1.cov > 1.5`` (adapted threshold
    below: the synthetic quantities' cov tops out ~1.1)."""
    extra = f" AND inv1.cov > {cov1_min}" if cov1_min is not None else ""
    return f"""
WITH foo AS (
  SELECT s.s_nationkey % 5 AS w_warehouse_sk,
         l.l_partkey % 20 AS i_item_sk, month(o.o_orderdate) AS d_moy,
         stddev_samp(l.l_quantity) AS stdev, avg(l.l_quantity) AS mean
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE year(o.o_orderdate) = 1996
  GROUP BY 1, 2, 3
), inv AS (
  SELECT w_warehouse_sk, i_item_sk, d_moy,
         round(mean, 6) AS mean,
         round(CASE WHEN mean = 0 THEN NULL ELSE stdev / mean END, 6) AS cov
  FROM foo
  WHERE (CASE WHEN mean = 0 THEN 0 ELSE stdev / mean END) > 0.5
)
SELECT inv1.w_warehouse_sk AS wsk1, inv1.i_item_sk AS isk1, inv1.d_moy AS moy1,
       inv1.mean AS mean1, inv1.cov AS cov1,
       inv2.d_moy AS moy2, inv2.mean AS mean2, inv2.cov AS cov2
FROM inv inv1
JOIN inv inv2 ON inv1.i_item_sk = inv2.i_item_sk
 AND inv1.w_warehouse_sk = inv2.w_warehouse_sk
WHERE inv1.d_moy = 1 AND inv2.d_moy = 2{extra}
ORDER BY wsk1, isk1, mean1, cov1, mean2, cov2
LIMIT 100
"""


@_q("tpcds_q39", _q39_sql(None))
def tpcds_q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q39 shape (tpcds/q39_1.sql: per (warehouse, item, month)
    inventory mean and stddev, keep high coefficient-of-variation groups,
    self-join January against February of the same (warehouse, item) —
    the variability screen). Warehouse analog: supplier-nation band, item
    bucket: partkey mod 20 (the synthetic data is too sparse for
    per-(supplier, part, month) stddevs); threshold 0.5 (the reference's
    1.0 is above the uniform quantities' cov). Scale: one
    grouping, then a self-join of the small filtered frame."""
    return _q39_join(spark, sf_dir, cov1_min=None)


@_q("tpcds_q39_2", _q39_sql(0.65))
def tpcds_q39_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q39 SECOND benchto variant (tpcds/q39_2.sql — VERDICT r09
    #5): identical CTE and self-join, plus the extra January-side
    coefficient-of-variation screen (reference: ``inv1.cov > 1.5`` on a
    CTE already filtered at 1.0; here 0.65 over the CTE's 0.5 — the
    measured cov quartiles of the synthetic quantities are 0.46/0.58/0.69,
    so the screen keeps roughly the top January quartile, biting without
    emptying)."""
    return _q39_join(spark, sf_dir, cov1_min=0.65)


def _q39_join(
    spark: SparkSession, sf_dir: str, cov1_min: float | None
) -> DataFrame:
    li, orders, supp = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    foo = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy((F.col("s_nationkey") % 5).alias("w_warehouse_sk"),
                 (F.col("l_partkey") % 20).alias("i_item_sk"),
                 F.month("o_orderdate").alias("d_moy"))
        .agg(F.stddev_samp("l_quantity").alias("stdev"), F.avg("l_quantity").alias("mean"))
    )
    inv = (
        foo.filter(F.when(F.col("mean") == 0, F.lit(0.0))
                   .otherwise(F.col("stdev") / F.col("mean")) > 0.5)
        .select("w_warehouse_sk", "i_item_sk", "d_moy",
                F.round("mean", 6).alias("mean"),
                F.round(F.when(F.col("mean") == 0, F.lit(None))
                        .otherwise(F.col("stdev") / F.col("mean")), 6).alias("cov"))
    )
    i1 = inv.filter(F.col("d_moy") == 1)
    if cov1_min is not None:
        i1 = i1.filter(F.col("cov") > cov1_min)
    i1 = i1.alias("inv1")
    i2 = inv.filter(F.col("d_moy") == 2).alias("inv2")
    return (
        i1.join(i2, (F.col("inv1.i_item_sk") == F.col("inv2.i_item_sk"))
                & (F.col("inv1.w_warehouse_sk") == F.col("inv2.w_warehouse_sk")))
        .select(F.col("inv1.w_warehouse_sk").alias("wsk1"),
                F.col("inv1.i_item_sk").alias("isk1"),
                F.col("inv1.d_moy").alias("moy1"),
                F.col("inv1.mean").alias("mean1"), F.col("inv1.cov").alias("cov1"),
                F.col("inv2.d_moy").alias("moy2"),
                F.col("inv2.mean").alias("mean2"), F.col("inv2.cov").alias("cov2"))
        .orderBy("wsk1", "isk1", "mean1", "cov1", "mean2", "cov2")
        .limit(100)
    )


# --- q40: net catalog sales before/after a pivot, returns subtracted -------

@_q(
    "tpcds_q40",
    """
SELECT n.n_name AS w_state, p.p_partkey AS i_item_id,
       CAST(sum(CASE WHEN o.o_orderdate < '1996-03-11'
                THEN round(l.l_extendedprice * 100) - coalesce(round(r.r_price * 100), 0)
                ELSE 0 END) AS BIGINT) AS sales_before,
       CAST(sum(CASE WHEN o.o_orderdate >= '1996-03-11'
                THEN round(l.l_extendedprice * 100) - coalesce(round(r.r_price * 100), 0)
                ELSE 0 END) AS BIGINT) AS sales_after
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN (SELECT l_orderkey AS r_orderkey, l_partkey AS r_partkey,
                  l_extendedprice * l_discount AS r_price
           FROM lineitem WHERE l_returnflag = 'R') r
  ON l.l_orderkey = r.r_orderkey AND l.l_partkey = r.r_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_returnflag <> 'R'
  AND p.p_retailprice BETWEEN 905 AND 911
  AND o.o_orderdate BETWEEN '1996-02-10' AND '1996-04-10'
GROUP BY 1, 2
ORDER BY w_state ASC, i_item_id ASC
LIMIT 100
""",
)
def tpcds_q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q40 shape (tpcds/q40.sql: catalog sales net of their
    row-level returns (LEFT join on order+item), split before/after a
    pivot date per (warehouse state, item) over a ±30-day window with an
    item price band). Warehouse state analog: supplier nation. All cents
    exact."""
    li, orders, supp, nation, part = _t(
        spark, sf_dir, "lineitem", "orders", "supplier", "nation", "part")
    r = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("r_orderkey"),
        F.col("l_partkey").alias("r_partkey"),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("r_price"),
    )
    j = (
        li.filter(F.col("l_returnflag") != "R")
        .join(orders.filter(F.col("o_orderdate").between("1996-02-10", "1996-04-10")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(r, (F.col("l_orderkey") == F.col("r_orderkey"))
              & (F.col("l_partkey") == F.col("r_partkey")), "left")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(part.filter(F.col("p_retailprice").between(905, 911)),
              F.col("l_partkey") == F.col("p_partkey"))
    )
    net = (F.round(F.col("l_extendedprice") * 100)
           - F.coalesce(F.round(F.col("r_price") * 100), F.lit(0)))
    return (
        j.groupBy(F.col("n_name").alias("w_state"), F.col("p_partkey").alias("i_item_id"))
        .agg(
            F.sum(F.when(F.col("o_orderdate") < "1996-03-11", net).otherwise(0))
            .cast("bigint").alias("sales_before"),
            F.sum(F.when(F.col("o_orderdate") >= "1996-03-11", net).otherwise(0))
            .cast("bigint").alias("sales_after"),
        )
        .orderBy(F.asc("w_state"), F.asc("i_item_id"))
        .limit(100)
    )


# --- q41: manufacturers with items matching a deep attribute battery -------

_Q41_BATTERY_SQL = (
    "((p_type = 'STANDARD' AND p_brand IN ('Brand#11', 'Brand#12', 'Brand#13')) "
    "OR (p_type = 'SMALL' AND p_brand IN ('Brand#14', 'Brand#15', 'Brand#21')) "
    "OR (p_type = 'ECONOMY' AND p_brand IN ('Brand#22', 'Brand#23', 'Brand#24')) "
    "OR (p_type = 'MEDIUM' AND p_brand IN ('Brand#25', 'Brand#31', 'Brand#32')))"
)


@_q(
    "tpcds_q41",
    f"""
SELECT DISTINCT i1.p_name AS i_product_name
FROM part i1
WHERE i1.p_size BETWEEN 10 AND 30
  AND (SELECT count(*) FROM part i2
       WHERE i2.p_size = i1.p_size AND {_Q41_BATTERY_SQL.replace('p_type', 'i2.p_type').replace('p_brand', 'i2.p_brand')}) > 0
ORDER BY i_product_name ASC
LIMIT 100
""",
)
def tpcds_q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q41 shape (tpcds/q41.sql: DISTINCT product names whose
    MANUFACTURER has at least one item matching a deep OR'd
    (category, color, units, size) attribute battery — a correlated
    count(*) > 0 on the item dimension itself, i.e. a self semi-join of
    the dim). Manufacturer analog: p_size; battery: (type, brand) bands.
    Decorrelated as a distinct-key semi-join — the exact plan Presto's
    optimizer builds."""
    (part,) = _t(spark, sf_dir, "part")
    battery = (
        ((F.col("p_type") == "STANDARD") & F.col("p_brand").isin("Brand#11", "Brand#12", "Brand#13"))
        | ((F.col("p_type") == "SMALL") & F.col("p_brand").isin("Brand#14", "Brand#15", "Brand#21"))
        | ((F.col("p_type") == "ECONOMY") & F.col("p_brand").isin("Brand#22", "Brand#23", "Brand#24"))
        | ((F.col("p_type") == "MEDIUM") & F.col("p_brand").isin("Brand#25", "Brand#31", "Brand#32"))
    )
    matching = part.filter(battery).select(F.col("p_size").alias("m_size")).distinct()
    return (
        part.filter(F.col("p_size").between(10, 30))
        .join(matching, F.col("m_size") == F.col("p_size"), "left_semi")
        .select(F.col("p_name").alias("i_product_name"))
        .distinct()
        .orderBy(F.asc("i_product_name"))
        .limit(100)
    )


# --- q73: trip party-size counts between 1 and 5 ---------------------------

@_q(
    "tpcds_q73",
    """
WITH dj AS (
  SELECT o.o_orderkey AS ss_ticket_number, o.o_custkey AS ss_customer_sk,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE day(o.o_orderdate) BETWEEN 1 AND 2
    AND (l.l_quantity = 4 OR l.l_linenumber = 3)
    AND year(o.o_orderdate) IN (1996, 1997, 1998)
    AND s.s_nationkey IN (2, 4, 6, 8)
  GROUP BY 1, 2
)
SELECT c.c_name, c.c_mktsegment, dj.ss_ticket_number, dj.cnt
FROM dj
JOIN customer c ON dj.ss_customer_sk = c.c_custkey
WHERE dj.cnt BETWEEN 1 AND 5
ORDER BY dj.cnt DESC, c.c_name ASC, dj.ss_ticket_number ASC
""",
)
def tpcds_q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q73 shape (tpcds/q73.sql: month-start store trips under a
    household-demographic OR gate in four counties, keeping trips with
    1-5 qualifying lines, reported with the customer — q46's counting
    sibling; no LIMIT in the reference, deterministic total order
    added)."""
    li, orders, supp, cust = _t(spark, sf_dir, "lineitem", "orders", "supplier", "customer")
    dj = (
        li.filter((F.col("l_quantity") == 4) | (F.col("l_linenumber") == 3))
        .join(orders.filter(F.dayofmonth("o_orderdate").between(1, 2)
                            & F.year("o_orderdate").isin(1996, 1997, 1998)),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp.filter(F.col("s_nationkey").isin(2, 4, 6, 8)),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("o_orderkey").alias("ss_ticket_number"),
                 F.col("o_custkey").alias("ss_customer_sk"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return (
        dj.filter(F.col("cnt").between(1, 5))
        .join(cust, F.col("ss_customer_sk") == F.col("c_custkey"))
        .select("c_name", "c_mktsegment", "ss_ticket_number", "cnt")
        .orderBy(F.desc("cnt"), F.asc("c_name"), F.asc("ss_ticket_number"))
    )


# --- q84: income-band customers with a recorded return ---------------------

@_q(
    "tpcds_q84",
    """
SELECT c.c_custkey AS customer_id,
       c.c_name || ', ' || c.c_mktsegment AS customername
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_3'
  AND c.c_acctbal BETWEEN 1000 AND 6000
  AND EXISTS (SELECT 1 FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
ORDER BY customer_id ASC
LIMIT 100
""",
)
def tpcds_q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q84 shape (tpcds/q84.sql: customers in one city whose
    household income band sits in a 50k window and who appear in
    store_returns — a five-dim chain ending in a fact semi-join).
    City analog: nation; income band: acctbal window; the returns
    check is a semi-join through orders. Output concatenates the
    name as the reference does."""
    cust, nation, li, orders = _t(spark, sf_dir, "customer", "nation", "lineitem", "orders")
    returned_cust = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("rc_custkey"))
    )
    return (
        cust.filter(F.col("c_acctbal").between(1000, 6000))
        .join(nation.filter(F.col("n_name") == "NATION_3"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(returned_cust, F.col("rc_custkey") == F.col("c_custkey"), "left_semi")
        .select(F.col("c_custkey").alias("customer_id"),
                F.concat(F.col("c_name"), F.lit(", "), F.col("c_mktsegment")).alias("customername"))
        .orderBy(F.asc("customer_id"))
        .limit(100)
    )


# --- q91: call-center return losses under demographic bands ----------------

@_q(
    "tpcds_q91",
    f"""
SELECT o.o_orderpriority AS call_center, c.c_mktsegment AS cd_marital_status,
       {_csum_sql("l.l_extendedprice")} AS returns_loss
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l.l_returnflag = 'R'
  AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 11
  AND (c.c_mktsegment = 'BUILDING' OR c.c_mktsegment = 'MACHINERY')
  AND c.c_nationkey < 12
GROUP BY 1, 2
ORDER BY returns_loss DESC, call_center ASC, cd_marital_status ASC
""",
)
def tpcds_q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q91 shape (tpcds/q91.sql: catalog return losses per call
    center for one month, customers gated by an OR of
    (marital, education) bands plus buy-potential and gmt-offset
    filters, ordered by loss). Call center analog: order priority;
    demographic bands: mktsegment; gmt band: nationkey. No LIMIT in the
    reference; ordering keys are exact cents + text."""
    li, orders, cust = _t(spark, sf_dir, "lineitem", "orders", "customer")
    j = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders.filter((F.year("o_orderdate") == 1996)
                            & (F.month("o_orderdate") == 11)),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
                          & (F.col("c_nationkey") < 12)),
              F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        j.groupBy(F.col("o_orderpriority").alias("call_center"),
                  F.col("c_mktsegment").alias("cd_marital_status"))
        .agg(_csum(F.col("l_extendedprice")).alias("returns_loss"))
        .orderBy(F.desc("returns_loss"), F.asc("call_center"),
                 F.asc("cd_marital_status"))
    )


# --- q56 / q60: three-channel totals for an item subset --------------------

def _chan3_sql(item_cond_sql, year, moy, nat_band):
    def chan(flag):
        return f"""
  SELECT l.l_partkey AS i_item_id, {_csum_sql("l.l_extendedprice")} AS total_sales
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE {item_cond_sql})
    AND l.l_returnflag = '{flag}'
    AND year(o.o_orderdate) = {year} AND month(o.o_orderdate) = {moy}
    AND c.c_nationkey < {nat_band}
  GROUP BY 1"""

    return f"""
WITH ss AS ({chan('N')}), cs AS ({chan('A')}), ws AS ({chan('R')})
SELECT i_item_id, CAST(sum(total_sales) AS BIGINT) AS total_sales
FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws) tmp
GROUP BY i_item_id
"""


def _chan3(spark, sf_dir, item_cond, year, moy, nat_band):
    li, orders, cust, part = _t(spark, sf_dir, "lineitem", "orders", "customer", "part")
    items = part.filter(item_cond).select(F.col("p_partkey").alias("sel_partkey"))
    base = (
        li.join(orders.filter((F.year("o_orderdate") == year)
                              & (F.month("o_orderdate") == moy)),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.filter(F.col("c_nationkey") < nat_band),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(items, F.col("sel_partkey") == F.col("l_partkey"), "left_semi")
    )

    def chan(flag):
        return (
            base.filter(F.col("l_returnflag") == flag)
            .groupBy(F.col("l_partkey").alias("i_item_id"))
            .agg(_csum(F.col("l_extendedprice")).alias("total_sales"))
        )

    return (
        chan("N").unionByName(chan("A")).unionByName(chan("R"))
        .groupBy("i_item_id")
        .agg(F.sum("total_sales").cast("bigint").alias("total_sales"))
    )


@_q(
    "tpcds_q56",
    _chan3_sql("p_brand IN ('Brand#11', 'Brand#21', 'Brand#31')", 1996, 2, 13)
    + "ORDER BY total_sales ASC, i_item_id ASC LIMIT 100",
)
def tpcds_q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q56 shape (tpcds/q56.sql: per-item totals across the three
    sales channels for items in three colors, one month, one gmt band —
    three structurally identical CTEs (each with an item-id IN subquery)
    UNION ALL'd and re-grouped). Color analog: brand set; channels:
    returnflag slices; gmt: nation band."""
    return _chan3(
        spark, sf_dir,
        F.col("p_brand").isin("Brand#11", "Brand#21", "Brand#31"), 1996, 2, 13,
    ).orderBy(F.asc("total_sales"), F.asc("i_item_id")).limit(100)


@_q(
    "tpcds_q60",
    _chan3_sql("p_type = 'ECONOMY'", 1997, 9, 11)
    + "ORDER BY i_item_id ASC, total_sales ASC LIMIT 100",
)
def tpcds_q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q60 shape (tpcds/q60.sql: q56's category twin — same
    three-channel CTE union for one category/month/gmt band, item-first
    ordering)."""
    return _chan3(
        spark, sf_dir, F.col("p_type") == "ECONOMY", 1997, 9, 11,
    ).orderBy(F.asc("i_item_id"), F.asc("total_sales")).limit(100)


# --- q69: store-only customers' demographic profile ------------------------

@_q(
    "tpcds_q69",
    """
SELECT c.c_mktsegment AS cd_gender,
       CAST(floor(c.c_acctbal / 1000) * 1000 AS BIGINT) AS cd_purchase_estimate,
       CAST(c.c_nationkey % 3 AS INTEGER) AS cd_credit_rating,
       CAST(count(*) AS BIGINT) AS cnt
FROM customer c
WHERE c.c_nationkey IN (2, 5, 8)
  AND EXISTS (SELECT 1 FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'A'
                AND year(o.o_orderdate) = 1996
                AND month(o.o_orderdate) BETWEEN 4 AND 6)
  AND NOT EXISTS (SELECT 1 FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                  WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'N'
                    AND year(o.o_orderdate) = 1996
                    AND month(o.o_orderdate) BETWEEN 4 AND 6)
  AND NOT EXISTS (SELECT 1 FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                  WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R'
                    AND year(o.o_orderdate) = 1996
                    AND month(o.o_orderdate) BETWEEN 4 AND 6)
GROUP BY 1, 2, 3
ORDER BY cd_gender ASC, cd_purchase_estimate ASC, cd_credit_rating ASC
LIMIT 100
""",
)
def tpcds_q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q69 shape (tpcds/q69.sql: the demographic profile of
    customers in three states who bought in the STORE channel during one
    quarter but NOT in the web or catalog channels — one EXISTS plus two
    NOT EXISTS on the fact). Channels: returnflag slices; demographics:
    mktsegment / acctbal band / nation band. Scale: one semi-join + two
    anti-joins on the customer key, then a small grouping."""
    li, orders, cust = _t(spark, sf_dir, "lineitem", "orders", "customer")

    def bought(flag):
        return (
            li.filter(F.col("l_returnflag") == flag)
            .join(orders.filter((F.year("o_orderdate") == 1996)
                                & F.month("o_orderdate").between(4, 6)),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .select(F.col("o_custkey").alias(f"{flag}_custkey"))
        )

    out = (
        cust.filter(F.col("c_nationkey").isin(2, 5, 8))
        .join(bought("A"), F.col("A_custkey") == F.col("c_custkey"), "left_semi")
        .join(bought("N"), F.col("N_custkey") == F.col("c_custkey"), "left_anti")
        .join(bought("R"), F.col("R_custkey") == F.col("c_custkey"), "left_anti")
    )
    return (
        out.groupBy(
            F.col("c_mktsegment").alias("cd_gender"),
            (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("bigint").alias("cd_purchase_estimate"),
            (F.col("c_nationkey") % 3).cast("int").alias("cd_credit_rating"),
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.asc("cd_gender"), F.asc("cd_purchase_estimate"),
                 F.asc("cd_credit_rating"))
        .limit(100)
    )


# --- q70: state/county profit rollup with rank-within-parent ---------------

@_q(
    "tpcds_q70",
    f"""
WITH agg AS (
  SELECT n.n_name AS s_state, s.s_name AS s_county,
         {_msum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS total_sum,
         CAST(grouping(n.n_name) AS INTEGER) AS g_state,
         CAST(grouping(s.s_name) AS INTEGER) AS g_county
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE year(o.o_orderdate) = 1996
    AND n.n_name IN (
      SELECT s_state FROM (
        SELECT n2.n_name AS s_state,
               rank() OVER (PARTITION BY n2.n_name
                            ORDER BY sum(round(l2.l_extendedprice * 100)) DESC) AS ranking
        FROM lineitem l2
        JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
        JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        WHERE year(o2.o_orderdate) = 1996
        GROUP BY n2.n_name
      ) tmp1 WHERE ranking <= 5
    )
  GROUP BY ROLLUP (n.n_name, s.s_name)
)
SELECT total_sum, s_state, s_county,
       g_state + g_county AS lochierarchy,
       CAST(rank() OVER (
         PARTITION BY g_state + g_county,
                      CASE WHEN g_county = 0 THEN s_state END
         ORDER BY total_sum DESC) AS INTEGER) AS rank_within_parent
FROM agg
ORDER BY lochierarchy DESC,
         CASE WHEN g_state + g_county = 0 THEN s_state END ASC NULLS FIRST,
         rank_within_parent ASC, s_state ASC NULLS FIRST, s_county ASC NULLS FIRST
LIMIT 100
""",
)
def tpcds_q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q70 shape (tpcds/q70.sql: profit under ROLLUP(state, county)
    with rank() partitioned by the GROUPING-function hierarchy level —
    rank-within-parent — plus the reference's famous degenerate top-5
    state subquery (rank() PARTITION BY the grouped key itself is always
    1, so the IN keeps every state — faithfully reproduced). Scale:
    rollup + one window over the small grouped frame."""
    li, orders, supp, nation = _t(spark, sf_dir, "lineitem", "orders", "supplier", "nation")
    j96 = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
    )
    top5 = (
        j96.groupBy(F.col("n_name").alias("s_state"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100)).alias("t"))
        .withColumn("ranking", F.rank().over(W.partitionBy("s_state").orderBy(F.desc("t"))))
        .filter(F.col("ranking") <= 5)
        .select(F.col("s_state").alias("sel_state"))
    )
    agg = (
        j96.join(top5, F.col("sel_state") == F.col("n_name"), "left_semi")
        .rollup("n_name", "s_name")
        .agg(
            _msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_sum"),
            F.grouping("n_name").cast("int").alias("g_state"),
            F.grouping("s_name").cast("int").alias("g_county"),
        )
    )
    lo = F.col("g_state") + F.col("g_county")
    wr = W.partitionBy(lo, F.when(F.col("g_county") == 0, F.col("n_name"))).orderBy(
        F.desc("total_sum")
    )
    return (
        agg.select(
            "total_sum",
            F.col("n_name").alias("s_state"), F.col("s_name").alias("s_county"),
            lo.alias("lochierarchy"),
            F.rank().over(wr).cast("int").alias("rank_within_parent"),
            F.col("g_state"), F.col("g_county"),
        )
        .orderBy(
            F.desc("lochierarchy"),
            F.asc_nulls_first(F.when(F.col("g_state") + F.col("g_county") == 0,
                                     F.col("s_state"))),
            F.asc("rank_within_parent"),
            F.asc_nulls_first("s_state"), F.asc_nulls_first("s_county"),
        )
        .select("total_sum", "s_state", "s_county", "lochierarchy", "rank_within_parent")
        .limit(100)
    )


# --- q71: brand revenue by hour across three unioned channels --------------

@_q(
    "tpcds_q71",
    f"""
WITH tmp AS (
  SELECT round(l.l_extendedprice * 100) AS ext_price, l.l_partkey AS sold_item_sk,
         (l.l_orderkey * 7 + l.l_linenumber * 3) % 24 AS t_hour
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'N' AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 1996
  UNION ALL
  SELECT round(l.l_extendedprice * 100), l.l_partkey,
         (l.l_orderkey * 7 + l.l_linenumber * 3) % 24
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'A' AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 1996
  UNION ALL
  SELECT round(l.l_extendedprice * 100), l.l_partkey,
         (l.l_orderkey * 7 + l.l_linenumber * 3) % 24
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 1996
)
SELECT p.p_brand AS brand, CAST(t_hour AS INTEGER) AS t_hour,
       CAST(sum(ext_price) AS BIGINT) AS ext_price
FROM tmp
JOIN part p ON tmp.sold_item_sk = p.p_partkey
WHERE p.p_partkey % 100 < 20
  AND (t_hour BETWEEN 6 AND 9 OR t_hour BETWEEN 17 AND 20)
GROUP BY 1, 2
ORDER BY ext_price DESC, brand ASC, t_hour ASC
""",
)
def tpcds_q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q71 shape (tpcds/q71.sql: one manager's brand revenue at
    breakfast/dinner hours, the fact being a UNION ALL of all three
    channels joined to time_dim — the all-channel hourly profile).
    Hour analog: deterministic per-line hash mod 24 (the same synthetic
    time the benchto adapter uses); meal bands 6-9/17-20; manager:
    partkey band. No LIMIT in the reference."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    o_nov = orders.filter((F.month("o_orderdate") == 11) & (F.year("o_orderdate") == 1996))

    def chan(flag):
        return (
            li.filter(F.col("l_returnflag") == flag)
            .join(o_nov, F.col("l_orderkey") == F.col("o_orderkey"))
            .select(
                F.round(F.col("l_extendedprice") * 100).alias("ext_price"),
                F.col("l_partkey").alias("sold_item_sk"),
                ((F.col("l_orderkey") * 7 + F.col("l_linenumber") * 3) % 24).alias("t_hour"),
            )
        )

    tmp = chan("N").unionByName(chan("A")).unionByName(chan("R"))
    return (
        tmp.join(part.filter(F.col("p_partkey") % 100 < 20),
                 F.col("sold_item_sk") == F.col("p_partkey"))
        .filter(F.col("t_hour").between(6, 9) | F.col("t_hour").between(17, 20))
        .groupBy(F.col("p_brand").alias("brand"), F.col("t_hour").cast("int").alias("t_hour"))
        .agg(F.sum("ext_price").cast("bigint").alias("ext_price"))
        .orderBy(F.desc("ext_price"), F.asc("brand"), F.asc("t_hour"))
    )


# --- q85: returns under paired-demographic and address band ORs ------------

@_q(
    "tpcds_q85",
    """
SELECT concat('reason_', CAST(l.l_linenumber % 5 AS STRING)) AS r_reason_desc,
       round(avg(l.l_quantity), 6) AS avg_quantity,
       round(avg(round(l.l_extendedprice * l.l_discount * 100)), 6) AS avg_refunded,
       round(avg(round(l.l_extendedprice * l.l_tax * 100)), 6) AS avg_fee
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l.l_returnflag = 'R' AND year(o.o_orderdate) = 1996
  AND ((c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'F'
        AND round(l.l_extendedprice * 100) BETWEEN 1000000 AND 5000000)
    OR (c.c_mktsegment = 'MACHINERY' AND o.o_orderstatus = 'O'
        AND round(l.l_extendedprice * 100) BETWEEN 500000 AND 3000000)
    OR (c.c_mktsegment = 'AUTOMOBILE' AND o.o_orderstatus = 'P'
        AND round(l.l_extendedprice * 100) BETWEEN 1500000 AND 6000000))
  AND ((c.c_nationkey IN (1, 4, 7) AND round(l.l_extendedprice * (1 - l.l_discount) * 100) BETWEEN 100000 AND 20000000)
    OR (c.c_nationkey IN (10, 13, 16) AND round(l.l_extendedprice * (1 - l.l_discount) * 100) BETWEEN 150000 AND 30000000)
    OR (c.c_nationkey IN (19, 22, 24) AND round(l.l_extendedprice * (1 - l.l_discount) * 100) BETWEEN 50000 AND 25000000))
GROUP BY 1
ORDER BY r_reason_desc ASC, avg_quantity ASC, avg_refunded ASC, avg_fee ASC
LIMIT 100
""",
)
def tpcds_q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q85 shape (tpcds/q85.sql: web returns joined back to their
    sales with PAIRED demographic bands — marital/education must match
    across the refunding and returning demographics AND gate a price band
    — plus an OR'd (state set, profit band) address gate, averaged per
    return reason). Demographic pairing analog: (mktsegment, orderstatus)
    bands; reason dim: linenumber mod 5. All band arithmetic exact
    cents."""
    li, orders, cust = _t(spark, sf_dir, "lineitem", "orders", "customer")
    price = F.round(F.col("l_extendedprice") * 100)
    profit = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
    demo = (
        ((F.col("c_mktsegment") == "BUILDING") & (F.col("o_orderstatus") == "F")
         & price.between(1000000, 5000000))
        | ((F.col("c_mktsegment") == "MACHINERY") & (F.col("o_orderstatus") == "O")
           & price.between(500000, 3000000))
        | ((F.col("c_mktsegment") == "AUTOMOBILE") & (F.col("o_orderstatus") == "P")
           & price.between(1500000, 6000000))
    )
    addr = (
        (F.col("c_nationkey").isin(1, 4, 7) & profit.between(100000, 20000000))
        | (F.col("c_nationkey").isin(10, 13, 16) & profit.between(150000, 30000000))
        | (F.col("c_nationkey").isin(19, 22, 24) & profit.between(50000, 25000000))
    )
    j = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders.filter(F.year("o_orderdate") == 1996),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(demo & addr)
    )
    return (
        j.groupBy(
            F.concat(F.lit("reason_"), (F.col("l_linenumber") % 5).cast("string"))
            .alias("r_reason_desc")
        )
        .agg(
            F.round(F.avg("l_quantity"), 6).alias("avg_quantity"),
            F.round(F.avg(F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)), 6).alias("avg_refunded"),
            F.round(F.avg(F.round(F.col("l_extendedprice") * F.col("l_tax") * 100)), 6).alias("avg_fee"),
        )
        .orderBy(F.asc("r_reason_desc"), F.asc("avg_quantity"),
                 F.asc("avg_refunded"), F.asc("avg_fee"))
        .limit(100)
    )


# --- q24: per-color netpaid vs 5% of the all-color average -----------------

_Q24_BRANDS_1 = ("Brand#11", "Brand#12", "Brand#13", "Brand#14", "Brand#15")
_Q24_BRANDS_2 = ("Brand#21", "Brand#22", "Brand#23", "Brand#24", "Brand#25")


def _q24_sql(brands: tuple[str, ...]) -> str:
    """Shared q24 oracle text — q24_1 and q24_2 differ ONLY in the color
    band (the reference files are byte-identical apart from
    'pale' vs 'chiffon': tpcds/q24_1.sql vs q24_2.sql)."""
    blist = ", ".join(f"'{b}'" for b in brands)
    return f"""
WITH ssales AS (
  SELECT c.c_name AS c_last_name, s.s_name AS s_store_name,
         p.p_brand AS i_color,
         {_csum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS netpaid
  FROM lineitem l
  JOIN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R') r
    ON l.l_orderkey = r.l_orderkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_returnflag <> 'R' AND s.s_nationkey % 5 = c.c_nationkey % 5
  GROUP BY 1, 2, 3
)
SELECT c_last_name, s_store_name, CAST(sum(netpaid) AS BIGINT) AS paid
FROM ssales
WHERE i_color IN ({blist})
GROUP BY 1, 2
HAVING sum(netpaid) > (SELECT 0.05 * avg(netpaid) FROM ssales)
ORDER BY c_last_name ASC, s_store_name ASC
"""


@_q("tpcds_q24", _q24_sql(_Q24_BRANDS_1))
def tpcds_q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q24 shape (tpcds/q24_1.sql: store purchases in RETURNED
    orders (ticket-level return match — the per-(ticket, item) pair is
    vacuous in the synthetic data) where
    the customer's birth country matches the store's address, net paid
    grouped per (customer, store, color, ...); the outer query keeps one
    color band and reports (customer, store) totals exceeding 5% of the
    ALL-color average — a scalar subquery over the same CTE, so the CTE
    has TWO consumers and the cte-materialization property applies).
    Color analog: brand; country-match: supplier region = customer
    region (nation-level equality is vacuous in the synthetic data). Scale: sale-return join co-partitions on (order, item); the
    global average is a broadcast scalar."""
    return _q24_paid(spark, sf_dir, _Q24_BRANDS_1)


@_q("tpcds_q24_2", _q24_sql(_Q24_BRANDS_2))
def tpcds_q24_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q24 SECOND benchto variant (tpcds/q24_2.sql — VERDICT r09
    #5: the reference ships both color bands as separate benchmark
    files; 'pale' vs 'chiffon' is the only diff). Same ssales CTE, the
    Brand#21-25 band instead of Brand#11-15; everything else — the
    two-consumer CTE, the 5%-of-average scalar threshold, the exact
    cents — is ``tpcds_q24``'s."""
    return _q24_paid(spark, sf_dir, _Q24_BRANDS_2)


def _q24_paid(
    spark: SparkSession, sf_dir: str, brands: tuple[str, ...]
) -> DataFrame:
    li, orders, cust, supp, part = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "part")
    r = (li.filter(F.col("l_returnflag") == "R")
         .select(F.col("l_orderkey").alias("r_orderkey")).distinct())
    ssales = (
        li.filter(F.col("l_returnflag") != "R")
        .join(r, F.col("l_orderkey") == F.col("r_orderkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") % 5 == F.col("c_nationkey") % 5)
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("c_name").alias("c_last_name"),
                 F.col("s_name").alias("s_store_name"),
                 F.col("p_brand").alias("i_color"))
        .agg(_csum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("netpaid"))
    )
    ssales = _materialize_cte(spark, ssales)
    threshold = ssales.agg((F.avg("netpaid") * 0.05).alias("thr"))
    out = (
        ssales.filter(F.col("i_color").isin(*brands))
        .groupBy("c_last_name", "s_store_name")
        .agg(F.sum("netpaid").cast("bigint").alias("paid"))
        .crossJoin(F.broadcast(threshold))
        .filter(F.col("paid") > F.col("thr"))
        .select("c_last_name", "s_store_name", "paid")
        .orderBy(F.asc("c_last_name"), F.asc("s_store_name"))
    )
    return out


# --- q14_2: same-week year-over-year cross-channel comparison --------------

def _q14_2_items_sql(flag: str) -> str:
    return f"""
      SELECT DISTINCT l_partkey FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) BETWEEN 1996 AND 1998"""


def _q14_2_year_arm_sql(year: int) -> str:
    return f"""
   SELECT p.p_brand AS i_brand,
          CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sales_cents,
          CAST(count(*) AS BIGINT) AS number_sales
   FROM lineitem l
   JOIN orders o ON l.l_orderkey = o.o_orderkey
   JOIN part p ON l.l_partkey = p.p_partkey
   WHERE year(o.o_orderdate) = {year} AND weekofyear(o.o_orderdate) = 6
     AND l.l_partkey IN (SELECT l_partkey FROM cross_items)
   GROUP BY p.p_brand
   HAVING CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT)
          > (SELECT average_cents FROM avg_sales)"""


@_q(
    "tpcds_q14_2",
    f"""
WITH cross_items AS (
  {_q14_2_items_sql('N')}
  INTERSECT
  {_q14_2_items_sql('A')}
  INTERSECT
  {_q14_2_items_sql('R')}
), avg_sales AS (
  SELECT CAST(sum(round(l.l_quantity * (l.l_extendedprice / l.l_quantity) * 100)) AS BIGINT) / count(*) AS average_cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1996 AND 1998
)
SELECT 'store' AS channel, ty.i_brand,
       ty.sales_cents AS ty_sales_cents, ty.number_sales AS ty_number_sales,
       ly.sales_cents AS ly_sales_cents, ly.number_sales AS ly_number_sales
FROM ({_q14_2_year_arm_sql(1998)}) ty
JOIN ({_q14_2_year_arm_sql(1997)}) ly ON ty.i_brand = ly.i_brand
ORDER BY ty.i_brand
LIMIT 100
""",
)
def tpcds_q14_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q14 SECOND benchto variant (tpcds/q14_2.sql — VERDICT r09
    #5): the same cross_items INTERSECT gate and avg_sales scalar
    threshold as q14_1 (operators/tpcds.py:tpcds_q14), but the final
    query compares THE SAME CALENDAR WEEK this year vs last year — two
    gated weekly rollups self-joined on the item attribute. Adaptation:
    channels = returnflag arms, item attribute = part brand, week =
    ISO week 6 (both Spark ``weekofyear`` and DuckDB ``weekofyear`` are
    ISO-8601; week 6 sits mid-quarter, away from the week-53 boundary
    ambiguity). Scale: cross_items stays a distinct-key INTERSECT
    (narrow semi-join side), avg_sales a 1-row broadcast, and each year
    arm is one week-pruned scan + brand rollup — the year-over-year join
    is brand-cardinality (25 rows)."""
    li, orders, part = _t(spark, sf_dir, "lineitem", "orders", "part")
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    yrs = lo.filter(F.year("o_orderdate").between(1996, 1998))

    def items(flag: str) -> DataFrame:
        return (
            yrs.filter(F.col("l_returnflag") == flag)
            .select("l_partkey").distinct()
        )

    cross_items = items("N").intersect(items("A")).intersect(items("R"))
    avg_sales = yrs.agg(
        (
            F.sum(
                F.round(
                    F.col("l_quantity")
                    * (F.col("l_extendedprice") / F.col("l_quantity"))
                    * 100
                )
            ).cast("bigint")
            / F.count("*")
        ).alias("average_cents")
    )

    def year_arm(year: int) -> DataFrame:
        wk = lo.filter(
            (F.year("o_orderdate") == year)
            & (F.weekofyear("o_orderdate") == 6)
        )
        return (
            wk.join(cross_items, "l_partkey", "left_semi")
            .join(part, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy(F.col("p_brand").alias("i_brand"))
            .agg(
                F.sum(F.round(F.col("l_extendedprice") * 100))
                .cast("bigint")
                .alias("sales_cents"),
                F.count("*").cast("bigint").alias("number_sales"),
            )
            .crossJoin(F.broadcast(avg_sales))
            .filter(F.col("sales_cents") > F.col("average_cents"))
            .select("i_brand", "sales_cents", "number_sales")
        )

    ty = year_arm(1998).alias("ty")
    ly = year_arm(1997).alias("ly")
    return (
        ty.join(ly, F.col("ty.i_brand") == F.col("ly.i_brand"))
        .select(
            F.lit("store").alias("channel"),
            F.col("ty.i_brand").alias("i_brand"),
            F.col("ty.sales_cents").alias("ty_sales_cents"),
            F.col("ty.number_sales").alias("ty_number_sales"),
            F.col("ly.sales_cents").alias("ly_sales_cents"),
            F.col("ly.number_sales").alias("ly_number_sales"),
        )
        .orderBy("i_brand")
        .limit(100)
    )


# --- q23_2: best-customer frequent-item sales per customer name ------------

@_q(
    "tpcds_q23_2",
    """
WITH frequent_items AS (
  SELECT l.l_partkey AS item_sk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1995 AND 1998
  GROUP BY l.l_partkey, year(o.o_orderdate)
  HAVING count(*) > 4
), csales AS (
  SELECT o.o_custkey, CAST(sum(round(l.l_quantity * (l.l_extendedprice / l.l_quantity) * 100)) AS BIGINT) AS csales
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1995 AND 1998
  GROUP BY o.o_custkey
), max_sales AS (
  SELECT max(csales) AS cmax FROM csales
), best_customers AS (
  SELECT c2.o_custkey FROM (
    SELECT o.o_custkey, CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS ssales
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
  ) c2, max_sales
  WHERE c2.ssales * 2 > cmax
), arm_a AS (
  SELECT c.c_name AS c_last_name, CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sales_cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 2
    AND l.l_returnflag = 'A'
    AND l.l_partkey IN (SELECT item_sk FROM frequent_items)
    AND o.o_custkey IN (SELECT o_custkey FROM best_customers)
  GROUP BY c.c_name
), arm_r AS (
  SELECT c.c_name AS c_last_name, CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sales_cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 2
    AND l.l_returnflag = 'R'
    AND l.l_partkey IN (SELECT item_sk FROM frequent_items)
    AND o.o_custkey IN (SELECT o_custkey FROM best_customers)
  GROUP BY c.c_name
)
SELECT c_last_name, sales_cents FROM arm_a
UNION ALL
SELECT c_last_name, sales_cents FROM arm_r
ORDER BY c_last_name ASC, sales_cents ASC
LIMIT 100
""",
)
def tpcds_q23_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q23 SECOND benchto variant (tpcds/q23_2.sql — VERDICT r09
    #5): the same frequent_ss_items + best_ss_customer gate CTEs as
    q23_1 (operators/tpcds.py:tpcds_q23), but the final query reports
    PER-CUSTOMER-NAME sales from TWO channels UNION ALL'd (reference:
    catalog + web; adaptation: the 'A' and 'R' returnflag arms), ordered
    by name then sales. Frequency granularity deviation: q23_1 keeps the
    reference's per-(item, DAY) count>4, which the synthetic fixture's
    density makes an empty set (~30 sales/part over 7 years — measured:
    zero qualifying days at sf0.01); the _2 twin counts per (item, YEAR)
    so the gate actually gates (1.8k qualifying parts at sf0.01). Scale:
    the gate CTEs are computed once and feed both arms as broadcastable
    distinct-key semi-join sides (AQE reuses the exchanges); each arm is
    one month-pruned fact pass; the final sort is a top-100
    TakeOrdered."""
    li, orders, cust = _t(spark, sf_dir, "lineitem", "orders", "customer")
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    years = lo.filter(F.year("o_orderdate").between(1995, 1998))
    frequent = (
        years.groupBy("l_partkey", F.year("o_orderdate"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 4)
        .select(F.col("l_partkey").alias("item_sk"))
        .distinct()
    )
    csales = years.groupBy("o_custkey").agg(
        F.sum(
            F.round(
                F.col("l_quantity")
                * (F.col("l_extendedprice") / F.col("l_quantity"))
                * 100
            )
        ).cast("bigint").alias("csales")
    )
    cmax = csales.agg(F.max("csales").alias("cmax"))
    ssales = lo.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100))
        .cast("bigint")
        .alias("ssales")
    )
    best = (
        ssales.crossJoin(F.broadcast(cmax))
        .filter(F.col("ssales") * 2 > F.col("cmax"))
        .select("o_custkey")
    )
    month = lo.filter(
        (F.year("o_orderdate") == 1996) & (F.month("o_orderdate") == 2)
    )

    def arm(flag: str) -> DataFrame:
        return (
            month.filter(F.col("l_returnflag") == flag)
            .join(frequent, month.l_partkey == frequent.item_sk, "left_semi")
            .join(best, "o_custkey", "left_semi")
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy(F.col("c_name").alias("c_last_name"))
            .agg(
                F.sum(F.round(F.col("l_extendedprice") * 100))
                .cast("bigint")
                .alias("sales_cents")
            )
        )

    return (
        arm("A").unionAll(arm("R"))
        .orderBy(F.asc("c_last_name"), F.asc("sales_cents"))
        .limit(100)
    )
