"""Extended TPC-H-shape relational coverage (Q7-Q22 adaptations).

The driver schema is a reduced TPC-H (no partsupp, no comment /
shipmode / commitdate columns), so each query keeps the *operator
shape* of its spec counterpart — the plan features the optimizer
must handle — with predicates re-parameterized to this data:

- Q7  bi-directional nation-pair join with year extraction
- Q8  market-share: share-of-group via conditional aggregation over
      a 7-way join
- Q9  profit expression over part⋈supplier⋈nation⋈orders⋈lineitem
- Q12 conditional aggregation (CASE inside SUM)
- Q13 left-outer join preserving zero-count groups + histogram
- Q14 percentage-of-total via conditional aggregation
- Q15 aggregate view + scalar-subquery max equality
- Q18 IN-subquery with HAVING over a fact aggregate
- Q19 disjunctive (OR-of-conjuncts) join predicates
- Q21 multi-correlated EXISTS + NOT EXISTS (semi + anti joins)
- Q22 scalar subquery + anti join + group

Scale notes: nation/region always broadcast; part broadcasts after
its selective filter; orders⋈lineitem remains the one big shuffle
join, and every CASE/expression aggregate is map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, both
    directions, by ship year. Customer nation via orders, supplier
    nation via lineitem — two independent dimension paths."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    return (
        li.where((F.col("l_shipdate") >= F.lit("1996-01-01"))
                 & (F.col("l_shipdate") < F.lit("1998-01-01")))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume), 4) AS revenue
FROM (
  SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND ((n2.n_name = 'NATION_1' AND n1.n_name = 'NATION_2')
      OR (n2.n_name = 'NATION_2' AND n1.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_1 suppliers' share of PROMO-part
    revenue sold to ASIA customers, per order year — share-of-group
    as a conditional aggregate over the full 7-way join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia_nations = nation.join(
        F.broadcast(region.where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("c_nk"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part.where(F.col("p_type") == "PROMO")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("c_nk"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


Q8_SQL = """
SELECT o_year, round(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END)
                     / sum(volume), 6) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
)
GROUP BY o_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year. The
    spec's ps_supplycost (no partsupp table here) is modeled as
    half the part's retail price."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part.where(F.col("p_name").like("%widget%"))),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.5 * p_retailprice * l_quantity), 4) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
"""


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation — per linestatus
    (shipmode stand-in), count high- vs low-priority orders among
    1996 shipments."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where((F.col("l_shipdate") >= F.lit("1996-01-01"))
                 & (F.col("l_shipdate") < F.lit("1997-01-01")))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution. The left outer
    join MUST preserve customers with zero matching orders (the
    filter excludes 5-LOW orders so zero-groups exist)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders.where(F.col("o_orderpriority") != "5-LOW"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q13_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percentage-of-total conditional aggregate —
    PROMO parts' share of January-1996 shipment revenue."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where((F.col("l_shipdate") >= F.lit("1996-01-01"))
                 & (F.col("l_shipdate") < F.lit("1996-02-01")))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("promo_revenue")
        )
    )


Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: revenue view + scalar-subquery max — supplier(s)
    with the maximum Q1-1996 revenue."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.where((F.col("l_shipdate") >= F.lit("1996-01-01"))
                 & (F.col("l_shipdate") < F.lit("1996-04-01")))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name",
                F.round("total_revenue", 4).alias("total_revenue"))
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(total_revenue, 4) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: IN-subquery over a HAVING aggregate — orders whose
    total quantity exceeds 200, with customer context, top 100."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 200)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey",
                "o_orderdate", "o_totalprice",
                F.round("sum_qty", 2).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(sum_qty, 2) AS sum_qty
FROM orders
JOIN (SELECT l_orderkey AS lk, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 200) ON o_orderkey = lk
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunction of conjunctive join predicates (OR of
    brand×size×quantity windows) — the optimizer must still push the
    common join key and the per-branch filters."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    b1 = ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
          & (F.col("l_quantity").between(1, 11)))
    b2 = ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25))
          & (F.col("l_quantity").between(10, 20)))
    b3 = ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 35))
          & (F.col("l_quantity").between(20, 30)))
    return j.where(b1 | b2 | b3).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )


Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: multi-correlated EXISTS + NOT EXISTS.
    Suppliers whose lineitem shipped >60 days after the order date
    in a multi-supplier order where NO other supplier shipped late
    (late ≙ the spec's receipt>commit on the reduced schema).

    Both subqueries only ask about the other suppliers of the same
    order, so one window per order answers them: EXISTS another
    supplier ⇔ min(suppkey) != max(suppkey) over all the order's
    lines; NOT EXISTS another late supplier ⇔ min == max over its
    late lines (the row's own supplier is among them). Lines without
    an order are never late (the LEFT JOIN), yet still count as
    other suppliers, as in the oracle's l2. This replaces an inner +
    semi + anti join that built the late lineitem⋈orders frame
    twice and carried ``sk != sk2`` residuals: at sf0.1 on 4 cores
    (16 interleaved rounds) jobs 8 → 5, shuffle written 12.6 → 9.3
    MB, executor run 1.85 → 1.60 s (median)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    lines = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_suppkey").alias("sk"),
        F.coalesce(late, F.lit(False)).alias("is_late"),
    )
    order = Window.partitionBy("ok")
    late_sk = F.when(F.col("is_late"), F.col("sk"))
    waiting = lines.select(
        "sk",
        "is_late",
        (F.min("sk").over(order) != F.max("sk").over(order)).alias("others"),
        (F.min(late_sk).over(order) == F.max(late_sk).over(order)).alias("only_late"),
    ).where("is_late AND others AND only_late")
    return (
        waiting.join(F.broadcast(supp), F.col("sk") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


Q21_SQL = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders   ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q22_wealthy_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (avg positive balance) +
    anti join (no 1995 orders) + aggregate per market segment."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    o95 = orders.where(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o95, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
    )


Q22_SQL = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                          AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00')
GROUP BY c_mktsegment
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated min-subquery — for each SMALL-type
    part, the supplier(s) offering the minimum observed unit cost.
    The driver schema has no partsupp, so the supply relation is
    derived from lineitem (min unit price per part×supplier), ref
    spec Q2's `ps_supplycost = (SELECT min(ps_supplycost) ...)`.

    Plan: one shuffle builds the supply aggregate; the per-part min
    re-aggregates the (much smaller) supply table and broadcasts
    back onto it — the classic decorrelation of the scalar min.
    Unit-cost doubles compare exactly because both engines aggregate
    the identical per-row IEEE quotients with order-free min — and
    the output ships the RAW double: a round(x, 4) here flipped the
    4th decimal cross-engine at sf0.1 when a quotient landed within
    an ulp of a .00005 boundary (engines disagree on decimal
    rounding of binary doubles; the unrounded bits never disagree).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    supply = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost"))
    )
    min_supply = supply.groupBy("l_partkey").agg(F.min("supplycost").alias("min_cost"))
    return (
        supply.join(F.broadcast(min_supply), "l_partkey")
        .where(F.col("supplycost") == F.col("min_cost"))
        .join(F.broadcast(part.where(F.col("p_type") == "SMALL")),
              F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "supplycost")
    )


Q2_SQL = """
WITH supply AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS supplycost
  FROM lineitem GROUP BY 1, 2
),
min_supply AS (
  SELECT l_partkey, min(supplycost) AS min_cost FROM supply GROUP BY 1
)
SELECT s_acctbal, s_name, n_name, p_partkey, supplycost
FROM supply
JOIN min_supply USING (l_partkey)
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE supplycost = min_cost AND p_type = 'SMALL'
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: scalar subquery threshold in HAVING — parts
    whose shipped volume from NATION_{1,2,3} suppliers exceeds 1.5×
    the average per-part volume. Volume uses l_quantity (integer-
    valued doubles → order-independent exact sums, so the threshold
    comparison is deterministic across engines; spec Q11's
    0.0001/SF fraction is scale-dependent, 1.5×avg is not).

    Plan: one fact shuffle on l_partkey; the threshold is a scalar
    aggregate of that result, broadcast back (no second fact scan).
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    nk = nation.where(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
    part_volume = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nk), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("volume"))
    )
    thr = part_volume.agg((F.lit(1.5) * F.avg("volume")).alias("thr"))
    return (
        part_volume.crossJoin(F.broadcast(thr))
        .where(F.col("volume") > F.col("thr"))
        .select(F.col("l_partkey").alias("p_key"), F.round("volume", 2).alias("volume"))
    )


Q11_SQL = """
WITH part_volume AS (
  SELECT l_partkey, sum(l_quantity) AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY 1
)
SELECT l_partkey AS p_key, round(volume, 2) AS volume
FROM part_volume
WHERE volume > (SELECT 1.5 * avg(volume) FROM part_volume)
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT-IN anti join (excluded suppliers ≙ the
    spec's complaint suppliers, here s_acctbal < 1000) + COUNT
    DISTINCT per part attribute triple over the part⋈lineitem join.

    Plan: the excluded-supplier set broadcasts as an anti join; the
    distinct count is a two-phase hash aggregate (partial distinct
    map-side) — no row ever leaves the JVM.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    bad_supp = supp.where(F.col("s_acctbal") < 1000).select("s_suppkey")
    sized_parts = part.where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    return (
        li.join(F.broadcast(sized_parts), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY 1, 2, 3
"""


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested correlated IN — suppliers that shipped
    more than 80% of some SMALL/MEDIUM part's total 1997 volume (the
    spec's `ps_availqty > 0.5 * sum(l_quantity)` correlated
    threshold, re-derived from lineitem).

    Plan: ONE filtered fact scan serves both sides — per (supplier,
    part) sums roll up to per-part totals (small), broadcast back;
    the qualifying supplier set semi-joins the supplier dim.
    Quantity sums are integer-valued doubles → exact, so the 0.8×
    threshold compares deterministically.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    shipped = (
        li.where((F.col("l_shipdate") >= F.lit("1997-01-01"))
                 & (F.col("l_shipdate") < F.lit("1998-01-01")))
        .join(F.broadcast(part.where(F.col("p_type").isin("SMALL", "MEDIUM"))),
              F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    part_total = shipped.groupBy("l_partkey").agg(F.sum("supp_qty").alias("total_qty"))
    dominant = (
        shipped.join(F.broadcast(part_total), "l_partkey")
        .where(F.col("supp_qty") > F.lit(0.8) * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(F.broadcast(dominant), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "s_acctbal", "n_name")
    )


Q20_SQL = """
SELECT s_name, s_acctbal, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_type IN ('SMALL', 'MEDIUM'))
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > 0.8 * (
    SELECT sum(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey
      AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l2.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
)
"""
