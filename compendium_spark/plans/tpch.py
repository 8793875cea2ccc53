"""Headline relational plans (TPC-H-shaped) over the testdata star schema.

These are the engine's flagship aggregate/join queries — the Spark
analogs of the reference's report aggregations (SURVEY §2.4 A1-A3,
`management.py:127-159`) scaled up to a proper star schema.

Parity: money math in DECIMAL (exact, order-independent), final cast to
DOUBLE; averages as exact-decimal-sum / count in double.

Scale notes (100 TB): every plan here is a scan → partial agg →
shuffle-on-group-keys → final agg, or a broadcast-dim join; lineitem
never shuffles on anything but its agg/join key, dims broadcast. AQE
coalesces post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from compendium_spark.plans.registry import plan
from compendium_spark.tables import load, maybe_broadcast

DEC = "decimal(18,4)"


def _dec(c: str):
    return F.col(c).cast(DEC)


# DuckDB 1.0's CAST(DECIMAL AS DOUBLE) can miss the correctly rounded
# double by one ulp once the unscaled sum passes 2^53; Spark rounds
# correctly. The two high-scale sums (scale 8 and 12) therefore go
# through VARCHAR, whose parse rounds correctly.
Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
    AS sum_disc_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l_discount AS DECIMAL(18,4)))
           * (1 + CAST(l_tax AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
    AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@plan("q1_pricing_summary", oracle=Q1_SQL)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: full-scan group-agg. The flagship query.

    Plan shape: parquet scan (only 7 columns read, shipdate filter
    pushed) → partial hash agg (map-side, 6 groups) → tiny shuffle →
    final agg. At 100 TB this is the ideal shape: shuffle volume is
    O(groups × partitions), not O(rows).
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / n).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / n).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q3_SQL = """
SELECT
  l_orderkey,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@plan("q3_shipping_priority", oracle=Q3_SQL)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective dim filter → join fact → top-K by revenue.

    customer (filtered on segment) broadcasts into orders; the
    orders→lineitem join shuffles both sides on orderkey (co-partition).
    Exact-decimal revenue makes the top-10 cut deterministic; ties
    broken by (o_orderdate, l_orderkey).
    """
    cust = maybe_broadcast(
        spark,
        sf_dir,
        "customer",
        load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING"),
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q5_SQL = """
SELECT
  n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@plan("q5_local_supplier_volume", oracle=Q5_SQL)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way snowflake join (SURVEY §2.3 J7 generalized).

    region→nation→supplier are broadcast dims; customer⋈orders and
    orders⋈lineitem are the only shuffles. Catalyst reorders; AQE
    handles skew.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = maybe_broadcast(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q6_SQL = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
           * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 25
"""


@plan("q6_forecast_revenue", oracle=Q6_SQL)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-agg; every predicate pushes to parquet.

    At 100 TB with date-partitioned lineitem, the shipdate range prunes
    partitions before any I/O.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg((F.sum(_dec("l_extendedprice") * _dec("l_discount"))).cast("double").alias("revenue"))
    )


Q12_SQL = """
SELECT l_linestatus AS shipmode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY shipmode
"""


@plan("q12_priority_shipping", oracle=Q12_SQL)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: big-big join + conditional counts. The date
    range pushes into the lineitem scan; the join shuffles both sides
    on orderkey (sort-merge at scale — the one join in this suite that
    SHOULD shuffle, both sides being fact-sized); the CASE sums
    combine map-side."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_linestatus").alias("shipmode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("shipmode")
    )


Q14_SQL = """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                             THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                  * (1 - CAST(l_discount AS DECIMAL(18,4)))
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
"""


@plan("q14_promo_effect", oracle=Q14_SQL)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact × broadcast dim join feeding a ratio of
    conditional decimal sums — exact decimal accumulation makes the
    single output double identical across engines."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    part = maybe_broadcast(spark, sf_dir, "part")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    promo = F.when(
        F.col("p_type").startswith("PROMO"), disc_price
    ).otherwise(F.lit(0).cast(DEC))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(disc_price).cast("double")
            ).alias("promo_revenue_pct")
        )
    )
