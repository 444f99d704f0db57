"""Composite analytics queries — classic decision-support shapes
(TPC-H-style Q3/Q6/Q10/Q18 over the fixture star schema) exercising the
relational operators (§2.3-2.7) *in combination*: multi-join + agg +
top-k pipelines, selective scan-only aggregation, semi-join on a HAVING
subquery. These are the bench workhorses — each is one canonical plan
shape whose scaling behavior is worth tracking release-over-release.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.compat import (
    SQL_DISC_PRICE,
    ab_treat,
    dec2,
    dec4,
    dec_out,
    disc_price,
    dsum,
    sql_ab_treat,
    sql_dsum,
)
from ..io import load_table
from ..functions.ckpt import checkpoint_df
from ..registry import register


@register(
    "q92_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
  {sql_dsum(SQL_DISC_PRICE, "revenue", 6)},
  CAST(o.o_orderdate AS DATE) AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("analytics", "bench"),
)
def q92_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3 shape: selective filters on both fact sides, 3-way join,
    revenue agg, global top-10 (TakeOrdered — no full sort)."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(disc_price(), "revenue", 6))
        .select(
            "l_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("orderdate")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q93_forecast_revenue_change",
    oracle="""
SELECT
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(l_discount AS DECIMAL(6,4)))
       AS DECIMAL(38,6)) AS VARCHAR) AS potential_revenue,
  COUNT(*) AS n_qualifying
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.06
  AND l_quantity < 24.0
""",
    tags=("analytics", "bench"),
)
def q93_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6 shape: pure scan-side aggregation — every predicate
    pushes to the parquet reader, no join, no group key; the canonical
    'is pushdown working' benchmark."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.03, 0.06)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            F.sum(dec2("l_extendedprice") * dec4("l_discount"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("potential_revenue"),
            F.count(F.lit(1)).alias("n_qualifying"),
        )
    )


@register(
    "q94_returned_item_ranking",
    oracle=f"""
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
  {sql_dsum(SQL_DISC_PRICE, "revenue", 6)},
  COUNT(*) AS n_items
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("analytics", "bench"),
)
def q94_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10 shape: who returns the most revenue — 4-way join with a
    broadcast nation dim, customer-grain agg, top-20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(dsum(disc_price(), "revenue", 6), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q99_priority_late_orders",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
    tags=("analytics",),
)
def q99_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4 shape: correlated EXISTS with an inequality on columns
    from both sides — Catalyst decorrelates to a semi-join whose
    residual condition evaluates post-match. Counts orders per priority
    having any lineitem shipped >60 days after ordering."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q100_promo_revenue_share",
    oracle=f"""
SELECT
  round(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {SQL_DISC_PRICE} END) AS DOUBLE)
        / CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE), 6) AS promo_share_pct,
  COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1997-07-01'
""",
    tags=("analytics",),
)
def q100_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14 shape: conditional-aggregate ratio over a fact⋈dim
    join (part broadcast). Both sums are exact decimals; the ratio is
    the one double op, rounded."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    joined = li.join(p, li.l_partkey == p.p_partkey)
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", disc_price())
    ).cast("double")
    total = F.sum(disc_price()).cast("double")
    return joined.agg(
        F.round(F.lit(100.0) * promo / total, 6).alias("promo_share_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q95_large_volume_customers",
    oracle="""
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(10,2))) > 150
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
  CAST(o.o_orderdate AS DATE) AS orderdate,
  CAST(CAST(sum_qty AS DECIMAL(38,2)) AS VARCHAR) AS total_qty
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(10,2))) AS sum_qty
      FROM lineitem GROUP BY l_orderkey) s
  ON s.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
""",
    tags=("analytics",),
)
def q95_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18 shape: HAVING-filtered aggregate as a semi-join driver —
    the aggregate-then-join pattern that keeps the fact table from
    joining before it shrinks."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    qty = li.groupBy("l_orderkey").agg(
        F.sum(dec2("l_quantity")).alias("sum_qty")
    )
    big = qty.filter(F.col("sum_qty") > 150)
    return (
        o.join(big.select("l_orderkey"), o.o_orderkey == big.l_orderkey, "left_semi")
        .join(qty, o.o_orderkey == qty.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.col("sum_qty").cast("decimal(38,2)").cast("string").alias("total_qty"),
        )
    )


@register(
    "q109_local_supplier_volume",
    oracle=f"""
SELECT n.n_name AS nation, {sql_dsum(SQL_DISC_PRICE, "revenue", 6)}
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
    tags=("analytics",),
)
def q109_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5 shape: 6-way snowflake join where the supplier must sit
    in the customer's nation — the second join condition rides on the
    already-joined customer row, so it is a post-join residual, not a
    key. Dims (supplier/nation/region) broadcast; the two facts shuffle
    once each on orderkey."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(disc_price(), "revenue", 6))
    )


@register(
    "q110_volume_shipping",
    oracle=f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
  CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS ship_year,
  {sql_dsum(SQL_DISC_PRICE, "revenue", 6)}
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY sn.n_name, cn.n_name, ship_year
""",
    tags=("analytics",),
)
def q110_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7 shape: bilateral trade volume between two nations by
    ship year. The nation dim joins twice under different aliases (the
    classic self-alias dim pattern); the disjunctive nation-pair
    predicate is a post-join residual over broadcast dims, so the fact
    tables still join on pure equi-keys."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    sn = F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("supp_nation")))
    cn = F.broadcast(nat.select(F.col("n_nationkey").alias("cn_key"),
                                F.col("n_name").alias("cust_nation")))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(dsum(disc_price(), "revenue", 6))
    )


@register(
    "q111_market_share",
    oracle=f"""
SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS order_year,
  round(CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN {SQL_DISC_PRICE} END) AS DOUBLE)
        / CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE), 6) AS mkt_share
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
JOIN region r   ON cn.n_regionkey = r.r_regionkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
GROUP BY order_year
""",
    tags=("analytics",),
)
def q111_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8 shape: one nation's share of a region's market per
    year — an 8-way join whose numerator is a conditional slice of the
    denominator, so one aggregation pass computes both (no second scan,
    no self-join). Exact decimal sums; the share ratio is the single
    double op, rounded on both sides."""
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cn = F.broadcast(
        nat.join(reg, nat.n_regionkey == reg.r_regionkey)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    sn = F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("supp_nation")))
    num = F.sum(F.when(F.col("supp_nation") == "NATION_3", disc_price())).cast("double")
    den = F.sum(disc_price()).cast("double")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, F.col("c_nationkey") == F.col("cn_key"), "inner")
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(F.round(num / den, 6).alias("mkt_share"))
    )


@register(
    "q112_part_type_profit",
    oracle="""
SELECT sn.n_name AS nation,
  CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS order_year,
  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l.l_discount AS DECIMAL(6,4)))
                - CAST(p.p_retailprice AS DECIMAL(10,2)) * CAST(l.l_quantity AS DECIMAL(10,2)) * CAST(0.1 AS DECIMAL(3,1)))
       AS DECIMAL(38,6)) AS VARCHAR) AS profit
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY nation, order_year
""",
    tags=("analytics",),
)
def q112_part_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9 shape (adapted: the fixture has no partsupp, so supply
    cost is proxied at 10% of p_retailprice): per-nation per-year profit
    on parts matching a name pattern. The profit expression mixes
    columns from three tables — it must evaluate post-join, and stays
    an exact decimal throughout."""
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    o = load_table(spark, sf_dir, "orders")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    profit = disc_price() - dec2("p_retailprice") * dec2("l_quantity") * F.lit(
        "0.1"
    ).cast("decimal(3,1)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(dsum(profit, "profit", 6))
    )


@register(
    "q113_top_supplier",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey, {sql_dsum(SQL_DISC_PRICE, "total_revenue", 6)},
         SUM({SQL_DISC_PRICE}) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, rev.total_revenue
FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
WHERE rev.rev_dec = (SELECT MAX(rev_dec) FROM rev)
""",
    tags=("analytics",),
)
def q113_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15 shape: suppliers achieving the maximum quarterly
    revenue — an aggregate of an aggregate. The per-supplier revenue is
    computed once and reused for both the max and the final rows (plan
    shows one agg feeding both sides); ties all surface, exactly as the
    correlated-max SQL does. Max compares exact decimals, so engines
    cannot disagree on the winner."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    rev = li.groupBy("l_suppkey").agg(
        F.sum(disc_price()).alias("rev_dec")
    )
    top = rev.agg(F.max("rev_dec").alias("max_rev"))
    return (
        rev.join(F.broadcast(top), rev.rev_dec == top.max_rev, "left_semi")
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("decimal(38,6)").cast("string").alias("total_revenue"),
        )
    )


@register(
    "q114_small_qty_revenue",
    oracle="""
WITH pavg AS (
  SELECT l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(10,2))) AS qty_sum,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(10,2))) AS DECIMAL(38,2)) AS VARCHAR)
         AS small_qty_revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN part p  ON p.p_partkey = l.l_partkey
JOIN pavg    ON pavg.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND CAST(l.l_quantity AS DECIMAL(10,2)) * pavg.n * 2 < pavg.qty_sum
""",
    tags=("analytics",),
)
def q114_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17 shape: revenue lost to small-quantity orders — each
    lineitem compares against its part's *average* quantity. The
    correlated average decorrelates into a per-part aggregate joined
    back to the fact; the threshold ``qty < 0.5 * avg`` is evaluated as
    the cross-multiplied integer/decimal inequality ``qty * n * 2 <
    sum`` so both engines compare exact values (no double division
    anywhere near the decision boundary)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    )
    pavg = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        F.sum(dec2("l_quantity")).alias("qty_sum"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(pavg, li.l_partkey == F.col("pa_key"))
        .filter(dec2("l_quantity") * F.col("n") * F.lit(2) < F.col("qty_sum"))
        .agg(
            F.sum(dec2("l_extendedprice"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q115_brand_discount_revenue",
    oracle="""
SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l.l_discount AS DECIMAL(6,4))))
       AS DECIMAL(38,6)) AS VARCHAR) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)
""",
    tags=("analytics",),
)
def q115_brand_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19 shape: disjunctive multi-clause predicate spanning both
    join sides. Catalyst splits the OR: the part-only conjuncts
    (brand/size) push below the join into the broadcast build side, the
    quantity bounds push into the lineitem scan
    (l_quantity BETWEEN 1 AND 30 is implied), and only the cross-table
    residual evaluates post-join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    qual = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(qual)
        .agg(
            dsum(disc_price(), "revenue", 6),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q132_waiting_supplier",
    oracle="""
WITH per_order AS (
  SELECT l_orderkey,
    COUNT(DISTINCT l_suppkey) AS n_supp,
    max(l_shipdate) AS max_ship
  FROM lineitem GROUP BY l_orderkey
)
SELECT s.s_name, CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS numwait
FROM lineitem l
JOIN per_order po ON l.l_orderkey = po.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE po.n_supp > 1 AND l.l_shipdate = po.max_ship
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    tags=("analytics",),
)
def q132_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21 shape (adapted: the fixture has no commit/receipt
    dates, so 'kept the order waiting' = shipped LAST on a
    multi-supplier order): the classic double-correlated
    EXISTS/NOT-EXISTS over a self-joined fact, decorrelated into one
    per-order aggregate (supplier count + max ship date) joined back —
    one pass over the fact instead of two correlated re-scans, the
    rewrite Catalyst cannot always find on its own. Ties at the max
    ship date count both suppliers (equality-based, deterministic in
    both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.max("l_shipdate").alias("max_ship"),
    )
    last_shippers = (
        li.join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("l_shipdate") == F.col("max_ship")))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    )
    return (
        last_shippers.groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "q133_order_count_distribution",
    oracle="""
WITH c_orders AS (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("analytics",),
)
def q133_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13 shape: customer distribution by order count INCLUDING
    zero-order customers — the left outer join with the filter inside
    the join condition (not a WHERE, which would silently turn the
    outer join inner), then a two-level aggregate. The first agg
    shuffles on c_custkey (|customers| groups — scale-safe); the
    second shuffles |distinct counts| rows (tiny)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c_orders = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q134_min_cost_supplier",
    oracle="""
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), cost AS (
  SELECT ps.l_partkey, ps.l_suppkey, s.s_name, s.s_acctbal, s.s_nationkey
  FROM ps JOIN supplier s ON ps.l_suppkey = s.s_suppkey
), best AS (
  SELECT l_partkey, min(s_acctbal) AS min_bal FROM cost GROUP BY l_partkey
)
SELECT p.p_partkey, p.p_name, c.s_name,
  round(c.s_acctbal, 2) AS acctbal, n.n_name
FROM cost c
JOIN best b ON c.l_partkey = b.l_partkey AND c.s_acctbal = b.min_bal
JOIN part p ON c.l_partkey = p.p_partkey
JOIN nation n ON c.s_nationkey = n.n_nationkey
WHERE p.p_size >= 40
ORDER BY acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    tags=("analytics",),
)
def q134_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2 shape (adapted: no partsupp table, so the part-supplier
    catalog is derived as DISTINCT (l_partkey, l_suppkey) and 'cost' is
    the supplier's account balance): the correlated scalar-subquery
    minimum, decorrelated into a per-part min + equality join back —
    the textbook rewrite that turns a per-row re-scan into two hash
    aggregations. Dimension joins (part, nation, supplier) broadcast;
    the only wide shuffles are on l_partkey."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    cost = ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey).select(
        "l_partkey", "s_name", "s_acctbal", "s_nationkey"
    )
    best = cost.groupBy("l_partkey").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        cost.join(best, "l_partkey")
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .join(F.broadcast(p.filter(F.col("p_size") >= 40)), cost.l_partkey == p.p_partkey)
        .join(F.broadcast(n), cost.s_nationkey == n.n_nationkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round("s_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.col("acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q137_late_shipment_priority",
    oracle="""
SELECT l.l_linestatus,
  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l.l_linestatus
ORDER BY l_linestatus
""",
    tags=("analytics",),
)
def q137_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12 shape (adapted: no l_shipmode/l_receiptdate in the
    fixture, so 'late' = shipped ≥60 days after the order date and the
    grouping key is l_linestatus): fact⋈fact join with a *non-equi
    residual* predicate on top of the equi-key, then conditional
    CASE-sum aggregation — the pattern for priority-bucketed ops
    dashboards. The year filter pushes to the lineitem scan; the
    order-date comparison must evaluate post-join (row-dependent), so
    it rides the join as a residual, never a cartesian."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q138_important_part_value",
    oracle="""
WITH pv AS (
  SELECT l.l_partkey,
    SUM(CAST(l.l_extendedprice AS DECIMAL(10,2))) AS v
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY l.l_partkey
), st AS (
  SELECT SUM(v) AS total, COUNT(*) AS np FROM pv
)
SELECT l_partkey,
  CAST(CAST(v AS DECIMAL(38,2)) AS VARCHAR) AS part_value
FROM pv, st
WHERE v * np > 2 * total
ORDER BY l_partkey
""",
    tags=("analytics",),
)
def q138_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11 shape (adapted: no partsupp, so 'inventory value' is
    the revenue shipped per part by one nation's suppliers): per-part
    aggregate filtered against a *global scalar* threshold — the
    decorrelated form cross-joins the 1-row total back (broadcast
    nested-loop of a single row, free at any scale) instead of
    re-scanning per row. The keep-threshold is *mean-relative* —
    ``v * nparts > 2 * total`` (part value above 2× the average) — so
    selectivity is stable across scale factors, and the comparison is
    integer×decimal, exact in both engines; never a float fraction that
    could flip a boundary row by one ulp. The per-part agg is computed
    once and reused for both the rows and the scalar (self-referencing
    CTE on the oracle side)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    nat_sup = F.broadcast(
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    )
    pv = (
        li.join(nat_sup, li.l_suppkey == nat_sup.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(dec2("l_extendedprice")).alias("v"))
    )
    st = pv.agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("np"))
    return (
        pv.join(F.broadcast(st))
        .filter(F.col("v") * F.col("np") > F.lit(2) * F.col("total"))
        .select("l_partkey", dec_out(F.col("v"), "part_value", 2))
        .orderBy("l_partkey")
    )


@register(
    "q139_supplier_part_variety",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
  CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    tags=("analytics",),
)
def q139_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16 shape (adapted: the part-supplier catalog comes from
    lineitem pairs; 'complaint' suppliers are the negative-balance
    ones): NOT-IN exclusion + multi-key distinct-count. The NOT IN is
    executed as a broadcast LEFT ANTI join (supplier keys are non-null
    by schema, so anti-join and NOT IN agree; with nullable keys NOT IN
    needs the null-aware variant). Part is a broadcast dim with its
    three selective predicates applied *before* the broadcast, so the
    fact side streams once, already pruned."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    complaint = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(complaint), li.l_suppkey == complaint.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q140_dominant_supplier",
    oracle="""
WITH sp AS (
  SELECT l.l_suppkey, l.l_partkey,
    SUM(CAST(l.l_quantity AS DECIMAL(8,2))) AS qty
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_type = 'PROMO'
    AND l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l.l_suppkey, l.l_partkey
), tot AS (
  SELECT l_partkey, SUM(qty) AS total_qty FROM sp GROUP BY l_partkey
)
SELECT DISTINCT s.s_suppkey, s.s_name
FROM sp
JOIN tot ON sp.l_partkey = tot.l_partkey
JOIN supplier s ON sp.l_suppkey = s.s_suppkey
WHERE sp.qty * 2 > tot.total_qty
ORDER BY s_suppkey
""",
    tags=("analytics",),
)
def q140_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20 shape (adapted: no partsupp availability, so the
    question becomes 'which suppliers shipped a majority of any PROMO
    part's 1997 volume'): aggregate-of-aggregate with the correlated
    'half of total' subquery decorrelated into a per-part re-aggregation
    of the first-level result — the first agg's output is re-grouped,
    not the base table re-scanned. The sp⋈tot join keys on l_partkey
    right after tot's groupBy, and the majority test uses ``qty * 2 >
    total`` (exact integer×decimal, no 0.5 float). Supplier names
    broadcast in at the end, on the already-tiny winner set."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    sp = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec2("l_quantity")).alias("qty"))
    )
    tot = sp.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    return (
        sp.join(tot, "l_partkey")
        .filter(F.col("qty") * F.lit(2) > F.col("total_qty"))
        .join(F.broadcast(s), sp.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


def _capped_baskets(spark: SparkSession, sf_dir: str, cap: int = 128) -> DataFrame:
    """Distinct (cust, part) purchase pairs with oversized baskets
    dropped (basket ≤ cap) — the bounded-basket frame shared by q168
    co-purchase counts and q217 association rules. The cap bounds any
    within-customer pairwise stage at Σ C(cap, 2) per customer (the
    same skew discipline as the LSH bucket cap) and lives HERE once so
    the two operators and their oracles can never desynchronize.

    The returned frame is lazily localCheckpointed: it sits behind a
    JOIN (bought ⋈ sizes), so unlike agg-backed frames its lineage is
    NOT stage-skipped across consumers — and both call sites fan it
    out 3-4 ways including a self-join. Same rule as q213/q214's
    pinned join frames (and the opposite call from q208/q209's
    agg-backed ones); measured at the 20× replica on q217: 116→49 s
    warm. Lazy, so plan-building (plan_report, explain) never
    executes it. Fault-tolerance tradeoff: localCheckpoint truncates
    lineage onto UNREPLICATED executor-local blocks — on a real
    cluster an executor loss after materialization FAILS the job
    instead of recomputing. Acceptable for an interactive analytics
    query (re-run); for an unattended 100 TB pipeline stage swap in
    reliable checkpointing (sc.setCheckpointDir + .checkpoint()) or
    .persist(StorageLevel.DISK_ONLY_2)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bought = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    sizes = bought.groupBy("cust").agg(F.count(F.lit(1)).alias("basket"))
    return (
        bought.join(sizes.filter(F.col("basket") <= cap), "cust")
        .select("cust", "part")
        .transform(lambda d: checkpoint_df(d, eager=False))
    )


def _basket_pairs(capped: DataFrame) -> DataFrame:
    """Within-customer (part_a < part_b) co-occurrence counts over a
    bounded-basket frame."""
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_joint"))
    )

@register(
    "q168_copurchase_pairs",
    oracle="""
WITH bought AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), capped AS (
  SELECT cust, part FROM bought
  WHERE cust IN (SELECT cust FROM bought GROUP BY cust HAVING COUNT(*) <= 128)
), pairs AS (
  SELECT a.part AS part_a, b.part AS part_b,
    CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM capped a JOIN capped b ON a.cust = b.cust AND a.part < b.part
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_customers, rk FROM (
  SELECT *, row_number() OVER
    (ORDER BY n_customers DESC, part_a, part_b) AS rk
  FROM pairs)
WHERE rk <= 20
""",
    tags=("analytics", "recommendation"),
)
def q168_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 part pairs most often bought
    by the same customer — the count matrix behind "customers who
    bought X also bought Y" item-item recommenders.

    Plan shape: distinct (customer, part) first (shuffle carries two
    ids), then the pairing self-join runs WITHIN customer baskets only
    — work is Σ C(basket,2), never corpus², and the ``basket ≤ 128``
    cap (applied identically in the oracle) bounds the one customer
    with a million-line basket that would otherwise go quadratic —
    the same skew discipline as the LSH bucket cap in dedup.py. The
    pair counts then two-phase-aggregate on (part_a, part_b) and
    TakeOrdered yields the top-20; no global window over the pair set.
    """
    pairs = _basket_pairs(_capped_baskets(spark, sf_dir)).withColumnRenamed(
        "n_joint", "n_customers"
    )
    from ..functions.ranking import topn_ranked

    top = topn_ranked(
        pairs,
        [F.col("n_customers").desc(), F.col("part_a"), F.col("part_b")],
        20,
    )
    return top.withColumn("rk", F.col("rk").cast("bigint"))


@register(
    "q192_sales_opportunity",
    oracle="""
WITH pos AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(8,2))) AS DECIMAL(38,2)) AS tot,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer
  WHERE c_acctbal > 0 AND (c_nationkey % 10) IN (1, 3, 5, 7, 9)
)
SELECT cntrycode,
  CAST(COUNT(*) AS BIGINT) AS numcust,
  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(8,2))) AS DECIMAL(38,2)) AS VARCHAR)
    AS totacctbal
FROM (
  SELECT CAST(c.c_nationkey % 10 AS INT) AS cntrycode, c.c_acctbal
  FROM customer c CROSS JOIN pos
  WHERE (c.c_nationkey % 10) IN (1, 3, 5, 7, 9)
    AND CAST(c.c_acctbal AS DECIMAL(8,2)) * pos.n > pos.tot
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
)
GROUP BY cntrycode
ORDER BY cntrycode
""",
    tags=("analytics",),
)
def q192_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22 shape (the last uncovered TPC-H silhouette; adapted:
    the fixture ships no phone column, so 'country code' =
    c_nationkey % 10 restricted to five codes): above-average-balance
    customers with no URGENT order (the fixture generator gives every
    customer at least one order, so Q22's never-ordered set is empty
    here; 'no 1-URGENT order' keeps the NOT-EXISTS shape with a
    non-degenerate result), counted per code — scalar subquery + NOT
    EXISTS.

    Plan shape: the positive-balance average is a 1-row agg broadcast
    back (no correlated re-scan); the above-average filter compares in
    EXACT decimal cross-multiplied form (bal·n > Σbal) so neither
    engine's double-average ulps can flip a boundary row; NOT EXISTS
    is a LEFT ANTI hash join shuffled on custkey (orders projected to
    the join key only — at 100 TB the anti side is one slim column);
    the final rollup is a 5-group hash agg, decimal inside, string
    out."""
    c = (
        load_table(spark, sf_dir, "customer")
        .withColumn("cntrycode", (F.col("c_nationkey") % 10).cast("int"))
        .filter(F.col("cntrycode").isin(1, 3, 5, 7, 9))
    )
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(dec2("c_acctbal")).cast("decimal(38,2)").alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = c.crossJoin(F.broadcast(pos)).filter(
        dec2("c_acctbal") * F.col("n") > F.col("tot")
    )
    never_ordered = rich.join(
        o, rich.c_custkey == o.o_custkey, "left_anti"
    )
    return (
        never_ordered.groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            dsum(dec2("c_acctbal"), "totacctbal", 2),
        )
        .orderBy("cntrycode")
    )


@register(
    "q198_revenue_trend_ols",
    oracle=f"""
WITH daily AS (
  SELECT n.n_name,
    date_diff('day', DATE '1992-01-01', CAST(l.l_shipdate AS DATE)) AS x,
    SUM({SQL_DISC_PRICE}) AS y
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY 1, 2
), sums AS (
  -- every moment at an explicit precision that BOTH engines keep
  -- exact through the multiplies below (x < 10^4, Σx < 10^10,
  -- Σy < 10^18, Σxy < 10^22 — no 38-precision overflow anywhere)
  SELECT n_name,
    CAST(COUNT(*) AS BIGINT) AS n_days,
    CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
    CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DECIMAL(24,6)) AS sy,
    CAST(SUM(CAST(x AS DECIMAL(4,0)) * CAST(y AS DECIMAL(18,6)))
         AS DECIMAL(28,6)) AS sxy
  FROM daily GROUP BY 1
), terms AS (
  SELECT n_name, n_days, sx, sy,
    CAST(CAST(n_days AS DECIMAL(6,0)) * sxy
         - CAST(sx AS DECIMAL(10,0)) * sy AS DOUBLE) AS num,
    CAST(n_days * sxx - sx * sx AS DOUBLE) AS den
  FROM sums
)
SELECT n_name, n_days,
  round(num / den, 6) AS slope_per_day,
  round(CAST(sy AS DOUBLE) / n_days
        - (num / den) * (CAST(sx AS DOUBLE) / n_days), 4) AS intercept,
  CAST(sy AS VARCHAR) AS total_revenue
FROM terms
""",
    tags=("analytics", "regression"),
)
def q198_revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: closed-form OLS (slope + intercept) of
    daily revenue against the day index, from ONE pass of exact sums —
    the grouped-regression shape behind every "is this segment growing"
    dashboard (built-in ``regr_slope`` computes the same moments; this
    derives them from exact DECIMAL/BIGINT sums so the result is
    bit-deterministic across engines and partitionings: slope =
    (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), every term exact, ONE
    decimal→double cast at the very end, then round).

    Scale shape: two broadcast dim joins (supplier, nation — fact table
    never shuffles for them), two-phase hash agg to (nation × day)
    grain, then a second tiny agg to |nations| rows carrying five
    moments. No window, no sort, no second scan — the whole regression
    is an aggregation tree, which is why it survives 100 TB unchanged."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(
            "n_name",
            F.datediff(
                F.to_date("l_shipdate"), F.lit("1992-01-01").cast("date")
            ).alias("x"),
        )
        .agg(F.sum(disc_price()).alias("y"))
    )
    # Precisions chosen so every multiply stays inside 38 digits in
    # BOTH engines (Spark would otherwise hit its precision-loss
    # rounding rule; DuckDB would widen differently): x < 10^4,
    # Σx < 10^10, Σy < 10^18, Σxy < 10^22.
    xl = F.col("x").cast("bigint")
    sums = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(xl).alias("sx"),
        F.sum(xl * xl).alias("sxx"),
        F.sum(F.col("y").cast("decimal(18,6)"))
        .cast("decimal(24,6)")
        .alias("sy"),
        F.sum(
            F.col("x").cast("decimal(4,0)") * F.col("y").cast("decimal(18,6)")
        )
        .cast("decimal(28,6)")
        .alias("sxy"),
    )
    num = (
        F.col("n_days").cast("decimal(6,0)") * F.col("sxy")
        - F.col("sx").cast("decimal(10,0)") * F.col("sy")
    ).cast("double")
    den = (
        F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    # try_divide: a single-ship-day group has den = 0 — NULL slope in
    # both engines, never an ANSI DIVIDE_BY_ZERO crash.
    slope = F.try_divide(num, den)
    return sums.select(
        "n_name",
        "n_days",
        F.round(slope, 6).alias("slope_per_day"),
        F.round(
            F.col("sy").cast("double") / F.col("n_days")
            - slope * (F.col("sx").cast("double") / F.col("n_days")),
            4,
        ).alias("intercept"),
        F.col("sy").cast("string").alias("total_revenue"),
    )


@register(
    "q209_pareto_abc",
    oracle=f"""
WITH pr AS (
  SELECT l_partkey,
    CAST(SUM({SQL_DISC_PRICE}) * 1000000 AS BIGINT) AS rev_micros
  FROM lineitem GROUP BY 1
), c AS (
  SELECT rev_micros,
    SUM(rev_micros) OVER (ORDER BY rev_micros DESC, l_partkey) AS cum,
    SUM(rev_micros) OVER () AS tot
  FROM pr
)
SELECT abc_class,
  CAST(COUNT(*) AS BIGINT) AS n_parts,
  CAST(CAST(SUM(rev_micros) AS DECIMAL(38,0)) AS VARCHAR) AS revenue_micros,
  round(CAST(SUM(rev_micros) AS DOUBLE) / MAX(CAST(tot AS DOUBLE)), 6)
    AS revenue_share
FROM (
  SELECT rev_micros, tot,
    CASE WHEN 5 * CAST(cum AS DECIMAL(38,0)) <= 4 * CAST(tot AS DECIMAL(38,0))
           THEN 'A'
         WHEN 20 * CAST(cum AS DECIMAL(38,0)) <= 19 * CAST(tot AS DECIMAL(38,0))
           THEN 'B'
         ELSE 'C' END AS abc_class
  FROM c
)
GROUP BY abc_class
""",
    tags=("analytics", "segmentation"),
)
def q209_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: parts ranked by revenue,
    class A = the head covering the first 80% of cumulative revenue,
    B = the next 15% (to 95%), C = the tail — the 80/20 cut behind
    stocking policy, slotting, and "which SKUs deserve a forecast".

    Scale shape: lineitems collapse to one exact-integer-micros row
    per part (two-phase hash agg), then the descending cumulative
    revenue is computed WITHOUT a single-task global window: ONE
    partitioned_prefix_sums decomposition ordered by (negated revenue,
    partkey) — histogram buckets, literal offsets, partitioned
    cumulative windows. (The round-4 form chained global_row_number →
    prefix-sums-over-rk; the rank was only ever the ORDER, and the
    second decomposition's eager boundary collect re-executed the
    whole rank plan — tiebreaks on the prefix sums made the rank stage
    unnecessary: 24→9 exchanges.) Class boundaries are
    DECIMAL(38,0) cross-multiplications (5·cum ≤ 4·tot) — no float
    division anywhere near the cut, so boundary parts can never diverge
    between engines, and no int64 ceiling either (20·cum overflowed
    BIGINT on the 20x probe at ~4.6e17 total micros; decimals don't).
    Micros-in-BIGINT holds per-part and cumulatively to ~9e18; a 100 TB
    deployment flips the prefix-sum measure itself to DECIMAL for
    headroom (same plan shape, ANSI overflow fails loud, not wrapped)."""
    from ..functions.ranking import desc_as_asc, partitioned_prefix_sums

    li = load_table(spark, sf_dir, "lineitem")
    # one row per part, CHECKPOINTED (r11, ADVICE r10): the stage-skip
    # claim the old comment made stopped holding after the r10
    # literal-offsets rewrite — pr executes as SEPARATE query
    # executions (decomposition histogram, main, and the tot broadcast)
    # with no cross-execution shuffle reuse, i.e. three lineitem
    # scans+aggs per query at any scale. Same-session A/B at sf0.1:
    # plain 2.01 s vs checkpointed 1.57 s min-of-4; the pin also makes
    # the decomposition's collected offsets consistent-by-construction
    # (deterministic-re-execution contract). An undersplit-guard
    # rebalance keyed on l_partkey was ALSO measured and rejected
    # (1.27 plain vs 1.40 guarded): unlike q38, the per-split work
    # here is one partial agg over 7 narrow columns — cheaper than the
    # full-row exchange the guard adds.
    pr = checkpoint_df(li.groupBy("l_partkey").agg(
        (F.sum(disc_price()) * 1000000).cast("bigint").alias("rev_micros")
    ))
    cum = partitioned_prefix_sums(
        pr,
        desc_as_asc(F.col("rev_micros")),
        ["rev_micros"],
        tiebreaks=[F.col("l_partkey")],
    )
    tot = pr.agg(F.sum("rev_micros").cast("bigint").alias("tot"))
    # Class boundaries in DECIMAL(38,0): 20·cum overflows int64 once
    # total revenue passes ~4.6e17 micros (the 20x probe hit it) —
    # decimal cross-multiplication is exact at any scale and stays a
    # cheap codegen'd comparison.
    cumd = F.col("cum_rev_micros").cast("decimal(38,0)")
    totd = F.col("tot").cast("decimal(38,0)")
    cls = cum.crossJoin(F.broadcast(tot)).withColumn(
        "abc_class",
        F.when(cumd * 5 <= totd * 4, "A")
        .when(cumd * 20 <= totd * 19, "B")
        .otherwise("C"),
    )
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("rev_micros").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("revenue_micros"),
        F.round(
            F.sum("rev_micros").cast("double") / F.max(F.col("tot").cast("double")), 6
        ).alias("revenue_share"),
    )


@register(
    "q210_segment_gini",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(8,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT c.c_mktsegment AS seg, p.cents,
    row_number() OVER (
      PARTITION BY c.c_mktsegment ORDER BY p.cents, p.o_custkey
    ) AS rk
  FROM per_cust p JOIN customer c ON c.c_custkey = p.o_custkey
)
SELECT seg,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(CAST(SUM(cents) AS DECIMAL(38,0)) AS VARCHAR) AS total_cents,
  round(
    CASE WHEN SUM(cents) > 0 THEN
      2.0 * SUM(CAST(rk AS DOUBLE) * CAST(cents AS DOUBLE))
        / (COUNT(*) * CAST(SUM(cents) AS DOUBLE))
      - (COUNT(*) + 1.0) / COUNT(*)
    END, 6) AS gini
FROM ranked GROUP BY seg
""",
    tags=("analytics", "segmentation"),
)
def q210_segment_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment Gini coefficient of customer spend — the
    revenue-concentration KPI ("is FURNITURE a whale market or a
    long tail?") behind territory planning and churn-risk weighting.
    Gini via the rank formula G = 2·Σ(rk·x)/(n·Σx) − (n+1)/n over
    within-segment spend ranks.

    Scale shape: orders collapse to one exact-cents row per customer
    (two-phase hash agg), segment arrives through one shuffle join on
    custkey, and the within-segment rank uses the NEW grouped
    decomposition (functions/ranking.grouped_row_number): 5 segments ×
    10^8 customers would make `PARTITION BY seg` a 5-hot-task window,
    so ranks come from global value buckets + per-(seg, bucket)
    broadcast offsets + (seg, bucket)-partitioned windows instead.
    The Σ(rk·x) moment is a plain two-phase agg; doubles only enter in
    the final ratio (rank·cents products cancel to ~1e-12 relative
    error, far inside the 6-dp contract)."""
    from ..functions.ranking import grouped_row_number

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = o.groupBy("o_custkey").agg(
        (F.sum(dec2("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    pc = per_cust.join(
        c.select(
            F.col("c_custkey").alias("o_custkey"),
            F.col("c_mktsegment").alias("seg"),
        ),
        "o_custkey",
    ).transform(checkpoint_df)  # pinned: the grouped decomposition replays it 3x
    ranked = grouped_row_number(
        pc, ["seg"], F.col("cents"), [F.col("o_custkey")]
    )
    n = F.count(F.lit(1))
    sum_cents = F.sum("cents")
    gini = (
        F.lit(2.0)
        * F.sum(F.col("rk").cast("double") * F.col("cents").cast("double"))
        / (n * sum_cents.cast("double"))
        - (n + F.lit(1.0)) / n
    )
    return ranked.groupBy("seg").agg(
        n.cast("bigint").alias("n_customers"),
        sum_cents.cast("decimal(38,0)").cast("string").alias("total_cents"),
        F.round(F.when(sum_cents > 0, gini), 6).alias("gini"),
    )


@register(
    "q211_weekday_seasonality",
    oracle="""
WITH dow AS (
  SELECT CAST(date_part('dow', CAST(o_orderdate AS DATE)) AS INT) AS dow,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(8,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY 1
)
SELECT dow, n_orders,
  CAST(CAST(cents AS DECIMAL(38,0)) AS VARCHAR) AS revenue_cents,
  round(CAST(cents AS DOUBLE) / SUM(CAST(cents AS DOUBLE)) OVER (), 6)
    AS revenue_share,
  round(7.0 * CAST(cents AS DOUBLE) / SUM(CAST(cents AS DOUBLE)) OVER (), 6)
    AS seasonality_index
FROM dow
""",
    tags=("analytics", "timeseries"),
)
def q211_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: order count, exact revenue,
    revenue share, and the seasonality index (share × 7 — 1.0 = a flat
    week) per weekday (0 = Sunday, matching ``date_part('dow')``) —
    the demand-shape primer behind staffing and inventory cadence.

    Scale shape: one two-phase hash agg to ≤7 rows; the share
    normalization is a broadcast join against the 1-row total (never a
    global window over the fact table). o_orderdate is timestamp_ntz,
    so the weekday is timezone-independent by construction."""
    o = load_table(spark, sf_dir, "orders")
    dow = (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).cast("int")
    per_dow = o.groupBy(dow.alias("dow")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(dec2("o_totalprice")) * 100).cast("bigint").alias("cents"),
    )
    tot = per_dow.agg(F.sum("cents").cast("double").alias("tot"))
    return per_dow.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_orders",
        F.col("cents").cast("decimal(38,0)").cast("string").alias(
            "revenue_cents"
        ),
        F.round(F.col("cents").cast("double") / F.col("tot"), 6).alias(
            "revenue_share"
        ),
        F.round(
            F.lit(7.0) * F.col("cents").cast("double") / F.col("tot"), 6
        ).alias("seasonality_index"),
    )


@register(
    "q213_ship_delay_survival",
    oracle="""
WITH delays AS (
  SELECT CAST(floor(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)) / 7.0) AS INT)
    AS delay_weeks
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), per_wk AS (
  SELECT delay_weeks, CAST(COUNT(*) AS BIGINT) AS n_items
  FROM delays GROUP BY 1
)
SELECT delay_weeks, n_items,
  round(CAST(SUM(n_items) OVER (ORDER BY delay_weeks) AS DOUBLE)
        / SUM(n_items) OVER (), 6) AS cdf,
  round(1.0 - CAST(SUM(n_items) OVER (ORDER BY delay_weeks) AS DOUBLE)
        / SUM(n_items) OVER (), 6) AS survival
FROM per_wk
""",
    tags=("analytics", "timeseries"),
)
def q213_ship_delay_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay survival curve: for each whole-WEEK delay t,
    the fraction of lineitems still unshipped after t weeks (S(t) =
    1 − CDF) — the fulfillment-SLA curve ("what % breach 4 weeks?")
    that drives promise dates and carrier scorecards. Week grain
    because the synthetic fixture's shipdates are uncorrelated with
    orderdates (delays span ±2400 days) — day grain would emit ~4700
    rows of noise; the real-data grain is a one-line constant.

    Scale shape: the only big work is one equi-join lineitem⋈orders on
    orderkey (shuffle join, both sides pruned to two columns) collapsed
    immediately to ~700 distinct delay weeks; the cumulative share runs
    on that tiny frame via partitioned_prefix_sums (windowless, no
    single-task window even on the reduced frame — free, and keeps the
    repo lint meaningful). Day arithmetic is NTZ-date based, timezone-
    independent; floor(d/7.0) keeps negative delays on the same grid
    in both engines (integer division truncates toward zero and would
    fold weeks −1 and 0 together)."""
    from ..functions.ranking import partitioned_prefix_sums

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    delays = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.floor(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            / 7.0
        )
        .cast("int")
        .alias("delay_weeks")
    )
    per_wk = (
        delays.groupBy("delay_weeks")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .transform(checkpoint_df)  # ~700 rows; pins the 12M-row join upstream
    )
    cum = partitioned_prefix_sums(per_wk, F.col("delay_weeks"), ["n_items"])
    tot = per_wk.agg(F.sum("n_items").cast("double").alias("tot"))
    return cum.crossJoin(F.broadcast(tot)).select(
        "delay_weeks",
        "n_items",
        F.round(F.col("cum_n_items").cast("double") / F.col("tot"), 6).alias(
            "cdf"
        ),
        F.round(
            F.lit(1.0) - F.col("cum_n_items").cast("double") / F.col("tot"), 6
        ).alias("survival"),
    )


@register(
    "q214_order_backlog",
    oracle="""
WITH spans AS (
  SELECT o.o_orderkey,
    date_trunc('month', CAST(o.o_orderdate AS DATE)) AS m_open,
    date_trunc('month', CAST(max(l.l_shipdate) AS DATE)) AS m_close
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, o.o_orderdate
), deltas AS (
  SELECT m_open AS month, CAST(COUNT(*) AS BIGINT) AS n_opened,
         CAST(0 AS BIGINT) AS n_closed
  FROM spans GROUP BY 1
  UNION ALL
  SELECT m_close AS month, CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT)
  FROM spans GROUP BY 1
), per_month AS (
  SELECT month, SUM(n_opened) AS n_opened, SUM(n_closed) AS n_closed
  FROM deltas GROUP BY 1
)
SELECT CAST(month AS DATE) AS month,
  CAST(n_opened AS BIGINT) AS n_opened,
  CAST(n_closed AS BIGINT) AS n_closed,
  CAST(SUM(n_opened - n_closed) OVER (ORDER BY month) AS BIGINT)
    AS backlog_eom
FROM per_month
""",
    tags=("analytics", "timeseries"),
)
def q214_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end order backlog: orders placed but not yet fully shipped
    (an order closes in the month of its LAST lineitem shipment) — the
    classic open-interval count behind ops dashboards and WIP limits.

    Scale shape: the interval-count trap is joining every month against
    every order (months × orders). Instead each order contributes two
    EVENT DELTAS (+1 open month, −1 close month); one shuffle agg per
    order (max shipdate), one tiny agg to ≤ |months| rows, and the
    running balance is a windowless prefix sum over that month frame.
    100 TB of orders still reduces to a few hundred month rows before
    anything cumulative happens. Months with zero activity don't emit
    a row (the balance carries across the gap implicitly)."""
    from ..functions.ranking import partitioned_prefix_sums

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("m_open"),
            F.trunc(F.col("last_ship").cast("date"), "month").alias("m_close"),
        )
    )
    opened = spans.groupBy(F.col("m_open").alias("month")).agg(
        F.count(F.lit(1)).alias("n_opened"),
        F.lit(0).cast("bigint").alias("n_closed"),
    )
    closed = spans.groupBy(F.col("m_close").alias("month")).agg(
        F.lit(0).cast("bigint").alias("n_opened"),
        F.count(F.lit(1)).alias("n_closed"),
    )
    per_month = (
        opened.unionByName(closed)
        .groupBy("month")
        .agg(
            F.sum("n_opened").alias("n_opened"),
            F.sum("n_closed").alias("n_closed"),
        )
        .withColumn("net", F.col("n_opened") - F.col("n_closed"))
        .transform(checkpoint_df)  # |months| rows; pins the fact join upstream
    )
    cum = partitioned_prefix_sums(per_month, F.col("month"), ["net"])
    return cum.select(
        "month",
        F.col("n_opened").cast("bigint").alias("n_opened"),
        F.col("n_closed").cast("bigint").alias("n_closed"),
        F.col("cum_net").cast("bigint").alias("backlog_eom"),
    )


@register(
    "q217_association_rules",
    oracle="""
WITH bought AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), capped AS (
  SELECT cust, part FROM bought
  WHERE cust IN (SELECT cust FROM bought GROUP BY cust HAVING COUNT(*) <= 128)
), nb AS (
  SELECT CAST(COUNT(DISTINCT cust) AS BIGINT) AS n FROM capped
), item AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS n_item FROM capped GROUP BY 1
), joint AS (
  SELECT a.part AS part_a, b.part AS part_b,
    CAST(COUNT(*) AS BIGINT) AS n_joint
  FROM capped a JOIN capped b ON a.cust = b.cust AND a.part < b.part
  GROUP BY 1, 2
), rules AS (
  SELECT ante, cons, n_joint, n_ante, n_cons,
    CAST(n_joint AS DOUBLE) / n AS support,
    CAST(n_joint AS DOUBLE) / n_ante AS confidence,
    (CAST(n_joint AS DOUBLE) * n) / (CAST(n_ante AS DOUBLE) * n_cons) AS lift
  FROM (
    SELECT j.part_a AS ante, j.part_b AS cons, j.n_joint,
      ia.n_item AS n_ante, ic.n_item AS n_cons, nb.n
    FROM joint j, nb
    JOIN item ia ON ia.part = j.part_a
    JOIN item ic ON ic.part = j.part_b
    UNION ALL
    SELECT j.part_b, j.part_a, j.n_joint, ic.n_item, ia.n_item, nb.n
    FROM joint j, nb
    JOIN item ia ON ia.part = j.part_a
    JOIN item ic ON ic.part = j.part_b
  )
  WHERE n_joint >= 3
)
SELECT ante, cons, n_joint, n_ante, n_cons,
  round(support, 6) AS support,
  round(confidence, 6) AS confidence,
  round(lift, 6) AS lift, rk
FROM (
  SELECT *, row_number() OVER (ORDER BY lift DESC, ante, cons) AS rk
  FROM rules)
WHERE rk <= 20
""",
    tags=("analytics", "recommendation"),
)
def q217_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-item association rules X→Y over customer baskets: joint
    support, confidence P(Y|X), and lift P(Y|X)/P(Y) — the top-20
    highest-lift rules with min joint support 3. Lift > 1 is the
    actual "customers who bought X also bought Y" signal (q168's raw
    pair counts rank popular-with-popular; lift corrects for margin).

    Scale shape: reuses q168's bounded basket discipline — distinct
    (cust, part), basket ≤ 128 cap, within-customer self-join (work =
    Σ C(basket,2), never corpus²) — then item and joint counts are
    two-phase aggs, rules materialize both directions of each pair
    (joint frame is already small), and margins arrive via equi-joins
    on the part-count frame — unhinted: |parts| grows with the corpus,
    so AQE picks broadcast vs shuffle by measured size (a forced
    broadcast would hit the 8 GB limit at large SF); only the 1-row
    basket total is hint-broadcast. Support/confidence/lift each
    compute as double products/division of exactly-representable ints
    — the identical op chain in both engines (factors cast to double
    BEFORE multiplying; a bigint product would overflow exactly where
    q209's probe did) — so ordering by raw lift (unique tiebreak
    appended) is deterministic; rounding happens only in the final
    projection. The top-20 cut is TakeOrdered + windowless rank
    (topn_ranked)."""
    from ..functions.ranking import topn_ranked

    capped = _capped_baskets(spark, sf_dir)
    nb = capped.agg(F.count_distinct("cust").alias("n"))
    item = capped.groupBy("part").agg(F.count(F.lit(1)).alias("n_item"))
    joint = _basket_pairs(capped)
    fwd = joint.select(
        F.col("part_a").alias("ante"),
        F.col("part_b").alias("cons"),
        "n_joint",
    )
    rev = joint.select(
        F.col("part_b").alias("ante"),
        F.col("part_a").alias("cons"),
        "n_joint",
    )
    rules = (
        fwd.unionByName(rev)
        .filter(F.col("n_joint") >= 3)
        .join(
            item.select(F.col("part").alias("ante"),
                        F.col("n_item").alias("n_ante")),
            "ante",
        )
        .join(
            item.select(F.col("part").alias("cons"),
                        F.col("n_item").alias("n_cons")),
            "cons",
        )
        .crossJoin(F.broadcast(nb))
        .withColumn("support", F.col("n_joint").cast("double") / F.col("n"))
        .withColumn(
            "confidence", F.col("n_joint").cast("double") / F.col("n_ante")
        )
        .withColumn(
            # factors cast to double BEFORE multiplying: bigint*bigint
            # overflows int64 in exactly the regime q209's probe hit;
            # double*int products round identically in both engines
            "lift",
            (F.col("n_joint").cast("double") * F.col("n"))
            / (F.col("n_ante").cast("double") * F.col("n_cons")),
        )
    )
    top = topn_ranked(
        rules, [F.col("lift").desc(), F.col("ante"), F.col("cons")], 20
    )
    return top.select(
        "ante", "cons", "n_joint", "n_ante", "n_cons",
        F.round("support", 6).alias("support"),
        F.round("confidence", 6).alias("confidence"),
        F.round("lift", 6).alias("lift"),
        F.col("rk").cast("int").alias("rk"),
    )


@register(
    "q218_new_vs_returning",
    oracle="""
WITH om AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month, o_custkey
  FROM orders
), active AS (
  SELECT month, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active
  FROM om GROUP BY 1
), firsts AS (
  SELECT o_custkey, MIN(month) AS fm FROM om GROUP BY 1
), news AS (
  SELECT fm AS month, CAST(COUNT(*) AS BIGINT) AS n_new FROM firsts GROUP BY 1
), m AS (
  SELECT a.month, a.n_active, COALESCE(n.n_new, 0) AS n_new
  FROM active a LEFT JOIN news n ON n.month = a.month
)
SELECT CAST(a.month AS DATE) AS month,
  a.n_active,
  CAST(a.n_new AS BIGINT) AS n_new,
  CAST(a.n_active - a.n_new AS BIGINT) AS n_returning,
  CAST(SUM(b.n_new) AS BIGINT) AS cum_known_customers
FROM m a JOIN m b ON b.month <= a.month
GROUP BY a.month, a.n_active, a.n_new
""",
    tags=("analytics", "behavioral"),
)
def q218_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New vs returning customers per month, plus the cumulative count
    of customers ever seen — the acquisition/retention split at the top
    of every growth dashboard.

    Scale shape: two hash aggs over (month, custkey) — active counts
    and per-customer first month — collapse the fact table to ≤|months|
    rows each; the cumulative "customers ever known" is a broadcast
    triangular self-join on that tiny month frame (no window, no
    month×orders join). A customer's first month is a plain MIN:
    no ordering, no window, restart-safe."""
    o = load_table(spark, sf_dir, "orders")
    om = o.select(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
        "o_custkey",
    )
    active = om.groupBy("month").agg(
        F.count_distinct("o_custkey").alias("n_active")
    )
    firsts = om.groupBy("o_custkey").agg(F.min("month").alias("month"))
    news = firsts.groupBy("month").agg(F.count(F.lit(1)).alias("n_new"))
    m = active.join(news, "month", "left").select(
        "month",
        "n_active",
        F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
    )
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(F.broadcast(b), F.col("b.month") <= F.col("a.month"))
        .groupBy(
            F.col("a.month").alias("month"),
            F.col("a.n_active").alias("n_active"),
            F.col("a.n_new").alias("n_new"),
        )
        .agg(F.sum("b.n_new").cast("bigint").alias("cum_known_customers"))
        .withColumn(
            "n_returning", (F.col("n_active") - F.col("n_new")).cast("bigint")
        )
        .select(
            "month", "n_active", "n_new", "n_returning", "cum_known_customers"
        )
    )


@register(
    "q220_discount_elasticity",
    oracle="""
WITH cells AS (
  SELECT p.p_brand AS brand, l.l_discount AS discount,
    CAST(COUNT(*) AS BIGINT) AS n_items,
    CAST(SUM(CAST(l.l_quantity AS DECIMAL(8,2))) AS DECIMAL(38,2)) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), pts AS (
  SELECT brand,
    ln(1 - discount) AS x,
    ln(CAST(qty AS DOUBLE) / n_items) AS y
  FROM cells WHERE n_items >= 5
), m AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_levels,
    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
  FROM pts GROUP BY 1
)
SELECT brand, n_levels,
  round(CASE WHEN n_levels * sxx - sx * sx > 0
        THEN (n_levels * sxy - sx * sy) / (n_levels * sxx - sx * sx) END, 4)
    AS elasticity,
  round(sy / n_levels, 4) AS mean_log_qty
FROM m
""",
    tags=("analytics", "stats"),
)
def q220_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount elasticity: OLS slope of ln(avg quantity per
    item) against ln(1 − discount) across discount levels — elasticity
    < 0 means deeper discounts move volume; ~0 means the discount is
    subsidizing purchases that would happen anyway. The classic
    pricing-analytics read over a sales fact table.

    Scale shape: the fact join collapses immediately to the
    |brands| × |discount levels| grid (two-phase agg; ≤ 25×11 cells at
    any corpus size), the log/OLS math runs per brand on ≤11 points,
    and the slope comes from the explicit five-moment formula with the
    zero-variance denominator guarded NULL (ANSI-safe — q205's corr
    lesson). Quantity sums are exact DECIMAL; doubles appear only in
    the final per-cell ratio and logs, and the slope rounds to 4 (the
    q202 guard band for cross-engine libm/sum drift)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cells = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_discount").alias("discount"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(8,2)"))
            .cast("decimal(38,2)")
            .alias("qty"),
        )
        .filter(F.col("n_items") >= 5)
    )
    pts = cells.select(
        "brand",
        F.log(F.lit(1) - F.col("discount")).alias("x"),
        F.log(F.col("qty").cast("double") / F.col("n_items")).alias("y"),
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x"))
    denom = n * sxx - sx * sx
    return pts.groupBy("brand").agg(
        n.cast("bigint").alias("n_levels"),
        F.round(F.when(denom > 0, (n * sxy - sx * sy) / denom), 4).alias(
            "elasticity"
        ),
        F.round(sy / n, 4).alias("mean_log_qty"),
    )


@register(
    "q221_cohort_ltv",
    oracle="""
WITH om AS (
  SELECT o_custkey,
    date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
    CAST(CAST(o_totalprice AS DECIMAL(8,2)) * 100 AS BIGINT) AS cents
  FROM orders
), cohorts AS (
  SELECT o_custkey, MIN(month) AS cohort FROM om GROUP BY 1
), grid AS (
  SELECT c.cohort,
    CAST(date_diff('month', c.cohort, o.month) AS INT) AS age_months,
    CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
    CAST(SUM(o.cents) AS BIGINT) AS cents
  FROM om o JOIN cohorts c ON c.o_custkey = o.o_custkey
  GROUP BY 1, 2
), cum AS (
  SELECT cohort, age_months, n_customers,
    SUM(cents) OVER (PARTITION BY cohort ORDER BY age_months
                     ROWS UNBOUNDED PRECEDING) AS cum_cents,
    first_value(n_customers) OVER (PARTITION BY cohort ORDER BY age_months)
      AS cohort_size
  FROM grid
)
SELECT CAST(cohort AS DATE) AS cohort, age_months, n_customers,
  CAST(cohort_size AS BIGINT) AS cohort_size,
  CAST(CAST(cum_cents AS DECIMAL(38,0)) AS VARCHAR) AS cum_revenue_cents,
  round(CAST(cum_cents AS DOUBLE) / cohort_size, 2) AS avg_ltv_cents
FROM cum
""",
    tags=("analytics", "behavioral"),
)
def q221_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, tracked by months-since-acquisition — active count, exact
    cumulative cohort revenue, and average LTV per acquired customer.
    THE retention economics artifact (payback period, cohort decay).

    Scale shape: the fact table collapses to the |months|² / 2 cohort
    grid through one custkey-join + two-phase agg (cohort assignment
    is a broadcast-size frame per month count at any SF — it's keyed
    per customer, so it shuffles once on custkey). The cumulative runs
    as a window PARTITIONED by cohort over the aggregated grid — ≤
    |months| rows per partition by construction, volume-independent —
    and cohort_size rides the same window as first_value at age 0
    (every cohort has its own first order, so age 0 always exists)."""
    o = load_table(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cohorts = om.groupBy("o_custkey").agg(F.min("month").alias("cohort"))
    grid = (
        om.join(cohorts, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(F.col("month"), F.col("cohort"))
            .cast("int")
            .alias("age_months"),
        )
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
    w = Window.partitionBy("cohort").orderBy("age_months")
    cum = grid.select(
        "cohort",
        "age_months",
        "n_customers",
        F.first("n_customers").over(w).cast("bigint").alias("cohort_size"),
        # decimal window sum: a long-lived cohort's cumulative cents
        # can pass 2^63 at large SF — the oracle sums to HUGEINT, so
        # matching headroom (and ANSI fail-loud at 38 digits) is here
        F.sum(F.col("cents").cast("decimal(38,0)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_cents"),
    )
    return cum.select(
        "cohort",
        "age_months",
        "n_customers",
        "cohort_size",
        F.col("cum_cents").cast("decimal(38,0)").cast("string").alias(
            "cum_revenue_cents"
        ),
        F.round(
            F.col("cum_cents").cast("double") / F.col("cohort_size"), 2
        ).alias("avg_ltv_cents"),
    )


@register(
    "q224_pareto_skyline",
    oracle="""
WITH lv AS (
  SELECT p_brand AS brand, p_type AS ptype, p_size,
    CAST(COUNT(*) AS BIGINT) AS n_parts,
    round(MIN(p_retailprice), 2) AS best_price
  FROM part GROUP BY 1, 2, 3
), fl AS (
  SELECT *, MAX(p_size) OVER (PARTITION BY brand, ptype
      ORDER BY best_price, p_size DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM lv
)
SELECT brand, ptype, p_size, best_price, n_parts,
  CAST(row_number() OVER (PARTITION BY brand, ptype
       ORDER BY best_price, p_size DESC) AS BIGINT) AS frontier_rank
FROM (SELECT brand, ptype, p_size, best_price, n_parts FROM fl
      WHERE prev_max IS NULL OR prev_max < p_size) f
""",
    tags=("analytics", "window"),
)
def q224_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) per brand+type: the parts no buyer can
    strictly improve on — every size level's cheapest price, kept only
    if no cheaper-or-equal price buys an equal-or-larger size. The
    classic multi-objective "skyline" operator (minimize price,
    maximize size), the catalog view behind "best value at each tier".

    Scale shape: the naive skyline is all-pairs dominance; this plan
    first collapses the fact to the |brand × type × size| grid with a
    two-phase MIN/COUNT agg (map-side combined — size is a small-int
    domain, so the grid is ≤ |brands|·|types|·|sizes| at ANY corpus
    size), then resolves dominance with one cummax window per
    brand+type partition over ≤ |sizes| rows. Frontier rank is a
    second partitioned window on the already-filtered frontier (sizes
    strictly increase along the frontier, so the order is unique and
    deterministic). No unpartitioned window, no pairwise join."""
    p = load_table(spark, sf_dir, "part")
    lv = p.groupBy(
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("ptype"),
        "p_size",
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.min("p_retailprice"), 2).alias("best_price"),
    )
    w = Window.partitionBy("brand", "ptype").orderBy(
        F.col("best_price").asc(), F.col("p_size").desc()
    )
    prev_max = (
        F.max("p_size")
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_max")
    )
    frontier = (
        lv.withColumn("prev_max", prev_max)
        .filter(F.col("prev_max").isNull() | (F.col("prev_max") < F.col("p_size")))
        .drop("prev_max")
    )
    return frontier.select(
        "brand",
        "ptype",
        "p_size",
        "best_price",
        "n_parts",
        F.row_number().over(w).cast("bigint").alias("frontier_rank"),
    )


@register(
    "q226_price_index",
    oracle="""
WITH base AS (
  SELECT l_partkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DECIMAL(38,2)) AS q0,
    SUM(l_extendedprice) / SUM(l_quantity) AS p0
  FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '1996-01-01'
  GROUP BY 1
), cur AS (
  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month, l_partkey,
    SUM(l_extendedprice) / SUM(l_quantity) AS pt
  FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  GROUP BY 1, 2
)
SELECT CAST(month AS DATE) AS month,
  CAST(COUNT(*) AS BIGINT) AS n_parts,
  round(SUM(pt * CAST(q0 AS DOUBLE)) / SUM(p0 * CAST(q0 AS DOUBLE)), 6)
    AS laspeyres_index
FROM cur JOIN base USING (l_partkey)
GROUP BY 1
""",
    tags=("analytics", "stats"),
)
def q226_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index per month: how much this month's unit
    prices would cost against the base period's (pre-1996) fixed
    basket, Σ p_t·q_0 / Σ p_0·q_0 over the parts traded in both — the
    standard inflation/price-trend series every commerce dashboard
    derives from a sales fact table.

    Scale shape: both sides collapse to per-part aggregates FIRST
    (two-phase, map-side combined: base = |parts| rows, current =
    |parts|×|months| rows), so the join is dimension-sized — never
    fact-to-fact — and shuffles on l_partkey, the key both aggs
    already produced. Base-basket quantities are exact DECIMAL sums;
    unit prices are one double ratio per part; the index is a ratio of
    two basket sums rounded at the end (ulp-drift on a ~1.0 ratio is
    orders below the 6-decimal guard band)."""
    li = load_table(spark, sf_dir, "lineitem")
    ship = F.col("l_shipdate").cast("date")
    base = (
        li.filter(ship < F.lit("1996-01-01").cast("date"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(8,2)"))
            .cast("decimal(38,2)")
            .alias("q0"),
            (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p0"),
        )
    )
    cur = (
        li.filter(ship >= F.lit("1996-01-01").cast("date"))
        .groupBy(
            F.trunc(ship, "month").alias("month"),
            "l_partkey",
        )
        .agg((F.sum("l_extendedprice") / F.sum("l_quantity")).alias("pt"))
    )
    q0d = F.col("q0").cast("double")
    return (
        cur.join(base, "l_partkey")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(
                F.sum(F.col("pt") * q0d) / F.sum(F.col("p0") * q0d), 6
            ).alias("laspeyres_index"),
        )
    )


@register(
    "q229_theil_decomposition",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DECIMAL(38,2)) AS rev
  FROM orders GROUP BY 1
), cx AS (
  SELECT c.c_nationkey AS nk, rev, CAST(rev AS DOUBLE) AS x
  FROM cust JOIN customer c ON c.c_custkey = cust.o_custkey
), nat AS (
  SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_customers,
    CAST(SUM(rev) AS DECIMAL(38,2)) AS sxd, SUM(x * LN(x)) AS sxlx
  FROM cx GROUP BY 1
), tot AS (SELECT CAST(SUM(n_customers) AS BIGINT) AS n,
                  CAST(SUM(sxd) AS DECIMAL(38,2)) AS sd
           FROM nat)
SELECT n.n_name AS nation, a.n_customers,
  round(CAST(a.sxd AS DOUBLE) / a.n_customers, 2) AS mean_rev,
  round(a.sxlx / CAST(a.sxd AS DOUBLE)
        - LN(CAST(a.sxd AS DOUBLE) / a.n_customers), 6) AS theil_within,
  round(CAST(a.sxd AS DOUBLE) / CAST(t.sd AS DOUBLE), 6) AS rev_share,
  round(CAST(a.sxd AS DOUBLE) / CAST(t.sd AS DOUBLE)
        * LN((CAST(a.sxd AS DOUBLE) / a.n_customers)
             / (CAST(t.sd AS DOUBLE) / t.n)), 6) AS between_term
FROM nat a JOIN nation n ON n.n_nationkey = a.nk, tot t
""",
    tags=("analytics", "stats"),
)
def q229_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-index inequality decomposition of customer revenue by
    nation: within-nation inequality T_i, each nation's revenue share
    s_i, and its between-nations term s_i·ln(mu_i/mu) — the additive
    decomposition (T = sum s_i T_i + sum between_i) that answers
    "is revenue concentration driven by whales inside markets or by
    gaps between markets?", which a Gini (q210) cannot split.

    Scale shape: the fact table collapses to per-customer exact-
    decimal revenue (two-phase agg on custkey — the join key it
    already shuffles on), the nation rollup needs only three running
    sums (n, sum x, sum x ln x — T_i = sum(x ln x)/sum(x) − ln(mu_i),
    so no second pass over deviations), and the 1-row corpus total
    broadcasts back onto |nations| rows. Revenues are positive by
    construction so the logs are total; doubles appear only in the
    x·ln x sum, and every ratio rounds inside the repo guard band."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = o.groupBy("o_custkey").agg(
        F.sum(dec2("o_totalprice")).cast("decimal(38,2)").alias("rev")
    )
    # customer grows with SF — no broadcast hint; the custkey equi-join
    # reuses the partitioning the groupBy above already produced
    cx = cust.join(c, cust.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nk"),
        "rev",
        F.col("rev").cast("double").alias("x"),
    )
    # sums of money stay exact DECIMAL (order-independent across any
    # partition layout); only the x·ln x moment is a double sum, and it
    # is consumed solely inside ratios rounded to 6
    nat = cx.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev").cast("decimal(38,2)").alias("sxd"),
        F.sum(F.col("x") * F.log("x")).alias("sxlx"),
    )
    tot = nat.agg(
        F.sum("n_customers").cast("bigint").alias("n"),
        F.sum("sxd").cast("decimal(38,2)").alias("sd"),
    )
    sx = F.col("sxd").cast("double")
    s = F.col("sd").cast("double")
    mu_i = sx / F.col("n_customers")
    mu = s / F.col("n")
    return (
        nat.join(F.broadcast(n), nat.nk == n.n_nationkey)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n_name").alias("nation"),
            "n_customers",
            F.round(mu_i, 2).alias("mean_rev"),
            F.round(F.col("sxlx") / sx - F.log(mu_i), 6).alias(
                "theil_within"
            ),
            F.round(sx / s, 6).alias("rev_share"),
            F.round(sx / s * F.log(mu_i / mu), 6).alias("between_term"),
        )
    )


@register(
    "q231_theil_sen_trend",
    oracle="""
WITH pm AS (
  SELECT p.p_brand AS brand,
    CAST(date_diff('month', DATE '1995-01-01',
         date_trunc('month', CAST(l.l_shipdate AS DATE))) AS INT) AS m,
    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DECIMAL(38,2))
         AS DOUBLE) AS rev
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
), slopes AS (
  SELECT a.brand, (b.rev - a.rev) / (b.m - a.m) AS s
  FROM pm a JOIN pm b ON a.brand = b.brand AND b.m > a.m
), months AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_months FROM pm GROUP BY 1
)
SELECT s.brand, mo.n_months, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  round(quantile_cont(s.s, 0.5), 4) AS sen_slope
FROM slopes s JOIN months mo ON mo.brand = s.brand
GROUP BY 1, 2
""",
    tags=("analytics", "stats"),
)
def q231_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per brand: the median of all pairwise
    monthly-revenue slopes — the outlier-proof companion to q198's OLS
    trend (one promo-spike month can swing a least-squares slope; the
    pairwise median shrugs it off, with a 29% breakdown point).

    Scale shape: the fact table collapses to the |brands| × |months|
    grid FIRST (broadcast part join + two-phase exact-decimal agg), so
    the "all pairs" stage is a self-join of a calendar-bounded frame —
    pairs grow with months², never with corpus volume, the textbook
    case where quadratic is safe because the quadratic is over the
    GRID (q168/q135 get the same bound via explicit caps; here the
    calendar IS the cap). Slopes are deterministic doubles (exact
    decimal revenues, one subtraction and one division per pair) and
    the median is an exact percentile per brand."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # part grows with SF — no broadcast hint, AQE decides (q220 pattern)
    pm = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.months_between(
                F.trunc(F.col("l_shipdate").cast("date"), "month"),
                F.lit("1995-01-01").cast("date"),
            )
            .cast("int")
            .alias("m"),
        )
        .agg(
            F.sum(dec2("l_extendedprice"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("rev")
        )
    )
    months = pm.groupBy("brand").agg(F.count(F.lit(1)).alias("n_months"))
    a, b = pm.alias("a"), pm.alias("b")
    slopes = a.join(
        F.broadcast(b),
        (F.col("a.brand") == F.col("b.brand")) & (F.col("b.m") > F.col("a.m")),
    ).select(
        F.col("a.brand").alias("brand"),
        (
            (F.col("b.rev") - F.col("a.rev")) / (F.col("b.m") - F.col("a.m"))
        ).alias("s"),
    )
    return (
        slopes.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.percentile(F.col("s"), F.lit(0.5)), 4).alias("sen_slope"),
        )
        .join(F.broadcast(months), "brand")
        .select("brand", F.col("n_months").cast("bigint").alias("n_months"),
                "n_pairs", "sen_slope")
    )


@register(
    "q232_hhi_concentration",
    oracle="""
WITH sup AS (
  SELECT s.s_nationkey, l.l_suppkey,
    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(10,2))) * 100 AS BIGINT)
      AS cents
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), tot AS (
  SELECT s_nationkey, CAST(SUM(cents) AS BIGINT) AS tot_cents,
    CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM sup GROUP BY 1
), shr AS (
  SELECT r.s_nationkey, r.rk, t.n_suppliers, t.tot_cents,
    CAST(r.cents AS DOUBLE) / NULLIF(t.tot_cents, 0) AS share
  FROM (SELECT s_nationkey, l_suppkey, cents,
          row_number() OVER (PARTITION BY s_nationkey
                             ORDER BY cents DESC, l_suppkey) AS rk
        FROM sup) r
  JOIN tot t USING (s_nationkey)
)
SELECT n.n_name AS nation, shr.n_suppliers,
  CAST(CAST(shr.tot_cents AS DECIMAL(38,0)) AS VARCHAR) AS revenue_cents,
  round(SUM((100.0 * share) * (100.0 * share)), 4) AS hhi,
  round(SUM(CASE WHEN shr.rk <= 4 THEN share ELSE 0.0 END), 6) AS cr4
FROM shr JOIN nation n ON n.n_nationkey = shr.s_nationkey
GROUP BY 1, 2, 3
""",
    tags=("analytics",),
)
def q232_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per nation over
    its suppliers' revenue shares (HHI = Σ(100·share)², 10000 = pure
    monopoly; antitrust screens flag > 2500) plus the CR4 top-4
    concentration ratio — the standard pair for "is this market
    dominated by a few suppliers?".

    Scale shape: one two-phase hash agg of lineitem to supplier grain
    (the only fact-table shuffle), an unhinted suppkey join against the
    supplier dim (AQE decides; supplier grows with SF so no forced
    broadcast), then nation-grain windows/aggs on the supplier-count-
    sized frame. The top-4 rank is a window partitioned by nation —
    never global. Revenue is exact decimal cents end-to-end; shares
    divide via try_divide (NULLIF twin) so an all-zero-revenue nation
    yields NULL metrics, not an ANSI error."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    sup = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            (F.sum(dec2("l_extendedprice")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = sup.groupBy("s_nationkey").agg(
        F.sum("cents").cast("bigint").alias("tot_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("cents").desc(), "l_suppkey"
    )
    share = F.try_divide(F.col("cents").cast("double"), F.col("tot_cents"))
    shr = (
        sup.withColumn("rk", F.row_number().over(w))
        .join(tot, "s_nationkey")
        .withColumn("share", share)
    )
    return (
        shr.groupBy("s_nationkey", "n_suppliers", "tot_cents")
        .agg(
            F.round(
                F.sum((100.0 * F.col("share")) * (100.0 * F.col("share"))), 4
            ).alias("hhi"),
            F.round(
                F.sum(
                    F.when(F.col("rk") <= 4, F.col("share")).otherwise(
                        F.lit(0.0)
                    )
                ),
                6,
            ).alias("cr4"),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "n_suppliers",
            F.col("tot_cents")
            .cast("decimal(38,0)")
            .cast("string")
            .alias("revenue_cents"),
            "hhi",
            "cr4",
        )
    )


@register(
    "q238_cuped_lift",
    oracle=f"""
WITH cust AS (
  SELECT c.c_custkey,
    {sql_ab_treat("c.c_custkey")} AS treat,
    CAST(COALESCE(SUM(CASE WHEN o.o_orderdate < TIMESTAMP '1996-01-01'
          THEN CAST(o.o_totalprice AS DECIMAL(8,2)) END), 0) * 100
      AS DOUBLE) AS pre,
    CAST(COALESCE(SUM(CASE WHEN o.o_orderdate >= TIMESTAMP '1996-01-01'
          THEN CAST(o.o_totalprice AS DECIMAL(8,2)) END), 0) * 100
      AS DOUBLE) AS post
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1
), mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(pre) AS sx, SUM(post) AS sy,
    SUM(pre * post) AS sxy, SUM(pre * pre) AS sxx, SUM(post * post) AS syy
  FROM cust
), th AS (
  SELECT
    CASE WHEN n * sxx - sx * sx <= 0 THEN 0.0
         ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS theta,
    CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL
         ELSE ((n * sxy - sx * sy) * (n * sxy - sx * sy))
              / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS rho2,
    sx / n AS pre_all
  FROM mom
)
SELECT CASE WHEN treat THEN 'treatment' ELSE 'control' END AS arm,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  round(SUM(post) / COUNT(*) / 100, 4) AS mean_revenue,
  round((SUM(post) / COUNT(*)
         - t.theta * (SUM(pre) / COUNT(*) - t.pre_all)) / 100, 4)
    AS cuped_mean_revenue,
  round(t.theta, 6) AS theta,
  round(t.rho2, 6) AS variance_reduction
FROM cust CROSS JOIN th t
GROUP BY 1, t.theta, t.rho2, t.pre_all
""",
    tags=("analytics", "experiment"),
)
def q238_cuped_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout: customers deterministically
    hash-split 50/50 (md5 first hex digit, the q96/q206 gate idea), the
    1996+ revenue metric adjusted by the pre-1996 covariate —
    Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) pooled across arms.
    Reported variance_reduction is ρ², the fraction of metric variance
    the covariate removes — the standard experimentation-platform
    primitive that shrinks confidence intervals at zero sample cost.

    Scale shape: one customer⋈orders shuffle join collapsed to customer
    grain (exact decimal cents, pinned with localCheckpoint so the two
    consumers — pooled moments and per-arm means — never re-run the
    join); θ/ρ²/grand-mean are a 1-row broadcast; per-arm means are a
    2-group two-phase agg. Degenerate guards: zero covariate variance →
    θ = 0 (no adjustment) and NULL ρ², spelled identically in both
    engines."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cut = F.lit("1996-01-01").cast("timestamp_ntz")
    zero = F.lit(0).cast("decimal(8,2)")
    cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("o_orderdate") < cut, dec2("o_totalprice")
                        )
                    ),
                    zero,
                )
                * 100
            )
            .cast("double")
            .alias("pre"),
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("o_orderdate") >= cut, dec2("o_totalprice")
                        )
                    ),
                    zero,
                )
                * 100
            )
            .cast("double")
            .alias("post"),
        )
        .withColumn("treat", ab_treat("c_custkey"))
        .transform(checkpoint_df)  # customer-grain; pins the orders join
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    th = (
        cust.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("pre").alias("sx"),
            F.sum("post").alias("sy"),
            F.sum(F.col("pre") * F.col("post")).alias("sxy"),
            F.sum(F.col("pre") * F.col("pre")).alias("sxx"),
            F.sum(F.col("post") * F.col("post")).alias("syy"),
        )
        .select(
            F.when(vx <= 0, F.lit(0.0)).otherwise(cov / vx).alias("theta"),
            F.when((vx <= 0) | (vy <= 0), F.lit(None).cast("double"))
            .otherwise((cov * cov) / (vx * vy))
            .alias("rho2"),
            (sx / n).alias("pre_all"),
        )
    )
    cnt = F.count(F.lit(1))
    return (
        cust.crossJoin(F.broadcast(th))
        .groupBy("treat", "theta", "rho2", "pre_all")
        .agg(
            cnt.cast("bigint").alias("n_customers"),
            (F.sum("post") / cnt).alias("m_post"),
            (F.sum("pre") / cnt).alias("m_pre"),
        )
        .select(
            F.when(F.col("treat"), F.lit("treatment"))
            .otherwise(F.lit("control"))
            .alias("arm"),
            "n_customers",
            F.round(F.col("m_post") / 100, 4).alias("mean_revenue"),
            F.round(
                (
                    F.col("m_post")
                    - F.col("theta") * (F.col("m_pre") - F.col("pre_all"))
                )
                / 100,
                4,
            ).alias("cuped_mean_revenue"),
            F.round("theta", 6).alias("theta"),
            F.round("rho2", 6).alias("variance_reduction"),
        )
    )


@register(
    "q239_seasonal_anomaly",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(date_part('dow', CAST(o_orderdate AS DATE)) AS INT) AS dow,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(8,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
), stats AS (
  SELECT dow, CAST(COUNT(*) AS DOUBLE) AS n,
    SUM(CAST(cents AS DOUBLE)) AS sx,
    SUM(CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE)) AS sxx
  FROM daily GROUP BY 1
)
SELECT d.day, d.dow,
  CAST(CAST(d.cents AS DECIMAL(38,0)) AS VARCHAR) AS revenue_cents,
  round((CAST(d.cents AS DOUBLE) - s.sx / s.n)
        / sqrt((s.sxx - s.sx * s.sx / s.n) / s.n), 4) AS z
FROM daily d JOIN stats s USING (dow)
WHERE (s.sxx - s.sx * s.sx / s.n) / s.n > 0
  AND abs((CAST(d.cents AS DOUBLE) - s.sx / s.n)
          / sqrt((s.sxx - s.sx * s.sx / s.n) / s.n)) >= 2.0
""",
    tags=("analytics", "timeseries", "dq"),
)
def q239_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted daily revenue anomalies: each day's revenue
    standardized against the distribution of ITS OWN weekday (|z| ≥ 2
    flagged) — the de-seasonalized alarm q211's share profile motivates
    (a quiet Sunday is normal; a quiet Tuesday is an incident). A raw
    global z-score would page on every weekend.

    Scale shape: one two-phase agg to the calendar-bounded daily grain,
    per-weekday moments on that ≤|days| frame (7 groups), then a 7-row
    broadcast join back — no window at all. The |z| ≥ 2 threshold
    filters on the RAW value (identical op chain both engines) and
    rounds only in the projection; the weekday comes from the NTZ date
    so the hostile-timezone sweep can't shift it. Degenerate weekdays
    (zero variance) are excluded on the var > 0 guard, not by an ANSI
    error."""
    o = load_table(spark, sf_dir, "orders")
    dow = (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).cast("int")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"), dow.alias("dow")
    ).agg(
        (F.sum(dec2("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    x = F.col("cents").cast("double")
    stats = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n")
    z = (x - mean) / F.sqrt(var)
    return (
        daily.join(F.broadcast(stats), "dow")
        .filter((var > 0) & (F.abs(z) >= 2.0))
        .select(
            "day",
            "dow",
            F.col("cents")
            .cast("decimal(38,0)")
            .cast("string")
            .alias("revenue_cents"),
            F.round(z, 4).alias("z"),
        )
    )


@register(
    "q254_experiment_power",
    oracle=f"""
WITH cust AS (
  SELECT c.c_custkey,
    {sql_ab_treat("c.c_custkey")} AS treat,
    CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(8,2))), 0) * 100
      AS DOUBLE) AS y
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1
), arm AS (
  SELECT treat, CAST(COUNT(*) AS BIGINT) AS n,
    SUM(y) AS sy, SUM(y * y) AS syy
  FROM cust GROUP BY treat
), pooled AS (
  SELECT
    MAX(CASE WHEN treat THEN n END) AS n_t,
    MAX(CASE WHEN NOT treat THEN n END) AS n_c,
    MAX(CASE WHEN NOT treat THEN sy / n END) AS mean_c,
    SUM(syy - sy * sy / n) AS ss,
    SUM(n) AS n_all
  FROM arm
)
SELECT n_c AS n_control, n_t AS n_treatment,
  round(mean_c / 100, 4) AS control_mean,
  CASE WHEN n_all <= 2 THEN NULL
       ELSE round(sqrt(greatest(ss, 0.0) / (n_all - 2)) / 100, 4)
  END AS sd_pooled,
  CASE WHEN n_all <= 2 THEN NULL
       ELSE round(2.801585 * sqrt(greatest(ss, 0.0) / (n_all - 2))
             * sqrt(1.0 / n_c + 1.0 / n_t) / 100, 4)
  END AS mde_abs_80,
  CASE WHEN n_all <= 2 OR mean_c = 0 THEN NULL
       ELSE round(2.801585 * sqrt(greatest(ss, 0.0) / (n_all - 2))
             * sqrt(1.0 / n_c + 1.0 / n_t) / mean_c, 6)
  END AS mde_rel_80,
  CASE WHEN n_all <= 2 OR mean_c = 0 THEN NULL
       ELSE round(3.241516 * sqrt(greatest(ss, 0.0) / (n_all - 2))
             * sqrt(1.0 / n_c + 1.0 / n_t) / mean_c, 6)
  END AS mde_rel_90
FROM pooled
""",
    tags=("analytics", "stats", "experiment"),
)
def q254_experiment_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power planner: the minimal detectable effect of the
    q238 A/B design (same md5 hash-split arms, per-customer revenue
    metric) at α=0.05 two-sided — MDE = (z₀.₉₇₅+z₀.₈)·sd_pooled·
    √(1/n_c+1/n_t) for 80% power (z-sum 2.801585) and the 90% variant
    (z-sum 3.241516). THE question to answer BEFORE reading q238's
    lift: if mde_rel_80 is 8%, a 3% observed lift is noise by
    construction. Complements q222's bootstrap (post-hoc uncertainty)
    with the pre-hoc design table.

    Plan shape: one customer⊔orders join collapses to a row per
    customer (the q238 scan shape), per-arm moment aggregates reduce
    to TWO rows, and everything after is scalar math on a 1-row frame.
    Pooled variance via the explicit Σy²−(Σy)²/n moments (q205
    discipline — no engine variance-kernel drift), surfaces rounded
    4/6 on both engines. Degenerate designs NULL out instead of
    diverging (code-review r4 finding): n_all ≤ 2 (pooled df = 0 →
    Spark NaN vs DuckDB NULL) and mean_c = 0 (relative MDE → Infinity
    vs NULL) are CASE-guarded identically on both sides, and float
    cancellation on a near-constant metric is clamped with
    greatest(ss, 0) before the sqrt."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    treat = ab_treat("c_custkey")
    cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(F.sum(dec2("o_totalprice")), F.lit(0))
            .cast("double")
            .alias("y0"),
        )
        .select(treat.alias("treat"), (F.col("y0") * 100).alias("y"))
    )
    arm = cust.groupBy("treat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    pooled = arm.agg(
        F.max(F.when(F.col("treat"), F.col("n"))).alias("n_t"),
        F.max(F.when(~F.col("treat"), F.col("n"))).alias("n_c"),
        F.max(
            F.when(~F.col("treat"), F.col("sy") / F.col("n"))
        ).alias("mean_c"),
        F.sum(
            F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
        ).alias("ss"),
        F.sum("n").alias("n_all"),
    )
    sd = F.sqrt(F.greatest(F.col("ss"), F.lit(0.0)) / (F.col("n_all") - 2))
    se = sd * F.sqrt(1.0 / F.col("n_c") + 1.0 / F.col("n_t"))
    df_ok = F.col("n_all") > 2
    rel_ok = df_ok & (F.col("mean_c") != 0)
    null_d = F.lit(None).cast("double")
    return pooled.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.round(F.col("mean_c") / 100, 4).alias("control_mean"),
        F.when(df_ok, F.round(sd / 100, 4)).otherwise(null_d).alias(
            "sd_pooled"
        ),
        F.when(df_ok, F.round(F.lit(2.801585) * se / 100, 4))
        .otherwise(null_d)
        .alias("mde_abs_80"),
        F.when(rel_ok, F.round(F.lit(2.801585) * se / F.col("mean_c"), 6))
        .otherwise(null_d)
        .alias("mde_rel_80"),
        F.when(rel_ok, F.round(F.lit(3.241516) * se / F.col("mean_c"), 6))
        .otherwise(null_d)
        .alias("mde_rel_90"),
    )


@register(
    "q257_ab_srm_check",
    oracle=f"""
WITH arm AS (
  SELECT {sql_ab_treat("c_custkey")} AS treat,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1
), w AS (
  SELECT
    MAX(CASE WHEN treat THEN n END) AS n_t,
    MAX(CASE WHEN NOT treat THEN n END) AS n_c,
    CAST(SUM(n) AS DOUBLE) AS n_all
  FROM arm
)
SELECT n_c AS n_control, n_t AS n_treatment,
  round(n_t / n_all, 6) AS treat_share,
  round((n_t - n_all / 2) * (n_t - n_all / 2) / (n_all / 2)
        + (n_c - n_all / 2) * (n_c - n_all / 2) / (n_all / 2), 4)
    AS chi2_stat,
  round((n_t - n_all / 2) * (n_t - n_all / 2) / (n_all / 2)
        + (n_c - n_all / 2) * (n_c - n_all / 2) / (n_all / 2), 4)
    > 3.8415 AS srm_flag
FROM w
""",
    tags=("analytics", "stats", "experiment", "dq"),
)
def q257_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for the hash-split A/B design
    (q238/q254's arms): chi-square goodness-of-fit of the observed arm
    sizes against the intended 50/50, flagged at the χ²₁ 95% critical
    value 3.8415. SRM is the canonical experiment-invalidator (a
    biased assignment path corrupts every downstream metric read) and
    the first dashboard any experimentation platform renders; here it
    doubles as a hash-quality audit of the md5 split itself. NB the
    md5-first-hex '< 8' gate is 8/16 nibbles = exactly 50% by design.

    Plan shape: one scan → 2-group count agg → scalar math on one row.
    The chi-square statistic is exact integer/half-integer arithmetic
    (identical op chain both engines) rounded only for display; the
    flag compares the ROUNDED statistic so both engines gate
    identically."""
    c = load_table(spark, sf_dir, "customer")
    treat = ab_treat("c_custkey")
    arm = c.groupBy(treat.alias("treat")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = arm.agg(
        F.max(F.when(F.col("treat"), F.col("n"))).alias("n_t"),
        F.max(F.when(~F.col("treat"), F.col("n"))).alias("n_c"),
        F.sum("n").cast("double").alias("n_all"),
    )
    half = F.col("n_all") / 2
    chi2 = F.round(
        (F.col("n_t") - half) * (F.col("n_t") - half) / half
        + (F.col("n_c") - half) * (F.col("n_c") - half) / half,
        4,
    )
    return w.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.round(F.col("n_t") / F.col("n_all"), 6).alias("treat_share"),
        chi2.alias("chi2_stat"),
        (chi2 > 3.8415).alias("srm_flag"),
    )


@register(
    "q260_bulk_discount_curve",
    oracle="""
WITH b AS (
  SELECT CASE WHEN l_quantity <= 10 THEN '01-10'
              WHEN l_quantity <= 20 THEN '11-20'
              WHEN l_quantity <= 30 THEN '21-30'
              WHEN l_quantity <= 40 THEN '31-40'
              ELSE '41+' END AS qty_band,
    CAST(l_discount AS DECIMAL(6,4)) AS disc,
    CAST(l_extendedprice AS DECIMAL(10,2)) AS price,
    CAST(l_quantity AS DECIMAL(8,2)) AS qty
  FROM lineitem
), g AS (
  SELECT qty_band, CAST(COUNT(*) AS BIGINT) AS n_items,
    SUM(disc) AS sdisc,
    SUM(price) AS sprice,
    SUM(qty) AS sqty
  FROM b GROUP BY qty_band
), tot AS (SELECT CAST(SUM(sprice) AS DOUBLE) AS tp FROM g)
SELECT qty_band, n_items,
  round(CAST(sdisc AS DOUBLE) / n_items, 6) AS avg_discount,
  round(CAST(sprice AS DOUBLE) / CAST(sqty AS DOUBLE), 4)
    AS avg_unit_price,
  round(CAST(sprice AS DOUBLE) / tot.tp, 6) AS revenue_share
FROM g CROSS JOIN tot
""",
    tags=("analytics", "agg"),
)
def q260_bulk_discount_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk-discount curve: average discount, average unit price, and
    revenue share per quantity band — the pricing-policy audit that
    answers "do larger orders actually get better terms, and does the
    unit price fall monotonically with volume?" (a non-monotone curve
    flags negotiated exceptions or data errors). Complements q220's
    within-brand elasticity fit with the policy-level band view.

    Plan shape: band assignment is a per-row CASE on the fact table,
    then ONE two-phase hash agg to five groups; every sum runs in
    exact DECIMAL (order-independent), the grand total rides as a
    1-row broadcast, and all divisions are single exact-input double
    ops rounded for display. One scan, one shuffle of five groups."""
    li = load_table(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_quantity") <= 10, "01-10")
        .when(F.col("l_quantity") <= 20, "11-20")
        .when(F.col("l_quantity") <= 30, "21-30")
        .when(F.col("l_quantity") <= 40, "31-40")
        .otherwise("41+")
    )
    g = li.groupBy(band.alias("qty_band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.col("l_discount").cast("decimal(6,4)")).alias("sdisc"),
        F.sum(dec2("l_extendedprice")).alias("sprice"),
        F.sum(F.col("l_quantity").cast("decimal(8,2)")).alias("sqty"),
    )
    tot = g.agg(F.sum("sprice").cast("double").alias("tp"))
    return g.crossJoin(F.broadcast(tot)).select(
        "qty_band",
        "n_items",
        F.round(F.col("sdisc").cast("double") / F.col("n_items"), 6).alias(
            "avg_discount"
        ),
        F.round(
            F.col("sprice").cast("double") / F.col("sqty").cast("double"), 4
        ).alias("avg_unit_price"),
        F.round(F.col("sprice").cast("double") / F.col("tp"), 6).alias(
            "revenue_share"
        ),
    )


@register(
    "q261_order_size_dispersion",
    oracle="""
WITH sz AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_orderkey
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(n_lines) AS DOUBLE) AS s1,
    CAST(SUM(n_lines * n_lines) AS DOUBLE) AS s2
  FROM sz
), hist AS (
  SELECT n_lines, CAST(COUNT(*) AS BIGINT) AS n_orders_at
  FROM sz GROUP BY n_lines
)
SELECT h.n_lines, h.n_orders_at,
  round(CAST(h.n_orders_at AS DOUBLE) / m.n_orders, 6) AS share,
  round(m.s1 / m.n_orders, 4) AS mean_lines,
  round((m.s2 / m.n_orders - (m.s1 / m.n_orders) * (m.s1 / m.n_orders))
        / (m.s1 / m.n_orders), 4) AS dispersion_index
FROM hist h CROSS JOIN m
""",
    tags=("analytics", "stats", "dq"),
)
def q261_order_size_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size histogram with the variance-to-mean dispersion index:
    how many line items orders carry, and whether the count process is
    Poisson-like (index ≈ 1), under-dispersed (< 1 — a generator or
    policy caps lines per order) or over-dispersed (> 1 — bursty
    baskets). The index is the one-number distribution-shape check a
    synthetic-data audit reads first; TPC-H's generator is uniform
    1..7, so under-dispersion here is the expected signature.

    Plan shape: one hash agg to order grain (the natural l_orderkey
    reduction), then a |distinct sizes|-row histogram and a 1-row
    moment frame broadcast back — n_lines·n_lines stays far inside
    BIGINT (line counts are domain-bounded). All surfaced doubles are
    exact-integer-ratio chains rounded for display."""
    li = load_table(spark, sf_dir, "lineitem")
    sz = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    m = sz.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("n_lines").cast("double").alias("s1"),
        F.sum(F.col("n_lines") * F.col("n_lines")).cast("double").alias("s2"),
    )
    hist = sz.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders_at")
    )
    mean = F.col("s1") / F.col("n_orders")
    return hist.crossJoin(F.broadcast(m)).select(
        "n_lines",
        "n_orders_at",
        F.round(
            F.col("n_orders_at").cast("double") / F.col("n_orders"), 6
        ).alias("share"),
        F.round(mean, 4).alias("mean_lines"),
        F.round(
            (F.col("s2") / F.col("n_orders") - mean * mean) / mean, 4
        ).alias("dispersion_index"),
    )


def _sql_twin(spark: SparkSession, sf_dir: str, template: str,
              tables: list[str]) -> DataFrame:
    """Run a dialect-shared SQL template on Spark temp views of the
    fixture tables. The SAME template string (module below formats it
    with the DuckDB table names) is the oracle — one parse tree, two
    engines, so every float expression evaluates the identical op
    order on both sides (the strongest form of the compat contract for
    statistics queries whose z/ρ denominators are sqrt trees)."""
    names = {}
    for t in tables:
        v = f"tw_{t}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(v)
        names[t] = v
    return spark.sql(template.format(**names))


# Mann-Whitney U (rank-sum) between every pair of document sources.
# All rank math is INTEGER-EXACT: avg tie ranks ride as 2×rank
# (rx2 = 2*n_less + cnt + 1), so U surfaces as exact halves and the
# normal-approximation z is one double expression over exact integer
# inputs (sqrt is IEEE-correctly-rounded — bit-identical cross-engine).
_Q296_SQL = """
WITH vals AS (SELECT source, n_chars AS v FROM {documents}),
counts AS (SELECT source, v, COUNT(*) AS c FROM vals GROUP BY source, v),
srcs AS (SELECT DISTINCT source FROM vals),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a JOIN srcs b ON a.source < b.source
),
pc AS (
  -- two equi-joins, not an OR condition: an OR join degenerates to a
  -- nested-loop plan on both engines; the union of hash joins stays
  -- broadcastable at any pair-grid size
  SELECT p.sa, p.sb, c.source, c.v, c.c
  FROM pairs p JOIN counts c ON c.source = p.sa
  UNION ALL
  SELECT p.sa, p.sb, c.source, c.v, c.c
  FROM pairs p JOIN counts c ON c.source = p.sb
),
grouped AS (
  SELECT sa, sb, v, SUM(c) AS cnt,
         SUM(CASE WHEN source = sa THEN c ELSE 0 END) AS ca
  FROM pc GROUP BY sa, sb, v
),
ranked AS (
  SELECT sa, sb, v, cnt, ca,
    COALESCE(SUM(cnt) OVER (PARTITION BY sa, sb ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_less
  FROM grouped
),
stats AS (
  SELECT sa, sb,
    CAST(SUM(ca) AS BIGINT) AS n_a,
    CAST(SUM(cnt - ca) AS BIGINT) AS n_b,
    CAST(SUM(ca * (2 * n_less + cnt + 1)) AS BIGINT) AS r2_a,
    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_t
  FROM ranked GROUP BY sa, sb
)
SELECT sa AS source_a, sb AS source_b, n_a, n_b,
  CAST(r2_a - n_a * (n_a + 1) AS DOUBLE) / 2 AS u_stat,
  round((r2_a - n_a * (n_a + 1) - n_a * n_b)
        / NULLIF(2 * sqrt((n_a * CAST(n_b AS DOUBLE) / 12)
            * ((n_a + n_b + 1)
               - CAST(tie_t AS DOUBLE)
                 / ((n_a + n_b) * (n_a + n_b - 1.0)))), 0), 4) AS z
FROM stats
"""


@register(
    "q296_mann_whitney_u",
    oracle=_Q296_SQL.format(documents="documents"),
    tags=("analytics", "stats", "llm"),
)
def q296_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between every pair of document
    sources on doc length — the NONPARAMETRIC two-sample location test
    (no normality assumption, robust to the heavy-tailed length
    distributions real corpora have; the parametric KS/t-test family
    is covered by q189/q250). Tie handling is the textbook
    average-rank rule with the tie-corrected variance.

    Determinism: ranks never materialize per row — per-VALUE counts
    carry (2×avg-rank) as exact integers, so U is exact and z's only
    float ops are one shared expression tree over exact ints (sqrt is
    correctly rounded per IEEE-754 — identical on both engines; the
    oracle IS this same template).

    Scale shape: one hash agg to per-(source, value) counts (tiny:
    |values| per source), a 20×20 pair grid over those count rows —
    the corpus itself is read once and never joined pairwise."""
    return _sql_twin(spark, sf_dir, _Q296_SQL, ["documents"])


# SPRT constants, computed once and INLINED as integer literals in
# micro-units (×1e6) on both sides — the walk and both boundary
# comparisons are pure int64 arithmetic, so the stopping decision can
# never flip on a libm ulp: round(ln(0.22/0.18)*1e6), round(ln(0.78/
# 0.82)*1e6), round(ln(19)*1e6)  [alpha = beta = 0.05].
_SPRT_C1 = 200671
_SPRT_C0 = -50010
_SPRT_A = 2944439

_Q297_SQL = f"""
WITH base AS (
  SELECT user_id % 2 AS arm,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s,
    date_trunc('second', ts) AS tsec, event_id
  FROM {{events}}
),
obs AS (
  SELECT arm, s,
    row_number() OVER (PARTITION BY arm ORDER BY tsec, event_id) AS rn
  FROM base
),
walk AS (
  SELECT arm, rn,
    SUM(s) OVER (PARTITION BY arm ORDER BY rn) AS ns
  FROM obs
),
llr AS (
  SELECT arm, rn, ns * {_SPRT_C1} + (rn - ns) * {_SPRT_C0} AS cum_m
  FROM walk
),
crossing AS (
  SELECT arm, rn, cum_m,
    CASE WHEN cum_m >= {_SPRT_A} THEN 'accept_h1'
         WHEN cum_m <= -{_SPRT_A} THEN 'accept_h0' END AS hit
  FROM llr
),
first_hit AS (
  SELECT arm, min(rn) AS stop_rn FROM crossing
  WHERE hit IS NOT NULL GROUP BY arm
),
last AS (SELECT arm, max(rn) AS max_rn FROM obs GROUP BY arm),
sel AS (
  SELECT l.arm, COALESCE(f.stop_rn, l.max_rn) AS at_rn
  FROM last l LEFT JOIN first_hit f ON f.arm = l.arm
)
SELECT s.arm, c.rn AS n_obs, CAST(c.cum_m AS BIGINT) AS llr_micro,
  COALESCE(c.hit, 'continue') AS decision
FROM sel s JOIN crossing c ON c.arm = s.arm AND c.rn = s.at_rn
"""


@register(
    "q297_sprt_sequential_test",
    oracle=_Q297_SQL.format(events="events"),
    tags=("analytics", "stats", "behavioral"),
)
def q297_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT — SEQUENTIAL hypothesis testing over an event
    stream (the always-valid monitoring an A/B platform runs instead
    of fixed-horizon tests, q254/q257's complement): per arm, walk the
    purchase/no-purchase log-likelihood ratio in event order and stop
    at the first crossing of the ±ln((1-β)/α) boundary (H0 p=0.18 vs
    H1 p=0.22, α=β=0.05). The fixture's true rate (~0.198) sits
    between the hypotheses — the walk legitimately meanders, and
    whatever it does is exactly replayed.

    Determinism: the LLR increments are data-independent CONSTANTS,
    inlined as ×1e6 integer literals on both sides — the entire walk
    and both boundary tests are int64 arithmetic; no libm call can
    flip a stopping decision (the q119 fixed-point lesson applied to
    sequential statistics).

    Scale shape: one window-sum per arm over (ts, event_id) order; the
    crossing scan is a filter + min — no iteration, no driver loop."""
    return _sql_twin(spark, sf_dir, _Q297_SQL, ["events"])


_Q298_SQL = """
WITH seg AS (
  -- COALESCE: the step-up rank below is an INNER theta self-join, and
  -- a NULL lang/source would fail every branch of its predicate
  -- (including the self-match) and silently vanish from the output —
  -- a divergence from the window-rank semantics this replaced that no
  -- oracle differential can see because both engines run this SQL
  -- (ADVICE r7). Fixture lang/source are non-null, so values are
  -- unchanged; the sentinel only makes the join total.
  SELECT COALESCE(lang, '') AS lang, COALESCE(source, '') AS source,
    COUNT(*) AS n,
    SUM(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS k
  FROM {documents} GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(k) AS DOUBLE) / SUM(n) AS p0 FROM seg),
p AS (
  SELECT lang, source, n,
    round(exp(-2.0 * n * pow(CAST(k AS DOUBLE) / n
                             - (SELECT p0 FROM tot), 2)), 8) AS p_val
  FROM seg
),
r AS (
  SELECT /*+ BROADCAST(b) */ a.lang, a.source, a.n, a.p_val,
    COUNT(*) AS i
  FROM p a JOIN p b
    ON b.p_val < a.p_val
    OR (b.p_val = a.p_val AND (b.lang < a.lang
        OR (b.lang = a.lang AND b.source <= a.source)))
  GROUP BY a.lang, a.source, a.n, a.p_val
),
thresh AS (SELECT max(i) AS i_star FROM r
           WHERE p_val * (SELECT COUNT(*) FROM p) <= i * 0.10)
SELECT lang, source, CAST(n AS BIGINT) AS n_docs, p_val,
  (i <= COALESCE((SELECT i_star FROM thresh), 0)) AS rejected
FROM r
"""


@register(
    "q298_bh_fdr_control",
    oracle=_Q298_SQL.format(documents="documents"),
    tags=("analytics", "stats", "llm"),
)
def q298_bh_fdr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a family of per-segment
    enrichment tests — the MULTIPLE-TESTING correction every
    segment-scanning dashboard needs (testing 60 segments at α=0.05
    expects 3 false alarms; BH caps the false-discovery RATE instead).
    Per (lang, source) segment: Hoeffding-bound p-value for "long-doc
    share differs from the corpus rate", then the BH step-up: sort
    p ascending, reject ranks 1..i* where i* = max{{i : p(i) ≤ (i/m)q}}
    at q = 0.10.

    The p-value is a closed-form exp() — rounded to 8 digits on both
    sides BEFORE the step-up comparison, so a libm ulp can only matter
    if a rounded p lands exactly on its (i/m)q threshold (measure-zero
    on continuous statistics; the accepted q83f-class boundary).

    Scale shape: one hash agg to segments, then all work is over the
    |segments|-row frame — metadata-sized, so the step-up rank runs as
    a windowless broadcast theta self-join (rank = count of (p, lang,
    source)-tuples ≤ mine; the registry lint bans the unpartitioned
    window the first cut used, and |segments| is bounded by the
    lang×source grid, so the |seg|² pair count is a constant, never a
    data term). The BROADCAST hint pins the non-equi join to
    BroadcastNestedLoop on the Spark side; DuckDB reads it as a plain
    comment."""
    return _sql_twin(spark, sf_dir, _Q298_SQL, ["documents"])


# Spearman ρ per return-flag between discount and quantity: 2×avg-ranks
# are exact integers; the five moment sums ride in DECIMAL(38,0) (the
# round-4 overflow lesson: n·Σr² ≈ 5e23 at sf0.1 — far past int64);
# ρ is one double expression over those exact sums.
_Q299_SQL = """
WITH t AS (
  SELECT l_returnflag AS grp, l_discount AS x, l_quantity AS y
  FROM {lineitem}
),
cx AS (SELECT grp, x, COUNT(*) AS c FROM t GROUP BY grp, x),
rx AS (
  SELECT grp, x,
    2 * COALESCE(SUM(c) OVER (PARTITION BY grp ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
      AS rx2
  FROM cx
),
cy AS (SELECT grp, y, COUNT(*) AS c FROM t GROUP BY grp, y),
ry AS (
  SELECT grp, y,
    2 * COALESCE(SUM(c) OVER (PARTITION BY grp ORDER BY y
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
      AS ry2
  FROM cy
),
j AS (
  SELECT t.grp, rx.rx2, ry.ry2
  FROM t
  JOIN rx ON rx.grp = t.grp AND rx.x = t.x
  JOIN ry ON ry.grp = t.grp AND ry.y = t.y
),
s AS (
  SELECT grp, COUNT(*) AS n,
    SUM(CAST(rx2 AS DECIMAL(38,0))) AS sx,
    SUM(CAST(ry2 AS DECIMAL(38,0))) AS sy,
    SUM(CAST(rx2 AS DECIMAL(38,0)) * rx2) AS sxx,
    SUM(CAST(ry2 AS DECIMAL(38,0)) * ry2) AS syy,
    SUM(CAST(rx2 AS DECIMAL(38,0)) * ry2) AS sxy
  FROM j GROUP BY grp
)
SELECT grp AS l_returnflag, CAST(n AS BIGINT) AS n_rows,
  round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
        / NULLIF(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)),
                 0), 5) AS spearman_rho
FROM s
"""


@register(
    "q299_spearman_rank_corr",
    oracle=_Q299_SQL.format(lineitem="lineitem"),
    tags=("analytics", "stats"),
)
def q299_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (discount vs quantity per return
    flag) — the RANK-based dependence measure that catches monotone-
    but-nonlinear relationships Pearson (q205/q233's family) misses
    and ignores outliers entirely. Average-rank tie handling, exact:
    2×avg-ranks are integers carried per distinct VALUE (never a
    per-row rank shuffle), the five moment sums accumulate in
    DECIMAL(38,0) (order-independent, overflow-proof past int64), and
    ρ is one shared double expression over those exact sums — the
    oracle runs the identical template.

    Scale shape: two per-value count aggs (|distinct values| rows),
    two broadcast-sized rank joins back to the fact rows, one moment
    agg — no row-level window over the fact table anywhere."""
    return _sql_twin(spark, sf_dir, _Q299_SQL, ["lineitem"])


_Q309_SQL = """
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM {events}
),
tot AS (SELECT COUNT(*) AS n FROM e),
arm AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM e GROUP BY event_type
)
SELECT event_type, n_events, sum_cents,
  round(CAST((SELECT n FROM tot) AS DOUBLE) / (5 * n_events), 6) AS ips_weight,
  round(CAST(sum_cents AS DOUBLE) / (5 * n_events) / 100, 6)
    AS ips_contribution
FROM arm
"""


@register(
    "q309_ips_offpolicy_eval",
    oracle=_Q309_SQL.format(events="events"),
    tags=("analytics", "stats", "behavioral"),
)
def q309_ips_offpolicy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-scored OFF-POLICY evaluation — estimate what
    the average event value WOULD be under a uniform target policy
    over the 5 event types, from logs collected under the empirical
    logging policy (the counterfactual question every
    recommendation/bandit system answers before shipping a policy
    change, without an online experiment). IPS weight per type =
    p_target/p_logged = N/(5·n_type); the estimate decomposes into
    per-type contributions Σvalue/(5·n_type) — surfaced per type so
    the variance-dominating rare types are visible (the practical
    failure mode of IPS).

    Determinism: values ride as integer cents, counts are exact; the
    weights and contributions are single double expressions over exact
    ints, shared-template on both engines.

    Scale shape: one hash agg on the 5 types; everything downstream is
    5 rows."""
    return _sql_twin(spark, sf_dir, _Q309_SQL, ["events"])


_Q326_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS k FROM {orders}
  WHERE o_orderkey % 211 <> 0
    AND o_orderkey % 500 NOT IN (123, 124, 125)
),
o AS (
  SELECT k, lead(k) OVER (ORDER BY k) AS nxt FROM k
)
SELECT k AS gap_start_after, nxt AS resumes_at,
  CAST(nxt - k - 1 AS BIGINT) AS missing_keys
FROM o WHERE nxt - k > 1
"""


@register(
    "q326_sequence_gap_detection",
    oracle=_Q326_SQL.format(orders="orders"),
    tags=("analytics", "dq"),
)
def q326_sequence_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAP detection over an identifier sequence (the ingestion-
    completeness audit: a gap in an append-only key sequence is a lost
    batch, a silent producer failure, or a retention hole): every
    maximal missing range of order keys with its width — the
    gaps-and-islands complement of q234's islands. The fixture key
    sequence is DENSE (profiled: 0 gaps at every sf), which would make
    the oracle comparison vacuous (empty == empty); a deterministic
    retention hole (k % 211 == 0 dropped, plus a width-3 hole every
    500 keys) is injected and mirrored verbatim in the oracle — the
    hash row attests the gap detection, not the synthesis (the q302
    injected-mirror pattern).

    Scale shape (the carry pattern, implemented — the registry lint
    bans the one-task global lead the first cut used; the oracle keeps
    it as the spec): keys bucket by range (k div 4096), lead() runs
    PARTITIONED per bucket, and each bucket's last key stitches to the
    next OCCUPIED bucket's min via a broadcast theta join over the
    bucket-summary frame (|keys|/4096 rows; at 100 TB widen the
    bucket or recurse the same stitch one level — the summary is
    min/max per bucket either way). Gap rows scale with GAPS, not
    keys."""
    from pyspark.sql import Window

    k = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderkey") % 211 != 0)
            & (~(F.col("o_orderkey") % 500).isin(123, 124, 125))
        )
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .withColumn("bkt", F.expr("CAST(k div 4096 AS BIGINT)"))
    )
    wb = Window.partitionBy("bkt").orderBy("k")
    summ = k.groupBy("bkt").agg(F.min("k").alias("min_k"))
    nxtb = (
        summ.alias("a")
        .join(
            F.broadcast(summ.alias("b")),
            F.col("b.bkt") > F.col("a.bkt"),
            "left",
        )
        .groupBy(F.col("a.bkt").alias("bkt"))
        .agg(F.min("b.min_k").alias("next_min"))
    )
    return (
        k.withColumn("nxt_local", F.lead("k").over(wb))
        .join(F.broadcast(nxtb), "bkt", "left")
        .withColumn("nxt", F.coalesce("nxt_local", "next_min"))
        .filter(F.col("nxt") - F.col("k") > 1)
        .select(
            F.col("k").alias("gap_start_after"),
            F.col("nxt").alias("resumes_at"),
            (F.col("nxt") - F.col("k") - 1).cast("bigint").alias(
                "missing_keys"
            ),
        )
    )


_Q327_SQL = """
WITH c AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty, COUNT(*) AS n
  FROM {lineitem} GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
),
r AS (
  SELECT l_returnflag, qty, n,
    row_number() OVER (PARTITION BY l_returnflag
                       ORDER BY n DESC, qty) AS rk,
    SUM(n) OVER (PARTITION BY l_returnflag) AS total
  FROM c
)
SELECT l_returnflag, qty AS mode_qty,
  CAST(n AS BIGINT) AS mode_count,
  round(CAST(n AS DOUBLE) / total, 6) AS mode_share
FROM r WHERE rk = 1
""".replace("CAST(l_quantity AS BIGINT)", "CAST(l_quantity AS BIGINT)")


@register(
    "q327_exact_mode_by_group",
    oracle=_Q327_SQL.format(lineitem="lineitem"),
    tags=("agg", "analytics"),
)
def q327_exact_mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE per group with a total-order tiebreak (both engines'
    builtin mode() leaves ties implementation-defined — useless under
    a cross-engine hash): most frequent quantity per return flag,
    ties to the smallest value, plus the mode's share of the group.
    The deterministic-tiebreak discipline is the point: a mode that
    can flip between equally-frequent values is not a reportable
    statistic.

    Scale shape: value-grain hash agg then a per-group top-1 over the
    count frame (WindowGroupLimit heap) — never a per-row window."""
    return _sql_twin(spark, sf_dir, _Q327_SQL, ["lineitem"])


_Q328_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
    CAST(o_orderdate AS DATE) AS od,
    CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio
  FROM {orders}
),
w AS (
  SELECT o_custkey, o_orderkey, od, prio,
    min(prio) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS best_earlier_prio
  FROM o
)
SELECT o_custkey, o_orderkey,
  CAST(prio AS BIGINT) AS prio,
  CAST(best_earlier_prio AS BIGINT) AS best_earlier_prio
FROM w
WHERE best_earlier_prio IS NOT NULL AND prio < best_earlier_prio
"""


@register(
    "q328_priority_inversion_audit",
    oracle=_Q328_SQL.format(orders="orders"),
    tags=("analytics", "window", "dq"),
)
def q328_priority_inversion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-INVERSION audit: orders that arrived URGENT (lower
    priority digit) for a customer whose earlier orders were all less
    urgent — the escalation signal (a customer upgrading priority
    mid-relationship) that a per-order view can't see because it needs
    each row compared against the running best of everything before
    it. One running-min window, exact integer comparisons,
    tz-independent epoch-day ordering.

    Scale shape: one per-customer window (running min over the
    arrival order) — single shuffle on the customer key, then a
    filter; output scales with inversions."""
    return _sql_twin(spark, sf_dir, _Q328_SQL, ["orders"])


_Q334_SQL = """
WITH pts AS (
  SELECT event_type, CAST((month(ts) - 1) * 31 + day(ts) AS BIGINT) AS x,
         CAST(round(value) AS BIGINT) AS y
  FROM {events}
), s AS (
  SELECT event_type, COUNT(*) AS n,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY event_type
), d AS (
  SELECT event_type, n, sx, sy,
    n * sxy - sx * sy AS num,
    n * sxx - sx * sx AS den,
    n * syy - sy * sy AS syd
  FROM s
)
SELECT event_type, CAST(n AS BIGINT) AS n_points,
  round(CAST(num AS DOUBLE) / den, 6) AS slope,
  round((sy - CAST(num AS DOUBLE) / den * sx) / n, 6) AS intercept,
  round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
        / (CAST(den AS DOUBLE) * CAST(syd AS DOUBLE)), 6) AS r2
FROM d
"""


@register(
    "q334_ols_by_group",
    oracle=_Q334_SQL.format(events="events"),
    tags=("analytics", "stats"),
)
def q334_ols_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (slope/intercept/R²) from the
    five sufficient moments — regression as a pure two-phase hash
    aggregate, the scalable alternative to regr_slope's float moments:
    x (day index) and y (whole units) ride as int64, so Σx/Σy/Σxy/Σxx/
    Σyy are EXACT and order-independent; slope, intercept and R² are
    then a handful of double ops over identical integers on both
    engines (int→double casts are correctly rounded everywhere),
    rounded to 6.

    int64 headroom: n·Σy² is the largest term — safe to ~4·10⁶ rows
    per group at y ≤ 10³ (20× probe: 1.2·10¹⁷, 75× under the edge);
    beyond that, production centers y or shards the moments and merges
    (they are sums — trivially mergeable), same story as q322.

    Scale shape: one map-side projection + one hash agg to |groups|
    rows; everything after is constant-size."""
    return _sql_twin(spark, sf_dir, _Q334_SQL, ["events"])


_Q335_SQL = """
WITH pts AS (
  SELECT CASE WHEN substring(md5(CAST(user_id AS STRING)), 1, 1) < '8'
              THEN 'treat' ELSE 'control' END AS grp,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM {events}
), s AS (
  SELECT grp, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sv,
         CAST(SUM(cents * cents) AS BIGINT) AS svv
  FROM pts GROUP BY grp
), w AS (
  SELECT
    MAX(CASE WHEN grp = 'treat' THEN n END) AS nt,
    MAX(CASE WHEN grp = 'treat' THEN sv END) AS st,
    MAX(CASE WHEN grp = 'treat' THEN svv END) AS stt,
    MAX(CASE WHEN grp = 'control' THEN n END) AS nc,
    MAX(CASE WHEN grp = 'control' THEN sv END) AS sc,
    MAX(CASE WHEN grp = 'control' THEN svv END) AS scc
  FROM s
), v AS (
  SELECT nt, nc,
    CAST(st AS DOUBLE) / nt AS mt, CAST(sc AS DOUBLE) / nc AS mc,
    (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / nt) / (nt - 1) AS vt,
    (CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / nc) / (nc - 1) AS vc
  FROM w
), se AS (SELECT nt, nc, mt, mc, vt, vc, vt / nt + vc / nc AS se2 FROM v)
SELECT CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_control,
  round(mt / 100, 6) AS mean_treat, round(mc / 100, 6) AS mean_control,
  round((mt - mc) / sqrt(se2), 4) AS t_stat,
  round(se2 * se2 / ((vt / nt) * (vt / nt) / (nt - 1)
                     + (vc / nc) * (vc / nc) / (nc - 1)), 2) AS df_welch
FROM se
"""


@register(
    "q335_welch_ttest",
    oracle=_Q335_SQL.format(events="events"),
    tags=("analytics", "stats"),
)
def q335_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the md5 A/B arms (the
    ab_treat assignment the SRM/lift/power family audits): mean,
    sample variance, t statistic and Welch–Satterthwaite df — all from
    exact int64 sufficient statistics (cents and cents², order-
    independent sums), so every double expression evaluates over
    identical integers on both engines; one shared SQL template makes
    the op ORDER identical too (the q296 z-statistic discipline).

    Complements q296 (Mann-Whitney, rank-based): Welch is the
    parametric arm of the same experiment-readout family and the one
    the power planner's variance inputs actually assume.

    Scale shape: single hash agg to 2 rows; the test is O(1) after the
    map-side projection."""
    return _sql_twin(spark, sf_dir, _Q335_SQL, ["events"])


_Q336_SQL = """
WITH vals AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice) AS BIGINT) AS dollars
  FROM {orders}
), counts AS (
  SELECT grp, dollars, COUNT(*) AS c FROM vals GROUP BY grp, dollars
), cum AS (
  SELECT grp, dollars, c,
    SUM(c) OVER (PARTITION BY grp ORDER BY dollars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM counts
), agg AS (
  SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
    CAST(SUM(c * dollars) AS BIGINT) AS total,
    CAST(SUM(dollars * c * (2 * m - c + 1)) AS BIGINT) AS two_s1
  FROM cum GROUP BY grp
)
SELECT grp AS o_orderpriority, n AS n_orders,
  round(CAST(two_s1 AS DOUBLE) / (CAST(n AS DOUBLE) * total)
        - (CAST(n AS DOUBLE) + 1) / n, 6) AS gini
FROM agg
"""


@register(
    "q336_gini_by_segment",
    oracle=_Q336_SQL.format(orders="orders"),
    tags=("analytics", "stats"),
)
def q336_gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini inequality coefficient of order value per priority class —
    the rank-weighted formula G = 2·Σᵢ i·x₍ᵢ₎/(n·Σx) − (n+1)/n made
    SCALE-SAFE with the q322 counts-of-counts trick: ranks never
    materialize per row; for each distinct value v with count c and
    inclusive cumulative count m, Σ i·x over its tie-run is
    v·c·(2m−c+1)/2 exactly, so the whole statistic reduces over the
    |distinct values| frame. All integer until one final division.

    int64 headroom: the tie-run term is ≤ dollars·c·2n — safe to
    ~10⁷ orders per group at 5·10⁴ dollar cap (20× probe: 9·10¹⁷);
    beyond that production quantizes values into equi-width buckets
    first (the standard big-data Gini), shrinking c·m products.

    Scale shape: hash agg to distinct values, one PARTITIONED
    cumulative window over the value-count frame, final group agg —
    never a per-row rank."""
    return _sql_twin(spark, sf_dir, _Q336_SQL, ["orders"])


_Q337_SQL = """
WITH rev AS (
  SELECT n.n_name AS nation, l.l_suppkey AS s,
    CAST(SUM(CAST(round(l.l_extendedprice) AS BIGINT)) AS BIGINT) AS r
  FROM {lineitem} l
  JOIN {supplier} su ON su.s_suppkey = l.l_suppkey
  JOIN {nation} n ON n.n_nationkey = su.s_nationkey
  GROUP BY n.n_name, l.l_suppkey
), tot AS (
  SELECT nation, CAST(SUM(r) AS BIGINT) AS rt,
         COUNT(*) AS n_suppliers
  FROM rev GROUP BY nation
)
SELECT t.nation, CAST(t.n_suppliers AS BIGINT) AS n_suppliers,
  round(SUM((CAST(r AS DOUBLE) / rt) * (CAST(r AS DOUBLE) / rt)) * 10000,
        4) AS hhi
FROM rev v JOIN tot t ON v.nation = t.nation
GROUP BY t.nation, t.n_suppliers
"""


@register(
    "q337_hhi_concentration",
    oracle=_Q337_SQL.format(
        lineitem="lineitem", supplier="supplier", nation="nation"
    ),
    tags=("analytics", "stats"),
)
def q337_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman market-concentration index per nation:
    Σ (supplier revenue share)² × 10000 — the antitrust/market-power
    census over the supplier dimension. Revenue reduces to exact int64
    dollars per (nation, supplier) first; the share squares are the
    only float stage and are rounded to 4 (float Σ over the
    |suppliers|-sized frame — the standard order-rounding contract).

    Scale shape: fact-side hash agg to (nation, supplier) — the join
    to supplier/nation broadcasts both dims — then a second agg over
    the supplier frame. Nothing after phase 1 scales with lineitem."""
    return _sql_twin(spark, sf_dir, _Q337_SQL, ["lineitem", "supplier", "nation"])


_Q338_SQL = """
WITH e AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice) AS BIGINT) AS dollars,
         CAST(l_quantity AS BIGINT) AS w
  FROM {lineitem}
), counts AS (
  SELECT flag, dollars, CAST(SUM(w) AS BIGINT) AS wc
  FROM e GROUP BY flag, dollars
), cum AS (
  SELECT flag, dollars, wc,
    SUM(wc) OVER (PARTITION BY flag ORDER BY dollars
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
    SUM(wc) OVER (PARTITION BY flag) AS wt
  FROM counts
)
SELECT flag AS l_returnflag, CAST(MAX(wt) AS BIGINT) AS total_weight,
  CAST(MIN(CASE WHEN cm * 100 >= wt * 50 THEN dollars END) AS BIGINT)
    AS p50_w_dollars,
  CAST(MIN(CASE WHEN cm * 100 >= wt * 90 THEN dollars END) AS BIGINT)
    AS p90_w_dollars
FROM cum GROUP BY flag
"""


@register(
    "q338_weighted_percentile",
    oracle=_Q338_SQL.format(lineitem="lineitem"),
    tags=("agg", "stats"),
)
def q338_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted percentile (weight = quantity, value = price):
    the p-quantile is the smallest value whose cumulative WEIGHT
    reaches p·W — q322's two-phase inverse-CDF generalized from counts
    to weights (quantity rides as exact int64). State is |distinct
    values| per group; the threshold comparison is integer
    cross-multiplied (cm·100 ≥ W·p), no float anywhere.

    This is the quantile the reorder-buffer/inventory questions
    actually ask ('the price point below which half the VOLUME
    ships'), not the row-count percentile q322 answers."""
    return _sql_twin(spark, sf_dir, _Q338_SQL, ["lineitem"])


_Q339_SQL = """
WITH s AS (
  SELECT event_type, COUNT(*) AS n,
    SUM(CASE WHEN value > 80 THEN 1 ELSE 0 END) AS k
  FROM {events} GROUP BY event_type
), tot AS (SELECT CAST(SUM(k) AS DOUBLE) / SUM(n) AS pooled FROM s),
w AS (
  SELECT event_type, n, k, CAST(k AS DOUBLE) / n AS p,
         1.959963984540054 AS z
  FROM s
), ci AS (
  SELECT event_type, n, k, p,
    (p + z * z / (2 * n)
       - z * sqrt((p * (1 - p) + z * z / (4 * n)) / n)) / (1 + z * z / n)
      AS lo,
    (p + z * z / (2 * n)
       + z * sqrt((p * (1 - p) + z * z / (4 * n)) / n)) / (1 + z * z / n)
      AS hi
  FROM w
)
SELECT event_type, CAST(n AS BIGINT) AS n_events, CAST(k AS BIGINT) AS n_hits,
  round(p, 6) AS rate, round(lo, 6) AS wilson_lo, round(hi, 6) AS wilson_hi,
  ((SELECT pooled FROM tot) BETWEEN lo AND hi) AS contains_pooled
FROM ci
"""


@register(
    "q339_wilson_ci",
    oracle=_Q339_SQL.format(events="events"),
    tags=("analytics", "stats"),
)
def q339_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score confidence interval for per-segment success rates
    (value > 80 — ~20% base rate in the fixture — as the success proxy): the interval every rate
    dashboard should use instead of the Wald ±z√(p(1-p)/n) that
    collapses at small n or extreme p. Bounds are closed-form doubles
    over exact (n, k) integers — shared template, identical op order —
    plus a contains_pooled boolean locating each segment against the
    pooled rate (the q298-family enrichment readout without its
    multiple-testing machinery, which BH-FDR already covers).

    Scale shape: one hash agg to |segments| rows; O(1) after."""
    return _sql_twin(spark, sf_dir, _Q339_SQL, ["events"])


_Q340_SQL = """
WITH t0 AS (
  SELECT user_id,
    CAST((month(ts) - 1) * 31 + day(ts) AS BIGINT) * 86400
      + hour(ts) * 3600 + minute(ts) * 60 + second(ts) AS ssec
  FROM {events}
), m AS (
  SELECT user_id, ssec,
    MAX(ssec) OVER (PARTITION BY user_id ORDER BY ssec
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS prev
  FROM t0
), f AS (
  SELECT user_id, ssec,
    SUM(CASE WHEN prev IS NULL OR ssec - prev > 1800 THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ssec
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m
), sess AS (
  SELECT user_id, sid, MIN(ssec) AS s0, MAX(ssec) AS s1
  FROM f GROUP BY user_id, sid
), cut AS (SELECT MAX(s1) AS h FROM sess),
obs AS (
  SELECT LEAST(CAST(floor((s1 - s0) / 600.0) AS BIGINT), 48) AS dur,
    CASE WHEN s1 < (SELECT h FROM cut) - 1800 THEN 1 ELSE 0 END AS churned
  FROM sess
), ev AS (
  SELECT dur AS t, COUNT(*) AS at_t, CAST(SUM(churned) AS BIGINT) AS d
  FROM obs GROUP BY dur
), risk AS (
  SELECT /*+ BROADCAST(b) */ a.t, a.d,
    CAST(SUM(b.at_t) AS BIGINT) AS n_risk
  FROM ev a JOIN ev b ON b.t >= a.t
  GROUP BY a.t, a.d
), km AS (
  SELECT /*+ BROADCAST(b) */ a.t, a.d, a.n_risk,
    round(exp(SUM(CASE WHEN b.d < b.n_risk
                       THEN ln(1.0 - CAST(b.d AS DOUBLE) / b.n_risk)
                       ELSE 0.0 END)), 6) AS surv_pos,
    MIN(b.n_risk - b.d) AS min_slack
  FROM risk a JOIN risk b ON b.t <= a.t
  GROUP BY a.t, a.d, a.n_risk
)
SELECT t AS duration_bucket, n_risk, d AS d_ended,
  CASE WHEN min_slack = 0 THEN 0.0 ELSE surv_pos END AS survival
FROM km WHERE d > 0
"""


@register(
    "q340_kaplan_meier",
    oracle=_Q340_SQL.format(events="events"),
    tags=("analytics", "stats", "behavioral"),
)
def q340_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimate of SESSION lifetime (duration =
    session length in 10-minute buckets, capped at 48; sessions
    ending within 30 minutes of the horizon are right-CENSORED — the
    thing a naive duration histogram gets wrong, since a still-open
    session is not an observed ending): S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ)
    with risk set nᵢ = sessions lasting ≥ tᵢ.

    Plan discipline: sessionization is the standard per-user
    lag/cumulative-flag pair (PARTITIONED windows); the risk-set
    suffix sum and the running product are theta SELF-JOINS over the
    duration frame (≤ 49 rows — bounded by the BUCKET domain, never
    the data; the cap exists precisely to keep it bounded), the q298
    rewrite pattern — an ORDER BY t window there would be the banned
    single-task global window. The product rides as exp(Σ ln(·)) over
    identical doubles (shared template); a risk set fully consumed at
    some tᵢ forces S = 0 exactly via the min_slack guard, never
    ln(0).

    Scale shape: two partitioned windows + one hash agg to sessions,
    one to duration buckets; everything after is O(49²)."""
    return _sql_twin(spark, sf_dir, _Q340_SQL, ["events"])


# Shared base for the bucketed-CDF pair (q341/q342): 64 equi-width
# buckets over the global n_chars range, per-source and global counts,
# and cumulative counts via BOUNDED theta self-joins (the bucket
# domain is 64 no matter the data — an ORDER BY window here would be
# the banned global single-task stage).
_CDF_BASE = """
v AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x FROM {documents}
), rng AS (
  SELECT MIN(x) AS lo, MAX(x) AS hi FROM v
), b AS (
  SELECT source,
    LEAST(CAST(floor((x - (SELECT lo FROM rng)) * 64.0
          / ((SELECT hi FROM rng) - (SELECT lo FROM rng) + 1)) AS BIGINT),
          63) AS bkt
  FROM v
), cs AS (SELECT source, bkt, COUNT(*) AS c FROM b GROUP BY source, bkt),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cs GROUP BY source),
cg AS (SELECT bkt, COUNT(*) AS c FROM b GROUP BY bkt),
ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM b),
grid AS (SELECT DISTINCT bkt FROM cg),
cums AS (
  SELECT a.source, a.bkt, CAST(SUM(b2.c) AS BIGINT) AS cum
  FROM cs a JOIN cs b2 ON b2.source = a.source AND b2.bkt <= a.bkt
  GROUP BY a.source, a.bkt
), cumg AS (
  SELECT a.bkt, CAST(SUM(b2.c) AS BIGINT) AS cum
  FROM cg a JOIN cg b2 ON b2.bkt <= a.bkt
  GROUP BY a.bkt
)
"""

_Q341_SQL = (
    "WITH "
    + _CDF_BASE
    + """, mapped AS (
  SELECT /*+ BROADCAST(g) */ s.source, s.bkt,
    CAST(MIN(CASE WHEN g.cum * ns.n >= s.cum * (SELECT nn FROM ntot)
             THEN g.bkt END) AS BIGINT) AS gbkt
  FROM cums s
  JOIN ns ON ns.source = s.source
  JOIN cumg g ON g.cum * ns.n >= s.cum * (SELECT nn FROM ntot)
  GROUP BY s.source, s.bkt
), final AS (
  SELECT m.source, m.bkt, m.gbkt, cs.c, ns.n
  FROM mapped m
  JOIN cs ON cs.source = m.source AND cs.bkt = m.bkt
  JOIN ns ON ns.source = m.source
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
  round(CAST(SUM(c * bkt) AS DOUBLE) / MAX(n), 6) AS avg_raw_bucket,
  round(CAST(SUM(c * gbkt) AS DOUBLE) / MAX(n), 6) AS avg_norm_bucket
FROM final GROUP BY source
"""
)


@register(
    "q341_quantile_normalize",
    oracle=_Q341_SQL.format(documents="documents"),
    tags=("analytics", "stats", "llm"),
)
def q341_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source length distributions onto
    the GLOBAL distribution (the cross-source calibration step before
    any length-based quality threshold is comparable between a
    verbose and a terse source): each source bucket maps to the
    smallest global bucket at ≥ the same cumulative fraction — the
    inverse-CDF composition F_g⁻¹∘F_s, evaluated entirely in INTEGER
    cross-multiplied comparisons (g_cum·n_s ≥ s_cum·N; no float
    quantiles anywhere), on 64 equi-width buckets.

    Plan discipline: every cumulative is a theta self-join over the
    ≤64-bucket frame — bounded by the BUCKET domain, never the data
    (the q298/q340 rewrite rule); the output avg is exact-int
    products with one final division.

    Scale shape: one map-side bucketing pass + two hash aggs; all
    joins after phase 1 touch ≤ |sources|·64 rows."""
    return _sql_twin(spark, sf_dir, _Q341_SQL, ["documents"])


_Q342_SQL = (
    "WITH "
    + _CDF_BASE
    + """, fs AS (
  SELECT /*+ BROADCAST(grid) */ ns.source, grid.bkt, ns.n,
    CAST(COALESCE(SUM(cs.c), 0) AS BIGINT) AS cum
  FROM ns CROSS JOIN grid
  LEFT JOIN cs ON cs.source = ns.source AND cs.bkt <= grid.bkt
  GROUP BY ns.source, grid.bkt, ns.n
), w AS (
  SELECT fs.source, CAST(MAX(fs.n) AS BIGINT) AS n,
    CAST(SUM(ABS(fs.cum * (SELECT nn FROM ntot) - cumg.cum * fs.n))
         AS BIGINT) AS w1_scaled
  FROM fs JOIN cumg ON cumg.bkt = fs.bkt
  GROUP BY fs.source
)
SELECT source, n AS n_docs, w1_scaled,
  round(CAST(w1_scaled AS DOUBLE)
        / (CAST(n AS DOUBLE) * (SELECT nn FROM ntot)), 6) AS w1_buckets
FROM w
"""
)


@register(
    "q342_wasserstein_1d",
    oracle=_Q342_SQL.format(documents="documents"),
    tags=("analytics", "stats", "llm"),
)
def q342_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between each source's
    length distribution and the corpus — the drift metric that, unlike
    KS (q189/q250) or PSI (q120), weights HOW FAR mass moved, not just
    whether CDFs separate: W₁ = Σ_b |F_s(b) − F(b)| over 64 equi-width
    buckets. The statistic rides as the EXACT integer
    Σ|cumS·N − cumG·n_s| (one scale, one final division) — zero float
    accumulation, so the hash row covers the distance itself, not a
    rounded shadow.

    Plan discipline: the per-source CDF is evaluated on the global
    bucket grid via a broadcast ≤64-row frame + bounded theta join
    (missing buckets inherit the step function via COALESCE(SUM)=0) —
    the q341 machinery reused; no window anywhere.

    Scale shape: identical to q341 — bucketing map + two hash aggs,
    then |sources|·64-bounded joins."""
    return _sql_twin(spark, sf_dir, _Q342_SQL, ["documents"])


@register(
    "q354_skyline_2d",
    oracle="""
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
    CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
), dm AS (SELECT d, CAST(MAX(v) AS BIGINT) AS mx FROM o GROUP BY d),
bb AS (
  SELECT a.d, MAX(b.mx) AS before_mx
  FROM dm a LEFT JOIN dm b ON b.d < a.d
  GROUP BY a.d
)
SELECT o.o_orderkey, o.d AS order_date, o.v AS price_cents
FROM o JOIN dm ON dm.d = o.d JOIN bb ON bb.d = o.d
WHERE o.v = dm.mx AND (bb.before_mx IS NULL OR o.v > bb.before_mx)
""",
    tags=("analytics",),
)
def q354_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) — the classic multi-criteria
    operator: orders not DOMINATED on (earlier date, higher value);
    what's left is the frontier a buyer scanning 'best value soonest'
    actually considers. Decomposed scale-safely: dominance against
    millions of rows reduces to the per-day maximum frame (hash agg)
    plus a strictly-before max via theta self-join over the ≤|days|
    frame — bounded by the calendar domain, never the data (the
    q340/q341 rule; a global ORDER BY date running-max window is the
    banned plan). Same-day value ties both survive, per skyline
    semantics (neither strictly dominates).

    Scale shape: one hash agg to days, |days|² bounded theta join,
    one broadcast join back — the order table is scanned once."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    dm = o.groupBy("d").agg(F.max("v").cast("bigint").alias("mx"))
    a, b = dm.alias("a"), dm.alias("b")
    bb = (
        a.join(b, F.col("b.d") < F.col("a.d"), "left")
        .groupBy(F.col("a.d").alias("d"))
        .agg(F.max("b.mx").alias("before_mx"))
    )
    return (
        o.join(F.broadcast(dm), "d")
        .join(F.broadcast(bb), "d")
        .filter(
            (F.col("v") == F.col("mx"))
            & (F.col("before_mx").isNull() | (F.col("v") > F.col("before_mx")))
        )
        .select("o_orderkey", F.col("d").alias("order_date"),
                F.col("v").alias("price_cents"))
    )


def _q360_sql() -> str:
    rounds = []
    prev = "r0"
    for k in range(1, 21):
        rounds.append(
            f"r{k} AS MATERIALIZED (\n"
            f"  SELECT p.tto AS state, SUM({prev}.v * p.pr) AS v\n"
            f"  FROM {prev} JOIN p ON p.f = {prev}.state GROUP BY p.tto\n)"
        )
        prev = f"r{k}"
    body = ",\n".join(rounds)
    return f"""
WITH t AS (
  SELECT user_id, event_type, event_id,
    CAST((month(ts) - 1) * 31 + day(ts) AS BIGINT) * 86400
      + hour(ts) * 3600 + minute(ts) * 60 + second(ts) AS ssec
  FROM {{events}}
), tr AS (
  SELECT event_type AS tto,
    LAG(event_type) OVER (PARTITION BY user_id
                          ORDER BY ssec, event_id) AS f
  FROM t
), cnt AS MATERIALIZED (
  SELECT f, tto, COUNT(*) AS c FROM tr WHERE f IS NOT NULL
  GROUP BY f, tto
), p AS MATERIALIZED (
  SELECT f, tto,
    CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY f) AS pr
  FROM cnt
), r0 AS MATERIALIZED (SELECT DISTINCT f AS state, 0.2 AS v FROM cnt),
{body}
SELECT state, round(v, 6) AS pi,
  (ABS((SELECT SUM(v) FROM r20) - 1.0) < 0.000001) AS mass_conserved
FROM r20
"""


_Q360_SQL = _q360_sql()


@register(
    "q360_markov_stationary",
    oracle=_Q360_SQL.format(events="events"),
    tags=("analytics", "behavioral", "graph"),
)
def q360_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-behavior Markov chain —
    where the q164 transition matrix SETTLES (the long-run share of
    attention each event type commands, the 5-state cousin of
    PageRank's random surfer): 20 unrolled power-iteration rounds,
    each one |states|²-bounded join + aggregate over the transition
    frame. Unrolled chained CTEs, not recursion — aggregates are
    illegal in a recursive term on both engines, and unrolling is
    exactly how the q119 fixed-point oracle replays iteration.

    Transition probabilities are exact count ratios; iteration floats
    accumulate ≤ 20 ulp of order drift, rounded at 6 with a
    mass-conservation boolean (Σπ = 1 ± 1e-6) as the stochasticity
    guard.

    Scale shape: the data-sized work is one partitioned LAG + one
    hash agg to the 5×5 matrix, which is then PINNED with
    localCheckpoint before the rounds — without the pin Spark
    re-derives the whole events subtree once per round (the q360
    first-cut measured 77 s at sf0.01; pinned it is ~4 s), the same
    lineage tax every iterative kernel here pays once. Each round is
    a ≤25-row join; the driver loop carries no data."""
    from ..functions.compat import epoch_secs

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", epoch_secs("ts").alias("ssec")
    )
    w = Window.partitionBy("user_id").orderBy("ssec", "event_id")
    tr = e.select(
        F.col("event_type").alias("tto"),
        F.lag("event_type").over(w).alias("f"),
    ).filter(F.col("f").isNotNull())
    cnt = tr.groupBy("f", "tto").agg(F.count(F.lit(1)).alias("c"))
    p = cnt.select(
        "f",
        "tto",
        (
            F.col("c").cast("double")
            / F.sum("c").over(Window.partitionBy("f"))
        ).alias("pr"),
    ).transform(checkpoint_df)
    v = (
        p.select(F.col("f").alias("state"))
        .distinct()
        .withColumn("v", F.lit(0.2))
        .transform(checkpoint_df)
    )
    for _ in range(20):
        v = (
            v.join(p, v.state == p.f)
            .groupBy(F.col("tto").alias("state"))
            .agg(F.sum(F.col("v") * F.col("pr")).alias("v"))
            .transform(checkpoint_df)
        )
    total = v.agg(F.sum("v").alias("s"))
    return v.crossJoin(F.broadcast(total)).select(
        "state",
        F.round(F.col("v"), 6).alias("pi"),
        (F.abs(F.col("s") - 1.0) < 0.000001).alias("mass_conserved"),
    )


@register(
    "q365_isoweek_rollup",
    oracle=f"""
SELECT CAST(isoyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_year,
  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  {sql_dsum("CAST(o_totalprice AS DECIMAL(12,2))", "revenue")}
FROM orders
GROUP BY 1, 2
""",
    tags=("analytics", "scalar"),
)
def q365_isoweek_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 week rollup — the calendar trap every weekly report
    hits: early-January days belong to the PREVIOUS iso-year's week
    52/53 (and late-December to week 1 of the next), so grouping by
    (year(d), weekofyear(d)) silently splits those weeks into
    phantom buckets. The correct key is (YEAROFWEEK, weekofyear) —
    verified here cross-engine (Spark extract(YEAROFWEEK) ≡ DuckDB
    isoyear, both ISO), with exact decimal revenue.

    Scale shape: map-side calendar functions + one hash agg — the
    value is the SEMANTIC parity pin, not the plan."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.expr("extract(YEAROFWEEK FROM CAST(o_orderdate AS DATE))")
            .cast("bigint")
            .alias("iso_year"),
            F.weekofyear(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("iso_week"),
            dec2("o_totalprice").alias("p"),
        )
        .groupBy("iso_year", "iso_week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum(F.col("p"), "revenue"),
        )
    )


@register(
    "q368_pareto_share",
    oracle="""
WITH cust AS (
  SELECT c.c_mktsegment AS seg, o.o_custkey,
    CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_mktsegment, o.o_custkey
), ranked AS (
  SELECT seg, rev,
    row_number() OVER (PARTITION BY seg
                       ORDER BY rev DESC, o_custkey) AS rk,
    SUM(rev) OVER (PARTITION BY seg ORDER BY rev DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cum,
    SUM(rev) OVER (PARTITION BY seg) AS tot,
    COUNT(*) OVER (PARTITION BY seg) AS n
  FROM cust
)
SELECT seg AS c_mktsegment, CAST(MAX(n) AS BIGINT) AS n_customers,
  round(CAST(MIN(CASE WHEN cum * 100 >= tot * 50 THEN rk END)
             AS DOUBLE) / MAX(n), 6) AS cust_frac_rev50,
  round(CAST(MIN(CASE WHEN cum * 100 >= tot * 80 THEN rk END)
             AS DOUBLE) / MAX(n), 6) AS cust_frac_rev80,
  round(CAST(MIN(CASE WHEN cum * 100 >= tot * 90 THEN rk END)
             AS DOUBLE) / MAX(n), 6) AS cust_frac_rev90
FROM ranked GROUP BY seg
""",
    tags=("analytics",),
)
def q368_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto revenue concentration — 'what fraction of customers
    produce 50/80/90% of revenue' per market segment, the 80/20
    readout q188's fixed deciles can't answer directly (it bins
    customers evenly; this inverts the curve at given REVENUE
    levels). Customers rank by exact integer revenue within their
    segment (PARTITIONED window with full tiebreaks); the crossing
    rank is an integer cross-multiplied pick, divided once.

    Scale shape: hash agg to (segment, customer), partitioned
    window over the customer frame, final 5-row agg. The window
    input is |customers| — at extreme scale swap in the
    counts-of-counts decomposition (q336's Gini trick); at any
    realistic segment cardinality the partitioned sort is cheap."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("seg", "o_custkey")
        .agg(F.sum("cents").cast("bigint").alias("rev"))
    )
    wo = Window.partitionBy("seg").orderBy(F.col("rev").desc(), "o_custkey")
    ranked = (
        cust.withColumn("rk", F.row_number().over(wo))
        .withColumn(
            "cum", F.sum("rev").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("tot", F.sum("rev").over(Window.partitionBy("seg")))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("seg")))
    )

    def frac(p: int, alias: str):
        return F.round(
            F.min(
                F.when(F.col("cum") * 100 >= F.col("tot") * p, F.col("rk"))
            ).cast("double")
            / F.max("n"),
            6,
        ).alias(alias)

    return ranked.groupBy("seg").agg(
        F.max("n").cast("bigint").alias("n_customers"),
        frac(50, "cust_frac_rev50"),
        frac(80, "cust_frac_rev80"),
        frac(90, "cust_frac_rev90"),
    ).withColumnRenamed("seg", "c_mktsegment")


# ---------------------------------------------------------------------
# Round-9 statistics families (q382-…): all shared-template twins — one
# SQL string, two engines (the strongest compat form, _sql_twin) — with
# integer-exact moments inside, the grid-int trick for any sum of
# per-row doubles (round each identical double onto a fixed integer
# grid, SUM the BIGINTs exactly, divide once at the end: Spark's
# partition-order double sums can never drift from DuckDB's serial
# ones), and NumPy first-principles twins in tests/test_round9_twins.py
# (the round-8 habit: a shared template shares bugs; the twin doesn't).
# ---------------------------------------------------------------------

_Q382_SQL = """
WITH vals AS (
  SELECT source, n_chars AS v FROM {documents}
), bysrc AS (
  SELECT source, v, COUNT(*) AS c FROM vals GROUP BY source, v
), pooled AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS l FROM bysrc GROUP BY v
), tot AS (
  SELECT CAST(SUM(l) AS BIGINT) AS nn FROM pooled
), srcs AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS na FROM bysrc GROUP BY source
), grid AS (
  -- per (source, distinct pooled value): this source's count at v
  SELECT /*+ BROADCAST(s) */ s.source, s.na, p.v, p.l,
    COALESCE(b.c, 0) AS ca
  FROM pooled p
  CROSS JOIN srcs s
  LEFT JOIN bysrc b ON b.source = s.source AND b.v = p.v
), cum AS (
  SELECT source, na, v, l,
    SUM(ca) OVER (PARTITION BY source ORDER BY v) AS ma,
    SUM(l)  OVER (PARTITION BY source ORDER BY v) AS b
  FROM grid
), terms AS (
  -- Scholz-Stephens k-sample A-D inner term at each distinct value
  -- group j with B_j < N; exact integers inside, one double division,
  -- then the grid-int trick for the cross-row sum
  SELECT /*+ BROADCAST(t) */ c.source, c.na,
    CAST(floor(
      CAST(c.l AS DOUBLE)
      * (CAST(t.nn AS DOUBLE) * c.ma - CAST(c.na AS DOUBLE) * c.b)
      * (CAST(t.nn AS DOUBLE) * c.ma - CAST(c.na AS DOUBLE) * c.b)
      / (CAST(c.b AS DOUBLE) * (t.nn - c.b))
      / c.na / t.nn * 1000000.0
    ) AS BIGINT) AS g
  FROM cum c CROSS JOIN tot t
  WHERE c.b < t.nn
)
SELECT source, CAST(MAX(na) AS BIGINT) AS n_docs,
  round(CAST(SUM(g) AS DOUBLE) / 1000000.0, 4) AS ad_component
FROM terms GROUP BY source
"""


@register(
    "q382_anderson_darling_ksample",
    oracle=_Q382_SQL.format(documents="documents"),
    tags=("analytics", "stats", "llm"),
)
def q382_anderson_darling_ksample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-sample Anderson-Darling components (Scholz-Stephens 1987) —
    are the per-source doc-length distributions draws from one common
    distribution? A-D is the tail-sensitive alternative to the q250 KS
    census (KS sees only the max CDF gap; A-D integrates the squared
    gap with 1/(F(1-F)) weighting, so tail divergence — exactly where
    corpus contamination shows — dominates). Per-source component
    A²ₐ = Σⱼ lⱼ(N·Mₐⱼ − nₐ·Bⱼ)²/(Bⱼ(N−Bⱼ))/nₐ/N over distinct pooled
    values (the tie-aware discrete form); the k-sample statistic is
    their sum.

    Exactness: Mₐⱼ/Bⱼ/lⱼ/N ride as exact integers (windowed integer
    cumsum over distinct values, PARTITIONED per source); each j-term
    is one double expression over those integers — bit-identical cross-
    engine — floored onto a 1e-6 grid and summed as BIGINT, so the
    cross-row sum can never see partition-order drift.

    Scale: |distinct values|×k grid rows after one hash agg; the
    windows are per-source over that bounded frame — never over docs."""
    return _sql_twin(spark, sf_dir, _Q382_SQL, ["documents"])


_Q383_SQL = """
WITH nat AS (
  SELECT c_nationkey AS nk,
    CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS x
  FROM {customer} GROUP BY c_nationkey
), rev AS (
  SELECT c.c_nationkey AS nk,
    CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
), pts AS (
  SELECT n.nk, n.x, COALESCE(r.y, 0) AS y
  FROM nat n LEFT JOIN rev r ON r.nk = n.nk
), pairs AS (
  SELECT /*+ BROADCAST(b) */
    CASE WHEN (a.x > b.x AND a.y > b.y) OR (a.x < b.x AND a.y < b.y)
         THEN 1 ELSE 0 END AS con,
    CASE WHEN (a.x > b.x AND a.y < b.y) OR (a.x < b.x AND a.y > b.y)
         THEN 1 ELSE 0 END AS dis,
    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
    CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
  FROM pts a JOIN pts b ON a.nk < b.nk
), s AS (
  SELECT CAST(SUM(con) AS BIGINT) AS nc, CAST(SUM(dis) AS BIGINT) AS nd,
    CAST(SUM(tx) AS BIGINT) AS ntx, CAST(SUM(ty) AS BIGINT) AS nty,
    CAST(COUNT(*) AS BIGINT) AS n0
  FROM pairs
)
SELECT n0 AS n_pairs, nc AS concordant, nd AS discordant,
  round((nc - nd) / sqrt(CAST((n0 - ntx) AS DOUBLE) * (n0 - nty)), 6)
    AS kendall_tau_b
FROM s
"""


@register(
    "q383_kendall_tau",
    oracle=_Q383_SQL.format(customer="customer", orders="orders"),
    tags=("analytics", "stats"),
)
def q383_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between nation-level account balance and nation-
    level order revenue — the RANK-concordance association measure
    (Spearman q299 correlates rank VALUES; Kendall counts pairwise
    order agreements, is more robust to a few wild ranks, and its τ-b
    form corrects for ties). Pairwise by nature (O(k²)), so the engine
    FIRST aggregates to the 25-nation grain (two hash aggs), then the
    pair join runs over a broadcast 25-row frame — the bounded-pairs
    discipline (q168): never all-pairs on raw rows. Concordant/
    discordant/tie counts are exact integers on cent-exact sums; τ-b
    is one double expression, rounded 6."""
    return _sql_twin(spark, sf_dir, _Q383_SQL, ["customer", "orders"])


_Q384_SQL = """
WITH u AS (
  -- paired binary outcome: 'made a large purchase (value > 300) in
  -- that half' — rare enough that discordant users exist at every
  -- fixture scale (the plain any-error outcome saturated: b = c = 0
  -- below sf0.1, which left the statistic NULL — a vacuously green
  -- comparison the sf0.1 cross-scale gate caught)
  SELECT user_id,
    MAX(CASE WHEN event_type = 'purchase' AND value > 300
         AND (month(ts) - 1) * 31 + day(ts) <= 15 THEN 1 ELSE 0 END) AS h1,
    MAX(CASE WHEN event_type = 'purchase' AND value > 300
         AND (month(ts) - 1) * 31 + day(ts) > 15 THEN 1 ELSE 0 END) AS h2
  FROM {events} GROUP BY user_id
), s AS (
  SELECT
    CAST(SUM(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS both_halves,
    CAST(COUNT(*) AS BIGINT) AS n_users
  FROM u
)
SELECT n_users, b AS only_first_half, c AS only_second_half, both_halves,
  CASE WHEN b + c > 0 THEN
    round((abs(b - c) - 1e0) * (abs(b - c) - 1e0) / (b + c), 6)
  END AS mcnemar_chi2_cc,
  CASE WHEN b + c > 0 THEN
    round((abs(b - c) - 1e0) * (abs(b - c) - 1e0) / (b + c), 6) > 3.841459
  END AS reject_h0_95
FROM s
"""


@register(
    "q384_mcnemar_paired",
    oracle=_Q384_SQL.format(events="events"),
    tags=("analytics", "stats"),
)
def q384_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED binary outcomes — did each user's
    large-purchase incidence change between the first and second half
    of the month? The paired design cancels between-user variance, so only
    the DISCORDANT pairs (b = errored early only, c = errored late
    only) carry information: χ²cc = (|b−c|−1)²/(b+c) with the standard
    continuity correction, vs the χ²₁ 95% critical value. Welch (q335)
    compares independent groups; this is the within-subject twin every
    before/after product change needs.

    Exactness: b/c are exact integer counts from one hash agg; the
    statistic is one double expression. NULL (not false) when b+c=0 —
    no discordance means the test is undefined, not 'accepted'.

    Scale: one per-user hash agg, one global fold. Map-side combine
    does almost all the work."""
    return _sql_twin(spark, sf_dir, _Q384_SQL, ["events"])


_Q385_SQL = """
WITH g AS (
  SELECT c.c_mktsegment AS seg,
    CAST(round(o.o_totalprice) AS BIGINT) AS v
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
), s AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(v) AS BIGINT) AS sv, CAST(SUM(v * v) AS BIGINT) AS svv
  FROM g GROUP BY seg
), grid AS (
  -- per-group between/within pieces floored to the unit grid
  -- (identical doubles from exact ints on both engines; the 5-term
  -- sums then ride as exact BIGINTs — a finer grid would overflow
  -- int64 at replica scale, and sub-unit precision is irrelevant to
  -- sums of squares this large)
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
    CAST(SUM(sv) AS BIGINT) AS tsv,
    CAST(SUM(CAST(floor(CAST(sv AS DOUBLE) * sv / n) AS BIGINT))
      AS BIGINT) AS gssb,
    CAST(SUM(CAST(floor(
      svv - CAST(sv AS DOUBLE) * sv / n) AS BIGINT)) AS BIGINT)
      AS gssw
  FROM s
), f AS (
  SELECT k, nn,
    gssb - CAST(tsv AS DOUBLE) * tsv / nn AS ssb,
    CAST(gssw AS DOUBLE) AS ssw
  FROM grid
)
SELECT k AS n_groups, nn AS n_rows,
  round(ssb, 2) AS ss_between, round(ssw, 2) AS ss_within,
  round((ssb / (k - 1)) / (ssw / (nn - k)), 6) AS f_stat,
  round(ssb / (ssb + ssw), 6) AS eta_squared
FROM f
"""


@register(
    "q385_anova_oneway",
    oracle=_Q385_SQL.format(orders="orders", customer="customer"),
    tags=("analytics", "stats"),
)
def q385_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across market segments on order value — the
    k-group generalization the stats family lacked (Welch q335 stops
    at two groups): decompose total variance into between-segment and
    within-segment sums of squares from per-group (n, Σv, Σv²) integer
    moments, F = (SSB/(k−1))/(SSW/(N−k)), effect size η² = SSB/SST.

    Float discipline: v rides as whole units (int64-safe: Σv² needs
    headroom N·max(v)² ≈ 5·10¹⁷ at sf1); per-group pieces Σv²ᵢ/nᵢ are
    single double expressions floored onto the unit grid before the
    k-term sum, so Spark's partition-order sum and DuckDB's serial sum
    add IDENTICAL integers. The one remaining subtraction (−T²/N) is
    scalar.

    Scale: two hash aggs (orders→groups→one row). The cross-segment
    join broadcasts the 150-row customer dimension at fixture scale;
    at 100 TB it is the standard fact-dim equi-join."""
    return _sql_twin(spark, sf_dir, _Q385_SQL, ["orders", "customer"])


_Q388_SQL = """
WITH feat AS (
  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS x1,
    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x2
  FROM {lineitem} GROUP BY l_orderkey
), pts AS (
  SELECT f.x1, f.x2, CAST(round(o.o_totalprice) AS BIGINT) AS y
  FROM feat f JOIN {orders} o ON o.o_orderkey = f.k
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
    CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
    CAST(SUM(x2 * x2) AS BIGINT) AS s22,
    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
    CAST(SUM(x1 * y) AS BIGINT) AS s1y,
    CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM pts
), c AS (
  -- centered second moments (doubles over exact ints) + ridge lambda
  SELECT n,
    s11 - CAST(s1 AS DOUBLE) * s1 / n + 1000.0 AS a11,
    s12 - CAST(s1 AS DOUBLE) * s2 / n          AS a12,
    s22 - CAST(s2 AS DOUBLE) * s2 / n + 1000.0 AS a22,
    s1y - CAST(s1 AS DOUBLE) * sy / n          AS b1,
    s2y - CAST(s2 AS DOUBLE) * sy / n          AS b2,
    CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
    CAST(sy AS DOUBLE) / n AS my
  FROM m
)
SELECT n AS n_orders,
  round((a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12), 6) AS w_lines,
  round((a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12), 6) AS w_qty,
  round(my - (a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12) * m1
           - (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) * m2,
        4) AS intercept
FROM c
"""


@register(
    "q388_ridge_regression_2f",
    oracle=_Q388_SQL.format(lineitem="lineitem", orders="orders"),
    tags=("analytics", "stats", "ml"),
)
def q388_ridge_regression_2f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature RIDGE regression in closed form — predict order
    value from (line count, total quantity) with L2 penalty λ=1000 on
    the centered normal equations: w = (XᶜᵀXᶜ + λI)⁻¹ Xᶜᵀy via the
    explicit 2×2 inverse. Extends the moment-regression family (q334
    is 1-feature OLS, q355 rolling) to MULTIVARIATE with
    regularization — the workhorse shape of every feature-pipeline
    sanity model, and the proof that 'fit a small linear model' is a
    pure two-phase hash aggregate at any scale: nine integer moments,
    then constant scalar algebra.

    int64 headroom: Σx2·y ≤ n · 350 · 6·10⁵ ≈ 3·10¹⁴ at sf1 — wide
    margin. The 2×2 solve is one double expression tree over exact
    integers: bit-identical cross-engine, rounded at the surface."""
    return _sql_twin(spark, sf_dir, _Q388_SQL, ["lineitem", "orders"])


def _q389_sql(rounds: int) -> str:
    """Unrolled Lloyd iterations: deterministic min/avg/max init, each
    round = one broadcast assignment join + one integer hash agg."""
    sql = """
WITH pts AS (
  SELECT c_custkey AS id, CAST(round(c_acctbal * 100) AS BIGINT) AS v
  FROM {customer}
), c0 AS (
  SELECT 0 AS cid, CAST(MIN(v) AS DOUBLE) AS ctr FROM pts
  UNION ALL
  SELECT 1, CAST(SUM(v) AS DOUBLE) / COUNT(*) FROM pts
  UNION ALL
  SELECT 2, CAST(MAX(v) AS DOUBLE) FROM pts
)
"""
    prev = "c0"
    for r in range(1, rounds + 1):
        sql += f"""
, a{r} AS (
  SELECT /*+ BROADCAST(c) */ p.id, p.v, c.cid, c.ctr,
    row_number() OVER (
      PARTITION BY p.id ORDER BY abs(p.v - c.ctr), c.cid) AS rn
  FROM pts p CROSS JOIN {prev} c
), c{r} AS (
  SELECT cid, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS ctr
  FROM a{r} WHERE rn = 1 GROUP BY cid
)"""
        prev = f"c{r}"
    sql += f"""
SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
  round(MIN(ctr) / 100.0, 4) AS centroid,
  round((SUM(v * v) - 2.0 * MIN(ctr) * SUM(v)
         + COUNT(*) * MIN(ctr) * MIN(ctr)) / 10000.0, 2) AS wss
FROM a{rounds} WHERE rn = 1
GROUP BY cid
"""
    return sql


_Q389_SQL = _q389_sql(3)


@register(
    "q389_kmeans_1d_unrolled",
    oracle=_Q389_SQL.format(customer="customer"),
    tags=("analytics", "ml"),
)
def q389_kmeans_1d_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D k-means (k=3) on customer balances, THREE unrolled Lloyd
    rounds with deterministic (min, mean, max) initialization — Lloyd
    as pure SQL: assignment is a broadcast join against the 3-row
    centroid frame with a per-point window (PARTITION BY point — never
    global) picking the nearest centroid (ties → lower cluster id),
    the update is one integer hash agg. Both engines replay the
    IDENTICAL trajectory because every centroid is an exact-integer
    sum divided once (double), and distance comparisons see identical
    doubles — the q360 unrolled-iteration determinism argument applied
    to clustering.

    WSS reported from the (Σv², Σv, n, c) identity — never a sum of
    per-row doubles.

    Scale: per round one broadcast-3-rows join + one hash agg over
    points; k·rounds constant. The init is two aggregate passes. This
    is exactly how Spark MLlib's k-means iterates, minus the RNG."""
    return _sql_twin(spark, sf_dir, _Q389_SQL, ["customer"])


def _q390_sql(steps: int) -> str:
    """Unrolled batch gradient descent with the RATIONAL sigmoid
    s(z) = 0.5 + 0.5·z/(1+|z|): pure +,*,/,abs ops (all IEEE
    correctly-rounded — bit-identical cross-engine, unlike exp), so
    per-row gradient terms are identical doubles; they are floored
    onto a 1e9 grid and summed as BIGINT (the grid-int trick)."""
    sql = """
WITH pts AS (
  SELECT CAST(round(o_totalprice) AS BIGINT) / 100000.0 AS x,
    CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS y
  FROM {orders}
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts
), w0 AS (SELECT 0.0 AS w, 0.0 AS b)
"""
    prev = "w0"
    for s in range(1, steps + 1):
        sql += f"""
, g{s} AS (
  SELECT /*+ BROADCAST(c) */
    CAST(SUM(CAST(floor(
      ((0.5 + 0.5 * (c.w * p.x + c.b) / (1 + abs(c.w * p.x + c.b))) - p.y)
      * p.x * 100000000.0) AS BIGINT)) AS BIGINT) AS gw,
    CAST(SUM(CAST(floor(
      ((0.5 + 0.5 * (c.w * p.x + c.b) / (1 + abs(c.w * p.x + c.b))) - p.y)
      * 100000000.0) AS BIGINT)) AS BIGINT) AS gb,
    MIN(c.w) AS w, MIN(c.b) AS b
  FROM pts p CROSS JOIN {prev} c
), w{s} AS (
  SELECT /*+ BROADCAST(n) */
    g.w - 1.0 * (g.gw / 1e8 / n.n) AS w,
    g.b - 1.0 * (g.gb / 1e8 / n.n) AS b
  FROM g{s} g CROSS JOIN n
)"""
        prev = f"w{s}"
    sql += f"""
SELECT /*+ BROADCAST(c) */
  round(MIN(c.w), 6) AS w, round(MIN(c.b), 6) AS b,
  round(CAST(SUM(CASE WHEN (CASE WHEN c.w * p.x + c.b >= 0 THEN 1.0
                            ELSE 0.0 END) = p.y
                 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
        4) AS train_accuracy
FROM pts p CROSS JOIN w{steps} c
"""
    return sql


_Q390_SQL = _q390_sql(3)


@register(
    "q390_logistic_gd_unrolled",
    oracle=_Q390_SQL.format(orders="orders"),
    tags=("analytics", "ml"),
)
def q390_logistic_gd_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-style classifier by THREE unrolled batch-gradient
    steps (urgent-priority vs order value) — iterative ML re-expressed
    as a fixed pipeline of aggregates: each step is one broadcast of
    the 1-row (w, b) state against the points, one exact-integer
    gradient sum, one scalar update. Two deliberate determinism trades
    make the trajectory ORACLE-REPLAYABLE (the q360/fixed-point
    argument): (1) the RATIONAL sigmoid 0.5+0.5z/(1+|z|) instead of
    1/(1+e⁻ᶻ) — division/abs are IEEE correctly-rounded everywhere,
    libm exp is not; (2) per-row gradient terms floored onto a 1e-9
    grid and summed as BIGINT, so partition order cannot move the sum
    by an ulp. Accuracy readout is a pure integer count (the decision
    boundary wx+b≥0 is sign-exact).

    Scale: steps×(broadcast + hash agg) over the fact table — batch GD
    at 100 TB is exactly this plan with bigger partials."""
    return _sql_twin(spark, sf_dir, _Q390_SQL, ["orders"])


_Q413_SQL = """
WITH g AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
      AS k,
    CAST(COUNT(*) AS BIGINT) AS t
  FROM {events} GROUP BY 1
), w AS (
  SELECT
    MAX(CASE WHEN grp = 'A' THEN k END) AS ka,
    MAX(CASE WHEN grp = 'B' THEN k END) AS kb,
    MAX(CASE WHEN grp = 'A' THEN t END) AS ta,
    MAX(CASE WHEN grp = 'B' THEN t END) AS tb
  FROM g
)
SELECT ka AS errors_a, kb AS errors_b, ta AS exposure_a, tb AS exposure_b,
  round((CAST(ka AS DOUBLE) / ta) / (CAST(kb AS DOUBLE) / tb), 6)
    AS rate_ratio,
  round((ka - CAST(ka + kb AS DOUBLE) * ta / (ta + tb))
        / sqrt(CAST(ka + kb AS DOUBLE) * ta / (ta + tb) * tb / (ta + tb)),
        6) AS z_score
FROM w
"""


@register(
    "q413_poisson_rate_test",
    oracle=_Q413_SQL.format(events="events"),
    tags=("analytics", "stats"),
)
def q413_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson RATE test (error events per unit exposure,
    even- vs odd-id users) — the conditional test: given K = k_A+k_B
    total errors, k_A ~ Binomial(K, t_A/(t_A+t_B)) under H₀ of equal
    rates, so z = (k_A − K·w)/√(K·w·(1−w)) with w the exposure share.
    Proportions (Wilson q339) assume per-trial binomials; RATES need
    the exposure-conditional form — the SRE/error-budget statistic.
    Counts and exposures are exact integers from one hash agg; z is
    one double expression, rounded 6."""
    return _sql_twin(spark, sf_dir, _Q413_SQL, ["events"])


_Q414_SQL = """
WITH g AS (
  SELECT c.c_mktsegment AS seg,
    CAST(round(o.o_totalprice) AS BIGINT) AS v
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
), s AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(v) AS BIGINT) AS sv, CAST(SUM(v * v) AS BIGINT) AS svv
  FROM g GROUP BY seg
), m AS (
  -- per-segment mean + its squared standard error (doubles over
  -- exact ints), grand mean of MEANS on the 1e6 grid
  SELECT seg, n, CAST(sv AS DOUBLE) / n AS mean_v,
    (svv - CAST(sv AS DOUBLE) * sv / n) / (n - 1) / n AS se2
  FROM s
), gm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
    CAST(SUM(CAST(floor(CAST(sv AS DOUBLE) / n * 1000000.0) AS BIGINT))
      AS BIGINT) AS gmeans,
    CAST(SUM(CAST(floor(
      (svv - CAST(sv AS DOUBLE) * sv / n) / (n - 1) / n * 1000000.0)
      AS BIGINT)) AS BIGINT) AS gse2
  FROM s
), c AS (
  SELECT /*+ BROADCAST(gm) */ m.seg, m.n, m.mean_v, m.se2,
    gm.gmeans / 1e6 / gm.k AS grand_mean,
    gm.gse2 / 1e6 / gm.k AS avg_se2,
    gm.k AS k
  FROM m CROSS JOIN gm
), dev AS (
  SELECT CAST(SUM(CAST(floor(
      (mean_v - grand_mean) * (mean_v - grand_mean) * 1000000.0)
      AS BIGINT)) AS BIGINT) AS gdev
  FROM c
)
SELECT /*+ BROADCAST(d) */ c.seg, c.n AS n_orders,
  round(c.mean_v, 4) AS raw_mean,
  round(c.grand_mean
        + GREATEST(0.0, 1.0 - (c.k - 3) * c.avg_se2
                          / (d.gdev / 1e6))
          * (c.mean_v - c.grand_mean), 4) AS js_mean,
  round(GREATEST(0.0, 1.0 - (c.k - 3) * c.avg_se2
                        / (d.gdev / 1e6)), 6) AS shrink_factor
FROM c CROSS JOIN dev d
"""


@register(
    "q414_james_stein_shrinkage",
    oracle=_Q414_SQL.format(orders="orders", customer="customer"),
    tags=("analytics", "stats", "ml"),
)
def q414_james_stein_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """James-Stein / empirical-Bayes shrinkage of per-segment mean
    order values toward the grand mean — the estimator that DOMINATES
    the raw per-group means in total squared error whenever k ≥ 4
    (Stein's paradox), and the statistical core of every
    small-cell dashboard fix (noisy segment averages pulled toward the
    global prior in proportion to their noise): shrink factor
    c = max(0, 1 − (k−3)·σ̄²/Σ(m̄ᵢ−m̄)²) with σ̄² the average squared
    standard error. All group moments are exact integers; the k-term
    cross-group sums (means, SEs, squared deviations) ride the 1e-6
    grid-int trick so both engines add identical integers.

    Scale: one fact-dim join + two hash aggs to k rows; everything
    after is constant-size broadcasts."""
    return _sql_twin(spark, sf_dir, _Q414_SQL, ["orders", "customer"])


_Q416_SQL = """
WITH daily AS (
  SELECT (month(ts) - 1) * 31 + day(ts) AS d,
    CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mx
  FROM {events} GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(mx) AS BIGINT) AS s, CAST(SUM(mx * mx) AS BIGINT) AS ss
  FROM daily
), fit AS (
  SELECT n, CAST(s AS DOUBLE) / n / 1e2 AS mean_max,
    sqrt((ss - CAST(s AS DOUBLE) * s / n) / (n - 1)) / 1e2 AS sd_max
  FROM m
)
SELECT n AS n_days, round(mean_max, 4) AS mean_daily_max,
  round(sqrt(6e0) / 3.141592653589793 * sd_max, 6) AS gumbel_beta,
  round(mean_max - 0.5772156649015329
        * sqrt(6e0) / 3.141592653589793 * sd_max, 6) AS gumbel_mu,
  round(mean_max - 0.5772156649015329
          * sqrt(6e0) / 3.141592653589793 * sd_max
        - sqrt(6e0) / 3.141592653589793 * sd_max
          * (-3.3842944934992527), 4) AS return_level_30d
FROM fit
"""


@register(
    "q416_gumbel_block_maxima",
    oracle=_Q416_SQL.format(events="events"),
    tags=("analytics", "stats", "timeseries"),
)
def q416_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis by BLOCK MAXIMA: fit a Gumbel
    distribution to the daily maxima of event value by method of
    moments (β = s√6/π, μ = m − γβ with Euler-Mascheroni γ), then read
    off the 30-day RETURN LEVEL μ − β·ln(−ln(1−1/30)) — 'the value
    exceeded about once a month', the capacity-planning number mean
    and p99 both fail to give (extremes follow EVT, not the bulk
    distribution). The Fisher-Tippett theorem makes Gumbel the right
    light-tailed limit; the ln constant is precomputed so both engines
    see one literal (libm ln never enters). Daily maxima and their two
    moments are exact integers; the fit is scalar double algebra.

    Scale: one hash agg to |days| rows, one fold. Block-maxima EVT at
    100 TB is exactly this two-agg shape."""
    return _sql_twin(spark, sf_dir, _Q416_SQL, ["events"])


_Q421_SQL = """
WITH daily AS (
  SELECT year(o_orderdate) AS yr,
    CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM {orders} GROUP BY 1, 2
), ch AS (
  SELECT yr, d, rev,
    rev - LAG(rev) OVER (PARTITION BY yr ORDER BY d) AS diff
  FROM daily
), signs AS (
  SELECT yr, d,
    CASE WHEN diff > 0 THEN 1 ELSE 0 END AS up
  FROM ch WHERE diff IS NOT NULL AND diff <> 0
), runs AS (
  SELECT yr, d, up,
    CASE WHEN LAG(up) OVER (PARTITION BY yr ORDER BY d) IS NULL
           OR LAG(up) OVER (PARTITION BY yr ORDER BY d) <> up
         THEN 1 ELSE 0 END AS new_run
  FROM signs
), s AS (
  SELECT yr, CAST(SUM(up) AS BIGINT) AS np,
    CAST(COUNT(*) AS BIGINT) - CAST(SUM(up) AS BIGINT) AS nm,
    CAST(SUM(new_run) AS BIGINT) AS r
  FROM runs GROUP BY yr
)
SELECT yr AS year, np AS n_up, nm AS n_down, r AS n_runs,
  round((r - (2e0 * np * nm / (np + nm) + 1))
        / sqrt(2e0 * np * nm * (2e0 * np * nm - np - nm)
               / ((np + nm) * (np + nm) * (np + nm - 1))), 6) AS z_score
FROM s WHERE np > 0 AND nm > 0
"""


@register(
    "q421_runs_test",
    oracle=_Q421_SQL.format(orders="orders"),
    tags=("analytics", "stats", "timeseries"),
)
def q421_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz RUNS test per year on the sign sequence of
    day-over-day revenue changes — is the direction of movement
    random, or does it streak/alternate more than chance allows?
    z = (R − μ_R)/σ_R with μ_R = 2n₊n₋/N + 1; |z| large ⇒ momentum
    (too few runs) or mean-reversion (too many). The nonparametric
    complement to q227's ACF: runs sees only SIGNS, so one outlier
    day cannot fake autocorrelation. Zero-change days are dropped
    (the standard convention). Runs are counted by a lag-transition
    flag — exact integers end to end; windows are PARTITIONED by
    year over the |days| frame, never over raw orders."""
    return _sql_twin(spark, sf_dir, _Q421_SQL, ["orders"])


_Q422_SQL = """
WITH pts AS (
  SELECT CASE WHEN substring(md5(CAST(user_id AS STRING)), 1, 1) < '8'
              THEN 1 ELSE 0 END AS treat,
    CASE WHEN (month(ts) - 1) * 31 + day(ts) <= 15 THEN 0 ELSE 1 END
      AS post,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM {events}
), cells AS (
  SELECT treat, post, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(cents) AS BIGINT) AS s, CAST(SUM(cents * cents) AS BIGINT) AS ss
  FROM pts GROUP BY treat, post
), w AS (
  SELECT
    MAX(CASE WHEN treat = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS m_t1,
    MAX(CASE WHEN treat = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS m_t0,
    MAX(CASE WHEN treat = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS m_c1,
    MAX(CASE WHEN treat = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS m_c0,
    MAX(CASE WHEN treat = 1 AND post = 1 THEN
      (ss - CAST(s AS DOUBLE) * s / n) / (n - 1) / n END) AS v_t1,
    MAX(CASE WHEN treat = 1 AND post = 0 THEN
      (ss - CAST(s AS DOUBLE) * s / n) / (n - 1) / n END) AS v_t0,
    MAX(CASE WHEN treat = 0 AND post = 1 THEN
      (ss - CAST(s AS DOUBLE) * s / n) / (n - 1) / n END) AS v_c1,
    MAX(CASE WHEN treat = 0 AND post = 0 THEN
      (ss - CAST(s AS DOUBLE) * s / n) / (n - 1) / n END) AS v_c0
  FROM cells
)
SELECT
  round((m_t1 - m_t0) / 1e2, 4) AS treat_delta,
  round((m_c1 - m_c0) / 1e2, 4) AS control_delta,
  round(((m_t1 - m_t0) - (m_c1 - m_c0)) / 1e2, 4) AS did_estimate,
  round(sqrt(v_t1 + v_t0 + v_c1 + v_c0) / 1e2, 4) AS did_se,
  round(((m_t1 - m_t0) - (m_c1 - m_c0))
        / sqrt(v_t1 + v_t0 + v_c1 + v_c0), 6) AS t_stat
FROM w
"""


@register(
    "q422_diff_in_diff",
    oracle=_Q422_SQL.format(events="events"),
    tags=("analytics", "stats"),
)
def q422_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES: the causal-inference workhorse for
    'treatment launched mid-month' — (treated post−pre) minus (control
    post−pre) cancels both the level difference between groups AND the
    common time trend; the SE combines the four cell variances (the
    2×2 unpooled form). Treatment assignment is the shared md5 gate
    (compat.ab_treat — same experiment the q238 CUPED and q257 SRM
    auditors watch). Four cells of exact integer (n, Σ, Σ²) moments →
    one row of scalar double algebra. The q335 Welch test compares two
    groups at one time; DiD is the 2×2 causal extension."""
    return _sql_twin(spark, sf_dir, _Q422_SQL, ["events"])


_Q423_SQL = """
WITH daily AS (
  SELECT (month(ts) - 1) * 31 + day(ts) AS d,
    CAST(SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(round(value) AS BIGINT) ELSE 0 END) AS BIGINT)
      AS a,
    CAST(SUM(CASE WHEN event_type = 'click'
             THEN CAST(round(value) AS BIGINT) ELSE 0 END) AS BIGINT)
      AS b
  FROM {events} GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
    CAST(SUM(a * a) AS BIGINT) AS saa, CAST(SUM(b * b) AS BIGINT) AS sbb,
    CAST(SUM(a * b) AS BIGINT) AS sab
  FROM daily
), v AS (
  SELECT n,
    (saa - CAST(sa AS DOUBLE) * sa / n) / (n - 1) AS va,
    (sbb - CAST(sb AS DOUBLE) * sb / n) / (n - 1) AS vb,
    (sab - CAST(sa AS DOUBLE) * sb / n) / (n - 1) AS cab
  FROM m
)
SELECT n AS n_days,
  round((vb - cab) / (va + vb - 2 * cab), 6) AS w_purchase,
  round(1e0 - (vb - cab) / (va + vb - 2 * cab), 6) AS w_click,
  round(cab / sqrt(va * vb), 6) AS correlation,
  round((va * vb - cab * cab) / (va + vb - 2 * cab), 4)
    AS min_portfolio_var
FROM v
"""


@register(
    "q423_min_variance_portfolio",
    oracle=_Q423_SQL.format(events="events"),
    tags=("analytics", "stats", "timeseries"),
)
def q423_min_variance_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-asset MINIMUM-VARIANCE portfolio (Markowitz closed form)
    over the daily purchase- and click-revenue series: the weight
    w* = (σ_B² − σ_AB)/(σ_A² + σ_B² − 2σ_AB) that minimizes combined
    variance, with the achieved variance (σ_A²σ_B² − σ_AB²)/(σ_A² +
    σ_B² − 2σ_AB) — diversification quantified from one covariance.
    The finance framing is the memorable one, but the identical math
    allocates between any two noisy revenue streams. Daily sums and
    all five moments are exact integers; the solve is scalar."""
    return _sql_twin(spark, sf_dir, _Q423_SQL, ["events"])


_Q424_SQL = """
WITH pts AS (
  SELECT c.c_mktsegment AS seg,
    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents, o.o_orderkey AS k
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
), r AS (
  SELECT seg, cents,
    row_number() OVER (PARTITION BY seg ORDER BY cents, k) AS rnk,
    COUNT(*) OVER (PARTITION BY seg) AS n
  FROM pts
), q AS (
  SELECT seg, cents, rnk, n,
    CAST(floor((n * 5 + 99) / 1e2) AS BIGINT) AS kq
  FROM r
)
SELECT seg, CAST(MAX(n) AS BIGINT) AS n_orders,
  round(MAX(CASE WHEN rnk = kq THEN cents END) / 1e2, 2) AS var_95,
  round(CAST(SUM(CASE WHEN rnk <= kq THEN cents ELSE 0 END) AS DOUBLE)
        / MAX(kq) / 1e2, 4) AS cvar_95
FROM q GROUP BY seg
"""


@register(
    "q424_var_cvar",
    oracle=_Q424_SQL.format(orders="orders", customer="customer"),
    tags=("analytics", "stats"),
)
def q424_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical Value-at-Risk and EXPECTED SHORTFALL (CVaR) at 95%
    per market segment, on the low-revenue tail of order values: VaR
    is the exact ⌈0.05n⌉-th smallest order (rank-based selection —
    integer cents, deterministic o_orderkey tiebreak, no interpolation
    convention to disagree on), CVaR the exact mean of the tail at or
    below it. CVaR is the coherent risk measure VaR famously is not
    (it sees HOW BAD the tail is, not just where it starts) — the pair
    is the standard downside-risk readout for any revenue stream.

    The rank window is PARTITIONED by segment; the tail mean is an
    integer sum over ≤⌈0.05n⌉ rows. One join, one window, one agg."""
    return _sql_twin(spark, sf_dir, _Q424_SQL, ["orders", "customer"])


_Q425_SQL = """
WITH daily AS (
  SELECT event_type, (month(ts) - 1) * 31 + day(ts) AS d,
    CAST(SUM(CAST(round(value) AS BIGINT)) AS BIGINT) AS y
  FROM {events} GROUP BY 1, 2
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(d) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(d * y) AS BIGINT) AS sxy, CAST(SUM(d * d) AS BIGINT) AS sxx
  FROM daily GROUP BY event_type
), fit AS (
  SELECT event_type, n,
    (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
      / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS b1,
    CAST(sy AS DOUBLE) / n
      - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
        / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
        * CAST(sx AS DOUBLE) / n AS b0
  FROM m
), res AS (
  SELECT /*+ BROADCAST(f) */ d.event_type, d.d,
    d.y - f.b0 - f.b1 * d.d AS e
  FROM daily d JOIN fit f ON f.event_type = d.event_type
), lagd AS (
  SELECT event_type, e,
    LAG(e) OVER (PARTITION BY event_type ORDER BY d) AS ep
  FROM res
), s AS (
  SELECT event_type,
    CAST(SUM(CAST(floor(e * e * 1e1) AS BIGINT)) AS BIGINT) AS see,
    CAST(SUM(CASE WHEN ep IS NOT NULL THEN
      CAST(floor((e - ep) * (e - ep) * 1e1) AS BIGINT) ELSE 0 END)
      AS BIGINT) AS sdd,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM lagd GROUP BY event_type
)
SELECT event_type, n AS n_days,
  round(CAST(sdd AS DOUBLE) / see, 6) AS durbin_watson,
  round(1e0 - CAST(sdd AS DOUBLE) / see / 2, 6) AS rho_hat
FROM s
"""


@register(
    "q425_durbin_watson",
    oracle=_Q425_SQL.format(events="events"),
    tags=("analytics", "stats", "timeseries"),
)
def q425_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic per event type: after detrending the
    daily value series with OLS (exact integer moments → scalar
    slope/intercept), are the RESIDUALS serially correlated?
    DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² ≈ 2(1−ρ) — the standard 'is my regression
    lying about its standard errors' diagnostic (q334 reports slopes;
    DW says whether their inference is trustworthy). Residuals are
    identical doubles on both engines (rational functions of integer
    moments); their squares ride a 0.1 grid-int trick so the sums
    are exact. Windows are PARTITIONED per event type over the
    |days| frame."""
    return _sql_twin(spark, sf_dir, _Q425_SQL, ["events"])


def _q426_sql() -> str:
    """Granger 1-lag template: restricted (y_t ~ y_{t-1}) and
    unrestricted (y_t ~ y_{t-1} + x_{t-1}) RSS computed per row from
    closed-form coefficients, floored to integers and summed exactly (unit grid — daily-count
    residuals square up fast; int64 headroom beats sub-unit precision,
    and cross-engine identity holds at any grid), F folded at the end.
    Lags come from a day-1 equi-join, not a global window."""
    return """
WITH daily AS (
  SELECT (month(ts) - 1) * 31 + day(ts) AS d,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS y,
    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      AS BIGINT) AS x
  FROM {events} GROUP BY 1
), lagj AS (
  SELECT c.d, c.y, p.y AS y1, p.x AS x1
  FROM daily c JOIN daily p ON p.d = c.d - 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y1) AS BIGINT) AS s1,
    CAST(SUM(x1) AS BIGINT) AS s2,
    CAST(SUM(y1 * y1) AS BIGINT) AS s11,
    CAST(SUM(x1 * x1) AS BIGINT) AS s22,
    CAST(SUM(y1 * x1) AS BIGINT) AS s12,
    CAST(SUM(y1 * y) AS BIGINT) AS s1y,
    CAST(SUM(x1 * y) AS BIGINT) AS s2y
  FROM lagj
), c AS (
  SELECT n,
    s11 - CAST(s1 AS DOUBLE) * s1 / n AS a11,
    s12 - CAST(s1 AS DOUBLE) * s2 / n AS a12,
    s22 - CAST(s2 AS DOUBLE) * s2 / n AS a22,
    s1y - CAST(s1 AS DOUBLE) * sy / n AS b1,
    s2y - CAST(s2 AS DOUBLE) * sy / n AS b2,
    CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
    CAST(sy AS DOUBLE) / n AS my
  FROM m
), coefs AS (
  SELECT n,
    -- restricted: y on y1 alone
    b1 / a11 AS r1, my - b1 / a11 * m1 AS r0,
    -- unrestricted: y on (y1, x1), 2x2 solve
    (a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12) AS u1,
    (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) AS u2,
    my - (a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12) * m1
       - (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) * m2 AS u0
  FROM c
), rss AS (
  SELECT /*+ BROADCAST(cf) */ cf.n,
    CAST(SUM(CAST(floor((l.y - cf.r0 - cf.r1 * l.y1)
      * (l.y - cf.r0 - cf.r1 * l.y1)) AS BIGINT)) AS BIGINT) AS rss_r,
    CAST(SUM(CAST(floor((l.y - cf.u0 - cf.u1 * l.y1 - cf.u2 * l.x1)
      * (l.y - cf.u0 - cf.u1 * l.y1 - cf.u2 * l.x1)) AS BIGINT))
      AS BIGINT) AS rss_u
  FROM lagj l CROSS JOIN coefs cf
  GROUP BY cf.n
)
SELECT n AS n_days, CAST(rss_r AS BIGINT) AS rss_restricted,
  CAST(rss_u AS BIGINT) AS rss_unrestricted,
  round((rss_r - CAST(rss_u AS DOUBLE)) * (n - 3) / rss_u, 6) AS f_stat,
  (rss_r - CAST(rss_u AS DOUBLE)) * (n - 3) / rss_u > 4.2 AS x_granger_causes_y
FROM rss
"""


_Q426_SQL = _q426_sql()


@register(
    "q426_granger_1lag",
    oracle=_Q426_SQL.format(events="events"),
    tags=("analytics", "stats", "timeseries"),
)
def q426_granger_1lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRANGER causality (1 lag): do yesterday's views help predict
    today's purchases beyond yesterday's purchases alone? Nested-model
    F-test — restricted RSS (y_t ~ y_{t−1}) vs unrestricted
    (y_t ~ y_{t−1} + x_{t−1}, the q388 2×2 closed form with λ=0),
    F = (RSS_r − RSS_u)(n−3)/RSS_u against the F(1, n−3) ≈ 4.2
    critical value. The daily lag is an equi-join on d−1 (never a
    global window); coefficients are rational functions of exact
    integer moments, per-row squared residuals ride the 1e-6 grid.
    This is the leading-indicator test q387's cross-correlation
    screen suggests and this query confirms or rejects."""
    return _sql_twin(spark, sf_dir, _Q426_SQL, ["events"])


_Q428_SQL = """
WITH daily AS (
  SELECT (month(ts) - 1) * 31 + day(ts) AS d,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM {events} GROUP BY 1
), pairs AS (
  SELECT /*+ BROADCAST(b) */ a.d AS di, b.d AS dj, a.y AS yi, b.y AS yj,
    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn,
    CAST(b.y - a.y AS DOUBLE) / (b.d - a.d) AS slope
  FROM daily a JOIN daily b ON a.d < b.d
), ranked AS (
  SELECT /*+ BROADCAST(q) */ p.slope, p.di, p.dj,
    1 + CAST(SUM(CASE WHEN q.slope < p.slope
          OR (q.slope = p.slope
              AND (q.di < p.di OR (q.di = p.di AND q.dj < p.dj)))
        THEN 1 ELSE 0 END) AS BIGINT) AS rnk
  FROM pairs p JOIN pairs q ON TRUE
  GROUP BY p.slope, p.di, p.dj
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
), ties AS (
  SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y)
), s AS (
  SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat,
    CAST(COUNT(*) AS BIGINT) AS m
  FROM pairs
)
SELECT /*+ BROADCAST(nn) */ nn.n AS n_days, s.s_stat,
  round((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                         WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
        / sqrt((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5)
                - t.tie_term) / 18), 6) AS z_score,
  round((SELECT MIN(slope) FROM ranked
         WHERE rnk = CAST(floor((s.m + 1) / 2e0) AS BIGINT)), 6)
    AS sen_slope,
  CASE WHEN s.s_stat > 0 THEN 'increasing'
       WHEN s.s_stat < 0 THEN 'decreasing' ELSE 'no trend' END AS trend
FROM s CROSS JOIN nn CROSS JOIN ties t
"""


@register(
    "q428_mann_kendall",
    oracle=_Q428_SQL.format(events="events"),
    tags=("analytics", "stats", "timeseries"),
)
def q428_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + SEN'S SLOPE on the daily revenue
    series — the standard nonparametric monotone-trend pair (q231's
    Theil-Sen gives the robust slope; MK adds the significance test
    with tie-corrected variance and continuity correction):
    S = Σᵢ<ⱼ sign(yⱼ−yᵢ) over all day pairs, z = (S∓1)/√Var(S), Sen's
    slope = the LOWER MEDIAN of pairwise slopes selected by exact rank
    (count-based, deterministic (di,dj) tiebreak — no interpolation
    convention, no global window; the pair frame is |days|²-bounded,
    the bounded-pairs discipline). All counts exact integers; z and
    the slope are scalar doubles rounded 6."""
    return _sql_twin(spark, sf_dir, _Q428_SQL, ["events"])


@register(
    "q415_conformal_interval",
    oracle="""
WITH feat AS (
  SELECT l_orderkey AS k, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
  FROM lineitem GROUP BY l_orderkey
), pts AS (
  SELECT f.x, CAST(round(o.o_totalprice) AS BIGINT) AS y,
    CASE WHEN substring(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 2) < '1a'
           THEN 'test'
         WHEN substring(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 2) < '34'
           THEN 'val' ELSE 'train' END AS split
  FROM feat f JOIN orders o ON o.o_orderkey = f.k
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts WHERE split = 'train'
), fit AS (
  SELECT n,
    (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
      / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS b1,
    CAST(sy AS DOUBLE) / n
      - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
        / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
        * CAST(sx AS DOUBLE) / n AS b0
  FROM m
), qhat AS (
  SELECT f.n AS n_train, CAST(COUNT(*) AS BIGINT) AS n_cal,
    quantile_cont(abs(p.y - f.b0 - f.b1 * p.x), 0.9) AS q90,
    MAX(f.b0) AS b0, MAX(f.b1) AS b1
  FROM pts p CROSS JOIN fit f
  WHERE p.split = 'val'
  GROUP BY f.n
)
SELECT q.n_train, q.n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
  round(q.b1, 6) AS slope, round(q.b0, 4) AS intercept,
  round(q.q90, 4) AS q_hat_90,
  round(CAST(SUM(CASE WHEN abs(p.y - q.b0 - q.b1 * p.x) <= q.q90
              THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS test_coverage
FROM pts p CROSS JOIN qhat q
WHERE p.split = 'test'
GROUP BY q.n_train, q.n_cal, q.b1, q.b0, q.q90
""",
    tags=("analytics", "stats", "ml"),
)
def q415_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction interval — the modern
    distribution-free uncertainty wrapper every deployed regressor
    needs: fit OLS (order value ~ total quantity) on the TRAIN split,
    take the 90th-percentile absolute residual on the held-out
    CALIBRATION split as q̂, and verify on TEST that |y−ŷ| ≤ q̂ covers
    ≈90% — conformal's finite-sample guarantee, checked empirically.
    Splits are the engine's deterministic md5 split (compat.
    split_bucket — the same train/val/test gate q206/q207 audit), so
    both engines partition identically. The calibration quantile is
    the one interpolated percentile (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, the q42 precedent); everything else is exact
    integer moments + identical-double comparisons.

    Scale: one lineitem hash agg, one train-moment agg, two broadcast
    folds over cal/test. Nothing sorts more than the calibration
    residuals."""
    from ..functions.compat import split_bucket

    feat = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("x"))
    )
    o = load_table(spark, sf_dir, "orders")
    pts = feat.join(o, feat.k == o.o_orderkey).select(
        "x",
        F.round("o_totalprice").cast("bigint").alias("y"),
        split_bucket(F.col("o_orderkey")).alias("split"),
    )
    m = pts.filter(F.col("split") == "train").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    fit = m.select(
        "n",
        (
            (F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy"))
            / (F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
        ).alias("b1"),
        "sx", "sy",
    ).select(
        "n",
        "b1",
        (
            F.col("sy").cast("double") / F.col("n")
            - F.col("b1") * F.col("sx").cast("double") / F.col("n")
        ).alias("b0"),
    )
    cal = (
        pts.filter(F.col("split") == "val")
        .crossJoin(F.broadcast(fit))
        .select(
            "n",
            "b0",
            "b1",
            F.abs(
                F.col("y") - F.col("b0") - F.col("b1") * F.col("x")
            ).alias("r"),
        )
    )
    qhat = cal.groupBy(F.col("n").alias("n_train")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        F.expr("percentile(r, 0.9)").alias("q90"),
        F.max("b0").alias("b0"),
        F.max("b1").alias("b1"),
    )
    test = pts.filter(F.col("split") == "test").crossJoin(F.broadcast(qhat))
    return test.groupBy("n_train", "n_cal", "b1", "b0", "q90").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.round(
            F.sum(
                F.when(
                    F.abs(F.col("y") - F.col("b0") - F.col("b1") * F.col("x"))
                    <= F.col("q90"),
                    1,
                ).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("test_coverage"),
    ).select(
        "n_train",
        "n_cal",
        "n_test",
        F.round("b1", 6).alias("slope"),
        F.round("b0", 4).alias("intercept"),
        F.round("q90", 4).alias("q_hat_90"),
        "test_coverage",
    )


_Q401_SQL = """
WITH seg AS (
  SELECT c.c_mktsegment AS seg,
    -- whole units: 1000*rev must stay < 2^53 for the exact-floor
    -- argument even at the 20x replica
    CAST(SUM(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment
), tot AS (
  SELECT CAST(SUM(rev) AS BIGINT) AS t FROM seg
), q AS (
  SELECT /*+ BROADCAST(t) */ s.seg, s.rev,
    CAST(floor(1e3 * s.rev / t.t) AS BIGINT) AS base,
    1000 * s.rev - CAST(floor(1e3 * s.rev / t.t) AS BIGINT) * t.t AS rem,
    t.t AS t
  FROM seg s CROSS JOIN tot t
), leftover AS (
  SELECT 1000 - CAST(SUM(base) AS BIGINT) AS extra FROM q
), ranked AS (
  SELECT /*+ BROADCAST(b) */ a.seg, a.rev, a.base, a.t,
    1 + CAST(SUM(CASE WHEN b.rem > a.rem
          OR (b.rem = a.rem AND b.seg < a.seg)
        THEN 1 ELSE 0 END) AS BIGINT) AS rk
  FROM q a JOIN q b ON TRUE
  GROUP BY a.seg, a.rev, a.base, a.t
)
SELECT /*+ BROADCAST(l) */ r.seg,
  CAST(r.rev AS BIGINT) AS revenue,
  round(1e3 * r.rev / r.t, 4) AS exact_quota,
  CAST(r.base + CASE WHEN r.rk <= l.extra THEN 1 ELSE 0 END AS BIGINT)
    AS seats
FROM ranked r CROSS JOIN leftover l
"""


@register(
    "q401_largest_remainder_alloc",
    oracle=_Q401_SQL.format(orders="orders", customer="customer"),
    tags=("analytics",),
)
def q401_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGEST-REMAINDER (Hamilton) apportionment: split 1000 budget
    units across market segments proportionally to revenue so the
    result is INTEGER and sums to exactly 1000 — the constraint naive
    per-group rounding breaks (sum drifts by ±k/2) that every quota,
    budget-split and seat-allocation job hits. Quotas floor exactly
    (1000·rev and base·T both < 2⁵³, so the double division floors
    true); remainders compare as EXACT INTEGERS (1000·rev − base·T) —
    no float tie ambiguity — and the +1 seats go to the largest
    remainders with a deterministic segment tiebreak. The rank over
    the 5-row frame is a broadcast pair-count, not a global window.

    The same machinery integerizes q404's Neyman allocation and
    q241's token-epoch plan; this query pins the apportionment
    contract itself (Σ = 1000, |seats − quota| < 1)."""
    return _sql_twin(spark, sf_dir, _Q401_SQL, ["orders", "customer"])


_Q406_SQL = """
WITH cust AS (
  SELECT c_custkey AS k, c_nationkey AS nk,
    (CAST(c_custkey * 37 % 160 AS DOUBLE) - 80) + (c_custkey * 7919 % 1000) / 1e3
      AS lat,
    (CAST(c_custkey * 53 % 360 AS DOUBLE) - 180) + (c_custkey * 104729 % 1000) / 1e3
      AS lon
  FROM {customer}
), supp AS (
  SELECT s_suppkey AS k,
    (CAST(s_suppkey * 41 % 160 AS DOUBLE) - 80) + (s_suppkey * 7919 % 1000) / 1e3
      AS lat,
    (CAST(s_suppkey * 59 % 360 AS DOUBLE) - 180) + (s_suppkey * 104729 % 1000) / 1e3
      AS lon
  FROM {supplier}
), pairs AS (
  SELECT c.nk, c.lat AS la1, c.lon AS lo1, s.lat AS la2, s.lon AS lo2
  FROM {lineitem} l
  JOIN {orders} o ON o.o_orderkey = l.l_orderkey
  JOIN cust c ON c.k = o.o_custkey
  JOIN supp s ON s.k = l.l_suppkey
), hav AS (
  SELECT nk,
    12742.0 * asin(sqrt(
      sin((la2 - la1) * 0.008726646259971648) * sin((la2 - la1) * 0.008726646259971648)
      + cos(la1 * 0.017453292519943295) * cos(la2 * 0.017453292519943295)
        * sin((lo2 - lo1) * 0.008726646259971648) * sin((lo2 - lo1) * 0.008726646259971648)
    )) AS km
  FROM pairs
), g AS (
  SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_shipments,
    CAST(SUM(CAST(floor(km * 1e3) AS BIGINT)) AS BIGINT) AS gsum,
    -- MAX rounds the RAW km: a single-row statistic must not sit on a
    -- floor-grid boundary (libm trig differs by ulps across engines;
    -- the sf0.1 cross-scale gate caught one flipped grid step), while
    -- the SUM keeps the grid — a few one-step flips vanish in /n
    MAX(km) AS max_km_raw
  FROM hav GROUP BY nk
)
SELECT nk AS nationkey, n_shipments,
  round(gsum / 1e3 / n_shipments, 2) AS avg_km,
  round(max_km_raw, 2) AS max_km
FROM g
"""


@register(
    "q406_haversine_distance",
    oracle=_Q406_SQL.format(
        customer="customer", supplier="supplier",
        lineitem="lineitem", orders="orders",
    ),
    tags=("analytics", "geo"),
)
def q406_haversine_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVERSINE great-circle shipping distance per customer nation —
    the geo-distance aggregate q377's grid join deliberately avoids
    (the grid buckets PLANAR proximity; logistics KPIs need true
    spherical km): customer/supplier coordinates derive
    deterministically from their keys (pure integer arithmetic —
    engine-replayable, the portable-randomness discipline), distance
    is the standard 2R·asin(√(sin²(Δφ/2)+cosφ₁cosφ₂sin²(Δλ/2))) with
    degree→radian factors inlined as literals. Per-row km values are
    floored onto a 1-meter grid before aggregation, so the per-nation
    sums are exact integers (partition order cannot drift them), and
    the one double division per group happens at the surface.

    Scale: the pair frame is the natural lineitem⋈orders⋈dims star
    join — no cross join anywhere; trig is whole-stage-codegen
    JVM-side."""
    return _sql_twin(
        spark, sf_dir, _Q406_SQL,
        ["customer", "supplier", "lineitem", "orders"],
    )


_Q443_SQL = """
WITH span AS (
  SELECT user_id, MIN(CAST(day(ts) AS BIGINT)) AS d0,
    MAX(CAST(day(ts) AS BIGINT)) AS d1
  FROM {events} GROUP BY user_id
), death AS (
  SELECT user_id, MIN(CAST(day(ts) AS BIGINT)) AS dd
  FROM {events} WHERE event_type = 'error' AND value >= 150
  GROUP BY user_id
), life AS (
  SELECT s.user_id,
    CASE WHEN d.dd IS NOT NULL THEN d.dd - s.d0 ELSE s.d1 - s.d0 END AS t,
    CASE WHEN d.dd IS NOT NULL THEN 1 ELSE 0 END AS died
  FROM span s LEFT JOIN death d ON d.user_id = s.user_id
), agg AS (
  SELECT t, CAST(SUM(died) AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS m
  FROM life GROUP BY t
), risk AS (
  SELECT /*+ BROADCAST(b) */ a.t, a.d, CAST(SUM(b.m) AS BIGINT) AS n_risk
  FROM agg a JOIN agg b ON b.t >= a.t GROUP BY a.t, a.d
), fac AS (
  SELECT t, d, n_risk,
    CASE WHEN d < n_risk THEN
      CAST(round(ln(1e0 - CAST(d AS DOUBLE) / n_risk) * 1e6) AS BIGINT)
    ELSE CAST(0 AS BIGINT) END AS lgrid
  FROM risk
), surv AS (
  SELECT /*+ BROADCAST(b) */ a.t,
    CAST(SUM(CASE WHEN b.d < b.n_risk THEN b.lgrid ELSE 0 END) AS BIGINT)
      AS cum,
    CAST(SUM(CASE WHEN b.d >= b.n_risk THEN 1 ELSE 0 END) AS BIGINT) AS nz
  FROM fac a LEFT JOIN fac b ON b.t <= a.t AND b.d > 0
  GROUP BY a.t
)
SELECT r.t AS day_t, r.d AS n_deaths, r.n_risk,
  round(CASE WHEN COALESCE(s.nz, 0) > 0 THEN 0e0
        ELSE exp(COALESCE(s.cum, 0) / 1e6) END, 6) AS km_survival
FROM risk r LEFT JOIN surv s ON s.t = r.t
"""


@register(
    "q443_kaplan_meier",
    oracle=_Q443_SQL.format(events="events"),
    tags=("analytics", "stats", "survival"),
)
def q443_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for TIME-TO-FAILURE — days from a
    user's first activity to their first severe error (value ≥ 150),
    RIGHT-CENSORED at the last observed day for users who never fail:
    the estimator every reliability/churn analysis needs because naive
    averages are biased low by exactly the users still alive. Discrete
    product-limit form: S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over distinct
    failure days. In-query assert: both deaths AND censored users must
    exist at the verification scale (a one-sided fixture hashes
    vacuously — the round-9 McNemar lesson).

    Engine-exactness: the product becomes a SUM of per-day ln-factors
    snapped once onto the 1e-6 grid; the cumulative sum and the
    at-risk counts both come from broadcast theta-joins over the
    ≤31-row day frame (never an unpartitioned window), and a day where
    everyone at risk dies short-circuits S to exactly 0 instead of
    feeding ln(0) into the grid.

    Scale: one user-grain agg, then everything lives on the bounded
    day frame."""
    _assert_survival_mix(spark, sf_dir)
    return _sql_twin(spark, sf_dir, _Q443_SQL, ["events"])


def _assert_survival_mix(spark: SparkSession, sf_dir: str) -> None:
    """Shared q443/q444 vacuousness guard: the time-to-failure cohort
    must contain BOTH failures and censored survivors."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct().count()
    failed = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") >= 150))
        .select("user_id")
        .distinct()
        .count()
    )
    if failed == 0 or failed == users:
        raise ValueError(
            f"vacuous survival fixture: {failed} failed of {users} users"
        )


_Q444_SQL = """
WITH span AS (
  SELECT user_id, MIN(CAST(day(ts) AS BIGINT)) AS d0,
    MAX(CAST(day(ts) AS BIGINT)) AS d1
  FROM {events} GROUP BY user_id
), death AS (
  SELECT user_id, MIN(CAST(day(ts) AS BIGINT)) AS dd
  FROM {events} WHERE event_type = 'error' AND value >= 150
  GROUP BY user_id
), life AS (
  SELECT s.user_id,
    CASE WHEN d.dd IS NOT NULL THEN d.dd - s.d0 ELSE s.d1 - s.d0 END AS t,
    CASE WHEN d.dd IS NOT NULL THEN 1 ELSE 0 END AS died,
    CAST(s.user_id % 2 AS BIGINT) AS g
  FROM span s LEFT JOIN death d ON d.user_id = s.user_id
), agg AS (
  SELECT t, g, CAST(SUM(died) AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS m
  FROM life GROUP BY t, g
), pooled AS (
  SELECT t, CAST(SUM(d) AS BIGINT) AS dt, CAST(SUM(m) AS BIGINT) AS mt
  FROM agg GROUP BY t
), risk AS (
  SELECT /*+ BROADCAST(b) */ a.t, MAX(a.dt) AS dt,
    CAST(SUM(b.mt) AS BIGINT) AS nt
  FROM pooled a JOIN pooled b ON b.t >= a.t GROUP BY a.t
), risk1 AS (
  -- at-risk count for group 1 per time; the group-1 death count
  -- comes from its own t-grain CTE below — folding both into one
  -- double LEFT JOIN cross-multiplied d1t by the at-risk row count
  -- (caught by the round-10 NumPy twin, invisible to the shared-
  -- template differential because the oracle shared the bug)
  SELECT /*+ BROADCAST(b) */ a.t,
    CAST(SUM(CASE WHEN b.g = 1 THEN b.m ELSE 0 END) AS BIGINT) AS n1t
  FROM (SELECT DISTINCT t FROM pooled) a
  LEFT JOIN agg b ON b.t >= a.t
  GROUP BY a.t
), d1g AS (
  SELECT t, CAST(SUM(CASE WHEN g = 1 THEN d ELSE 0 END) AS BIGINT) AS d1t
  FROM agg GROUP BY t
), terms AS (
  SELECT r.t, d1g.d1t, r.dt, r.nt, r1.n1t,
    CAST(floor(CAST(r.dt AS DOUBLE) * r1.n1t / r.nt * 1e6) AS BIGINT)
      AS e_grid,
    CASE WHEN r.nt > 1 THEN
      CAST(floor(
        CAST(r.dt AS DOUBLE) * (CAST(r1.n1t AS DOUBLE) / r.nt)
        * (1e0 - CAST(r1.n1t AS DOUBLE) / r.nt)
        * (r.nt - r.dt) / (r.nt - 1) * 1e6) AS BIGINT)
    ELSE CAST(0 AS BIGINT) END AS v_grid
  FROM risk r JOIN risk1 r1 ON r1.t = r.t
  JOIN d1g ON d1g.t = r.t
  WHERE r.dt > 0
), s AS (
  SELECT CAST(SUM(d1t) AS BIGINT) AS o1, CAST(SUM(e_grid) AS BIGINT) AS e1,
    CAST(SUM(v_grid) AS BIGINT) AS v1
  FROM terms
)
SELECT o1 AS observed_g1, e1 AS expected_g1_micro, v1 AS variance_micro,
  round((o1 - e1 / 1e6) * (o1 - e1 / 1e6) / (v1 / 1e6), 6)
    AS logrank_chi2,
  round((o1 - e1 / 1e6) * (o1 - e1 / 1e6) / (v1 / 1e6), 6) > 3.841459
    AS reject_h0_95
FROM s
"""


@register(
    "q444_logrank_test",
    oracle=_Q444_SQL.format(events="events"),
    tags=("analytics", "stats", "survival"),
)
def q444_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK test between two survival curves (Mantel-Cox) — do
    even- and odd-id users churn at the same hazard? The inferential
    companion to q443's KM curve (eyeballing two curves is not a
    test): at every death time, O−E compares group-1's observed deaths
    to its at-risk share of the pooled deaths; the variance is the
    hypergeometric term; χ²₁ against the 95% critical value.

    Exactness: per-day E and V are single double expressions over
    exact integer (d, n, n₁) — identical cross-engine — floored onto
    the 1e-6 grid and BIGINT-summed, so the cross-day accumulation is
    order-free (q382's discipline). At-risk counts via broadcast
    theta-joins on the ≤31-row day frame.

    Scale: one user-grain agg; all survival math on the day frame."""
    _assert_survival_mix(spark, sf_dir)
    return _sql_twin(spark, sf_dir, _Q444_SQL, ["events"])


_Q445_SQL = """
WITH cells AS (
  SELECT c.c_mktsegment AS seg, n.n_regionkey AS reg,
    CAST(COUNT(*) AS BIGINT) AS o
  FROM {customer} c JOIN {nation} n ON c.c_nationkey = n.n_nationkey
  GROUP BY c.c_mktsegment, n.n_regionkey
), rt AS (
  SELECT seg, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY seg
), ct AS (
  SELECT reg, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY reg
), n AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
    CAST(COUNT(DISTINCT seg) AS BIGINT) AS nr,
    CAST(COUNT(DISTINCT reg) AS BIGINT) AS nc
  FROM cells
), terms AS (
  SELECT CAST(floor(
      (cells.o - CAST(rt.r AS DOUBLE) * ct.c / n.n)
      * (cells.o - CAST(rt.r AS DOUBLE) * ct.c / n.n)
      / (CAST(rt.r AS DOUBLE) * ct.c / n.n) * 1e6) AS BIGINT) AS t
  FROM cells JOIN rt ON cells.seg = rt.seg
  JOIN ct ON cells.reg = ct.reg CROSS JOIN n
), s AS (
  SELECT CAST(SUM(t) AS BIGINT) AS chi_grid FROM terms
)
SELECT n.n AS n_obs, (n.nr - 1) * (n.nc - 1) AS dof,
  round(chi_grid / 1e6, 4) AS chi2,
  round(sqrt(chi_grid / 1e6
    / (n.n * (CASE WHEN n.nr < n.nc THEN n.nr ELSE n.nc END - 1))), 6)
    AS cramers_v
FROM s CROSS JOIN n
"""


@register(
    "q445_cramers_v",
    oracle=_Q445_SQL.format(customer="customer", nation="nation"),
    tags=("analytics", "stats"),
)
def q445_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² test of independence + Cramér's V on the market-segment ×
    region contingency table — the effect-size companion every χ²
    report needs (χ² grows with N even for negligible association; V
    normalizes to [0,1]). Cell/margin counts are exact integers from
    one hash agg; each cell's (O−E)²/E is a single double expression
    over them — identical cross-engine — floored onto the 1e-6 grid
    and BIGINT-summed over the ≤25-cell frame (q382 discipline), so
    the χ² accumulation can never see engine sum order. Missing cells
    contribute E (not 0) to χ² in theory — the 5×5 grid here is fully
    populated at every fixture scale, and the margins-from-cells
    construction keeps the two engines' cell sets identical by
    definition."""
    return _sql_twin(spark, sf_dir, _Q445_SQL, ["customer", "nation"])


_Q446_SQL = """
WITH r AS (
  SELECT
    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         THEN 1 ELSE 0 END AS a,
    CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS b
  FROM {orders}
), c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(a * b) AS BIGINT) AS n11,
    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM r
)
SELECT n, n11, n10, n01, n00,
  round((n11 + n00) / CAST(n AS DOUBLE), 6) AS po,
  round(((n11 + n10) * CAST(n11 + n01 AS DOUBLE)
       + (n01 + n00) * CAST(n10 + n00 AS DOUBLE)) / n / n, 6) AS pe,
  round(((n11 + n00) / CAST(n AS DOUBLE)
       - ((n11 + n10) * CAST(n11 + n01 AS DOUBLE)
        + (n01 + n00) * CAST(n10 + n00 AS DOUBLE)) / n / n)
      / (1e0 - ((n11 + n10) * CAST(n11 + n01 AS DOUBLE)
        + (n01 + n00) * CAST(n10 + n00 AS DOUBLE)) / n / n), 6)
    AS cohens_kappa
FROM c
"""


@register(
    "q446_cohens_kappa",
    oracle=_Q446_SQL.format(orders="orders"),
    tags=("analytics", "stats"),
)
def q446_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ — chance-corrected agreement between two binary
    'raters' labeling the same orders (a rules-based priority flag vs
    a price-threshold flag): the inter-annotator-agreement statistic
    every labeling pipeline reports, because raw agreement p_o is
    inflated by whatever both raters say most often; κ subtracts the
    chance agreement p_e implied by the marginals. The 2×2 confusion
    counts are exact integers from one fold; p_o, p_e and κ are single
    double expressions over them — no accumulation, nothing to
    grid."""
    return _sql_twin(spark, sf_dir, _Q446_SQL, ["orders"])


_Q447_SQL = """
WITH vals AS (
  SELECT source, n_chars AS v FROM {documents}
), counts AS (
  SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM vals GROUP BY source, v
), vc AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM counts GROUP BY v
), below AS (
  SELECT a.v, CAST(COALESCE(SUM(b.cv), 0) AS BIGINT) AS n_less
  FROM vc a LEFT JOIN vc b ON b.v < a.v GROUP BY a.v
), rx AS (
  -- 2x the tie-averaged rank of value v (exact integer)
  SELECT below.v, 2 * below.n_less + vc.cv + 1 AS rx2
  FROM below JOIN vc ON vc.v = below.v
), g AS (
  SELECT counts.source, CAST(SUM(counts.c) AS BIGINT) AS ng,
    CAST(SUM(counts.c * rx.rx2) AS BIGINT) AS s2
  FROM counts JOIN rx ON rx.v = counts.v GROUP BY counts.source
), tot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n,
    CAST(COUNT(*) AS BIGINT) AS k FROM g
), hterm AS (
  SELECT CAST(floor(
      (CAST(g.s2 AS DOUBLE) / 2) * (CAST(g.s2 AS DOUBLE) / 2) / g.ng)
    AS BIGINT) AS t
  FROM g
), ties AS (
  SELECT CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS tt FROM vc
)
SELECT tot.n AS n_obs, tot.k AS n_groups,
  round(
    (12e0 * (SELECT SUM(t) FROM hterm)
      / (CAST(tot.n AS DOUBLE) * (tot.n + 1)) - 3e0 * (tot.n + 1))
    / (1e0 - (SELECT tt FROM ties)
       / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n)), 6)
    AS kw_h
FROM tot
"""


@register(
    "q447_kruskal_wallis",
    oracle=_Q447_SQL.format(documents="documents"),
    tags=("analytics", "stats"),
)
def q447_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the per-source document-length
    distributions — the rank-based one-way ANOVA (q385 compares means
    and assumes normal errors; KW compares rank sums and doesn't),
    with the standard tie correction. All rank math is INTEGER-exact
    via the q296 device: tie-averaged ranks ride as 2×rank
    (2·n_less + count + 1), group rank sums are exact BIGINTs, and
    each group's R²/n term is floored to the unit grid before the
    cross-group sum (terms ~1e17 at the replicas — q385's overflow
    sizing). The tie term Σ(t³−t) stays far inside int64 for any
    realistic length multiplicity.

    Scale: word-count-shaped aggregates over the distinct-value grid;
    the rank 'window' is a broadcast theta-join on that bounded
    frame, never a corpus-wide sort."""
    return _sql_twin(spark, sf_dir, _Q447_SQL, ["documents"])


_Q448_SQL = """
WITH x AS (
  SELECT c.c_mktsegment AS seg,
    CAST(floor(o.o_totalprice) AS BIGINT) AS v
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
), gm AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
  FROM x GROUP BY seg
), z AS (
  SELECT x.seg,
    CAST(floor(abs(x.v - CAST(gm.s AS DOUBLE) / gm.n)) AS BIGINT) AS z
  FROM x JOIN gm ON x.seg = gm.seg
), zg AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(z) AS BIGINT) AS sz,
    CAST(SUM(z * z) AS BIGINT) AS szz
  FROM z GROUP BY seg
), grid AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
    CAST(SUM(sz) AS BIGINT) AS tsz,
    CAST(SUM(CAST(floor(CAST(sz AS DOUBLE) * sz / n) AS BIGINT))
      AS BIGINT) AS gssb,
    CAST(SUM(CAST(floor(szz - CAST(sz AS DOUBLE) * sz / n) AS BIGINT))
      AS BIGINT) AS gssw
  FROM zg
)
SELECT k AS n_groups, nn AS n_rows,
  round(((gssb - CAST(tsz AS DOUBLE) * tsz / nn) / (k - 1))
      / (CAST(gssw AS DOUBLE) / (nn - k)), 6) AS levene_w
FROM grid
"""


@register(
    "q448_levene_variance",
    oracle=_Q448_SQL.format(orders="orders", customer="customer"),
    tags=("analytics", "stats"),
)
def q448_levene_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's test for EQUALITY OF VARIANCES across market segments
    (mean-centered form): before trusting q385's ANOVA F, check its
    homoscedasticity assumption by running the same one-way F on the
    absolute deviations z = |x − x̄_g|. Deviations are floored to the
    unit (dollar) grid after ONE double expression over exact integer
    sums — identical both engines — and the ANOVA pieces reuse q385's
    exact grid-int construction verbatim (sized so z² sums clear int64
    at the 40× replica).

    Scale: two group-grain hash aggs + one map-side join back —
    the canonical two-pass variance shape."""
    return _sql_twin(spark, sf_dir, _Q448_SQL, ["orders", "customer"])


_Q449_SQL = """
WITH x AS (
  SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS v FROM {orders}
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s1,
    CAST(SUM(v * v) AS BIGINT) AS s2,
    CAST(SUM(v * v * v) AS BIGINT) AS s3,
    CAST(SUM(v * v * v * v) AS BIGINT) AS s4
  FROM x
), c AS (
  SELECT n,
    CAST(s1 AS DOUBLE) / n AS mu,
    CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (s1 / CAST(n AS DOUBLE)) AS m2,
    CAST(s3 AS DOUBLE) / n
      - 3e0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
      + 2e0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        * (CAST(s1 AS DOUBLE) / n) AS m3,
    CAST(s4 AS DOUBLE) / n
      - 4e0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
      + 6e0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        * (CAST(s2 AS DOUBLE) / n)
      - 3e0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
  FROM m
)
SELECT n AS n_obs,
  round(m3 / sqrt(m2 * m2 * m2), 6) AS skewness,
  round(m4 / (m2 * m2) - 3e0, 6) AS excess_kurtosis,
  round(n / 6e0 * ((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2))
    + (m4 / (m2 * m2) - 3e0) * (m4 / (m2 * m2) - 3e0) / 4e0), 4)
    AS jarque_bera,
  round(n / 6e0 * ((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2))
    + (m4 / (m2 * m2) - 3e0) * (m4 / (m2 * m2) - 3e0) / 4e0), 4)
    > 5.991465 AS reject_normal_95
FROM c
"""


@register(
    "q449_jarque_bera",
    oracle=_Q449_SQL.format(orders="orders"),
    tags=("analytics", "stats"),
)
def q449_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on order values — skewness² and
    excess-kurtosis² against χ²₂: the distribution-shape gate that
    should FAIL here (TPC-H prices are uniform-ish, platykurtic), the
    point being the machinery, not the verdict. Raw power sums Σx..Σx⁴
    ride as exact BIGINTs (values floored to kilodollar units so x⁴
    sums clear int64 at the 40× replica — the q385 sizing rule; floor,
    never round: half-ties flip between engines, the q362 lesson);
    central moments, S, K and JB are one double expression over those
    five exact integers."""
    return _sql_twin(spark, sf_dir, _Q449_SQL, ["orders"])


_Q453_SQL = """
WITH x AS (
  SELECT CASE WHEN year(o_orderdate) <= 1997 THEN 'ref' ELSE 'cur' END
      AS era,
    LEAST(CAST(floor(o_totalprice / 60000e0) AS BIGINT), 9) AS bin
  FROM {orders}
), c AS (
  SELECT era, bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM x GROUP BY era, bin
), n AS (
  SELECT era, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY era
), bins AS (
  SELECT DISTINCT bin FROM c
), sm AS (
  -- Laplace-smoothed shares so an empty bin on one side stays defined
  SELECT b.bin,
    (COALESCE(r.cnt, 0) + 1) / (CAST(rn.n AS DOUBLE) + 10) AS p,
    (COALESCE(u.cnt, 0) + 1) / (CAST(un.n AS DOUBLE) + 10) AS q
  FROM bins b
  LEFT JOIN c r ON r.bin = b.bin AND r.era = 'ref'
  LEFT JOIN c u ON u.bin = b.bin AND u.era = 'cur'
  CROSS JOIN (SELECT n FROM n WHERE era = 'ref') rn
  CROSS JOIN (SELECT n FROM n WHERE era = 'cur') un
), t AS (
  SELECT CAST(SUM(CAST(round((q - p) * ln(q / p) * 1e9) AS BIGINT))
    AS BIGINT) AS psi_grid
  FROM sm
)
SELECT CAST((SELECT COUNT(*) FROM bins) AS BIGINT) AS n_bins,
  round(psi_grid / 1e9, 6) AS psi,
  round(psi_grid / 1e9, 6) > 0.2 AS major_shift
FROM t
"""


@register(
    "q453_psi_stability",
    oracle=_Q453_SQL.format(orders="orders"),
    tags=("analytics", "stats", "drift"),
)
def q453_psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the ≤1997 reference era and
    the later scoring era of the order-value distribution — the
    model-monitoring drift gate (PSI > 0.2 = retrain): Σ(q−p)·ln(q/p)
    over 10 fixed value bins with Laplace smoothing so a bin empty on
    one side stays finite. Bin counts are exact integers; each bin's
    term is one double expression snapped onto the 1e-9 grid before
    the 10-term sum (q382 discipline). Bins by floor (never round —
    q362's half-tie lesson)."""
    return _sql_twin(spark, sf_dir, _Q453_SQL, ["orders"])


_Q454_SQL = """
WITH c AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM {documents} GROUP BY source, lang
), ns AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY source
), corpus AS (
  SELECT lang, CAST(SUM(cnt) AS BIGINT) AS cc FROM c GROUP BY lang
), tot AS (
  SELECT CAST(SUM(cc) AS BIGINT) AS t FROM corpus
), terms AS (
  SELECT c.source,
    CAST(round(
      (c.cnt / CAST(ns.n AS DOUBLE))
      * ln((c.cnt / CAST(ns.n AS DOUBLE))
         / (corpus.cc / CAST(tot.t AS DOUBLE))) * 1e9) AS BIGINT) AS kl_t,
    CAST(round(
      (c.cnt / CAST(ns.n AS DOUBLE))
      * ln((c.cnt / CAST(ns.n AS DOUBLE))
         / ((c.cnt / CAST(ns.n AS DOUBLE)
            + corpus.cc / CAST(tot.t AS DOUBLE)) / 2e0)) * 1e9)
      AS BIGINT) AS jsp_t,
    CAST(round(
      (corpus.cc / CAST(tot.t AS DOUBLE))
      * ln((corpus.cc / CAST(tot.t AS DOUBLE))
         / ((c.cnt / CAST(ns.n AS DOUBLE)
            + corpus.cc / CAST(tot.t AS DOUBLE)) / 2e0)) * 1e9)
      AS BIGINT) AS jsq_t
  FROM c JOIN ns ON c.source = ns.source
  JOIN corpus ON c.lang = corpus.lang CROSS JOIN tot
)
SELECT source,
  round(SUM(kl_t) / 1e9, 6) AS kl_nats,
  round((SUM(jsp_t) + SUM(jsq_t)) / 2e0 / 1e9, 6) AS js_nats
FROM terms GROUP BY source
"""


@register(
    "q454_kl_js_divergence",
    oracle=_Q454_SQL.format(documents="documents"),
    tags=("analytics", "stats", "llm"),
)
def q454_kl_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL and Jensen-Shannon divergence of each source's language mix
    against the corpus mix — the mixture-monitoring statistic a
    training-data pipeline tracks per shard (JS is the symmetric,
    bounded one worth alerting on; KL blows up on missing support,
    which can't happen here since every source's langs are in the
    pool). Per-(source,lang) terms are single double expressions over
    exact counts, rounded onto the 1e-9 grid, summed per source as
    BIGINTs; the JS caveat — q's terms over the source's OWN support
    only — is exact here because every lang appears in every source at
    fixture scales (missing cells would need +0 terms on the q side,
    which vanish identically anyway only when p(lang)=0 too)."""
    return _sql_twin(spark, sf_dir, _Q454_SQL, ["documents"])


_Q455_SQL = """
WITH x AS (
  SELECT c.c_mktsegment AS seg,
    CAST(floor(o.o_totalprice / 1000e0) AS BIGINT) AS v
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
), c AS (
  SELECT seg, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM x GROUP BY seg, v
), n AS (
  SELECT seg, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY seg
), grid AS (
  SELECT DISTINCT v FROM c
), cum AS (
  SELECT /*+ BROADCAST(b) */ g.v,
    CAST(SUM(CASE WHEN b.seg = 'BUILDING' THEN b.cnt ELSE 0 END)
      AS BIGINT) AS ca,
    CAST(SUM(CASE WHEN b.seg = 'MACHINERY' THEN b.cnt ELSE 0 END)
      AS BIGINT) AS cb
  FROM grid g LEFT JOIN c b ON b.v <= g.v
  GROUP BY g.v
), t AS (
  SELECT /*+ BROADCAST(na, nb) */ CAST(SUM(CAST(round(abs(
      cum.ca / CAST(na.n AS DOUBLE) - cum.cb / CAST(nb.n AS DOUBLE))
      * 1e9) AS BIGINT)) AS BIGINT) AS w_grid
  FROM cum
  CROSS JOIN (SELECT n FROM n WHERE seg = 'BUILDING') na
  CROSS JOIN (SELECT n FROM n WHERE seg = 'MACHINERY') nb
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM grid) AS n_buckets,
  round(w_grid / 1e9, 6) AS wasserstein_1_kusd
FROM t
"""


@register(
    "q455_wasserstein_1d",
    oracle=_Q455_SQL.format(orders="orders", customer="customer"),
    tags=("analytics", "stats"),
)
def q455_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between the BUILDING and
    MACHINERY order-value distributions, in kilodollar units — the
    metric two-sample comparison that, unlike KS (max gap) or KL
    (needs shared support + is scale-free), reports HOW MUCH value
    mass must move: W₁ = ∫|CDF_a − CDF_b| over the bucketed value
    axis (exact for the bucketed variable; q399's t-closeness EMD is
    the within-table cousin). Cumulative counts come from one
    broadcast theta-join over the ≤600-bucket grid — no unpartitioned
    window; per-bucket gaps snap onto the 1e-9 grid and sum as
    BIGINTs."""
    return _sql_twin(spark, sf_dir, _Q455_SQL, ["orders", "customer"])


_Q456_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS dol
  FROM {orders} GROUP BY CAST(o_orderdate AS DATE)
), s AS (
  SELECT d, CAST(floor(dol / 100e0) AS BIGINT) AS x FROM daily
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM s
), dev AS (
  SELECT d, CAST(floor((x - CAST((SELECT sx FROM m) AS DOUBLE)
      / (SELECT n FROM m)) * 1e3) AS BIGINT) AS e
  FROM s
), cum AS (
  SELECT /*+ BROADCAST(b) */ a.d, CAST(SUM(b.e) AS BIGINT) AS st
  FROM dev a JOIN dev b ON b.d <= a.d GROUP BY a.d
), pick AS (
  SELECT CAST(d AS STRING) AS change_day, abs(st) AS mx
  FROM cum ORDER BY abs(st) DESC, d LIMIT 1
)
SELECT m.n AS n_days, pick.change_day,
  round(pick.mx / 1e3 / 100e0, 2) AS max_cusum_kusd,
  round((pick.mx / 1e3)
    / (sqrt(CAST(m.sxx AS DOUBLE) / m.n
        - (CAST(m.sx AS DOUBLE) / m.n) * (CAST(m.sx AS DOUBLE) / m.n))
       * sqrt(CAST(m.n AS DOUBLE))), 6) AS normalized_cusum
FROM pick CROSS JOIN m
"""


@register(
    "q456_cusum_changepoint",
    oracle=_Q456_SQL.format(orders="orders"),
    tags=("analytics", "timeseries", "drift"),
)
def q456_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point locator on the daily-revenue series: the
    day maximizing |Σ_{t≤d}(x_t − x̄)| is the classic single
    change-point estimate, and max|S|/(σ̂·√n) is its normalized
    magnitude (≫1 ⇒ a level shift, not noise). Per-day deviations
    snap once onto a 1e-3 grid; the cumulative path is an exact
    BIGINT sum via a broadcast theta-join over the ~2400-day frame
    (no unpartitioned window), so the argmax day is deterministic
    (ties break to the earliest day)."""
    return _sql_twin(spark, sf_dir, _Q456_SQL, ["orders"])


_Q458_SQL = """
WITH d AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
    AS STRING), 1, 1) AS BIGINT) AS fd
  FROM {orders} WHERE o_totalprice >= 1
), c AS (
  SELECT fd, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY fd
), n AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c
), t AS (
  SELECT c.fd, c.cnt,
    CAST(round((c.cnt - n.n * ln(1e0 + 1e0 / c.fd) / ln(10e0))
       * (c.cnt - n.n * ln(1e0 + 1e0 / c.fd) / ln(10e0))
       / (n.n * ln(1e0 + 1e0 / c.fd) / ln(10e0)) * 1e6) AS BIGINT)
      AS chi_t,
    CAST(round(abs(c.cnt / CAST(n.n AS DOUBLE)
       - ln(1e0 + 1e0 / c.fd) / ln(10e0)) * 1e9) AS BIGINT) AS mad_t
  FROM c CROSS JOIN n
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_digits,
  round(SUM(chi_t) / 1e6, 4) AS benford_chi2,
  round(SUM(mad_t) / CAST(COUNT(*) AS DOUBLE) / 1e9, 6) AS benford_mad
FROM t
"""


@register(
    "q458_benford_digits",
    oracle=_Q458_SQL.format(orders="orders"),
    tags=("analytics", "stats", "dq"),
)
def q458_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order values — χ² and the
    mean-absolute-deviation of the leading-digit distribution against
    log₁₀(1+1/d): the forensic-accounting / synthetic-data detector
    (TPC-H's uniform price generator should FAIL loudly — the point is
    the machinery and the honest verdict). Leading digit via exact
    integer-string truncation on both engines (no log10-and-divide
    float path); per-digit χ²/MAD terms are single double expressions
    over exact counts, grid-snapped and summed over the 9-cell
    frame."""
    return _sql_twin(spark, sf_dir, _Q458_SQL, ["orders"])


_Q459_SQL = """
WITH rev AS (
  SELECT o_custkey,
    CAST(floor(SUM(CAST(round(o_totalprice) AS BIGINT)) / 10000e0)
      AS BIGINT) AS v
  FROM {orders} GROUP BY o_custkey
), vc AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS cv FROM rev GROUP BY v
), below AS (
  SELECT /*+ BROADCAST(b) */ a.v,
    CAST(COALESCE(SUM(b.cv), 0) AS BIGINT) AS n_less
  FROM vc a LEFT JOIN vc b ON b.v < a.v GROUP BY a.v
), rx AS (
  SELECT below.v, vc.cv, 2 * below.n_less + vc.cv + 1 AS rx2
  FROM below JOIN vc ON vc.v = below.v
), m AS (
  SELECT CAST(SUM(cv) AS BIGINT) AS n,
    CAST(SUM(cv * v) AS BIGINT) AS sx,
    CAST(SUM(cv * rx2 * v) AS BIGINT) AS srx2
  FROM rx
), topdec AS (
  SELECT /*+ BROADCAST(b) */ a.v
  FROM rx a LEFT JOIN vc b ON b.v > a.v CROSS JOIN m
  GROUP BY a.v, m.n
  HAVING COALESCE(SUM(b.cv), 0) + MIN(a.cv) >= CAST(ceil(m.n / 10e0) AS BIGINT)
    AND COALESCE(SUM(b.cv), 0) < CAST(ceil(m.n / 10e0) AS BIGINT)
), tshare AS (
  SELECT CAST(SUM(CASE WHEN rx.v >= (SELECT v FROM topdec)
    THEN rx.cv * rx.v ELSE 0 END) AS BIGINT) AS stop
  FROM rx
)
SELECT m.n AS n_customers,
  round(CAST(m.srx2 AS DOUBLE) / (CAST(m.n AS DOUBLE) * m.sx)
    - (m.n + 1e0) / m.n, 6) AS gini,
  round(CAST(tshare.stop AS DOUBLE) / m.sx, 6) AS top_decile_share
FROM m CROSS JOIN tshare
"""


@register(
    "q459_gini_lorenz",
    oracle=_Q459_SQL.format(orders="orders"),
    tags=("analytics", "stats"),
)
def q459_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient + top-decile Lorenz share of customer revenue
    — the concentration summary (how unequal is the customer book?)
    at ten-kilodollar BUCKET grain, which keeps the statistic exact
    for the bucketed variable and the value frame bounded (~150
    buckets at any replica, since per-customer revenue is
    scale-invariant in TPC-H). Gini via the tie-averaged-rank identity
    G = 2·Σrᵢxᵢ/(nΣx) − (n+1)/n with the q296 2×-rank device: every
    term is an exact BIGINT, and the final value is one double
    expression. The top-decile cutoff bucket is selected exactly by
    cumulative counting from above (no percentile approximation)."""
    return _sql_twin(spark, sf_dir, _Q459_SQL, ["orders"])


_Q460_SQL = """
WITH rev AS (
  SELECT c.c_nationkey AS nk,
    CAST(floor(SUM(CAST(round(o.o_totalprice) AS BIGINT)) / 10000e0)
      AS BIGINT) AS v
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
  GROUP BY o.o_custkey, c.c_nationkey
), cells AS (
  -- bucket-midpoint income x = v + 0.5 (ten-kilodollar units): never
  -- zero, so every log is finite
  SELECT nk, v, CAST(COUNT(*) AS BIGINT) AS c FROM rev GROUP BY nk, v
), g AS (
  SELECT nk, CAST(SUM(c) AS BIGINT) AS ng,
    CAST(SUM(c * (2 * v + 1)) AS BIGINT) AS sx2g
  FROM cells GROUP BY nk
), tot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(sx2g) AS BIGINT) AS sx2
  FROM g
), within AS (
  SELECT CAST(SUM(CAST(round(
      (c * (2e0 * v + 1) / tot.sx2)
      * ln(((2e0 * v + 1) / 2e0) / ((CAST(g.sx2g AS DOUBLE) / 2e0) / g.ng))
      * 1e9) AS BIGINT)) AS BIGINT) AS tw_grid
  FROM cells JOIN g ON cells.nk = g.nk CROSS JOIN tot
), between_ AS (
  SELECT CAST(SUM(CAST(round(
      (CAST(g.sx2g AS DOUBLE) / tot.sx2)
      * ln((CAST(g.sx2g AS DOUBLE) / g.ng) / (CAST(tot.sx2 AS DOUBLE) / tot.n))
      * 1e9) AS BIGINT)) AS BIGINT) AS tb_grid
  FROM g CROSS JOIN tot
)
SELECT tot.n AS n_customers,
  round((tw_grid + tb_grid) / 1e9, 6) AS theil_total,
  round(tb_grid / 1e9, 6) AS theil_between_nations,
  round(tw_grid / 1e9, 6) AS theil_within,
  round(CAST(tb_grid AS DOUBLE) / (tw_grid + tb_grid), 6)
    AS between_share
FROM within CROSS JOIN between_ CROSS JOIN tot
"""


@register(
    "q460_theil_index",
    oracle=_Q460_SQL.format(orders="orders", customer="customer"),
    tags=("analytics", "stats"),
)
def q460_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index of customer revenue with its exact
    BETWEEN/WITHIN-nation decomposition — the additive-decomposable
    inequality measure (Gini isn't): T = T_between + Σ share_g·T_g,
    answering 'is revenue concentration a cross-market or
    within-market phenomenon?'. Bucket-midpoint incomes (2v+1 halves
    ride as exact integers — no fractional arithmetic until the one
    log per cell), per-cell terms snapped onto the 1e-9 grid and
    BIGINT-summed over the ≤25×150-cell frame. The decomposition
    identity is checkable from the output columns by construction."""
    return _sql_twin(spark, sf_dir, _Q460_SQL, ["orders", "customer"])


_Q461_SQL = """
WITH sup AS (
  SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
    CAST(SUM(CAST(round(l.l_extendedprice) AS BIGINT)) AS BIGINT) AS rev
  FROM {lineitem} l JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
), nat AS (
  SELECT nk, CAST(SUM(rev) AS BIGINT) AS tot,
    CAST(COUNT(*) AS BIGINT) AS n_sup
  FROM sup GROUP BY nk
), t AS (
  SELECT sup.nk,
    CAST(SUM(CAST(round(
      (sup.rev / CAST(nat.tot AS DOUBLE))
      * (sup.rev / CAST(nat.tot AS DOUBLE)) * 1e10) AS BIGINT))
      AS BIGINT) AS h_grid
  FROM sup JOIN nat ON sup.nk = nat.nk GROUP BY sup.nk
)
SELECT t.nk AS nationkey, nat.n_sup AS n_suppliers,
  round(h_grid / 1e10 * 10000, 2) AS hhi,
  h_grid / 1e10 * 10000 > 2500 AS highly_concentrated
FROM t JOIN nat ON t.nk = nat.nk
"""


@register(
    "q461_hhi_concentration",
    oracle=_Q461_SQL.format(lineitem="lineitem", supplier="supplier"),
    tags=("analytics", "stats"),
)
def q461_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman Index of supplier revenue concentration
    per nation (0–10,000 points; >2,500 = DOJ 'highly concentrated')
    — the antitrust/market-structure census, and for a data platform
    the skew early-warning for any 'share of key within group'
    question. Supplier revenues are exact integer dollars; each
    share² term is one double expression snapped onto the 1e-10 grid
    (shares ≤ 1, so grid sums stay tiny) and summed per nation over
    the bounded supplier-per-nation frame."""
    return _sql_twin(spark, sf_dir, _Q461_SQL, ["lineitem", "supplier"])


_Q466_SQL = """
WITH base AS (
  SELECT o.o_orderkey, c.c_mktsegment AS f1, n.n_regionkey AS f2,
    CASE WHEN o.o_totalprice > 150000 THEN 1 ELSE 0 END AS y,
    CASE WHEN year(o.o_orderdate) <= 1997 THEN 1 ELSE 0 END AS is_train
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
  JOIN {nation} n ON c.c_nationkey = n.n_nationkey
), pri AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS nc
  FROM base WHERE is_train = 1 GROUP BY y
), nn AS (
  SELECT CAST(SUM(nc) AS BIGINT) AS n FROM pri
), l1 AS (
  SELECT f1, y, CAST(COUNT(*) AS BIGINT) AS c
  FROM base WHERE is_train = 1 GROUP BY f1, y
), l2 AS (
  SELECT f2, y, CAST(COUNT(*) AS BIGINT) AS c
  FROM base WHERE is_train = 1 GROUP BY f2, y
), scored AS (
  SELECT /*+ BROADCAST(p1, p0, a1, a0, b1, b0) */ t.o_orderkey, t.y,
    -- log-posterior up to the shared evidence term, Laplace +1;
    -- identical double tree both engines, compared directly
    ln((p1.nc + 1e0) / ((SELECT n FROM nn) + 2))
      + ln((COALESCE(a1.c, 0) + 1e0) / (p1.nc + 5))
      + ln((COALESCE(b1.c, 0) + 1e0) / (p1.nc + 5)) AS lp1,
    ln((p0.nc + 1e0) / ((SELECT n FROM nn) + 2))
      + ln((COALESCE(a0.c, 0) + 1e0) / (p0.nc + 5))
      + ln((COALESCE(b0.c, 0) + 1e0) / (p0.nc + 5)) AS lp0
  FROM base t
  CROSS JOIN (SELECT nc FROM pri WHERE y = 1) p1
  CROSS JOIN (SELECT nc FROM pri WHERE y = 0) p0
  LEFT JOIN l1 a1 ON a1.f1 = t.f1 AND a1.y = 1
  LEFT JOIN l1 a0 ON a0.f1 = t.f1 AND a0.y = 0
  LEFT JOIN l2 b1 ON b1.f2 = t.f2 AND b1.y = 1
  LEFT JOIN l2 b0 ON b0.f2 = t.f2 AND b0.y = 0
  WHERE t.is_train = 0
), conf AS (
  SELECT
    CAST(SUM(CASE WHEN lp1 > lp0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN lp1 > lp0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN lp1 <= lp0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN lp1 <= lp0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM scored
)
SELECT tp, fp, fn, tn, tp + fp + fn + tn AS n_test,
  round((tp + tn) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy
FROM conf
"""


@register(
    "q466_naive_bayes",
    oracle=_Q466_SQL.format(
        orders="orders", customer="customer", nation="nation"
    ),
    tags=("analytics", "ml"),
)
def q466_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical NAIVE BAYES, trained and evaluated entirely in the
    engine: learn P(class) and per-feature P(f|class) with Laplace
    smoothing on the ≤1997 training era (features: market segment,
    region; class: high-value order), classify the post-1997 era by
    log-posterior argmax, report the confusion matrix + accuracy.
    The whole classifier is three training aggregates joined back
    broadcast-style — the scalable way to ship NB at 100 TB (model =
    a few hundred rows, scoring = map-side). Log-posteriors are
    identical double trees over exact counts on both engines, so the
    argmax comparisons agree bit-for-bit; ties (lp1 = lp0) go to
    class 0 by the explicit <= branch."""
    return _sql_twin(spark, sf_dir, _Q466_SQL, ["orders", "customer", "nation"])


_Q467_SQL = """
WITH base AS (
  SELECT CAST(floor(o_totalprice / 1000e0) AS BIGINT) AS v,
    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         THEN 1 ELSE 0 END AS y
  FROM {orders}
), cells AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p
  FROM base GROUP BY v
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS p
  FROM cells
), splits AS (
  SELECT /*+ BROADCAST(b) */ a.v AS thr,
    CAST(SUM(CASE WHEN b.v <= a.v THEN b.n ELSE 0 END) AS BIGINT) AS nl,
    CAST(SUM(CASE WHEN b.v <= a.v THEN b.p ELSE 0 END) AS BIGINT) AS pl
  FROM cells a CROSS JOIN cells b
  GROUP BY a.v
), scored AS (
  SELECT s.thr, s.nl, t.n - s.nl AS nr,
    -- weighted Gini after the split (one double tree over exact ints)
    (s.nl * (2e0 * (CAST(s.pl AS DOUBLE) / s.nl)
       * (1e0 - CAST(s.pl AS DOUBLE) / s.nl))
     + (t.n - s.nl) * (2e0 * (CAST(t.p - s.pl AS DOUBLE) / (t.n - s.nl))
       * (1e0 - CAST(t.p - s.pl AS DOUBLE) / (t.n - s.nl)))) / t.n
      AS gini_after,
    2e0 * (CAST(t.p AS DOUBLE) / t.n) * (1e0 - CAST(t.p AS DOUBLE) / t.n)
      AS gini_before
  FROM splits s CROSS JOIN tot t
  WHERE s.nl > 0 AND s.nl < t.n
)
SELECT thr AS best_threshold_kusd, nl AS n_left, nr AS n_right,
  round(gini_before, 6) AS gini_before,
  round(gini_after, 6) AS gini_after,
  round(gini_before - gini_after, 6) AS gini_gain
FROM scored
ORDER BY gini_after, thr LIMIT 1
"""


@register(
    "q467_decision_stump",
    oracle=_Q467_SQL.format(orders="orders"),
    tags=("analytics", "ml"),
)
def q467_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION STUMP training — the best single price threshold for
    predicting urgent-priority orders by minimum weighted Gini
    impurity: CART's split-search inner loop, run the columnar way
    (it's also gradient boosting's per-round unit of work, so the
    shape matters at scale). Candidate thresholds = kilodollar value
    buckets (≤600, scale-invariant); left/right class counts for ALL
    candidates come from ONE broadcast cross-join over the bucket
    histogram — never a per-threshold pass over the data. Impurities
    are identical double trees over exact counts; argmin tie-breaks
    to the smallest threshold via deterministic TakeOrdered."""
    return _sql_twin(spark, sf_dir, _Q467_SQL, ["orders"])


_Q468_SQL = """
WITH base AS (
  SELECT c.c_mktsegment AS seg,
    CASE WHEN o.o_totalprice > 150000 THEN 1 ELSE 0 END AS y,
    CASE WHEN year(o.o_orderdate) <= 1997 THEN 1 ELSE 0 END AS is_train
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
), f AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS nt, CAST(SUM(y) AS BIGINT) AS pt
  FROM base WHERE is_train = 1 GROUP BY seg
), t AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p
  FROM base WHERE is_train = 0 GROUP BY seg
), g AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS p FROM t
), terms AS (
  SELECT t.seg, t.n, f.pt, f.nt, t.p, g.n AS gn, g.p AS gp,
    CAST(round(t.n * (CAST(f.pt AS DOUBLE) / f.nt - CAST(t.p AS DOUBLE) / t.n)
       * (CAST(f.pt AS DOUBLE) / f.nt - CAST(t.p AS DOUBLE) / t.n) * 1e9)
      AS BIGINT) AS rel_t,
    CAST(round(t.n * (CAST(t.p AS DOUBLE) / t.n - CAST(g.p AS DOUBLE) / g.n)
       * (CAST(t.p AS DOUBLE) / t.n - CAST(g.p AS DOUBLE) / g.n) * 1e9)
      AS BIGINT) AS res_t
  FROM t JOIN f ON f.seg = t.seg CROSS JOIN g
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
  round(SUM(rel_t) / CAST(MAX(gn) AS DOUBLE) / 1e9, 6) AS reliability,
  round(SUM(res_t) / CAST(MAX(gn) AS DOUBLE) / 1e9, 6) AS resolution,
  round((CAST(MAX(gp) AS DOUBLE) / MAX(gn))
      * (1e0 - CAST(MAX(gp) AS DOUBLE) / MAX(gn)), 6) AS uncertainty,
  round(SUM(rel_t) / CAST(MAX(gn) AS DOUBLE) / 1e9
      - SUM(res_t) / CAST(MAX(gn) AS DOUBLE) / 1e9
      + (CAST(MAX(gp) AS DOUBLE) / MAX(gn))
        * (1e0 - CAST(MAX(gp) AS DOUBLE) / MAX(gn)), 6) AS brier_score
FROM terms
"""


@register(
    "q468_brier_decomposition",
    oracle=_Q468_SQL.format(orders="orders", customer="customer"),
    tags=("analytics", "ml", "stats"),
)
def q468_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score — reliability (is the
    forecast calibrated?), resolution (does it separate outcomes?),
    and uncertainty (base-rate entropy) — for a segment-level
    probability forecast of high-value orders trained on the ≤1997
    era and evaluated after it. THE diagnostic for any probabilistic
    model monitor: Brier = REL − RES + UNC, so a score change
    attributes to calibration drift vs discrimination loss. Per-bin
    terms are double trees over exact counts snapped onto the 1e-9
    grid; bins = 5 segments, forecasts from the train era only (no
    leakage)."""
    return _sql_twin(spark, sf_dir, _Q468_SQL, ["orders", "customer"])


_Q469_SQL = """
WITH base AS (
  SELECT n.n_regionkey AS stratum,
    CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
         THEN 1 ELSE 0 END AS e,
    CASE WHEN o.o_totalprice > 150000 THEN 1 ELSE 0 END AS y
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
  JOIN {nation} n ON c.c_nationkey = n.n_nationkey
), cells AS (
  SELECT stratum,
    CAST(SUM(e * y) AS BIGINT) AS a,
    CAST(SUM(e * (1 - y)) AS BIGINT) AS b,
    CAST(SUM((1 - e) * y) AS BIGINT) AS c,
    CAST(SUM((1 - e) * (1 - y)) AS BIGINT) AS d,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY stratum
), s AS (
  SELECT
    CAST(SUM(CAST(round(CAST(a AS DOUBLE) * d / n * 1e6) AS BIGINT))
      AS BIGINT) AS num,
    CAST(SUM(CAST(round(CAST(b AS DOUBLE) * c / n * 1e6) AS BIGINT))
      AS BIGINT) AS den,
    CAST(COUNT(*) AS BIGINT) AS k
  FROM cells
)
SELECT k AS n_strata,
  round(CAST(num AS DOUBLE) / den, 6) AS or_mantel_haenszel,
  round(ln(CAST(num AS DOUBLE) / den), 6) AS log_or_mh
FROM s
"""


@register(
    "q469_cmh_odds_ratio",
    oracle=_Q469_SQL.format(
        orders="orders", customer="customer", nation="nation"
    ),
    tags=("analytics", "stats"),
)
def q469_cmh_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel POOLED odds ratio across region strata
    — the confounding-aware association between urgent priority and
    high order value: Simpson's-paradox insurance (a crude 2×2 OR can
    reverse sign once a confounder stratifies the table; OR_MH
    weights each stratum's ad/n against bc/n). Per-stratum terms are
    double expressions over exact cell counts, snapped onto the 1e-6
    grid and BIGINT-summed over the 5-stratum frame; the ratio and
    its log are single final expressions."""
    return _sql_twin(spark, sf_dir, _Q469_SQL, ["orders", "customer", "nation"])


_Q470_SQL = """
WITH items AS (
  SELECT
    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         THEN 1 ELSE 0 END AS i1,
    CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END AS i2,
    CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS i3,
    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS i4
  FROM {orders}
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(i1) AS BIGINT) AS s1, CAST(SUM(i2) AS BIGINT) AS s2,
    CAST(SUM(i3) AS BIGINT) AS s3, CAST(SUM(i4) AS BIGINT) AS s4,
    CAST(SUM(i1 + i2 + i3 + i4) AS BIGINT) AS st,
    CAST(SUM((i1 + i2 + i3 + i4) * (i1 + i2 + i3 + i4)) AS BIGINT) AS stt
  FROM items
), v AS (
  SELECT n,
    (CAST(s1 AS DOUBLE) / n) * (1e0 - CAST(s1 AS DOUBLE) / n)
      + (CAST(s2 AS DOUBLE) / n) * (1e0 - CAST(s2 AS DOUBLE) / n)
      + (CAST(s3 AS DOUBLE) / n) * (1e0 - CAST(s3 AS DOUBLE) / n)
      + (CAST(s4 AS DOUBLE) / n) * (1e0 - CAST(s4 AS DOUBLE) / n)
      AS sum_item_var,
    CAST(stt AS DOUBLE) / n - (CAST(st AS DOUBLE) / n)
      * (CAST(st AS DOUBLE) / n) AS total_var
  FROM m
)
SELECT n AS n_orders,
  round(sum_item_var, 6) AS sum_item_variances,
  round(total_var, 6) AS score_variance,
  round((4e0 / 3e0) * (1e0 - sum_item_var / total_var), 6)
    AS cronbach_alpha
FROM v
"""


@register(
    "q470_cronbach_alpha",
    oracle=_Q470_SQL.format(orders="orders"),
    tags=("analytics", "stats"),
)
def q470_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's α over a 4-item binary 'order severity scale'
    (priority flag, two price flags, status flag) — the internal-
    consistency coefficient for any composite score a pipeline builds
    from multiple indicator columns (do the items measure one
    construct, or is the composite meaningless?). α = k/(k−1)·(1 −
    Σσᵢ²/σ_total²): every variance comes from exact integer sums in
    ONE fold over the data (items and their sum-score moments
    together), and α is a single double expression — nothing to
    grid."""
    return _sql_twin(spark, sf_dir, _Q470_SQL, ["orders"])


_Q471_SQL = """
WITH cust AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS x,
    CAST(floor(SUM(CAST(round(o_totalprice) AS BIGINT)) / 1000e0)
      AS BIGINT) AS y
  FROM {orders} GROUP BY o_custkey
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(y * y) AS BIGINT) AS syy
  FROM cust
), c AS (
  SELECT n,
    CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
      * (CAST(sx AS DOUBLE) / n) AS cxx,
    CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n)
      * (CAST(sy AS DOUBLE) / n) AS cyy,
    CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
      * (CAST(sy AS DOUBLE) / n) AS cxy,
    CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my
  FROM m
)
SELECT n AS n_customers,
  round((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
      + 4e0 * cxy * cxy)) / (2e0 * cxy), 6) AS deming_slope,
  round(my - ((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
      + 4e0 * cxy * cxy)) / (2e0 * cxy)) * mx, 6) AS deming_intercept,
  round(cxy / sqrt(cxx * cyy), 6) AS pearson_r
FROM c
"""


@register(
    "q471_deming_regression",
    oracle=_Q471_SQL.format(orders="orders"),
    tags=("analytics", "stats"),
)
def q471_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEMING (errors-in-variables, λ=1) regression of customer
    revenue on order count — when BOTH axes are measured with error,
    OLS attenuates the slope toward zero; Deming's closed form
    (largest eigenvector of the centered scatter) is the method-
    comparison standard (Passing-Bablok's parametric cousin). All
    five moments ride as exact BIGINTs from one fold; slope,
    intercept and the Pearson r reference value are single double
    expressions over them."""
    return _sql_twin(spark, sf_dir, _Q471_SQL, ["orders"])


_Q472_SQL = """
WITH cust AS (
  SELECT c.c_mktsegment AS seg, o.o_custkey,
    CAST(COUNT(*) AS BIGINT) AS x1,
    CAST(floor(SUM(CAST(round(o.o_totalprice) AS BIGINT)) / 1000e0)
      AS BIGINT) AS x2
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
  GROUP BY c.c_mktsegment, o.o_custkey
), m AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
    CAST(SUM(x2 * x2) AS BIGINT) AS s22,
    CAST(SUM(x1 * x2) AS BIGINT) AS s12
  FROM cust GROUP BY seg
), ab AS (
  SELECT
    (SELECT n FROM m WHERE seg = 'BUILDING') AS na,
    (SELECT n FROM m WHERE seg = 'MACHINERY') AS nb,
    (SELECT CAST(s1 AS DOUBLE) / n FROM m WHERE seg = 'BUILDING')
      - (SELECT CAST(s1 AS DOUBLE) / n FROM m WHERE seg = 'MACHINERY')
      AS d1,
    (SELECT CAST(s2 AS DOUBLE) / n FROM m WHERE seg = 'BUILDING')
      - (SELECT CAST(s2 AS DOUBLE) / n FROM m WHERE seg = 'MACHINERY')
      AS d2,
    (SELECT s11 - CAST(s1 AS DOUBLE) * s1 / n FROM m
      WHERE seg = 'BUILDING')
      + (SELECT s11 - CAST(s1 AS DOUBLE) * s1 / n FROM m
        WHERE seg = 'MACHINERY') AS w11,
    (SELECT s22 - CAST(s2 AS DOUBLE) * s2 / n FROM m
      WHERE seg = 'BUILDING')
      + (SELECT s22 - CAST(s2 AS DOUBLE) * s2 / n FROM m
        WHERE seg = 'MACHINERY') AS w22,
    (SELECT s12 - CAST(s1 AS DOUBLE) * s2 / n FROM m
      WHERE seg = 'BUILDING')
      + (SELECT s12 - CAST(s1 AS DOUBLE) * s2 / n FROM m
        WHERE seg = 'MACHINERY') AS w12
), t AS (
  SELECT na, nb,
    (CAST(na AS DOUBLE) * nb / (na + nb))
    * ((w22 / (na + nb - 2e0)) * d1 * d1
       - 2e0 * (w12 / (na + nb - 2e0)) * d1 * d2
       + (w11 / (na + nb - 2e0)) * d2 * d2)
    / ((w11 / (na + nb - 2e0)) * (w22 / (na + nb - 2e0))
       - (w12 / (na + nb - 2e0)) * (w12 / (na + nb - 2e0))) AS t2
  FROM ab
)
SELECT na AS n_building, nb AS n_machinery,
  round(t2, 4) AS hotelling_t2,
  round(t2 * (na + nb - 3) / (2e0 * (na + nb - 2)), 4) AS f_stat,
  t2 * (na + nb - 3) / (2e0 * (na + nb - 2)) > 2.996 AS reject_95
FROM t
"""


@register(
    "q472_hotelling_t2",
    oracle=_Q472_SQL.format(orders="orders", customer="customer"),
    tags=("analytics", "stats"),
)
def q472_hotelling_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hotelling's T² — the MULTIVARIATE two-sample mean test: do
    BUILDING and MACHINERY customers differ jointly in (order count,
    total revenue)? Two marginal t-tests at α each inflate the false-
    positive rate and miss correlated displacement; T² tests the mean
    VECTOR against the pooled 2×2 covariance (inverted in closed
    form). All moments are exact BIGINTs per group; the quadratic
    form and its F conversion are one double tree. χ²/F critical
    value at p=2."""
    return _sql_twin(spark, sf_dir, _Q472_SQL, ["orders", "customer"])


_Q473_SQL = """
WITH cell AS (
  SELECT n.n_regionkey AS blk, c.c_mktsegment AS trt,
    CAST(SUM(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT) AS s,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
  JOIN {nation} n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, c.c_mktsegment
), v AS (
  SELECT blk, trt, CAST(s AS DOUBLE) / n AS av FROM cell
), rk AS (
  -- tie-averaged within-block rank x2 (exact integer)
  SELECT a.blk, a.trt,
    2 * CAST(SUM(CASE WHEN b.av < a.av THEN 1 ELSE 0 END) AS BIGINT)
      + CAST(SUM(CASE WHEN b.av = a.av THEN 1 ELSE 0 END) AS BIGINT)
      + 1 AS rx2
  FROM v a JOIN v b ON a.blk = b.blk
  GROUP BY a.blk, a.trt, a.av
), rj AS (
  SELECT trt, CAST(SUM(rx2) AS BIGINT) AS r2j,
    CAST(COUNT(*) AS BIGINT) AS b
  FROM rk GROUP BY trt
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, MAX(b) AS b,
    SUM((CAST(r2j AS DOUBLE) / 2) * (CAST(r2j AS DOUBLE) / 2))
      AS sum_rj2
  FROM rj
)
SELECT b AS n_blocks, k AS n_treatments,
  round(12e0 / (b * k * (k + 1e0)) * sum_rj2 - 3e0 * b * (k + 1), 6)
    AS friedman_chi2,
  12e0 / (b * k * (k + 1e0)) * sum_rj2 - 3e0 * b * (k + 1) > 9.487729
    AS reject_95
FROM s
"""


@register(
    "q473_friedman_test",
    oracle=_Q473_SQL.format(
        orders="orders", customer="customer", nation="nation"
    ),
    tags=("analytics", "stats"),
)
def q473_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN rank test — do the five market segments' average
    order values keep the same ordering across the five region
    BLOCKS? The nonparametric repeated-measures ANOVA (blocks remove
    region-level noise that q447's Kruskal-Wallis would absorb into
    error). Within-block ranks use the 2×-rank tie device on cell
    averages (identical doubles both engines, so <,= comparisons
    agree); rank sums are exact integers; χ²_F over the 5×5 frame is
    one double expression. The sum over 5 treatments of R²ⱼ is a
    5-term double sum — exactly representable halves, so order-free."""
    return _sql_twin(spark, sf_dir, _Q473_SQL, ["orders", "customer", "nation"])


_Q474_SQL = """
WITH mon AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
    CAST(month(o_orderdate) AS BIGINT) AS mo,
    CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM {orders} GROUP BY year(o_orderdate), month(o_orderdate)
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
    CAST(SUM(rev) AS BIGINT) AS tot
  FROM mon
), idx AS (
  SELECT mo, CAST(COUNT(*) AS BIGINT) AS n_years,
    CAST(SUM(rev) AS BIGINT) AS srev
  FROM mon GROUP BY mo
), yr AS (
  SELECT yr, CAST(SUM(rev) AS BIGINT) AS arev FROM mon GROUP BY yr
), trend AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yr) AS BIGINT) AS sx,
    CAST(SUM(CAST(floor(arev / 1000e0) AS BIGINT)) AS BIGINT) AS sy,
    CAST(SUM(yr * CAST(floor(arev / 1000e0) AS BIGINT)) AS BIGINT) AS sxy,
    CAST(SUM(yr * yr) AS BIGINT) AS sxx
  FROM yr WHERE yr BETWEEN 1995 AND 2000
)
SELECT idx.mo AS month, idx.n_years,
  round((CAST(idx.srev AS DOUBLE) / idx.n_years)
      / (CAST(g.tot AS DOUBLE) / g.n_months), 6) AS seasonal_index,
  round((trend.n * CAST(trend.sxy AS DOUBLE)
       - CAST(trend.sx AS DOUBLE) * trend.sy)
      / (trend.n * CAST(trend.sxx AS DOUBLE)
       - CAST(trend.sx AS DOUBLE) * trend.sx), 2)
    AS annual_trend_kusd
FROM idx CROSS JOIN g CROSS JOIN trend
"""


@register(
    "q474_seasonal_indices",
    oracle=_Q474_SQL.format(orders="orders"),
    tags=("analytics", "timeseries"),
)
def q474_seasonal_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative SEASONAL INDICES (12 calendar-month
    ratios to the overall monthly mean) plus the annual OLS trend
    slope over the complete 1995–2000 years — the decomposition every
    forecasting pipeline starts from before reaching for STL. Month
    and year aggregates are exact integers; each index and the trend
    slope are single double expressions (the trend uses only complete
    years, so partial first/last calendar years can't bias it)."""
    return _sql_twin(spark, sf_dir, _Q474_SQL, ["orders"])


_Q475_SQL = """
WITH mon AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      AS x,
    CAST(floor(SUM(CAST(round(o_totalprice) AS BIGINT)) / 1000e0)
      AS BIGINT) AS y
  FROM {orders} GROUP BY year(o_orderdate) * 12 + month(o_orderdate)
), slopes AS (
  SELECT /*+ BROADCAST(b) */ CAST(floor(
      -- GREATEST is a no-op under the b.x > a.x join predicate; it
      -- exists because Spark's codegen can evaluate the projection
      -- speculatively before the theta condition under ANSI mode
      (b.y - a.y) * 1000e0 / GREATEST(b.x - a.x, 1)) AS BIGINT) AS s
  FROM mon a JOIN mon b ON b.x > a.x
), h AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM slopes GROUP BY s
), np AS (
  SELECT CAST(SUM(c) AS BIGINT) AS np FROM h
), med AS (
  SELECT /*+ BROADCAST(b) */ a.s,
    CAST(COALESCE(SUM(b.c), 0) AS BIGINT) AS less,
    MIN(a.c) AS own
  FROM h a LEFT JOIN h b ON b.s < a.s
  GROUP BY a.s
), pick AS (
  SELECT med.s
  FROM med CROSS JOIN np
  WHERE med.less < (np.np + 1) / 2 AND med.less + med.own >= (np.np + 1) / 2
)
SELECT np.np AS n_pairs,
  round(pick.s / 1000e0, 3) AS theil_sen_slope_kusd
FROM np CROSS JOIN pick
"""


@register(
    "q475_theil_sen",
    oracle=_Q475_SQL.format(orders="orders"),
    tags=("analytics", "stats", "timeseries"),
)
def q475_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN slope of monthly revenue — the median of all pairwise
    slopes: the robust trend estimator (up to 29% contamination) that
    the q428 Mann-Kendall test is usually paired with (MK says
    'monotone trend exists', Sen says how steep). The ~84-month frame
    makes all C(84,2) pairwise slopes a bounded broadcast theta-join;
    each slope floors once onto a 1e-3 grid, and the MEDIAN is
    selected exactly by cumulative counting over the slope histogram
    (upper median on even pair counts — deterministic, no percentile approximation)."""
    return _sql_twin(spark, sf_dir, _Q475_SQL, ["orders"])


_Q476_SQL = """
WITH r AS (
  SELECT
    CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS pred,
    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         THEN 1 ELSE 0 END AS y
  FROM {orders}
), c AS (
  SELECT
    CAST(SUM(pred * y) AS BIGINT) AS tp,
    CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp,
    CAST(SUM((1 - pred) * y) AS BIGINT) AS fn,
    CAST(SUM((1 - pred) * (1 - y)) AS BIGINT) AS tn
  FROM r
)
SELECT tp, fp, fn, tn,
  round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision_,
  round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall_,
  round(2e0 * tp / (2e0 * tp + fp + fn), 6) AS f1,
  round((CAST(tp AS DOUBLE) / (tp + fn)
       + CAST(tn AS DOUBLE) / (tn + fp)) / 2e0, 6) AS balanced_acc,
  round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
      / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
           * (tn + fp) * (tn + fn)), 6) AS mcc
FROM c
"""


@register(
    "q476_mcc_f1_suite",
    oracle=_Q476_SQL.format(orders="orders"),
    tags=("analytics", "ml"),
)
def q476_mcc_f1_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion-matrix metric suite — precision, recall, F1,
    balanced accuracy and Matthews correlation for the price-threshold
    classifier against the priority ground truth: MCC is the headline
    because it is the only one of these that can't be gamed on
    imbalanced classes (F1 ignores TN entirely). Counts are exact
    from one fold; every metric is a single double expression (the
    MCC denominator multiplies as doubles — the four marginals exceed
    int64 products at replica scale, the q383 pair-product lesson)."""
    return _sql_twin(spark, sf_dir, _Q476_SQL, ["orders"])


_Q477_SQL = """
WITH x AS (
  SELECT c.c_mktsegment AS seg,
    CAST(floor(o.o_totalprice / 1000e0) AS BIGINT) AS v
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
), cnt AS (
  SELECT seg, v, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY seg, v
), n AS (
  SELECT seg, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY seg
), grid AS (SELECT DISTINCT v FROM cnt
), cum AS (
  SELECT /*+ BROADCAST(b) */ g.v,
    CAST(SUM(CASE WHEN b.seg = 'BUILDING' THEN b.c ELSE 0 END)
      AS BIGINT) AS ca,
    CAST(SUM(CASE WHEN b.seg = 'MACHINERY' THEN b.c ELSE 0 END)
      AS BIGINT) AS cb
  FROM grid g LEFT JOIN cnt b ON b.v <= g.v GROUP BY g.v
), ps AS (
  SELECT 1 AS p UNION ALL SELECT 2 UNION ALL SELECT 3 UNION ALL
  SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6 UNION ALL
  SELECT 7 UNION ALL SELECT 8 UNION ALL SELECT 9
), q AS (
  SELECT /*+ BROADCAST(ps, na, nb) */ ps.p,
    MIN(CASE WHEN cum.ca * 10 >= ps.p * na.n THEN cum.v END) AS qa,
    MIN(CASE WHEN cum.cb * 10 >= ps.p * nb.n THEN cum.v END) AS qb
  FROM ps CROSS JOIN cum
  CROSS JOIN (SELECT n FROM n WHERE seg = 'BUILDING') na
  CROSS JOIN (SELECT n FROM n WHERE seg = 'MACHINERY') nb
  GROUP BY ps.p
)
SELECT CAST(p AS BIGINT) AS decile, qa AS building_kusd,
  qb AS machinery_kusd, qa - qb AS qq_gap_kusd
FROM q
"""


@register(
    "q477_qq_deciles",
    oracle=_Q477_SQL.format(orders="orders", customer="customer"),
    tags=("analytics", "stats"),
)
def q477_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q DECILE table comparing two segments' order-value
    distributions — the quantile-by-quantile view that localizes
    WHERE two distributions differ (q455's Wasserstein integrates the
    gap; this shows its profile). Each decile is selected EXACTLY by
    CDF inversion over the kilodollar bucket histogram — smallest
    bucket whose cumulative count clears p·n/10, as integer
    arithmetic (c·10 ≥ p·n, no float quantile approximation) — via
    one broadcast theta-join on the ≤600-bucket grid."""
    return _sql_twin(spark, sf_dir, _Q477_SQL, ["orders", "customer"])


_Q478_SQL = """
WITH items AS (
  SELECT
    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         THEN 1 ELSE 0 END AS i1,
    CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END AS i2,
    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS i3
  FROM {orders}
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(i1) AS BIGINT) AS g1, CAST(SUM(i2) AS BIGINT) AS g2,
    CAST(SUM(i3) AS BIGINT) AS g3,
    CAST(SUM(i1 + i2 + i3) AS BIGINT) AS sl,
    CAST(SUM((i1 + i2 + i3) * (i1 + i2 + i3)) AS BIGINT) AS sll
  FROM items
)
SELECT n AS n_orders, g1 AS n_priority, g2 AS n_price100k, g3 AS n_status_f,
  round(2e0 * (3e0 * (CAST(g1 AS DOUBLE) * g1 + CAST(g2 AS DOUBLE) * g2
      + CAST(g3 AS DOUBLE) * g3) - CAST(sl AS DOUBLE) * sl)
    / (3e0 * sl - sll), 4) AS cochran_q,
  2e0 * (3e0 * (CAST(g1 AS DOUBLE) * g1 + CAST(g2 AS DOUBLE) * g2
      + CAST(g3 AS DOUBLE) * g3) - CAST(sl AS DOUBLE) * sl)
    / (3e0 * sl - sll) > 5.991465 AS reject_95
FROM m
"""


@register(
    "q478_cochran_q",
    oracle=_Q478_SQL.format(orders="orders"),
    tags=("analytics", "stats"),
)
def q478_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q — do three binary flags measured on the SAME orders
    (priority-high, price>100k, status-finished) have equal marginal
    proportions? The k-treatment generalization of q384's McNemar
    (correlated binary outcomes — a χ² of independent proportions
    would be wrong here because the flags share rows). Q is one
    double expression over five exact integer sums collected in a
    single fold; χ²₂ at 95%."""
    return _sql_twin(spark, sf_dir, _Q478_SQL, ["orders"])
