"""TPC-H-style breadth, batch 3 — Q2/Q8/Q9/Q11/Q12/Q13/Q17/Q20/Q21
analogs, completing the 22-query suite (Q1 lives as `agg_pricing_summary`,
Q3/Q5/Q10 in tpch.py, Q4/Q6/Q7/Q14/Q15/Q16/Q18/Q19/Q22 in tpch2.py).

The fixture schema has no partsupp table and no ship-mode/receipt-date
columns, so the partsupp-backed queries keep their PLAN SHAPE with
lineitem standing in as the part↔supplier link:

- Q2:  min-cost supplier per part — correlated-min via one window pass
       over the derived (part, supplier, unit-cost) relation.
- Q8:  national market share — 7-table star join, conditional/total
       ratio per year.
- Q9:  product-type profit — cost proxied as 60% of p_retailprice
       (no ps_supplycost in the fixture).
- Q11: important inventory value — scalar-subquery global threshold.
- Q12: late-shipment priority classes — l_returnflag stands in for
       l_shipmode; lateness = shipdate 60-120 days after order date.
- Q13: customer order-count distribution — left outer join with an
       ON-clause filter, double aggregation.
- Q17: small-quantity revenue — per-part avg correlated comparison.
- Q20: heavy shippers of widget parts — HAVING-filtered semi join.
- Q21: sole late supplier on multi-supplier orders — EXISTS semi join +
       NOT EXISTS anti join on the same derived relation.

Scale notes (100 TB): part/supplier/nation/region/customer stay
broadcast; lineitem↔orders is the one fact×fact exchange, keyed on the
join key the downstream aggregate reuses. Q2/Q17's per-part statistics
partial-aggregate map-side before their joins; Q21's EXISTS/NOT-EXISTS
pair shares one shuffle key (l_orderkey) across all three relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.plans.tpch2 import _revenue
from numalogic_prometheus_spark.sources.tables import load_table


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               round(avg(l_extendedprice / l_quantity) * 100)::BIGINT AS unit_cost_c
        FROM lineitem GROUP BY 1, 2
    )
    SELECT p.p_partkey, p.p_name, s.s_name, c.unit_cost_c,
           round(s.s_acctbal, 2) AS s_acctbal
    FROM part p
    JOIN cost c ON c.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    WHERE p.p_size BETWEEN 10 AND 20
      AND c.unit_cost_c = (SELECT min(c2.unit_cost_c) FROM cost c2
                           WHERE c2.l_partkey = p.p_partkey)
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 analog: cheapest supplier per mid-size part. TPC-H correlates
    on partsupp's ps_supplycost; here the unit cost is derived from sale
    history (avg price/quantity per part×supplier, in integer cents for
    cross-engine exactness) and the correlated min collapses to one
    window pass over that derived relation — no re-scan, no second join,
    same answer shape. Ties at min cost keep all tied suppliers, as in
    TPC-H."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    cost = li.groupBy(
        "l_partkey", "l_suppkey"
    ).agg(
        F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")) * 100)
        .cast("long")
        .alias("unit_cost_c")
    )
    min_w = W.partitionBy("l_partkey")
    best = cost.withColumn("min_c", F.min("unit_cost_c").over(min_w)).filter(
        F.col("unit_cost_c") == F.col("min_c")
    )
    return (
        best.join(
            F.broadcast(part.filter(F.col("p_size").between(10, 20))),
            best.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), best.l_suppkey == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "unit_cost_c",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )


@register(
    "tpch_q8_market_share",
    oracle="""
    WITH vol AS (
        SELECT year(o.o_orderdate)::BIGINT AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_8' THEN volume END), 2)
               AS nation_volume,
           round(sum(volume), 2) AS total_volume,
           round(coalesce(round(sum(CASE WHEN supp_nation = 'NATION_8'
                                         THEN volume END), 2), 0)
                 / round(sum(volume), 2), 6) AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 analog: NATION_8's share of PROMO-part volume sold to ASIA
    customers, per year — the widest star join in the suite (lineitem +
    orders fact×fact, five broadcast dims). The share divides the
    2dp-rounded sums so the ratio is identical across engines regardless
    of double-summation order."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    cust_region = (
        cust.join(
            F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
        )
        .join(
            F.broadcast(reg.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nation = supp.join(
        F.broadcast(nat), supp.s_nationkey == nat.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_region), o.o_custkey == F.col("c_custkey"))
        .join(
            F.broadcast(part.filter(F.col("p_type") == "PROMO")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _revenue().alias("volume"),
            "supp_nation",
        )
    )
    nation_vol = F.round(
        F.sum(F.when(F.col("supp_nation") == "NATION_8", F.col("volume"))), 2
    )
    total_vol = F.round(F.sum("volume"), 2)
    return vol.groupBy("o_year").agg(
        nation_vol.alias("nation_volume"),
        total_vol.alias("total_volume"),
        F.round(F.coalesce(nation_vol, F.lit(0)) / total_vol, 6).alias("mkt_share"),
    )


@register(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation, year(o.o_orderdate)::BIGINT AS o_year,
           sum(round(l.l_extendedprice * 100)::BIGINT
                   * (100 - round(l.l_discount * 100)::BIGINT)
               - 60 * round(p.p_retailprice * 100)::BIGINT
                    * round(l.l_quantity)::BIGINT)
               / 10000.0 AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%widget%'
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 analog: profit on widget parts by supplier nation and year.
    The fixture has no ps_supplycost, so cost is proxied as 60% of
    p_retailprice — the plan (fact×fact join + three broadcast dims +
    two-key aggregate) is the TPC-H shape unchanged.

    Summation runs in EXACT integer 1e-4-dollar units: every money
    column is 2-decimal (cents-exact), so ep_cents·(100−disc_hundredths)
    − 60·retail_cents·qty is an exact BIGINT per row (≤1.05e9; the sf1
    group sums stay ≪2^63) and the grouped sum is order-independent.
    The old round(sum(double),2) form flipped a cent at sf1 volume
    (SWEEP_sf1_rest.log r9: 3 groups off by .01 — double accumulation
    order near a cent boundary); the fix emits one IEEE division of the
    exact BIGINT sum, unrounded (the round-8 tie-class rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    supp_nation = supp.join(
        F.broadcast(nat), supp.s_nationkey == nat.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_h = F.round(F.col("l_discount") * 100).cast("long")
    rp_c = F.round(F.col("p_retailprice") * 100).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    profit_1e4 = ep_c * (F.lit(100).cast("long") - disc_h) - 60 * rp_c * qty
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_name").like("%widget%"))),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.sum(profit_1e4) / 10000.0).alias("profit"))
    )


@register(
    "tpch_q11_important_inventory",
    oracle="""
    WITH val AS (
        SELECT l_partkey,
               round(sum(l_extendedprice * l_quantity) * 100)::BIGINT AS value_c
        FROM lineitem GROUP BY 1
    )
    SELECT l_partkey AS p_partkey, value_c
    FROM val
    WHERE value_c > (SELECT (sum(value_c) / 100)::BIGINT FROM val)
    """,
)
def tpch_q11_important_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 analog: parts whose traded value exceeds 1% of the global
    traded value. The scalar subquery (global sum) is a 1-row broadcast
    cross join — integer cents end-to-end so the threshold comparison
    cannot flake on double-summation order."""
    li = load_table(spark, sf_dir, "lineitem")
    val = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")) * 100)
        .cast("long")
        .alias("value_c")
    )
    total = val.agg(
        (F.sum("value_c") / 100).cast("long").alias("threshold_c")
    )
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value_c") > F.col("threshold_c"))
        .select(F.col("l_partkey").alias("p_partkey"), "value_c")
    )


@register(
    "tpch_q12_late_shipment_priority",
    oracle="""
    SELECT l.l_returnflag AS ship_class,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate <= o.o_orderdate + INTERVAL 120 DAY
    GROUP BY 1
    """,
)
def tpch_q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 analog: priority mix of late shipments (60-120 days after
    order), bucketed by l_returnflag standing in for the fixture's
    missing l_shipmode. The lateness predicate is a non-equi residual on
    the fact×fact join, evaluated post-join without a second exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 60 days"))
            & (
                F.col("l_shipdate")
                <= F.col("o_orderdate") + F.expr("interval 120 days")
            )
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY 1
    )
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: order-count histogram over customers, urgent orders excluded
    INSIDE the outer join's ON clause (the part most engines get wrong:
    a WHERE would drop zero-order customers; the ON keeps them with
    count 0). Double aggregation — the second groupBy re-shuffles only
    |customers| rows."""
    cust = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = cust.join(
        o.filter(F.col("o_orderpriority") != "1-URGENT"),
        cust.c_custkey == o.o_custkey,
        "left",
    ).groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    WITH avg_qty AS (
        SELECT l_partkey, avg(l_quantity) AS aq
        FROM lineitem GROUP BY 1
    )
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*)::BIGINT AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
    JOIN avg_qty a ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.5 * a.aq
    """,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 analog: revenue lost to small-quantity PROMO orders. The
    correlated `avg(l_quantity) per part` subquery becomes a partial-
    aggregated per-part relation joined back broadcast — one lineitem
    scan feeds both sides, no per-row re-aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    avg_qty = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("aq"))
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_type") == "PROMO")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(
            F.broadcast(avg_qty.withColumnRenamed("l_partkey", "a_partkey")),
            li.l_partkey == F.col("a_partkey"),
        )
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q20_heavy_shippers",
    oracle="""
    SELECT s.s_name, round(s.s_acctbal, 2) AS s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE '%widget%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l.l_suppkey
        HAVING sum(l.l_quantity) > 100
    )
    """,
)
def tpch_q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 analog: suppliers who moved >100 units of widget parts in
    1996-97 — TPC-H's nested partsupp/availqty check becomes a
    HAVING-filtered aggregate semi-joined into supplier. The aggregate
    output is O(|suppliers|), so the semi join broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(
            F.broadcast(part.filter(F.col("p_name").like("%widget%"))),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
    )
    return supp.join(
        F.broadcast(heavy), supp.s_suppkey == heavy.l_suppkey, "left_semi"
    ).select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))


@register(
    "tpch_q21_sole_late_supplier",
    oracle="""
    WITH late AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    ),
    multi AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY 1 HAVING count(DISTINCT l_suppkey) > 1
    )
    SELECT s.s_name, count(*)::BIGINT AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_orderkey IN (SELECT l_orderkey FROM multi)
      AND NOT EXISTS (
          SELECT 1 FROM late l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s.s_name
    """,
)
def tpch_q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 analog: suppliers who were the ONLY late shipper (>90 days
    after order) on orders involving multiple suppliers. The
    EXISTS/NOT-EXISTS pair collapses into ONE aggregation of the late
    rows per order — `count_distinct(supplier) == 1` IS the
    sole-late-supplier predicate, and `min(supplier)` is then that
    supplier — so the late relation is built once (the previous shape
    recomputed the lineitem⋈orders join for each side of an anti join)
    and no distinct or anti join is needed. Both aggregations and the
    semi join key on l_orderkey, so the per-order agg reuses the fact
    join's partitioning without a new exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    late_rows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 90 days")
        )
        .select("l_orderkey", "l_suppkey")
    )
    per_order = late_rows.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_late"),
        F.min("l_suppkey").alias("sole_supp"),
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("ns"))
        .filter(F.col("ns") > 1)
        .select("l_orderkey")
    )
    sole = per_order.filter(F.col("n_late") == 1).join(
        multi, "l_orderkey", "left_semi"
    )
    return (
        sole.join(F.broadcast(supp), sole.sole_supp == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
