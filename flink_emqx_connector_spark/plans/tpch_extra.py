"""Additional TPC-H query shapes (Q4/Q10/Q19/Q22 adapted to the driver
schema — no partsupp/commitdate/phone columns exist, so the predicates are
adapted while keeping each query's *plan-defining* feature intact):

- Q4: EXISTS with a correlated non-equi predicate → left-semi join whose
  condition mixes the equi key with a cross-table date comparison.
- Q10: fact-fact-dim join with a selective fact filter, grouped top-k.
- Q19: disjunction of conjunctions (brand × quantity bands) — the classic
  pushdown test: the OR-of-ANDs must reach the scans as a residual filter
  while the join stays an equi hash join.
- Q22: uncorrelated scalar subquery (global average) + NOT EXISTS anti
  join with its own correlated filter.

The reference connector inherits all of this from Flink SQL (SURVEY §2.4);
here each is a native DataFrame plan Catalyst optimizes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..materialize import materialize
from .registry import register
from .rounding import stable_round


def _t(spark, sf_dir, name):
    from ..session import load_table

    return load_table(spark, sf_dir, name)


@register(
    "q4_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: order-priority census of orders with at least one "
    "late-shipped line (shipdate > orderdate + 60d — the schema has no "
    "commitdate). The EXISTS becomes a left-semi join whose condition "
    "mixes the l_orderkey equi key with a correlated cross-table date "
    "comparison; the semi join dedups multi-line matches for free (no "
    "distinct), and the date filter on orders is pushed to its scan.",
    tags=("join", "semi", "tpch"),
)
def q4_late_shipment_priority(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "q10_returned_revenue_topk",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: revenue lost to returned items per customer over "
    "one year, top 20. The returnflag filter is pushed into the lineitem "
    "scan and the date band into orders BEFORE the joins; the customer "
    "dimension broadcasts; the grouped top-k ends as TakeOrdered, never a "
    "global sort.",
    tags=("join", "topk", "tpch"),
)
def q10_returned_revenue_topk(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q19_brand_quantity_disjunction",
    oracle="""
    SELECT CAST((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                      AS BIGINT) + 50) // 100 AS BIGINT) / 1e2 AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: disjunction of brand × quantity-band conjunctions "
    "— the classic complex-predicate pushdown test. Catalyst derives the "
    "per-scan implied filters (brand IN (...) onto part, quantity <= 30 "
    "onto lineitem) from the OR-of-ANDs, keeps the residual above an "
    "equi BroadcastHashJoin on partkey, and the whole thing stays one "
    "codegen stage per side.",
    tags=("join", "pushdown", "tpch"),
)
def q19_brand_quantity_disjunction(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        # exact 1e4 fixed point (q1 conversion rationale): one global group
        (
            F.expr(
                "(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
                " * (100 - CAST(round(l_discount * 100) AS BIGINT)))"
                " AS BIGINT) + 50) div 100"
            )
            / 1e2
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@register(
    "q22_idle_wealthy_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
    )
    SELECT n_name, count(*) AS n_cust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                AS BIGINT) / 1e2 AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    CROSS JOIN avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY n_name
    """,
    doc="TPC-H Q22 shape: above-average-balance customers with no recent "
    "orders (the schema has no phone column, so grouping is by nation and "
    "'inactive' means no orders since 2000). The global average is an "
    "uncorrelated scalar subquery → broadcast 1-row cross join; the NOT "
    "EXISTS (with its own date filter pushed into the orders scan) is a "
    "left-anti join; nation broadcasts.",
    tags=("join", "anti", "subquery", "tpch"),
)
def q22_idle_wealthy_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_cust"),
            (
                F.expr(
                    "CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))"
                    " AS BIGINT)"
                )
                / 1e2
            ).alias("total_bal"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                            * CAST(round(l_discount * 100) AS BIGINT))
                      AS BIGINT) + 50) // 100 AS BIGINT) / 1e2 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: pure scan-aggregate revenue forecast. Every predicate "
    "(date band, discount band, quantity cap) is pushed into the parquet "
    "scan — the plan is one WholeStageCodegen scan+partial-agg per "
    "partition and a 1-row final agg; no shuffle of data rows at all. At "
    "100 TB this is the shape that proves pushdown works: bytes read "
    "scale with the predicate's selectivity via row-group min/max "
    "pruning, not with table size.",
    tags=("scan", "agg", "pushdown", "tpch"),
)
def q6_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            # exact 1e4 fixed point (q1 conversion rationale): the one
            # global group sums every matching row — the largest-group
            # member of the half-cent-boundary class
            (
                F.expr(
                    "(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
                    " * CAST(round(l_discount * 100) AS BIGINT))"
                    " AS BIGINT) + 50) div 100"
                )
                / 1e2
            ).alias("revenue")
        )
    )


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST((CAST(sum(volume) AS BIGINT) + 50) // 100 AS BIGINT) / 1e2
             AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7: bilateral trade volume between two nations by year. Two "
    "aliases of the broadcast nation dim (supplier side + customer side) "
    "with the nation-pair disjunction evaluated after both are attached; "
    "the date band is pushed into the lineitem scan. The only real "
    "shuffles are the two fact-fact joins (lineitem-orders on orderkey, "
    "then customer on custkey); supplier and both nation dims broadcast.",
    tags=("join", "agg", "tpch"),
)
def q7_volume_shipping(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            # exact 1e4 fixed point (q1 conversion rationale)
            (
                F.expr(
                    "(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
                    " * (100 - CAST(round(l_discount * 100) AS BIGINT)))"
                    " AS BIGINT) + 50) div 100"
                )
                / 1e2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           floor(CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume
                          ELSE 0 END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE) * 1e4 + 0.5) / 1e4
             AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8: one nation's market share of ECONOMY-part revenue inside "
    "ASIA, by order year. The share is a conditional-sum / total-sum "
    "ratio computed in ONE grouped aggregation (no self-join, no second "
    "pass). part is filtered before its join (selectivity 1/6) so the "
    "p_type predicate prunes lineitem rows via the broadcast hash join; "
    "region->nation restricts the customer side the same way.",
    tags=("join", "agg", "tpch"),
)
def q8_market_share(spark, sf_dir):
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_reg")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    # exact 1e4-scaled integer volume (q1 conversion rationale): both
    # ratio legs sum exact ints, ONE identical IEEE division, floor form
    vol = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(reg), F.col("n1_reg") == reg.r_regionkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.floor(
                    F.sum(
                        F.when(F.col("nation") == "NATION_5", vol).otherwise(0)
                    ).cast("double")
                    / F.sum(vol).cast("double")
                    * 1e4
                    + 0.5
                )
                / 1e4
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_profit",
    oracle="""
    SELECT nation, o_year,
           CAST(CASE WHEN sum(amount) >= 0 THEN 1 ELSE -1 END
                * ((abs(CAST(sum(amount) AS BIGINT)) + 50) // 100)
                AS BIGINT) / 1e2 AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))
               - 60 * CAST(round(p_retailprice * 100) AS BIGINT)
                    * CAST(round(l_quantity) AS BIGINT) AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape: profit on 'red' product lines by supplier nation "
    "and order year (the schema has no partsupp, so supply cost is "
    "modeled as 0.6 x p_retailprice — the join/agg topology, a 5-way "
    "star with a LIKE filter on the part dim, is unchanged). The "
    "substring filter prunes ~1/6 of parts BEFORE the broadcast join, "
    "which in turn prunes lineitem rows; only orderkey needs a shuffle "
    "join.",
    tags=("join", "agg", "tpch"),
)
def q9_product_profit(spark, sf_dir):
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nat = _t(spark, sf_dir, "nation")
    # exact 1e4 fixed point (q1 conversion rationale): price*(1-d) is an
    # exact 1e4-scaled int and 0.6*retail*qty*1e4 = 60*retail_cents*qty
    # (qty is integer-valued); profit can be negative, so the cents
    # rounding is the sign-safe half-away form
    amount = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
        " - 60 * CAST(round(p_retailprice * 100) AS BIGINT)"
        " * CAST(round(l_quantity) AS BIGINT)"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .withColumn("amount4", amount)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            (
                F.expr(
                    "CAST(CASE WHEN sum(amount4) >= 0 THEN 1 ELSE -1 END"
                    " * ((abs(CAST(sum(amount4) AS BIGINT)) + 50) div 100)"
                    " AS BIGINT)"
                )
                / 1e2
            ).alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q11_important_stock",
    oracle="""
    WITH pv AS (
      SELECT l_partkey, sum(l_extendedprice * l_quantity) AS val
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      GROUP BY l_partkey
    )
    SELECT l_partkey, round(val, 2) AS part_value
    FROM pv
    WHERE val > (SELECT sum(val) * 0.001 FROM pv)
    ORDER BY part_value DESC, l_partkey
    LIMIT 50
    """,
    doc="TPC-H Q11 shape: parts whose shipped value from a nation group "
    "exceeds a fraction of that group's total (no partsupp — lineitem "
    "value stands in for stock value; the plan-defining feature, a "
    "HAVING against an uncorrelated scalar aggregate over the SAME "
    "derived table, is intact). Spark computes pv once, derives the "
    "threshold as a 1-row broadcast cross join, and filters — two "
    "aggregations over one shuffle of (partkey, value) pairs.",
    tags=("join", "agg", "subquery", "tpch"),
)
def q11_important_stock(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    pv = materialize(
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("val"))
    )
    thresh = pv.agg((F.sum("val") * 0.001).alias("cut"))
    return (
        pv.crossJoin(F.broadcast(thresh))
        .filter(F.col("val") > F.col("cut"))
        .select("l_partkey", F.round("val", 2).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
        .limit(50)
    )


@register(
    "q12_priority_by_status",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="TPC-H Q12 shape: urgent-vs-other order census per line status over "
    "a ship-year (the schema has no l_shipmode/commitdate/receiptdate, "
    "so the group key is l_linestatus and the band filter is on "
    "shipdate; the plan-defining feature — a fact-fact equi join feeding "
    "two CASE-conditional counts in one aggregation — is intact).",
    tags=("join", "agg", "tpch"),
)
def q12_priority_by_status(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13: histogram of orders-per-customer, excluding one "
    "priority class. The exclusion predicate lives in the OUTER join "
    "condition (not WHERE — customers with only urgent orders must "
    "surface with c_count 0), then two cascaded aggregations: per "
    "customer, then per count. The first groupBy reuses the join's "
    "custkey partitioning so only the tiny histogram re-shuffles.",
    tags=("join", "outer", "agg", "tpch"),
)
def q13_customer_order_distribution(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey,
             CAST((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS BIGINT) + 50) // 100 AS BIGINT) / 1e2 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15: supplier(s) with the maximum quarterly revenue. The "
    "revenue view is computed once (localCheckpoint — both the max "
    "subquery and the equality filter consume it), the max is a 1-row "
    "broadcast, and the supplier dim broadcasts onto the surviving "
    "row(s). Revenue is rounded on both sides BEFORE the max/equality "
    "so float summation order can't make the engines disagree about "
    "who is top.",
    tags=("join", "agg", "subquery", "tpch"),
)
def q15_top_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    sup = _t(spark, sf_dir, "supplier")
    revenue = materialize(
        li.groupBy("l_suppkey")
        .agg(
            # exact 1e4 fixed point (q1 conversion rationale): the max/
            # equality below compares exact values, so the top supplier
            # cannot flip on summation order either
            (
                F.expr(
                    "(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
                    " * (100 - CAST(round(l_discount * 100) AS BIGINT)))"
                    " AS BIGINT) + 50) div 100"
                )
                / 1e2
            ).alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_part_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: how many distinct suppliers ship each "
    "brand/type/size combination (no partsupp — the observed "
    "part-supplier relation is DISTINCT pairs from lineitem, which is "
    "exactly what partsupp records). The distinct-pair projection "
    "shuffles only two int columns off the fact table; the part dim "
    "with both filters broadcasts; count(DISTINCT) re-aggregates the "
    "already-distinct pairs without a second dedup pass.",
    tags=("join", "agg", "distinct", "tpch"),
)
def q16_supplier_part_variety(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45)
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_cut
      FROM lineitem GROUP BY l_partkey
    )
    SELECT floor(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                      AS DOUBLE) / 7.0 + 0.5) / 1e2 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pk = l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < qty_cut
    """,
    doc="TPC-H Q17: revenue that would be lost by refusing small orders "
    "(below 20% of the part's average quantity). The correlated scalar "
    "subquery decorrelates into a per-part average joined back on "
    "partkey — the same rewrite Catalyst/DuckDB do internally, here "
    "written explicitly so both engines run the identical plan. The "
    "brand filter broadcasts; the per-part average is the only extra "
    "shuffle.",
    tags=("join", "agg", "subquery", "tpch"),
)
def q17_small_quantity_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pa, F.col("pk") == li.l_partkey)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            # exact cents sum, ONE identical double division, floor form
            # (the q2 round-half-repr class + the q1 summation class)
            (
                F.floor(
                    F.expr(
                        "CAST(sum(CAST(round(l_extendedprice * 100)"
                        " AS BIGINT)) AS DOUBLE)"
                    )
                    / 7.0
                    + 0.5
                )
                / 1e2
            ).alias("avg_yearly")
        )
    )


@register(
    "q20_part_share_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    ), tot AS (
      SELECT l_partkey AS pk, sum(qty) AS total_qty
      FROM shipped GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM shipped
      JOIN tot  ON pk = l_partkey
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'small%' AND qty > 0.3 * total_qty)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 shape: suppliers who dominate (>30% of shipped volume "
    "in a year) some 'small'-named part (no partsupp availqty — shipped "
    "volume share is the analogous dominance test; the plan-defining "
    "feature, an IN driven by a nested aggregate-over-aggregate chain, "
    "is intact). The IN becomes a left-semi join onto the tiny supplier "
    "dim; shipped aggregates once and feeds both the share numerator "
    "and the per-part total.",
    tags=("join", "semi", "agg", "subquery", "tpch"),
)
def q20_part_share_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    shipped = materialize(
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    tot = shipped.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty").alias("total_qty")
    )
    dominant = (
        shipped.join(tot, F.col("pk") == shipped.l_partkey)
        .join(F.broadcast(part), shipped.l_partkey == part.p_partkey)
        .filter(F.col("qty") > 0.3 * F.col("total_qty"))
        .select("l_suppkey")
    )
    return (
        sup.join(dominant, sup.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


@register(
    "q21_last_shipper_census",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape: on finished multi-supplier orders, count per "
    "supplier how often it was the LAST to ship — strictly later than "
    "every other supplier's lines (the schema has no receipt/commit "
    "dates, so 'kept the order waiting' is expressed via shipdate; the "
    "plan-defining double correlation — EXISTS another-supplier line, "
    "NOT EXISTS another-supplier line that is later — is intact). "
    "EXISTS -> left-semi self-join, NOT EXISTS -> left-anti self-join "
    "with the extra date inequality; both reuse the orderkey shuffle.",
    tags=("join", "semi", "anti", "topk", "tpch"),
)
def q21_last_shipper_census(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("o3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    waited = (
        l1.join(
            l2,
            (F.col("o2") == l1.l_orderkey) & (F.col("s2") != l1.l_suppkey),
            "left_semi",
        )
        .join(
            l3,
            (F.col("o3") == l1.l_orderkey)
            & (F.col("s3") != l1.l_suppkey)
            & (F.col("d3") > l1.l_shipdate),
            "left_anti",
        )
    )
    return (
        waited.join(orders, waited.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), waited.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             -- engine-stable rounding (see plans/rounding.py): round() flips
             -- the last digit between engines at repr boundaries (sf0.1 hit
             -- 312.30875 here)
             floor(min(l_extendedprice / l_quantity) * 10000 + 0.5) / 10000
               AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey AS bpk, min(unit_cost) AS best_cost
      FROM cost GROUP BY l_partkey
    )
    SELECT p_partkey, s_suppkey, s_name, n_name, unit_cost
    FROM part
    JOIN cost ON l_partkey = p_partkey
    JOIN best ON bpk = l_partkey AND unit_cost = best_cost
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size = 25
    ORDER BY p_partkey, s_suppkey
    """,
    doc="TPC-H Q2 shape: for each size-25 part, the supplier(s) offering "
    "the minimum observed unit cost (no partsupp — unit cost is the "
    "minimum observed extendedprice/quantity per part-supplier pair "
    "from lineitem; the plan-defining feature, a correlated "
    "min-subquery decorrelated into a per-part min joined back on "
    "(partkey, cost), is intact). Unit cost is rounded BEFORE min and "
    "the equality so the engines agree on ties. cost aggregates once "
    "(localCheckpoint) and feeds both the per-part min and the "
    "equality probe.",
    tags=("join", "agg", "subquery", "tpch"),
)
def q2_min_cost_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 25)
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    cost = materialize(
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            stable_round(
                F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4
            ).alias("unit_cost")
        )
    )
    best = cost.groupBy(F.col("l_partkey").alias("bpk")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        cost.join(F.broadcast(part), cost.l_partkey == part.p_partkey)
        .join(
            best,
            (F.col("bpk") == cost.l_partkey)
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .join(F.broadcast(sup), cost.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("p_partkey", "s_suppkey", "s_name", "n_name", "unit_cost")
        .orderBy("p_partkey", "s_suppkey")
    )
