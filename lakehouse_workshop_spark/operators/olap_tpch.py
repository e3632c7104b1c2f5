"""TPC-H-shaped OLAP operators (engine extensions).

Adds the remaining canonical warehouse query shapes the reference's users
graduate to, adapted to the testdata schema (no partsupp / commitdate /
shipmode columns, so Q2/Q4/Q21-family predicates are re-expressed over
lineitem+orders): EXISTS / NOT EXISTS semi- and anti-joins, scalar
subqueries against a global aggregate, argmin join-back, conditional
(CASE) aggregation shares, disjunctive OR-of-ANDs predicates, and
HAVING-filtered IN subqueries.

Scale posture mirrors ``olap_extras``: dimensions broadcast, facts
shuffle on their natural keys, date/brand filters sit in the scan, money
sums accumulate in DECIMAL (``functions/exprs.py:dec_sum``) so partial
aggregation order can never change a double, and every share/ratio is
rounded to 6 dp in both dialects before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import load_table
from lakehouse_workshop_spark.functions.exprs import dec_sum
from lakehouse_workshop_spark.operators import query

Q14_LO, Q14_HI = "1996-01-01", "1997-01-01"
Q4_LATE_DAYS = 90
Q7_NATION_A, Q7_NATION_B = "NATION_3", "NATION_7"
Q8_NATION, Q8_REGION = "NATION_3", "REGION_0"
Q10_LO, Q10_HI = "1996-01-01", "1996-07-01"
Q11_FRACTION = 0.042
Q18_QTY = 250
Q22_CUTOFF = "2000-01-01"

_REV = "l_extendedprice * (1 - l_discount)"


@query(
    "promo_revenue_monthly",
    oracle=f"""
    SELECT date_trunc('month', l_shipdate) AS month,
           ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST({_REV} AS DECIMAL(38,4))
                         ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE)
                 / CAST(SUM(CAST({_REV} AS DECIMAL(38,4))) AS DOUBLE),
                 6) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= '{Q14_LO}' AND l_shipdate < '{Q14_HI}'
    GROUP BY 1 ORDER BY 1
    """,
)
def promo_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect) by month: percent of revenue from
    PROMO-type parts.

    Plan shape: part projects to (partkey, type) and broadcasts into the
    date-pruned lineitem scan; the conditional share is two DECIMAL sums
    in ONE aggregation pass (no self-join, no second scan). 12 output
    rows — the final exchange is trivial.
    """
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q14_LO) & (F.col("l_shipdate") < Q14_HI)
    )
    rev = F.expr(_REV)
    zero = F.lit(0).cast("decimal(38,4)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev.cast("decimal(38,4)"))
                    .otherwise(zero)
                ).cast("double")
                / F.sum(rev.cast("decimal(38,4)")).cast("double"),
                6,
            ).alias("promo_pct")
        )
        .orderBy("month")
    )


@query(
    "late_shipment_priority",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= '{Q14_LO}' AND o_orderdate < '{Q14_HI}'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate >= o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted (no commitdate column): orders per priority class
    with at least one line item shipped ≥{Q4_LATE_DAYS} days after the
    order date — the canonical EXISTS → left-semi-join shape.

    Plan shape: the correlated EXISTS plans as a LeftSemi shuffle join on
    orderkey (each side scan-pruned first); the semi-join emits each
    order at most once, so no DISTINCT pass is needed. 5 output rows.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q14_LO) & (F.col("o_orderdate") < Q14_HI)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.date_add(F.col("o_orderdate"), Q4_LATE_DAYS)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "volume_shipping",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST({_REV} AS DECIMAL(38,4))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = '{Q7_NATION_A}' AND cn.n_name = '{Q7_NATION_B}')
        OR (sn.n_name = '{Q7_NATION_B}' AND cn.n_name = '{Q7_NATION_A}'))
      AND l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: revenue shipped between a nation pair, both directions,
    by year — the double-sided dimension join.

    Plan shape: supplier and customer each broadcast-join their nation
    row FIRST (filtering to the two nations cuts both early), then
    broadcast into the fact joins; only orders⨝lineitem shuffles. The
    nation-pair disjunction is applied once on the joined names, after
    each side was already pruned to the 2-nation subset.
    """
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(
            ((F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B))
            | ((F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dec_sum(F.expr(_REV), scale=4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "market_share",
    oracle=f"""
    SELECT l_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = '{Q8_NATION}'
                         THEN rev ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT CAST(YEAR(o_orderdate) AS INT) AS l_year,
               sn.n_name AS supp_nation,
               CAST({_REV} AS DECIMAL(38,4)) AS rev
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = '{Q8_REGION}'
    )
    GROUP BY l_year ORDER BY l_year
    """,
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one supplier nation's share of revenue sold into a
    customer region, by order year.

    Plan shape: region⨝nation collapses to a broadcast nationkey filter
    on customer; the supplier side broadcast-joins its nation name; the
    share is a single conditional-aggregation pass (no second scan of the
    joined facts). Output is one row per year.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    cn = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.expr(_REV).cast("decimal(38,4)")
    zero = F.lit(0).cast("decimal(38,4)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("l_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == Q8_NATION, rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("l_year")
    )


@query(
    "top_returned_customers",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST({_REV} AS DECIMAL(38,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= '{Q10_LO}' AND o_orderdate < '{Q10_HI}'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def top_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue in a quarter
    (two-quarter window here for row volume).

    Plan shape: both date and returnflag predicates push into the scans;
    customer⨝nation broadcasts; orders⨝lineitem shuffles on orderkey;
    the top-20 is TakeOrderedAndProject over the aggregated set.
    """
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q10_LO) & (F.col("o_orderdate") < Q10_HI)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dec_sum(F.expr(_REV), scale=4).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "nation_revenue_share",
    oracle=f"""
    WITH nat_rev AS (
        SELECT n_name,
               SUM(CAST({_REV} AS DECIMAL(38,4))) AS rev
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name, CAST(rev AS DOUBLE) AS revenue
    FROM nat_rev
    WHERE CAST(rev AS DOUBLE) >
          (SELECT CAST(SUM(rev) AS DOUBLE) * {Q11_FRACTION} FROM nat_rev)
    ORDER BY revenue DESC, n_name
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted (no partsupp): supplier nations contributing
    more than {Q11_FRACTION:.1%} of global lineitem revenue — the
    HAVING-against-a-scalar-subquery shape.

    Plan shape: ONE aggregation produces the 25-row per-nation set; the
    global total derives from that tiny set (re-aggregated, not a second
    fact scan) and joins back as a 1-row broadcast cross join.
    """
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    nat_rev = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(F.sum(F.expr(_REV).cast("decimal(38,4)")).alias("rev"))
        .localCheckpoint(eager=True)  # read by both the filter and the total
    )
    total = nat_rev.agg(
        (F.sum("rev").cast("double") * Q11_FRACTION).alias("cut")
    )
    return (
        nat_rev.crossJoin(F.broadcast(total))
        .filter(F.col("rev").cast("double") > F.col("cut"))
        .select("n_name", F.col("rev").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "min_cost_supplier",
    oracle="""
    SELECT p_partkey, p_name, s_suppkey, s_name, unit_price
    FROM (
        SELECT p_partkey, p_name, s_suppkey, s_name,
               ROUND(l_extendedprice / l_quantity, 6) AS unit_price,
               ROW_NUMBER() OVER (
                   PARTITION BY p_partkey
                   ORDER BY ROUND(l_extendedprice / l_quantity, 6), s_suppkey
               ) AS rn
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE p_size <= 10
    )
    WHERE rn = 1
    ORDER BY p_partkey
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted (no partsupp: observed unit price from lineitem
    stands in for ps_supplycost): for each small part, the supplier that
    shipped it cheapest per unit — the argmin join-back shape.

    Plan shape: the argmin is ``min_by`` over (price, suppkey) structs —
    map-side partial aggregation, one shuffle of one best-row struct per
    part, no window sort of the full join (the oracle keeps the window
    form; the ordering struct reproduces its tie-break exactly).
    """
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10).select(
        "p_partkey", "p_name"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6).alias("unit_price"),
    )
    best = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name")
        .agg(
            F.min_by(
                F.struct("s_suppkey", "s_name", "unit_price"),
                F.struct("unit_price", "s_suppkey"),
            ).alias("best")
        )
    )
    return best.select(
        "p_partkey",
        "p_name",
        F.col("best.s_suppkey").alias("s_suppkey"),
        F.col("best.s_name").alias("s_name"),
        F.col("best.unit_price").alias("unit_price"),
    ).orderBy("p_partkey")


@query(
    "big_quantity_orders",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           SUM(l_quantity) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > {Q18_QTY})
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def big_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds {Q18_QTY} units,
    with their customer — the IN-over-grouped-HAVING shape.

    Plan shape: the HAVING subquery aggregates lineitem once (partial
    map-side sum first) to a small key set that left-semi-joins back into
    the fact; customer broadcasts. l_quantity is integral-valued double,
    so the plain SUM is exact and order-independent.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY)
        .select("l_orderkey", "total_qty")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


@query(
    "dormant_rich_customers",
    oracle=f"""
    SELECT n_name, COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= '{Q22_CUTOFF}')
    GROUP BY n_name ORDER BY n_name
    """,
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (every synthetic customer has orders, so "never
    ordered" becomes "no order since {Q22_CUTOFF}"): above-average-balance
    customers gone dormant, counted per nation — scalar subquery plus
    NOT EXISTS anti-join.

    Plan shape: the balance average is a 1-row broadcast cross join; the
    NOT EXISTS is a left-anti shuffle join against the date-pruned orders
    scan; nation broadcasts. 25 output rows.
    """
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= Q22_CUTOFF
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_cust"),
            dec_sum(F.col("c_acctbal"), scale=4).alias("total_bal"),
        )
        .orderBy("n_name")
    )


@query(
    "disjunctive_part_revenue",
    oracle=f"""
    SELECT CAST(SUM(CAST({_REV} AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 45)
    """,
)
def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under an OR-of-ANDs predicate spanning both join
    sides — the disjunctive-pushdown shape.

    Plan shape: Catalyst distributes the disjunction: the p_brand IN
    (...) and l_quantity range envelopes push into their respective
    scans as PushedFilters, the exact OR-of-ANDs applies after the
    broadcast join. One aggregate row out.
    """
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 45)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            dec_sum(F.expr(_REV), scale=4).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


BASKET_TOP = 50


@query(
    "basket_part_pairs",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT {BASKET_TOP}
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the {BASKET_TOP} part pairs most
    often bought in the same order — the support-counting core of
    association-rule mining.

    Scale: the pair join is a self-equi-join on orderkey, so the fan-out
    per order is C(items, 2) with items bounded by order size (~single
    digits for TPC-H-shaped data) — linear in orders, NOT all-pairs over
    parts. A pathological mega-order is the one skew risk; AQE's skew
    split handles it (or cap items per order upstream). The top-{BASKET_TOP}
    is TakeOrderedAndProject over the pair aggregate.
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(BASKET_TOP)
    )


LTV_DECILES = 10


@query(
    "customer_ltv_deciles",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey
    ),
    banded AS (
        SELECT o_custkey, spend,
               NTILE({LTV_DECILES}) OVER (ORDER BY spend DESC, o_custkey)
                   AS decile
        FROM spend
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(spend AS DECIMAL(38,2))) AS DOUBLE) AS total_spend
    FROM banded GROUP BY decile ORDER BY decile
    """,
)
def customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value deciles: rank customers by lifetime spend, cut into
    {LTV_DECILES} equal-count bands, report each band's headcount and
    total — the standard value-segmentation report (top decile share is
    the classic 80/20 readout).

    Scale: spend aggregates first (one row per customer), then the
    Spark side bands via the two-pass distributed rank
    (``functions/exprs.global_row_number`` — range-partitioned
    per-partition row_number + broadcast offsets, no stage holding all
    customers in one partition; a bare NTILE window is the
    single-partition sort this repo bans at 100 TB, and it survives
    only in the single-node DuckDB oracle). The bands are the exact
    NTILE closed form over the same deterministic (spend DESC,
    custkey) total order: with q = N div K and m = N mod K, NTILE(K)
    gives the FIRST m buckets q+1 rows and the rest q — so rank r maps
    to ``ceil(r / (q+1))`` while r <= (q+1)·m, else
    ``m + ceil((r - (q+1)·m) / q)``. (NOT the tempting
    ``(r-1)·K div N + 1``, which spreads the m oversized buckets
    evenly across the range instead of front-loading them the way
    NTILE does — row-identical only when the remainder pattern
    coincides; the hypothesis pin in tests/test_properties.py caught
    exactly that.) Identical to NTILE for EVERY N and K including
    N < K, where q = 0 keeps all rows on the first branch (r <= m) and
    the else branch is never evaluated. All rank arithmetic stays in
    BIGINT — it binds only past ~9.2e17 customers.
    """
    from lakehouse_workshop_spark.functions.exprs import global_row_number

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(dec_sum("o_totalprice", scale=2).alias("spend"))
    )
    ranked = global_row_number(
        spend, F.desc("spend"), F.col("o_custkey"), name="rnk"
    )
    ncust = ranked.groupBy().agg(F.count("*").alias("n_cust"))
    return (
        ranked.crossJoin(F.broadcast(ncust))
        .withColumn("_q", F.expr(f"n_cust DIV {LTV_DECILES}"))
        .withColumn("_m", F.expr(f"n_cust % {LTV_DECILES}"))
        .withColumn(
            "decile",
            F.expr(
                "CAST(CASE WHEN rnk <= (_q + 1) * _m"
                " THEN (CAST(rnk AS BIGINT) + _q) DIV (_q + 1)"
                " ELSE _m + (CAST(rnk AS BIGINT) - (_q + 1) * _m + _q - 1)"
                " DIV _q END AS INT)"
            ),
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            dec_sum("spend", scale=2).alias("total_spend"),
        )
        .orderBy("decile")
    )


@query(
    "supplier_concentration",
    oracle=f"""
    WITH rev AS (
        SELECT n_name, l_suppkey,
               SUM(CAST({_REV} AS DECIMAL(38,4))) AS srev
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name, l_suppkey
    ),
    tot AS (SELECT n_name, SUM(srev) AS trev FROM rev GROUP BY n_name)
    SELECT r.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(POW(CAST(r.srev AS DOUBLE) / CAST(t.trev AS DOUBLE), 2)),
                 6) AS hhi
    FROM rev r JOIN tot t ON r.n_name = t.n_name
    GROUP BY r.n_name
    ORDER BY hhi DESC, r.n_name
    """,
)
def supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within each
    nation — the market-structure metric (1/n = perfectly even, 1.0 =
    monopoly) a sourcing or risk dashboard tracks.

    Scale: revenue aggregates to (nation, supplier) grain first; the
    national totals re-aggregate that small set (no second fact scan)
    and join back on the 25-key nation column. Shares divide two
    DECIMAL-exact revenues cast to double identically in both engines;
    the squared-share sum rounds to 6 dp.
    """
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum(F.expr(_REV).cast("decimal(38,4)")).alias("srev"))
    )
    tot = rev.groupBy(F.col("n_name").alias("t_name")).agg(
        F.sum("srev").alias("trev")
    )
    share = F.col("srev").cast("double") / F.col("trev").cast("double")
    return (
        rev.join(F.broadcast(tot), rev.n_name == tot.t_name)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.round(F.sum(F.pow(share, 2)), 6).alias("hhi"),
        )
        .orderBy(F.desc("hhi"), "n_name")
    )


Q6_LO, Q6_HI = "1996-01-01", "1997-01-01"
Q6_DISC_LO, Q6_DISC_HI = 0.05, 0.07
Q6_QTY = 24
Q13_EXCLUDED_PRIORITY = "1-URGENT"
Q15_LO, Q15_HI = "1996-01-01", "1996-04-01"
Q17_BRAND, Q17_TYPE = "Brand#3", "ECONOMY"


@query(
    "forecast_revenue_discount",
    oracle=f"""
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount
                              AS DECIMAL(38,4))) AS DOUBLE), 6) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= '{Q6_LO}' AND l_shipdate < '{Q6_HI}'
      AND l_discount >= {Q6_DISC_LO} AND l_discount <= {Q6_DISC_HI}
      AND l_quantity < {Q6_QTY}
    """,
)
def forecast_revenue_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the revenue that would have
    been kept by eliminating mid-band discounts on small-quantity line
    items in one year — the canonical scan-only conditional sum.

    Plan shape: zero joins, zero wide shuffles — every predicate (date
    range, discount band, quantity cap) pushes into the parquet scan, so
    at 100 TB this is a pruned columnar read of 4 columns feeding one
    partial+final DECIMAL aggregation to a single row. The discount
    bounds compare against the same double literals in both dialects.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= Q6_LO)
        & (F.col("l_shipdate") < Q6_HI)
        & (F.col("l_discount") >= Q6_DISC_LO)
        & (F.col("l_discount") <= Q6_DISC_HI)
        & (F.col("l_quantity") < Q6_QTY)
    ).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(38,4)"
                )
            ).cast("double"),
            6,
        ).alias("revenue_delta")
    )


@query(
    "customer_order_distribution",
    oracle=f"""
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '{Q13_EXCLUDED_PRIORITY}'
        GROUP BY c_custkey
    )
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_custs
    FROM per_cust
    GROUP BY n_orders
    ORDER BY n_custs DESC, n_orders DESC
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): how many customers placed
    exactly N qualifying orders, including the zero-order customers the
    inner join would lose — the left-outer-join + double-aggregation
    shape.

    Plan shape: orders pre-aggregate to (custkey, count) BEFORE the
    outer join, so the join carries one row per ordering customer
    instead of one per order; customers who match nothing coalesce to
    0. Both sides shuffle on custkey (at 100 TB customer is a fact too —
    no broadcast); the second aggregation keys on the tiny count domain.
    The filtered-out priority class must sit in the JOIN condition, not
    a WHERE, to keep zero-order customers in the result.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != Q13_EXCLUDED_PRIORITY)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count("*").cast("bigint").alias("n_custs"))
        .orderBy(F.desc("n_custs"), F.desc("n_orders"))
    )


@query(
    "top_revenue_supplier",
    oracle=f"""
    WITH srev AS (
        SELECT l_suppkey,
               SUM(CAST({_REV} AS DECIMAL(38,4))) AS rev
        FROM lineitem
        WHERE l_shipdate >= '{Q15_LO}' AND l_shipdate < '{Q15_HI}'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
    FROM srev JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev = (SELECT MAX(rev) FROM srev)
    ORDER BY s_suppkey
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with maximum revenue in
    one quarter — the aggregate-view + scalar-MAX join-back shape.

    Plan shape: the quarter-pruned fact aggregates once to |suppliers|
    rows, checkpointed because both the MAX and the filter read it; the
    MAX is a 1-row broadcast cross join (no second fact scan, no global
    sort). Revenue stays DECIMAL through the equality test so a
    double-rounding tie can never disagree between engines; ties on the
    max keep every tied supplier, exactly as the spec's view form does.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q15_LO) & (F.col("l_shipdate") < Q15_HI)
    )
    srev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(F.expr(_REV).cast("decimal(38,4)")).alias("rev"))
        .localCheckpoint(eager=True)  # read by both the MAX and the filter
    )
    best = srev.agg(F.max("rev").alias("best_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        srev.crossJoin(F.broadcast(best))
        .filter(F.col("rev") == F.col("best_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("rev").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@query(
    "small_quantity_avg_yearly",
    oracle=f"""
    WITH brand_li AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = '{Q17_BRAND}' AND p_type = '{Q17_TYPE}'
    ),
    thresholds AS (
        SELECT l_partkey AS t_partkey,
               0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)
                      / COUNT(*)) AS qty_cut
        FROM brand_li GROUP BY l_partkey
    )
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
                 / 7.0, 6) AS avg_yearly
    FROM brand_li JOIN thresholds ON l_partkey = t_partkey
    WHERE l_quantity < qty_cut
    """,
)
def small_quantity_avg_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): yearly-averaged revenue
    lost by dropping line items below 20% of their part's average order
    quantity — the correlated-scalar-subquery-per-group shape,
    decorrelated into an aggregate + join-back.

    Plan shape: the brand/type part filter broadcasts into the fact scan
    ONCE and the surviving slice (1/|brands| of lineitem) is eagerly
    checkpointed — both the per-part thresholds and the final filter
    read it, so the fact is scanned a single time. Thresholds are one
    row per filtered part (broadcast back). The average is an exact
    DECIMAL sum divided by an exact count, so the 0.2x cut is the same
    double in both engines; integral quantities make the comparison
    tie-free.
    """
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == Q17_BRAND) & (F.col("p_type") == Q17_TYPE))
        .select("p_partkey")
    )
    brand_li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
        .localCheckpoint(eager=True)  # read by thresholds and the final filter
    )
    thresholds = brand_li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            0.2
            * (
                F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double")
                / F.count("*")
            )
        ).alias("qty_cut")
    )
    return (
        brand_li.join(
            F.broadcast(thresholds), F.col("l_partkey") == F.col("t_partkey")
        )
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(38,4)")).cast("double")
                / 7.0,
                6,
            ).alias("avg_yearly")
        )
    )


# --- the final five canonical shapes: Q1, Q9, Q16, Q20, Q21 ----------------
# With these, every one of the 22 canonical TPC-H query shapes has an
# engine analog (adapted where the testdata schema lacks partsupp /
# commitdate / shipmode, as documented per query).

Q1_CUTOFF = "1998-09-02"
Q9_PART_LIKE = "%widget%"
Q16_EXCL_BRAND = "Brand#13"
Q16_SIZES = (3, 9, 14, 19, 23, 36, 45, 49)
Q16_EXCL_BAL = 1000.0
Q20_PART_PREFIX = "large%"
Q20_LO, Q20_HI = "1996-01-01", "1997-01-01"
Q20_QTY = 300
Q21_LATE_DAYS = 60
Q21_TOP = 100


@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
               AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= '{Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report), the canonical warehouse query:
    eight aggregates over the full fact grouped by the 2-value flag pair.

    Plan shape: single scan (date filter pushed), map-side partial
    aggregation collapses everything to ≤ |flag|×|status| groups before
    the one tiny exchange — the ideal 100 TB profile (bandwidth-bound
    scan, negligible shuffle). Money sums accumulate in DECIMAL at the
    per-term scale (2/4/6 dp for price/disc-price/charge) so partial
    order can't move a double; averages divide the exact sums by the
    group count and round to 6 dp identically in both dialects.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= Q1_CUTOFF
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count("*")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", scale=2).alias("sum_qty"),
            dec_sum("l_extendedprice", scale=2).alias("sum_base_price"),
            dec_sum(disc_price, scale=4).alias("sum_disc_price"),
            dec_sum(charge, scale=6).alias("sum_charge"),
            F.round(dec_sum("l_quantity", scale=2) / n, 6).alias("avg_qty"),
            F.round(dec_sum("l_extendedprice", scale=2) / n, 6).alias(
                "avg_price"
            ),
            F.round(dec_sum("l_discount", scale=6) / n, 6).alias("avg_disc"),
            n.cast("bigint").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "product_type_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(38,4))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey AND p_name LIKE '{Q9_PART_LIKE}'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted (no partsupp, so profit omits the supply-cost
    term): revenue on a product family by supplier nation and order
    year — the classic star join feeding a two-key rollup.

    Plan shape: the p_name filter prunes part BEFORE its broadcast, so
    the fact scan is cut to the family's lines early; supplier⨝nation
    broadcast too. The only wide shuffle is lineitem⨝orders on
    orderkey; the final rollup is |nations|×|years| groups, partial
    map-side. At 100 TB: one fact-sized shuffle, everything else
    broadcast — the plan Catalyst should and does pick.
    """
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like(Q9_PART_LIKE)
    )
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dec_sum(F.expr(_REV), scale=4).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "supplier_part_variety",
    oracle=f"""
    WITH observed AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p_brand, p_type, CAST(p_size AS INT) AS p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM observed
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> '{Q16_EXCL_BRAND}'
      AND p_size IN {Q16_SIZES}
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < {Q16_EXCL_BAL})
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted (no partsupp: supplier-part relationships are
    the pairs OBSERVED in lineitem; the "customer complaints" exclusion
    becomes a low-account-balance supplier set): how many distinct
    eligible suppliers serve each (brand, type, size) slice.

    Plan shape: lineitem reduces map-side to distinct (part, supp)
    pairs first — the one fact-sized exchange; part broadcasts with
    brand/size filters pushed to its scan; the NOT IN is a broadcast
    anti-join against the (tiny) excluded-supplier list, NULL-safe
    because s_suppkey is a key. COUNT(DISTINCT) then runs over the
    already-distinct pair set, so no second expansion.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_EXCL_BRAND)
        & F.col("p_size").isin(*Q16_SIZES)
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < Q16_EXCL_BAL
    )
    return (
        li.join(
            F.broadcast(excluded),
            li.l_suppkey == excluded.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "excess_shipped_suppliers",
    oracle=f"""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        JOIN part ON p_partkey = l_partkey AND p_name LIKE '{Q20_PART_PREFIX}'
        WHERE l_shipdate >= '{Q20_LO}' AND l_shipdate < '{Q20_HI}'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(38,2))) > {Q20_QTY})
    ORDER BY s_suppkey
    """,
)
def excess_shipped_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted (no partsupp availqty: "excess stock" becomes
    excess SHIPPED volume): suppliers who moved more than {Q20_QTY}
    units of a part family in one year — the HAVING-filtered IN
    subquery → left-semi-join shape.

    Plan shape: part's name filter prunes before broadcast; the
    aggregate reduces the year's lines to one row per supplier BEFORE
    the HAVING cut, and the qualifying-supplier set (tiny) broadcasts
    into the semi-join against supplier. Quantity accumulates in
    DECIMAL so the > threshold never flips on summation order.
    """
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like(Q20_PART_PREFIX)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q20_LO) & (F.col("l_shipdate") < Q20_HI)
    )
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,2)")).alias("qty"))
        .filter(F.col("qty") > Q20_QTY)
        .select("l_suppkey")
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        sup.join(F.broadcast(heavy), sup.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "waiting_orders_blame",
    oracle=f"""
    WITH per AS (
        SELECT l_orderkey, l_suppkey,
               MAX(CASE WHEN l_shipdate >= o_orderdate
                                           + INTERVAL {Q21_LATE_DAYS} DAY
                        THEN 1 ELSE 0 END) AS late
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
        GROUP BY 1, 2
    ),
    ord AS (
        SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
        FROM per GROUP BY 1
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM per
    JOIN ord USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE per.late = 1 AND ord.n_late = 1 AND ord.n_supp > 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT {Q21_TOP}
    """,
)
def waiting_orders_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (no receiptdate/commitdate: "late" is shipping
    ≥{Q21_LATE_DAYS} days after the order date): suppliers who were the
    SOLE late supplier on finalized multi-supplier orders — the
    hardest canonical shape, EXISTS + NOT EXISTS correlated self-joins.

    Plan shape: both correlated subqueries decorrelate into ONE
    per-(order, supplier) reduction of the fact (late-flag max); the
    per-order supplier/late counts come from a WINDOW over that reduced
    set (partitioned by order — bounded by suppliers-per-order, never
    corpus-wide), so no aggregate-vs-aggregate self-join ever builds.
    At 100 TB this is one shuffle of the fact plus one of the reduced
    per-(order, supplier) rows, instead of three fact-sized self-joins.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    per = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    >= F.date_add(F.col("o_orderdate"), Q21_LATE_DAYS),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    sup = load_table(spark, sf_dir, "supplier")
    return (
        per.withColumn("n_supp", F.count("*").over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .filter(
            (F.col("late") == 1) & (F.col("n_late") == 1) & (F.col("n_supp") > 1)
        )
        .join(F.broadcast(sup), per.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(Q21_TOP)
    )


# --- co-purchase graph centrality ------------------------------------------
# Link analysis over the part co-purchase graph: which parts sit at the
# center of basket structure. Complements `basket_part_pairs` (edge
# support counts) and `near_dup_clusters` (components) with WEIGHTED
# iterative propagation — the PageRank power-method shape, unrolled.
#
# Cross-engine exactness: scores live in 1e8 fixed-point BIGINT and every
# operation is integer (floor-div by outdegree, 85/100 damping, floor-div
# teleport), so Spark and DuckDB agree bit-for-bit — no float summation
# order anywhere.

PR_SCALE = 100_000_000
PR_ITERS = 3


def _pagerank_sql(div: str) -> str:
    its = []
    prev = "s0"
    for k in range(1, PR_ITERS + 1):
        its.append(f"""
    s{k} AS (
        SELECT b.part, b.tele,
               b.tele + (85 * COALESCE(SUM(p.score {div} w.outdeg), 0))
                            {div} 100 AS score
        FROM base b
        LEFT JOIN withdeg w ON w.dst = b.part
        LEFT JOIN {prev} p ON p.part = w.src
        GROUP BY b.part, b.tele
    )""")
        prev = f"s{k}"
    chain = ",".join(its)
    return f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    withdeg AS (
        SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON d.src = e.src
    ),
    n AS (SELECT COUNT(DISTINCT src) AS n_nodes FROM edges),
    base AS (
        SELECT src AS part,
               (({PR_SCALE} {div} n_nodes) * 15) {div} 100 AS tele
        FROM (SELECT DISTINCT src FROM edges) CROSS JOIN n
    ),
    s0 AS (
        SELECT part, tele * 100 {div} 15 AS score FROM base
    ),{chain}
    SELECT part, CAST(score AS BIGINT) AS pr_fixed
    FROM {prev}
    ORDER BY pr_fixed DESC, part
    """


@query("part_copurchase_pagerank", oracle=_pagerank_sql("//"))
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph ({PR_ITERS} unrolled
    power-method iterations, damping 0.85): parts that anchor basket
    structure rank above parts that merely appear often — the classic
    link-analysis upgrade over raw co-occurrence counts.

    Determinism: scores are 1e8 fixed-point BIGINTs and every step is
    integer arithmetic (per-edge floor-div by outdegree, integer
    damping, integer teleport), so both engines agree bit-for-bit —
    iterative float propagation would diverge on summation order alone.
    Undirected co-purchase edges mean no dangling mass.

    Scale: the edge relation materializes ONCE (eager localCheckpoint —
    Spark inlines CTEs, so the naive unrolled-SQL form recomputes the
    basket self-join every iteration: measured 7.5s vs 2.5s at sf0.1);
    each iteration is then one edge join + one dst-keyed aggregation —
    the canonical distributed power-method step, with the node-sized
    score relation broadcast. The iteration loop mirrors
    `near_dup_clusters`; the oracle keeps the unrolled-CTE form (DuckDB
    materializes CTEs referenced in-chain). Per-order edge fan-out is
    C(items, 2), bounded by basket size — linear in orders, never
    all-pairs over parts.
    """
    # Edge build with NO self-join: collect each order's (distinct,
    # sorted) part set in one orderkey-keyed aggregation, expand the
    # src < dst pairs with array lambdas inside the row, then distinct
    # the pair stream. Two shuffles total (groupBy + distinct) vs four
    # for the items-distinct + self-join form — measured 5.3s -> ~3s at
    # sf0.1. Per-order fan-out is C(basket, 2), same bound either way.
    half = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts)), "
                    "y -> struct(x AS src, y AS dst))))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        # checkpoint BEFORE the mirror union so both branches read the
        # materialized half instead of recomputing it twice
        .localCheckpoint(eager=True)
    )
    edges = half.union(half.select(F.col("dst"), F.col("src")))
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # the loop invariant: materialize (src, dst, outdeg) ONCE — lazily it
    # would inline (union + broadcast join) into every iteration
    withdeg = edges.join(F.broadcast(deg), "src").localCheckpoint(eager=True)
    n1 = edges.agg(
        F.count_distinct("src").alias("n_nodes")
    )  # 1-row relation, crossed in (no driver action)
    base = (
        edges.select("src")
        .distinct()
        .withColumnRenamed("src", "part")
        .crossJoin(F.broadcast(n1))
        .selectExpr(
            "part", f"(({PR_SCALE} div n_nodes) * 15) div 100 AS tele"
        )
        .localCheckpoint(eager=True)
    )
    scores = base.selectExpr("part", "tele * 100 div 15 AS score")
    for _ in range(PR_ITERS):
        contrib = (
            withdeg.join(
                scores.withColumnRenamed("part", "src").select("src", "score"),
                "src",
            )
            .selectExpr("dst", "score div outdeg AS c")
            .groupBy("dst")
            .agg(F.sum("c").alias("insum"))
        )
        scores = (
            base.join(contrib, base.part == contrib.dst, "left")
            .selectExpr(
                "part", "tele + (85 * COALESCE(insum, 0)) div 100 AS score"
            )
        )
    return scores.selectExpr(
        "part", "CAST(score AS BIGINT) AS pr_fixed"
    ).orderBy(F.desc("pr_fixed"), "part")



# --- Q12 analog + graph triangles -------------------------------------------
# Q12 completes the 22-shape canon: the testdata schema has no shipmode,
# so the classic "shipmode service-level mix" groups by l_linestatus and
# the "late" predicate is ship-lag-derived (as Q4/Q21 already do).

Q12_LO, Q12_HI = "1996-01-01", "1997-01-01"
Q12_LATE_DAYS = 60
TRI_MIN_SUPPORT = 2


@query(
    "linestatus_priority_mix",
    oracle=f"""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= '{Q12_LO}' AND l_shipdate < '{Q12_HI}'
      AND l_shipdate >= o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def linestatus_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted (no shipmode column): among lines shipped
    ≥{Q12_LATE_DAYS} days after ordering within the year, how many came
    from high-priority vs other orders, per line status — the
    service-level mix query. Completes the 22-canonical-shape canon.

    Scale: date filter in the lineitem scan, equi-join on orderkey (both
    sides shuffle on their natural key — orders is not broadcastable at
    100 TB), CASE-conditional integer counts collapse map-side to
    |linestatus| rows.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q12_LO) & (F.col("l_shipdate") < Q12_HI)
    )
    orders = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.date_add(F.col("o_orderdate"), Q12_LATE_DAYS))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def _tri_sql() -> str:
    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    )
    SELECT e1.pa AS part_a, e1.pb AS part_b, e2.pb AS part_c,
           CAST(LEAST(e1.n, e2.n, e3.n) AS BIGINT) AS min_support
    FROM e e1
    JOIN e e2 ON e1.pb = e2.pa
    JOIN e e3 ON e1.pa = e3.pa AND e2.pb = e3.pb
    ORDER BY min_support DESC, part_a, part_b, part_c
    """


@query("copurchase_triangles", oracle=_tri_sql())
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-purchase graph (three parts pairwise
    co-ordered ≥{TRI_MIN_SUPPORT} times) — the cohesion structure one
    level up from ``basket_part_pairs``' edges and the classic graph-
    analytics benchmark beside ``part_copurchase_pagerank``.

    Scale: support filtering FIRST is what makes this tractable — the
    edge list e is orders-bounded and the ≥{TRI_MIN_SUPPORT} cut drops
    the quadratic tail before any triangle join. The a<b<c orientation
    (each edge stored low→high) counts every triangle exactly once and
    halves the join fan-in; both triangle joins are equi-joins on part
    keys. Degenerate hub parts are the known hazard — the orientation
    bounds per-node fan-out by its higher-degree neighbors (the standard
    oriented-triangle-counting trick).

    Plan: edges build with the pagerank edge pattern (per-order
    collect_set + in-row oriented pair expansion — one orderkey groupBy
    + one pair groupBy instead of the distinct + self-join's four
    exchanges) and materialize ONCE (eager checkpoint): Spark inlines
    CTEs, so the SQL form would recompute the basket expansion for each
    of e's three join appearances. The oracle keeps the self-join CTE —
    DuckDB materializes in-chain CTEs, and per order the oriented
    expansion and the a<b self-join emit the identical pair set.
    """
    edges = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts)), "
                    "y -> struct(x AS pa, y AS pb))))"
                )
            ).alias("e")
        )
        .select("e.pa", "e.pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= TRI_MIN_SUPPORT)
        .localCheckpoint(eager=True)
    )
    edges.createOrReplaceTempView("tri_edges")
    return spark.sql(
        f"""
        SELECT e1.pa AS part_a, e1.pb AS part_b, e2.pb AS part_c,
               CAST(LEAST(e1.n, e2.n, e3.n) AS BIGINT) AS min_support
        FROM tri_edges e1
        JOIN tri_edges e2 ON e1.pb = e2.pa
        JOIN tri_edges e3 ON e1.pa = e3.pa AND e2.pb = e3.pb
        ORDER BY min_support DESC, part_a, part_b, part_c
        """
    )
