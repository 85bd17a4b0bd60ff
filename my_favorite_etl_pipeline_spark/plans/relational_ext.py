"""Extended relational surface — TPC-H-shaped breadth (SURVEY.md §7 Step 5).

The fixture schema is a trimmed TPC-H (no partsupp/commitdate/shipmode), so
the classic queries are adapted to the columns that exist while keeping each
query's *shape* — the join/agg/subquery pattern Catalyst has to plan — intact.

Scale notes follow the same rules as plans/relational.py: hints only on
bounded dims (region/nation) and 1-row scalars; customer/supplier/part are
unhinted (AQE size-planning broadcasts them while small, shuffles at 100×);
fact-fact joins shuffle on keys under AQE, aggregates rely on map-side
partial aggregation, top-k is TakeOrdered.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load, register_temp_views


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS decorrelated to a left-semi join.

    The semi join shuffles both sides on the order key but ships no lineitem
    payload columns (semi joins carry only the key); the quarter filter on
    orders pushes to the scan and bounds the build side.
    """
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — pure scan-filter-aggregate, the pushdown litmus test.

    All three predicates reach the parquet scan (PushedFilters) and only 4
    columns are read (ReadSchema); the aggregate is a single scalar — at
    100 TB this query is I/O-bound by construction, exactly as it should be.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           ROUND(c_acctbal, 4) AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 — returned-item revenue per customer, top 20.

    lineitem(R-flagged) ⋈ orders(quarter) shuffles on the order key; the
    result (≤ orders-in-quarter rows) joins customer (AQE-sized, unhinted)
    and hint-broadcast nation.
    """
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .select(
            "c_custkey", "c_name", "revenue", F.round("c_acctbal", 4).alias("acctbal"), "n_name"
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q12_priority_by_flag",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — conditional aggregation (CASE inside SUM).

    The pivot-style conditional sums compute map-side; the shuffle carries 3
    groups × 2 longs regardless of input size.
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 — promo revenue ratio; part is dimension-sized so AQE
    plans a map-side broadcast join while it fits (no forced hint — part
    scales with SF), keeping the month of lineitem shuffle-free before the
    scalar aggregate."""
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


@register(
    "q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'SMALL%'
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 50
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — distinct-count per group with negative predicates.

    count(distinct) expands to a two-phase aggregate (dedup shuffle on
    group+suppkey, then count) — Catalyst plans this; we only declare it.
    """
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & ~F.col("p_type").like("SMALL%")
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(50)
    )


@register(
    "q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           ROUND(o_totalprice, 4) AS totalprice,
           ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(l_quantity) > 150
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 — large-volume orders (HAVING over a join-agg).

    Aggregate lineitem by order key FIRST (partial agg collapses ~4 rows per
    key before the shuffle), filter > 150, then join the surviving few
    against orders/customer — the agg-before-join rewrite that matters at
    scale because it shrinks the join input by ~1000×.
    """
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load(spark, sf_dir, "orders")
    big = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty_raw"))
        .filter(F.col("sum_qty_raw") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 4).alias("totalprice"),
            F.round("sum_qty_raw", 4).alias("sum_qty"),
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q19_disjunctive_join",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 — OR-of-ANDs residual over an equi-join.

    Catalyst keeps the equi key (partkey) as the join condition and the
    disjunction as a residual filter; it also infers the p_size ≤ 35 /
    quantity ≤ 30 envelope predicates for pushdown (CNF conversion).
    """
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load(spark, sf_dir, "lineitem")
    j = li.join(part, li.l_partkey == part.p_partkey)
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(arm("Brand#1", 15, 1, 11) | arm("Brand#2", 25, 10, 20) | arm("Brand#3", 35, 20, 30)).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )


@register(
    "q22_idle_customers",
    oracle="""
    SELECT SUBSTR(c_name, 10, 1) AS cust_bucket,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 4) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    GROUP BY SUBSTR(c_name, 10, 1)
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — scalar subquery + NOT EXISTS anti-join:
    above-average-balance customers with no high-value (>400k) orders.

    The scalar average broadcasts as a 1-row cross join (no collect — the
    plan stays fully distributed); NOT EXISTS is a left-anti join on the
    customer key.
    """
    cust = load(spark, sf_dir, "customer")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("__avg"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 10, 1).alias("cust_bucket"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


@register(
    "q2_min_balance_supplier",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem
    ),
    ranked AS (
      SELECT p_partkey, p_name, s_name, s_acctbal,
             MIN(s_acctbal) OVER (PARTITION BY p_partkey) AS min_bal
      FROM ps
      JOIN part     ON partkey = p_partkey
      JOIN supplier ON suppkey = s_suppkey
      WHERE p_size = 15
    )
    SELECT p_partkey, p_name, s_name, ROUND(s_acctbal, 4) AS acctbal
    FROM ranked WHERE s_acctbal = min_bal
    ORDER BY p_partkey, s_name
    """,
)
def q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — correlated-min subquery as a window + self-filter.

    The classic decorrelation: MIN over a partition window instead of a
    correlated scalar subquery per row — one shuffle on partkey replaces
    N subquery executions.
    """
    ps = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).distinct()
    part = load(spark, sf_dir, "part").filter(F.col("p_size") == 15).select("p_partkey", "p_name")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    w = Window.partitionBy("p_partkey")
    return (
        ps.join(part, ps.partkey == part.p_partkey)
        .join(supp, ps.suppkey == supp.s_suppkey)
        .withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("p_partkey", "p_name", "s_name", F.round("s_acctbal", 4).alias("acctbal"))
        .orderBy("p_partkey", "s_name")
    )


@register(
    "pivot_status_by_segment",
    oracle="""
    SELECT c_mktsegment,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 4) AS F,
           ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 4) AS O,
           ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END), 4) AS P
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot — order value by market segment × order status.

    ``pivot`` with explicit values compiles to the same conditional
    aggregation as the oracle's CASE sums (no second pass to discover
    values — always list them at scale).
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    piv = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("o_totalprice"))
    )
    return piv.select(
        "c_mktsegment",
        F.round(F.coalesce("F", F.lit(0.0)), 4).alias("F"),
        F.round(F.coalesce("O", F.lit(0.0)), 4).alias("O"),
        F.round(F.coalesce("P", F.lit(0.0)), 4).alias("P"),
    )


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_extendedprice), 4) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL entry point (spark.sql over registered
    views) — locks both the grouping-sets operator and the SQL API surface.
    One shuffle; Spark expands the sets with a single Expand node."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               ROUND(SUM(l_extendedprice), 4) AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "stats_surface",
    oracle="""
    SELECT o_orderstatus,
           ROUND(STDDEV_SAMP(o_totalprice), 4) AS price_stddev,
           ROUND(VAR_SAMP(o_totalprice), 4) AS price_var,
           ROUND(MEDIAN(o_totalprice), 4) AS price_median,
           ROUND(QUANTILE_CONT(o_totalprice, 0.9), 4) AS price_p90,
           ROUND(CORR(o_totalprice, o_custkey), 4) AS price_cust_corr,
           ROUND(MIN(o_totalprice), 4) AS price_min,
           ROUND(MAX(o_totalprice), 4) AS price_max
    FROM orders GROUP BY o_orderstatus
    """,
)
def stats_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface — stddev/variance/median/exact
    percentile/correlation, one pass.

    ``percentile`` (exact, interpolated) matches DuckDB's QUANTILE_CONT;
    the approx_percentile sketch variant is covered rows-only elsewhere.
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.stddev_samp("o_totalprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("o_totalprice"), 4).alias("price_var"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("price_median"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("price_p90"),
        F.round(F.corr("o_totalprice", "o_custkey"), 4).alias("price_cust_corr"),
        F.round(F.min("o_totalprice"), 4).alias("price_min"),
        F.round(F.max("o_totalprice"), 4).alias("price_max"),
    )


@register(
    "json_function_surface",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k_val,
           CAST(json_extract(props, '$.missing') AS VARCHAR) IS NOT NULL AS has_missing,
           CAST(LEN(json_keys(props)) AS INT) AS n_keys
    FROM events
    ORDER BY event_id LIMIT 500
    """,
)
def json_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON operator surface over the events ``props`` column (J2's
    get_json_object path, SURVEY §2.4): field extraction, missing-key
    probing, schema introspection — all JVM-side, no UDF."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k_val"),
            F.get_json_object("props", "$.missing").isNotNull().alias("has_missing"),
            F.size(F.json_object_keys("props")).alias("n_keys"),
        )
        .orderBy("event_id")
        .limit(500)
    )


@register(
    "map_function_surface",
    oracle="""
    SELECT n_nationkey,
           n_name AS name_from_map,
           CAST(2 AS INT) AS n_entries
    FROM nation ORDER BY n_nationkey
    """,
)
def map_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface — build, probe, and measure a map column
    (create_map/element_at/size). The oracle reproduces the probe results
    relationally since DuckDB's MAP is structurally different."""
    nation = load(spark, sf_dir, "nation")
    m = F.create_map(
        F.lit("name"), F.col("n_name"), F.lit("region"), F.col("n_regionkey").cast("string")
    )
    return (
        nation.withColumn("m", m)
        .select(
            "n_nationkey",
            F.element_at(F.col("m"), "name").alias("name_from_map"),
            F.size("m").alias("n_entries"),
        )
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# benford_amount_audit — first-digit distribution DQ screen

#: Benford expected proportions log10(1 + 1/d) in integer ppm, generated
#: once and embedded as literals in BOTH engines (the _ARR_DISC trick).
_BENFORD_EXP_PPM = tuple(
    round(1_000_000 * _math.log10(1 + 1 / d)) for d in range(1, 10)
)


def _benford_oracle() -> str:
    rows = ", ".join(f"({d + 1}, {p})" for d, p in enumerate(_BENFORD_EXP_PPM))
    return f"""
    WITH amounts AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM amounts GROUP BY digit),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS t FROM obs),
    exp AS (SELECT * FROM (VALUES {rows}) AS v(digit, exp_ppm))
    SELECT e.digit,
           CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
           CAST(COALESCE(o.n_obs, 0) * 1000000 // (SELECT t FROM tot)
                AS BIGINT) AS obs_ppm,
           CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
           CAST(COALESCE(o.n_obs, 0) * 1000000 // (SELECT t FROM tot)
                - e.exp_ppm AS BIGINT) AS dev_ppm
    FROM exp e LEFT JOIN obs o ON o.digit = e.digit
    ORDER BY e.digit
    """


@register("benford_amount_audit", oracle=_benford_oracle())
def q_benford_amount_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ+ (r15) — BENFORD first-significant-digit audit over order
    amounts (Benford 1938; Nigrini's fraud/DQ screen): the leading-digit
    distribution of naturally-occurring multi-magnitude amounts follows
    log10(1 + 1/d); synthetic, capped, or fabricated amounts deviate
    hard. Emits per digit 1-9: observed count, observed ppm, expected
    ppm (the law as a LITERAL integer grid generated once for both
    engines — the discount-grid trick), and the signed deviation. The
    audit MEASURES; thresholds belong to the consuming DQ policy (on
    this fixture's band-uniform TPC-H-ish prices the deviation reads
    large BY DESIGN — exactly what the screen exists to surface).

    Plan at 100 TB: first digit is a map-only string projection of the
    floored amount (integer formatting is engine-identical; values < 1
    excluded by contract), then ONE 9-row hash agg — map-side
    combinable, model-sized everything after.
    """
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").cast("long").alias("t"))
    grid = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(_BENFORD_EXP_PPM)],
        "digit int, exp_ppm long",
    )
    return (
        grid.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            F.expr(
                "CAST(COALESCE(n_obs, 0) * 1000000 DIV t AS BIGINT)"
            ).alias("obs_ppm"),
            F.col("exp_ppm").cast("long"),
            F.expr(
                "CAST(COALESCE(n_obs, 0) * 1000000 DIV t - exp_ppm AS BIGINT)"
            ).alias("dev_ppm"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# fk_orphan_audit — cross-table referential-integrity audit matrix

#: every FK edge of the star schema: (child, fk_col, parent, pk_col)
_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _fk_audit_oracle() -> str:
    arms = "\n      UNION ALL ".join(
        f"""SELECT '{c}' AS child_table, '{ck}' AS fk_col,
             '{p}' AS parent_table,
             CAST(COUNT(*) AS BIGINT) AS n_child_rows,
             CAST(COUNT(*) FILTER (WHERE {ck} IS NOT NULL
               AND {ck} NOT IN (SELECT {pk} FROM {p})) AS BIGINT) AS n_orphans
      FROM {c}"""
        for c, ck, p, pk in _FK_EDGES
    )
    return f"""
    SELECT child_table, fk_col, parent_table, n_child_rows, n_orphans,
           CAST(n_orphans * 1000000 // n_child_rows AS BIGINT) AS orphan_ppm
    FROM ({arms})
    ORDER BY child_table, fk_col
    """


@register("fk_orphan_audit", oracle=_fk_audit_oracle())
def q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ+ (r15) — the cross-TABLE referential-integrity audit the
    per-table DQSuite classes (null/unique/regex/type/range) cannot
    express: for EVERY foreign-key edge of the star schema, the child
    row count, orphan count (non-null FK with no parent), and orphan
    rate in ppm — one row per edge, the constraint-audit matrix a
    warehouse load publishes next to its DQ gate. On this fixture every
    edge reads 0 BY CONSTRUCTION (the generator is referentially
    intact); the detection arm is pinned on a constructed corpus in
    tests (the dup-id fixture discipline).

    Plan at 100 TB: each edge is ONE left-anti-shaped aggregate — the
    orphan count folds into a conditional count over an existence join;
    dims (nation/region) broadcast by size, the big edges
    (lineitem→orders/part/supplier) are plain equi-shuffles AQE handles;
    the union tail is |edges| rows.
    """
    from ..operators.dq import fk_orphan_counts

    frames = [
        fk_orphan_counts(
            load(spark, sf_dir, c), ck, load(spark, sf_dir, p), pk, c, p
        )
        for c, ck, p, pk in _FK_EDGES
    ]
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_)
    return out.orderBy("child_table", "fk_col")


@register(
    "oracle_probe_duckdb_version",
    oracle="SELECT CAST(version() AS VARCHAR) AS duckdb_version",
)
def q_oracle_probe_duckdb_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe — the one driver-environment axis no local
    check can reach: the driver's DuckDB BUILD. The Spark side returns
    the LOCAL wheel's version string, the oracle returns the DRIVER's
    ``version()`` — so the row hashes green iff the two DuckDB builds
    are the same version, and a red here (rows+schema matching, hash
    differing) READS OUT as "the driver runs a different DuckDB than
    the one every local oracle was validated against". Single row,
    costs nothing."""
    import duckdb

    return spark.createDataFrame(
        [(f"v{duckdb.__version__}",)], "duckdb_version string"
    )
