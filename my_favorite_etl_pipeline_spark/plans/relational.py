"""Standard relational surface (SURVEY.md §2.5/§2.7/§2.8, build-plan Step 5).

TPC-H-shaped queries over the fixture star schema: scans with pushdown,
multi-way joins (broadcast + shuffle), aggregations, rollup/cube, window
functions, set ops, semi/anti joins, range and as-of joins, sort/limit.

Scale notes inline per query; the general rules: explicit ``broadcast()``
hints go ONLY on genuinely bounded dimensions (region = 5 rows, nation = 25
rows at every SF) and on 1-row scalar aggregates. customer/supplier/part
scale linearly with SF (the fixtures prove it: customer 150→1.5k→15k across
sf0.001→0.01→0.1), so a forced hint would override Spark's size check and
OOM executors at 100×. Those joins are left unhinted: AQE's size-based
planning still picks BroadcastHashJoin at small scale (same local plan) and
demotes to shuffle join when the side outgrows the threshold. Fact-fact
joins shuffle on the join key, AQE handles skew, aggregates rely on partial
(map-side) aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag, l_linestatus,
      ROUND(SUM(l_quantity), 4) AS sum_qty,
      ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
      ROUND(AVG(l_quantity), 4) AS avg_qty,
      ROUND(AVG(l_extendedprice), 4) AS avg_price,
      ROUND(AVG(l_discount), 4) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — full-scan aggregate, the throughput workhorse.

    Plan: parquet scan (filter pushed, 5 columns read) → partial hash agg →
    shuffle on (returnflag, linestatus) [6 groups] → final agg. At 100 TB
    the shuffle moves ~6 rows per task — the scan dominates, as it should.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey, o_orderdate,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — selective join + agg + top-k.

    customer is the smaller side but scales with SF, so no forced hint:
    AQE picks broadcast while the filtered segment fits the threshold and
    falls back to a shuffle join beyond it. The filtered orders shuffle-join
    lineitem on the order key. Top-10 is TakeOrdered, not a global sort.
    """
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — six-table join, dims broadcast, facts shuffled.

    region (5 rows) and nation (25 rows) are hint-broadcast — bounded at any
    SF. customer and supplier scale with SF, so they carry no hint; AQE
    size-planning broadcasts them while small and shuffles beyond the
    threshold. lineitem⋈orders shuffle on the order key.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


@register(
    "brand_revenue_broadcast",
    oracle="""
    SELECT p_brand,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JN/broadcast — fact⋈dim where AQE's size check picks the broadcast.

    part scales with SF, so it gets no forced hint (a hint overrides the
    size check and OOMs at 100×). While part fits the broadcast threshold,
    AQE plans the same map-only BroadcastHashJoin — eliminating the
    fact-side exchange — and switches to a shuffle join only once part
    genuinely outgrows executor memory. The hinted-broadcast surface is
    demonstrated on the bounded dims (region/nation) in q5.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders
    ) t WHERE rn <= 3
    """,
)
def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group — rank with deterministic tiebreak (O2/X1 kin).

    One hash shuffle on the partition key + per-partition sort; no global
    sort. The same shape implements keep-first dedup and upsert compaction.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "running_total_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_spend,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq,
           ROUND(o_totalprice - LAG(o_totalprice, 1, 0.0) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 4) AS delta_prev
    FROM orders
    """,
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames — running sum + lag over an explicit ROWS frame."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(frame), 4).alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
        F.round(F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(w), 4).alias("delta_prev"),
    )


@register(
    "rollup_order_status",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total_spend
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets — ROLLUP with subtotal + grand-total rows (§2.7)."""
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
        )
    )


@register(
    "cube_events",
    oracle="""
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-04 00:00:00'
    GROUP BY CUBE (event_type, CAST(date_trunc('day', ts) AS TIMESTAMP))
    """,
)
def q_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets — CUBE over (type, day) with all marginal totals."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-04 00:00:00").cast("timestamp")
    )
    return (
        ev.select("event_type", F.date_trunc("day", "ts").alias("day"), "value")
        .cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "set_ops_customers",
    oracle="""
    SELECT 'never_ordered' AS side, c_custkey AS custkey
    FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'has_ordered' AS side, c_custkey AS custkey
    FROM (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations — EXCEPT ∪ INTERSECT with a provenance marker (§2.8)."""
    cust = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    ord_keys = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    never = cust.exceptAll(ord_keys.distinct()).distinct().select(
        F.lit("never_ordered").alias("side"), "custkey"
    )
    has = cust.intersect(ord_keys).select(F.lit("has_ordered").alias("side"), "custkey")
    return never.unionByName(has)


@register(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JN2 — left-anti join: customers that never ordered (the reference's
    new-rows detection arm, dag:311)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "semi_join_suppliers",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 45
    )
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — suppliers with at least one bulk line item."""
    supp = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@register(
    "range_join_ship_latency",
    oracle="""
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_fast_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
      AND l_shipdate <  o_orderdate + INTERVAL 90 DAY
    GROUP BY l_orderkey
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join — equi key + interval band predicate (§2.8).

    The equi component keeps it a hash/sort-merge join (never BNLJ); the
    band predicate is evaluated post-match. This is the scalable shape for
    interval joins: always pair a range condition with an equi key or a
    bucketed prefilter.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 90 DAY"))
    )
    return (
        li.join(orders, cond)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_fast_lines"))
    )


@register(
    "asof_last_click_before_purchase",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
      FROM events
      WHERE event_type IN ('click', 'purchase')
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, last_click_ts
    FROM tagged
    WHERE event_type = 'purchase'
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — for each purchase, the user's latest strictly-prior click.

    Implemented as the UNION-window trick, not a pairwise join: tag both
    event kinds, one window over (user, time) carries the last click forward.
    O(n log n) per user partition with a single shuffle — this is the 100 TB
    as-of strategy (a time-range join would explode candidates).
    """
    ev = load(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
    return (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            last_click.alias("last_click_ts"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
        )
    )


@register(
    "distinct_users_by_type",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation — expands to a two-phase agg under the hood."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register("approx_distinct_users")  # rows-only: HLL sketches are engine-specific
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) — the at-scale variant of the above.

    No DuckDB oracle: sketch estimates are engine-specific. The driver's
    rows-only check still pins cardinality; the unit test asserts the
    estimate lands within 5% of exact.
    """
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("n_users_approx"))
    )


@register(
    "scalar_function_surface",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           SUBSTR(p_name, 1, 5) AS name_prefix,
           CAST(LENGTH(p_name) AS INT) AS name_len,
           CONCAT(p_brand, '#', p_type) AS brand_type,
           CAST(ABS(p_size - 25) AS INT) AS size_dev,
           ROUND(SQRT(p_retailprice), 4) AS price_sqrt,
           ROUND(LN(p_retailprice + 1), 4) AS price_ln,
           ROUND(POW(p_size, 2) + p_retailprice, 4) AS poly,
           CASE WHEN p_size >= 25 THEN 'large' ELSE 'small' END AS size_class,
           COALESCE(NULLIF(p_brand, 'Brand#1'), 'BASE') AS brand_or_base
    FROM part
    """,
)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function surface — string/math/conditional in one projection.

    All built-in ``pyspark.sql.functions``: stays inside whole-stage codegen;
    the entire query is scan→project with zero exchanges.
    """
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.round(F.sqrt("p_retailprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("p_retailprice") + 1), 4).alias("price_ln"),
        F.round(F.pow("p_size", F.lit(2)) + F.col("p_retailprice"), 4).alias("poly"),
        F.when(F.col("p_size") >= 25, "large").otherwise("small").alias("size_class"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#1")), F.lit("BASE")).alias(
            "brand_or_base"
        ),
    )


@register(
    "datetime_function_surface",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_month,
           CAST(DAYOFMONTH(o_orderdate) AS INT) AS order_dom,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           CAST(DATEDIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT) AS days_since_epoch_95
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime function surface — extract/trunc/interval/diff (§2.4 kin)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_dom"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1995-01-01"))
        ).alias("days_since_epoch_95"),
    )


@register(
    "array_function_surface",
    oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) AS INT) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 4) AS first_val,
           ROUND(CAST(embedding[64] AS DOUBLE), 4) AS last_val,
           ROUND(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))), 3) AS vec_sum,
           ROUND(LIST_MAX(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))), 4) AS vec_max,
           CAST(LEN(LIST_FILTER(embedding, x -> x > 0)) AS INT) AS n_positive
    FROM embeddings WHERE vec_id < 100
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function surface — size, index, aggregate, filter.

    All JVM-side higher-order functions (no UDF): the at-scale vector path
    used by the similarity queries in plans/retrieval.py.
    """
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.col("embedding")[0].cast("double"), 4).alias("first_val"),
        F.round(F.col("embedding")[63].cast("double"), 4).alias("last_val"),
        F.round(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 3).alias("vec_sum"),
        F.round(F.array_max(dbl), 4).alias("vec_max"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
    )
