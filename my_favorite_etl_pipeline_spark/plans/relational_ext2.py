"""More TPC-H-shaped breadth: multi-dimension joins, outer-join histograms,
agg-of-agg, correlated-avg decorrelation, window-function surface.

Same adaptation rules as relational_ext.py (trimmed fixture schema, keep the
planning shape), same scale rules (hints only on bounded dims, AQE sizes the
SF-scaling sides, shuffle facts, partial agg, TakeOrdered top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exprs import duck_md5_32, spark_md5_32
from ..registry import register
from ..sources.tables import load


@register(
    "q7_nation_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE ((cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_2')
        OR (cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_1'))
    GROUP BY cn.n_name, sn.n_name, EXTRACT(YEAR FROM l_shipdate)
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bidirectional nation-pair volume by year.

    Two aliases of the same hint-broadcast nation dim (25 rows, bounded);
    the disjunctive pair filter applies post-join (it references both
    sides). One fact shuffle (lineitem⋈orders); customer/supplier are
    unhinted — AQE broadcasts them while they fit.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    sn = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    pair = (
        (F.col("cust_nation") == "NATION_1") & (F.col("supp_nation") == "NATION_2")
    ) | ((F.col("cust_nation") == "NATION_2") & (F.col("supp_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
        .filter(pair)
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("volume"))
    )


@register(
    "q8_market_share",
    oracle="""
    WITH all_orders AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
             l_extendedprice * (1 - l_discount) AS volume,
             cn.n_name AS cust_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
    )
    SELECT order_year,
           ROUND(SUM(CASE WHEN cust_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume), 4) AS n3_share
    FROM all_orders GROUP BY order_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — one nation's (NATION_3) share of yearly volume (ratio of
    conditional sum to total inside one aggregate — no second pass)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_3", vol).otherwise(0.0)) / F.sum(vol), 4
            ).alias("n3_share")
        )
    )


@register(
    "q9_profit_by_nation_year",
    oracle="""
    SELECT n_name AS nation, CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.1), 4) AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, EXTRACT(YEAR FROM l_shipdate)
    """,
)
def q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit per supplier-nation per year (partsupp's
    supplycost is approximated by a retail-price fraction; the fixture has
    no partsupp table). The selective p_name LIKE pre-filter shrinks part so
    AQE plans it broadcast at small SF — unhinted, since part scales with
    SF."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.1
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("ship_year"))
        .agg(F.round(F.sum(profit), 4).alias("profit"))
    )


@register(
    "q13_customer_order_histogram",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 — customer order-count distribution via LEFT OUTER join
    (zero-order customers must appear with c_count=0 — the outer-join-then-
    double-aggregate shape; COUNT(col) skips the NULLs the outer join makes).
    """
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, ROUND(total_revenue, 4) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — supplier(s) with max quarterly revenue: agg-of-agg where
    the scalar MAX decorrelates to an unpartitioned window over the (small)
    per-supplier aggregate — no second scan of lineitem."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    w = Window.partitionBy()  # global max over the aggregated (small) frame
    top = revenue.withColumn("__mx", F.max("total_revenue").over(w)).filter(
        F.col("total_revenue") == F.col("__mx")
    )
    return (
        top.join(supp, top.supplier_no == supp.s_suppkey)
        .select("s_suppkey", "s_name", F.round("total_revenue", 4).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH avg_qty AS (
      SELECT l_partkey AS pk, 0.2 * AVG(l_quantity) AS threshold
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN avg_qty ON l_partkey = pk
    WHERE p_brand = 'Brand#1' AND l_quantity < threshold
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 — correlated per-part AVG subquery decorrelated to a window:
    each lineitem compares against 0.2×avg(quantity) of its own part.

    The window over l_partkey replaces the classic agg+self-join — one
    shuffle instead of two, and no duplicate lineitem scan.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    w = Window.partitionBy("l_partkey")
    flagged = li.withColumn("__thr", 0.2 * F.avg("l_quantity").over(w))
    return (
        flagged.join(part, flagged.l_partkey == part.p_partkey)
        .filter(F.col("l_quantity") < F.col("__thr"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@register(
    "window_function_surface",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
           ROUND(LAG(o_totalprice, 1) OVER w, 4) AS prev_price,
           ROUND(LEAD(o_totalprice, 1) OVER w, 4) AS next_price,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 4) AS first_price,
           ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface in one pass: ranking family, ntile,
    percent_rank, lag/lead, first_value, and a moving-average frame — all
    over ONE window spec (one shuffle on o_custkey, one sort)."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(-2, 0)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.lag("o_totalprice", 1).over(w), 4).alias("prev_price"),
        F.round(F.lead("o_totalprice", 1).over(w), 4).alias("next_price"),
        F.round(F.first("o_totalprice").over(w), 4).alias("first_price"),
        F.round(F.avg("o_totalprice").over(wf), 4).alias("moving_avg3"),
    )


@register(
    "q20_bulk_suppliers",
    oracle="""
    SELECT s_name, ROUND(s_acctbal, 4) AS acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE '%red%'
      GROUP BY l_suppkey HAVING SUM(l_quantity) > 2100
    )
    ORDER BY s_name
    """,
)
def q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — IN-subquery over a grouped HAVING, decorrelated to
    agg → filter → left-semi join. The aggregate shrinks lineitem to one row
    per supplier before any join."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select("p_partkey")
    supp = load(spark, sf_dir, "supplier")
    bulk = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 2100)
    )
    return (
        supp.join(bulk, supp.s_suppkey == bulk.l_suppkey, "left_semi")
        .select("s_name", F.round("s_acctbal", 4).alias("acctbal"))
        .orderBy("s_name")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             MAX(l_shipdate) AS max_ship
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem
    JOIN per_order ON lineitem.l_orderkey = per_order.l_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE n_supp >= 2 AND l_shipdate = max_ship
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the 'supplier who kept the order waiting' pattern:
    per-order distinct-supplier count + max ship date (one agg), re-joined
    to lineitem to find the laggard rows. The exists/not-exists pair of the
    original decorrelates into these window-style aggregates."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_order = li.groupBy(F.col("l_orderkey").alias("po_key")).agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.max("l_shipdate").alias("max_ship"),
    )
    return (
        li.join(per_order, li.l_orderkey == per_order.po_key)
        .filter((F.col("n_supp") >= 2) & (F.col("l_shipdate") == F.col("max_ship")))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "q11_important_stock",
    oracle="""
    WITH value_per_part AS (
      SELECT l_partkey AS partkey,
             SUM(l_extendedprice * (1 - l_discount)) AS part_value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_1'
      GROUP BY l_partkey
    )
    SELECT partkey, ROUND(part_value, 4) AS part_value
    FROM value_per_part
    WHERE part_value > (SELECT SUM(part_value) * 0.001 FROM value_per_part)
    ORDER BY part_value DESC, partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — per-part value for one nation's suppliers, kept only
    when above a fraction of the GLOBAL total (scalar-subquery HAVING).

    The fixture has no partsupp, so value = lineitem revenue restricted to
    NATION_1 suppliers. The global total is a 1-row aggregate of the already
    small per-part frame, broadcast back via cross join — never an
    unpartitioned window over the big side, which would serialize at scale.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1").select(
        "n_nationkey"
    )
    value_per_part = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("part_value"))
    )
    total = value_per_part.agg((F.sum("part_value") * 0.001).alias("__thr"))
    return (
        value_per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("__thr"))
        .select("partkey", F.round("part_value", 4).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "partkey")
    )


@register(
    "decimal_surface",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // COUNT(*) AS BIGINT)
             AS avg_cents,
           CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def decimal_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal aggregation surface — money math without float drift.

    Spark aggregates through exact DECIMAL(18,2) (the surface under test:
    decimal cast, decimal SUM/MAX without double drift), but the EMITTED
    columns are integer cents (BIGINT) with a fixed-point integer-divide
    average. Emitting DECIMAL directly failed the r7 driver value hash
    while passing locally (rows+schema matched, hash did not): DuckDB's
    AVG(DECIMAL) is double-backed and its double->DECIMAL cast rounds the
    binary double where Spark HALF_UP-rounds the exact decimal quotient —
    they disagree at x.xx5 quotients — and decimal *rendering* ("10.00" vs
    "10") varies by normalizer version. Integer cents with DIV (Spark) //
    (DuckDB) are bit-identical on any engine (registry header bug class;
    same fix as continuous_aggregate_rollup).
    """
    orders = load(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    g = orders.groupBy("o_orderstatus").agg(
        F.sum(dec).alias("_total_dec"),
        F.max(dec).alias("_max_dec"),
        F.count(F.lit(1)).alias("_n"),
    )
    return g.select(
        "o_orderstatus",
        (F.col("_total_dec") * 100).cast("bigint").alias("total_cents"),
        F.expr("CAST(_total_dec * 100 AS BIGINT) DIV _n").alias("avg_cents"),
        (F.col("_max_dec") * 100).cast("bigint").alias("max_cents"),
    )


@register(
    "try_function_surface",
    oracle="""
    SELECT event_id,
           TRY_CAST(event_type AS INT) AS type_as_int,
           ROUND(value / NULLIF(user_id % 3, 0), 4) AS safe_div,
           TRY_CAST(SUBSTR(event_type, 1, 1) AS INT) AS first_char_int
    FROM events ORDER BY event_id LIMIT 1000
    """,
)
def try_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_* error-tolerant expression family (the J3 'coerce, never throw'
    discipline as a surface): try_cast on unparseable strings, try_divide by
    zero — NULL out, no exception, ANSI-mode-proof."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.col("event_type").try_cast("int").alias("type_as_int"),
            F.round(F.try_divide(F.col("value"), F.col("user_id") % 3), 4).alias("safe_div"),
            F.substring("event_type", 1, 1).try_cast("int").alias("first_char_int"),
        )
        .orderBy("event_id")
        .limit(1000)
    )


@register(
    "surrogate_keys",
    oracle="""
    SELECT c_custkey,
           md5(CONCAT_WS(CHR(31), CAST(c_custkey AS VARCHAR), c_name)) AS sk
    FROM customer ORDER BY c_custkey LIMIT 200
    """,
)
def surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash surrogate keys (functions.exprs.surrogate_key) —
    stable across runs/partitions, unlike monotonically_increasing_id; the
    dimension-key pattern for 100 TB loads where a global row_number would
    serialize."""
    from ..functions.exprs import surrogate_key

    cust = load(spark, sf_dir, "customer")
    return (
        cust.select("c_custkey", surrogate_key("c_custkey", "c_name").alias("sk"))
        .orderBy("c_custkey")
        .limit(200)
    )


@register(
    "scd2_status_history",
    oracle="""
    WITH changes AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
      FROM (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
               LAG(o_orderstatus) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev_status
        FROM orders
      ) WHERE prev_status IS NULL OR o_orderstatus <> prev_status
    )
    SELECT o_custkey AS custkey, o_orderstatus AS status,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS valid_to,
           CAST(LEAD(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL AS BOOLEAN) AS is_current
    FROM changes
    ORDER BY custkey, valid_from
    """,
)
def scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2+ — SCD Type-2 historization from an event log: per customer,
    collapse consecutive identical order statuses, then derive
    [valid_from, valid_to) intervals with is_current on the open row —
    the dimension-history twin of merge_upsert's SCD1 overwrite.

    Both windows share ONE partition spec (custkey, ordered by date) so
    Spark plans a single shuffle + sort and evaluates lag and lead in the
    same window stage. Scale: per-key windows; no global ordering.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = orders.withColumn("prev_status", F.lag("o_orderstatus").over(w)).filter(
        F.col("prev_status").isNull()
        | (F.col("o_orderstatus") != F.col("prev_status"))
    )
    return (
        changes.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w).alias("valid_to"),
            F.lead("o_orderdate").over(w).isNull().alias("is_current"),
        )
        .orderBy("custkey", "valid_from")
    )


@register("approx_percentile_sketch")  # rows-only: sketch internals are engine-specific
def approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style sketch) per order status — the
    constant-memory quantile path for 100 TB; the exact twin is
    oracle-checked in stats_surface."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("approx_percentile(o_totalprice, 0.5, 10000)"), 2).alias("p50_approx"),
        F.round(F.expr("approx_percentile(o_totalprice, 0.99, 10000)"), 2).alias("p99_approx"),
    )


@register(
    "sql_api_surface",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           ROUND(AVG(l_quantity), 4) AS avg_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_api_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's second front door: ANSI SQL over registered temp views
    via spark.sql — same Catalyst plan as the DataFrame API (view + SQL
    text fold into one logical plan; pushdown/pruning/codegen identical),
    proving users can drive every table through plain SQL.
    """
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               ROUND(AVG(l_quantity), 4) AS avg_qty
        FROM lineitem_v
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )


@register(
    "fuzzy_join_part_names",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (SELECT p_name, split_part(p_name, ' ', 1) AS blk FROM names)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 5
    ORDER BY name_a, name_b
    """,
)
def q_fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (approximate-string) join — the messy-ETL dictionary-matching
    operator: DISTINCT the name dictionary first (64 names, not 2000
    rows — dedupe BEFORE the quadratic step), block on the first token so
    candidate pairs stay per-block, then levenshtein ≤ 5 inside the block.

    Plan at 100 TB: the distinct is one hash shuffle that collapses the
    fact table to its dictionary (names are Zipf-repetitive); the block
    equi-join is hash-partitioned with per-block all-pairs only — the
    standard record-linkage blocking strategy. levenshtein is identical
    edit-distance semantics on both engines, so the oracle verifies the
    matcher, not just the plumbing.
    """
    part = load(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    blocked = names.select(
        "p_name", F.split(F.col("p_name"), " ").getItem(0).alias("blk")
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.p_name") < F.col("b.p_name")))
        .filter(lev <= 5)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            lev.cast("int").alias("edit_dist"),
        )
        .orderBy("name_a", "name_b")
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT 'l_discount' AS measure,
           ROUND(SUM(l_discount), 2) AS total
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', ROUND(SUM(l_extendedprice), 2) FROM lineitem
    UNION ALL
    SELECT 'l_quantity', ROUND(SUM(l_quantity), 2) FROM lineitem
    UNION ALL
    SELECT 'l_tax', ROUND(SUM(l_tax), 2) FROM lineitem
    ORDER BY measure
    """,
)
def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the native ``DataFrame.unpivot`` (melt)
    operator — the inverse of ``pivot_status_by_segment``. Unpivot expands
    each row into (measure, value) pairs inside the scan stage (an Expand
    node, no shuffle), then one partial-agg-backed sum per measure.

    The oracle reaches the same totals through four scans + UNION ALL —
    different plan, same numbers — so the check verifies the unpivot
    transform itself rather than mirroring its implementation.
    """
    li = load(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return (
        long.groupBy("measure")
        .agg(F.round(F.sum("value"), 2).alias("total"))
        .orderBy("measure")
    )


# ---------------------------------------------------------------------------
# theta_sketch_user_overlap — KMV sketches with SET INTERSECTION

_KMV_K = 64  # sketch size (k minimum values per event type)
_KMV_M = 1 << 32  # hash space (portable 32-bit md5 prefix)


@register(
    "theta_sketch_user_overlap",
    oracle=f"""
    WITH hu AS (
      SELECT DISTINCT event_type,
             {{MD5_32}} AS h
      FROM events
    ),
    cnt AS (SELECT event_type, COUNT(*) AS n FROM hu GROUP BY 1),
    sk AS MATERIALIZED (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
        FROM hu) WHERE r <= {_KMV_K}
    ),
    tt AS (
      SELECT s.event_type,
             CASE WHEN c.n >= {_KMV_K} THEN MAX(s.h) ELSE {_KMV_M} END AS theta,
             CASE WHEN c.n < {_KMV_K} THEN c.n
                  ELSE ({_KMV_K - 1} * CAST({_KMV_M} AS BIGINT)) // MAX(s.h) END AS est
      FROM sk s JOIN cnt c ON s.event_type = c.event_type
      GROUP BY s.event_type, c.n
    ),
    pr AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.est AS est_a, b.est AS est_b,
             LEAST(a.theta, b.theta) AS th
      FROM tt a JOIN tt b ON a.event_type < b.event_type
    ),
    cm AS (
      SELECT sa.event_type AS type_a, sb.event_type AS type_b, COUNT(*) AS c
      FROM sk sa JOIN sk sb ON sa.h = sb.h AND sa.event_type < sb.event_type
      JOIN pr ON pr.type_a = sa.event_type AND pr.type_b = sb.event_type
      WHERE sa.h <= pr.th
      GROUP BY 1, 2
    )
    SELECT pr.type_a AS type_a, pr.type_b AS type_b,
           CAST(pr.est_a AS BIGINT) AS est_users_a,
           CAST(pr.est_b AS BIGINT) AS est_users_b,
           CAST((COALESCE(cm.c, 0) * CAST({_KMV_M} AS BIGINT)) // pr.th AS BIGINT)
             AS est_common_users
    FROM pr LEFT JOIN cm ON pr.type_a = cm.type_a AND pr.type_b = cm.type_b
    ORDER BY pr.type_a, pr.type_b
    """.replace(
        "{MD5_32}",
        duck_md5_32("'kmv|' || CAST(user_id AS VARCHAR)"),
    ),
)
def q_theta_sketch_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch band (r10) — KMV/theta sketches WITH SET INTERSECTION
    (Bar-Yossef 2002 k-minimum-values; the Apache DataSketches theta
    idiom): per event type, keep the {_KMV_K} smallest portable-md5 user
    hashes; estimate per-type distinct users as (K−1)·M // kth, and for
    every type PAIR estimate the AUDIENCE OVERLAP — common sketch hashes
    under θ = min(θ_a, θ_b), scaled by M/θ. Intersection is exactly the
    operation the engine's HLL surface (`hll_sketch_merge`,
    `approx_distinct_users`) CANNOT express — HLL unions but never
    intersects — and the question ("how many click-users also purchase?")
    every funnel/audience report asks at a scale where exact
    COUNT(DISTINCT) per pair is a corpus-sized shuffle each.

    Unlike the engine-specific HLL bytes (rows-only entries), a KMV built
    on the portable md5 idiom is FULLY oracle-checkable: both engines
    compute the identical sketch CONTENT (the same {_KMV_K} integers),
    so the whole estimator replays in SQL — the first sketch-family entry
    with a value-hash oracle. When a type has < K distinct users its
    sketch is complete, θ = M, and the estimates collapse to EXACT counts
    (the small-set guarantee). Estimation error vs exact distinct/overlap
    counts is pinned at two scales in tests/test_approx_invariants.py.

    Plan at 100 TB: one (type, user) DISTINCT pass; the per-type
    smallest-K cut runs the salted two-phase rank (impact_truncate's
    shape, ascending) so no reducer ever sees a type's full user set;
    everything downstream is |types|·K rows — the sketch property. The
    pair grid is |types|² and the common-hash join runs on K-row sketch
    sides. No collect anywhere.
    """
    ev = load(spark, sf_dir, "events")
    hu = (
        ev.select(
            "event_type",
            spark_md5_32(
                F.concat(F.lit("kmv|"), F.col("user_id").cast("string"))
            ).alias("h"),
        )
        .distinct()
    )
    cnt = hu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    # exact two-phase smallest-K: salted local rank bounds every reducer
    # at K rows per (type, salt) before the per-type rank (impact_truncate
    # precedent, ascending on the integer hash — no rounding to contract)
    wl = Window.partitionBy(
        "event_type", F.pmod(F.xxhash64("h"), F.lit(32))
    ).orderBy("h")
    wt = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hu.withColumn("ln", F.row_number().over(wl))
        .filter(F.col("ln") <= _KMV_K)
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
    )
    from ..caching import tracked_persist

    sk = tracked_persist(sk)
    tt = (
        sk.groupBy("event_type")
        .agg(F.max("h").alias("kh"))
        .join(cnt, "event_type")
        .select(
            "event_type",
            F.when(F.col("n") >= _KMV_K, F.col("kh"))
            .otherwise(F.lit(_KMV_M))
            .cast("long")
            .alias("theta"),
            F.when(F.col("n") < _KMV_K, F.col("n"))
            .otherwise(F.expr(f"({_KMV_K - 1} * CAST({_KMV_M} AS BIGINT)) DIV kh"))
            .cast("long")
            .alias("est"),
        )
    )
    a = tt.select(
        F.col("event_type").alias("type_a"),
        F.col("est").alias("est_a"),
        F.col("theta").alias("th_a"),
    )
    b = tt.select(
        F.col("event_type").alias("type_b"),
        F.col("est").alias("est_b"),
        F.col("theta").alias("th_b"),
    )
    pr = a.join(b, F.col("type_a") < F.col("type_b")).select(
        "type_a", "type_b", "est_a", "est_b",
        F.least("th_a", "th_b").alias("th"),
    )
    sa = sk.select(F.col("event_type").alias("type_a"), "h")
    sb = sk.select(F.col("event_type").alias("type_b"), "h")
    cm = (
        sa.join(sb, ["h"])
        .filter(F.col("type_a") < F.col("type_b"))
        .join(F.broadcast(pr.select("type_a", "type_b", "th")), ["type_a", "type_b"])
        .filter(F.col("h") <= F.col("th"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        pr.join(cm, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.col("est_a").cast("long").alias("est_users_a"),
            F.col("est_b").cast("long").alias("est_users_b"),
            F.expr(
                f"CAST((COALESCE(c, 0) * CAST({_KMV_M} AS BIGINT)) DIV th AS BIGINT)"
            ).alias("est_common_users"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# exact_percentiles_two_phase — exact quantiles WITHOUT a global sort

_EP_PCTS = (50, 95, 99)
_EP_BUCKET = 500  # histogram bucket width in cents (phase-1 compaction)


@register(
    "exact_percentiles_two_phase",
    oracle=f"""
    WITH c AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents
               FROM events WHERE value IS NOT NULL),
    n AS (SELECT COUNT(*) AS n FROM c),
    r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rk FROM c),
    p AS (SELECT UNNEST([{", ".join(map(str, _EP_PCTS))}]) AS pct)
    SELECT CAST(p.pct AS INT) AS pct, CAST(r.cents AS BIGINT) AS value_cents
    FROM p JOIN n ON TRUE
    JOIN r ON r.rk = CAST(CEIL(p.pct * n.n / 100.0) AS BIGINT)
    ORDER BY pct
    """,
)
def q_exact_percentiles_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats band (r10) — EXACT p{_EP_PCTS[0]}/p{_EP_PCTS[1]}/p{_EP_PCTS[2]}
    of the event value WITHOUT a global sort: the classic two-phase exact
    quantile. Phase 1 compacts the corpus into a fixed-width cents
    histogram (ONE hash agg; the PSI integer-cents idiom — ROUND first,
    then cast, so 6.55·100 = 654.99… cannot truncate differently across
    engines) and the driver walks the MODEL-sized cumulative counts to
    locate each percentile's bucket. Phase 2 re-scans ONLY the located
    buckets (≤ {_EP_BUCKET} distinct cents each — bounded by construction,
    not by data) and walks the exact within-bucket counts to the target
    rank. Rank semantics: k = ⌈p·n/100⌉, 1-indexed (the discrete quantile
    every SQL engine's ORDER BY/OFFSET reproduces — the oracle checks it
    literally with a ROW_NUMBER rank join).

    Exactness where `approx_percentile_sketch` (rows-only, engine-specific
    sketch internals) trades error for one pass: this entry pays a SECOND
    bounded pass and gets oracle-checkable exactness — the percentile
    twin of the hll→theta upgrade in the same band.

    Plan at 100 TB: a global sort of the corpus is the naive plan and a
    total-order shuffle; this is two hash aggs (the second over a
    predicate-pruned scan — the bucket filter pushes down to parquet) and
    two model-sized collects (histogram ≤ value-range/{_EP_BUCKET} rows,
    within-bucket ≤ {_EP_BUCKET} rows/percentile — the k-centroids
    precedent). Skewed value distributions make some buckets heavy, but
    bucket COUNTS are unaffected and phase 2 aggregates by distinct cent
    value, so a hot bucket costs one map-side-combined agg, never a hot
    reducer.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    n = ev.count()
    hist = {
        r.b: r.c
        for r in ev.select((cents / _EP_BUCKET).cast("long").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    targets = {p: (p * n + 99) // 100 for p in _EP_PCTS}  # ceil(p*n/100)
    bucket_of, below_of = {}, {}
    for p, k in targets.items():
        cum = 0
        for b in sorted(hist):
            if cum + hist[b] >= k:
                bucket_of[p], below_of[p] = b, cum
                break
            cum += hist[b]
    need = sorted(set(bucket_of.values()))
    within = (
        ev.select(cents.alias("cents"))
        .filter((F.col("cents") / _EP_BUCKET).cast("long").isin(need))
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_bucket: dict[int, list] = {}
    for r in within:
        by_bucket.setdefault(r.cents // _EP_BUCKET, []).append((r.cents, r.c))
    out = []
    for p, k in targets.items():
        cum = below_of[p]
        for v, c in sorted(by_bucket[bucket_of[p]]):
            cum += c
            if cum >= k:
                out.append((p, v))
                break
    return spark.createDataFrame(out, "pct int, value_cents long").orderBy("pct")


# ---------------------------------------------------------------------------
# anomalous_hours_3sigma — exact integer 3-sigma anomaly gate per event type


@register(
    "anomalous_hours_3sigma",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM hourly GROUP BY 1
    )
    SELECT hy.event_type, hy.bucket, hy.x AS value_cents,
           (CAST(s.n * hy.x - s.sx AS HUGEINT)
              * CAST(s.n * hy.x - s.sx AS HUGEINT)
            > 9 * (CAST(s.n AS HUGEINT) * s.sxx
                   - CAST(s.sx AS HUGEINT) * s.sx)) AS is_anomaly,
           (s.n * hy.x > s.sx) AS is_high
    FROM hourly hy JOIN s USING (event_type)
    ORDER BY event_type, bucket
    """,
)
def q_anomalous_hours_3sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats/DQ band (r10) — per-type hourly anomaly gate with EXACT
    integer arithmetic: flag hours whose value sum deviates from the
    type's mean by more than 3 population standard deviations — the
    standard metric-monitoring alert — WITHOUT computing mean, sigma, or
    any float. Multiply the test through by n²:

        (x − μ)² > 9σ²   ⟺   (n·x − Σx)² > 9·(n·Σx² − (Σx)²)

    so the whole gate is integer comparisons on exact cents (the PSI
    ROUND-before-CAST idiom). Squares run in decimal(38,0) on Spark /
    HUGEINT on DuckDB: at fixture scale the BIGINT bound is ~1.6e19 vs
    the 9.2e18 ceiling — already past it, and at 100 TB far past — so
    the wide type is load-bearing, not defensive (the decimal_surface
    precedent). No sqrt, no float division, nothing to round: the
    engines cannot drift.

    Plan at 100 TB: one (type, hour) hash agg over the corpus (map-side
    combine), one MODEL-sized per-type moment agg (|types| rows,
    broadcast back), one map-only filter expression. All hours emit with
    their verdict (the monitor's scoring table, |types|·|hours| rows —
    grid-sized, not corpus-sized); zero-variance types degenerate to
    rhs = 0 and flag every deviating hour, which is the correct
    Chebyshev edge, not a crash.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.expr("CAST(ROUND(SUM(value) * 100) AS BIGINT)").alias("x"))
    s = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))")).alias(
            "sxx"
        ),
    )
    d = "(CAST(n AS DECIMAL(20,0)) * x - sx)"
    return (
        hourly.join(F.broadcast(s), "event_type")
        .select(
            "event_type",
            "bucket",
            F.col("x").alias("value_cents"),
            F.expr(
                f"{d} * {d} > 9 * (CAST(n AS DECIMAL(20,0)) * sxx"
                " - CAST(sx AS DECIMAL(20,0)) * sx)"
            ).alias("is_anomaly"),
            F.expr("n * x > sx").alias("is_high"),
        )
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# countmin_frequency_estimates — Count-Min sketch point queries

_CM_D = 4  # sketch depth (independent hash rows)
_CM_W = 512  # sketch width (buckets per row)
_CM_TOP = 30  # probe set: the exact top-N tokens


def _cm_bucket(i: int) -> F.Column:
    """Sketch row ``i``'s bucket of the ``token`` column: each row hashes
    with its own ``cm{i}|`` salt. DuckDB twin: :func:`_cm_bucket_sql`."""
    return (spark_md5_32(F.concat(F.lit(f"cm{i}|"), F.col("token"))) % _CM_W).cast("long")


def _cm_bucket_sql(token_expr: str) -> str:
    """DuckDB twin of :func:`_cm_bucket` for the row held in column ``i``."""
    return (
        duck_md5_32(f"'cm' || CAST(i AS VARCHAR) || '|' || {token_expr}")
        + f" % {_CM_W}"
    )


@register(
    "countmin_frequency_estimates",
    oracle=f"""
    WITH toks AS (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
    tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
    rws AS (SELECT UNNEST(range({_CM_D})) AS i),
    cm AS MATERIALIZED (
      SELECT i, {_cm_bucket_sql('token')} AS b, SUM(c) AS s
      FROM tf CROSS JOIN rws GROUP BY 1, 2
    ),
    top AS (SELECT token, c FROM tf ORDER BY c DESC, token LIMIT {_CM_TOP}),
    probe AS (
      SELECT token, c, i, {_cm_bucket_sql('token')} AS b
      FROM top CROSS JOIN rws
    )
    SELECT p.token, CAST(p.c AS BIGINT) AS exact_cnt,
           CAST(MIN(cm.s) AS BIGINT) AS cm_est
    FROM probe p JOIN cm ON cm.i = p.i AND cm.b = p.b
    GROUP BY p.token, p.c
    ORDER BY exact_cnt DESC, token
    """,
)
def q_countmin_frequency_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch band (r10) — Count-Min sketch (Cormode & Muthukrishnan
    2005) point-frequency estimates: a {_CM_D}×{_CM_W} counter table
    built from portable md5 row-hashes, probed for the exact top-{_CM_TOP}
    tokens and read out as min-over-rows — the mergeable frequency
    summary streaming systems keep where the full term dictionary won't
    fit. The CM guarantee (estimate ≥ truth always; ≤ truth + εN with
    probability 1−δ) is pinned against the exact counts in
    tests/test_approx_invariants.py, and the report carries BOTH numbers
    so the driver hash checks estimator and truth together.

    Like the KMV entry (and unlike the engine-specific HLL bytes), md5
    row-hashes make both engines compute the IDENTICAL sketch content,
    so the whole structure replays in SQL: the frequency-sketch family's
    value-hash oracle.

    Plan at 100 TB: ONE corpus token pass (the tf hash agg, map-side
    combined — shared shape with term_frequencies_top50); the sketch
    build explodes the VOCAB-sized tf table ×{_CM_D} and collapses to
    ≤ {_CM_D * _CM_W} rows (model-sized — this is the point of CM: the
    counter table is O(d·w) regardless of vocabulary); the probe is
    {_CM_TOP}×{_CM_D} lookups against the broadcast counter table. In a
    production stream the cm table is the running state and this query
    is its readout; the tf side here exists to verify the estimates.
    """
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    rows_arr = F.array(
        *[
            F.struct(F.lit(i).cast("long").alias("i"), _cm_bucket(i).alias("b"))
            for i in range(_CM_D)
        ]
    )
    cm = (
        tf.select(F.explode(rows_arr).alias("r"), "c")
        .groupBy(F.col("r.i").alias("i"), F.col("r.b").alias("b"))
        .agg(F.sum("c").alias("s"))
    )
    top = tf.orderBy(F.col("c").desc(), "token").limit(_CM_TOP)
    probe = top.select("token", "c", F.explode(rows_arr).alias("r")).select(
        "token", "c", F.col("r.i").alias("i"), F.col("r.b").alias("b")
    )
    return (
        probe.join(F.broadcast(cm), ["i", "b"])
        .groupBy("token", "c")
        .agg(F.min("s").alias("cm_est"))
        .select(
            "token",
            F.col("c").cast("long").alias("exact_cnt"),
            F.col("cm_est").cast("long").alias("cm_est"),
        )
        .orderBy(F.col("exact_cnt").desc(), "token")
    )


# ---------------------------------------------------------------------------
# event_type_correlation_matrix — Pearson correlation over hourly series


@register(
    "event_type_correlation_matrix",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    grid AS (SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b),
    ty AS (SELECT DISTINCT event_type FROM hourly),
    dense AS (
      SELECT ty.event_type, g.h, COALESCE(hy.x, 0) AS x
      FROM ty CROSS JOIN grid g
      LEFT JOIN hourly hy ON hy.event_type = ty.event_type AND hy.h = g.h
    ), p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             SUM(a.x) AS sa, SUM(b.x) AS sb,
             SUM(CAST(a.x AS HUGEINT) * b.x) AS sab,
             SUM(CAST(a.x AS HUGEINT) * a.x) AS saa,
             SUM(CAST(b.x AS HUGEINT) * b.x) AS sbb
      FROM dense a JOIN dense b
        ON a.h = b.h AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_hours,
           CASE WHEN n_hours * saa - CAST(sa AS HUGEINT) * sa = 0
                  OR n_hours * sbb - CAST(sb AS HUGEINT) * sb = 0 THEN NULL
                ELSE ROUND(
                  CAST(n_hours * sab - CAST(sa AS HUGEINT) * sb AS DOUBLE)
                  / SQRT(CAST(n_hours * saa - CAST(sa AS HUGEINT) * sa AS DOUBLE)
                         * CAST(n_hours * sbb - CAST(sb AS HUGEINT) * sb AS DOUBLE)),
                  4)
           END AS corr
    FROM p ORDER BY type_a, type_b
    """,
)
def q_event_type_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats band (r10) — the feature-correlation audit: pairwise Pearson
    correlation between every two event types' hourly value series (the
    grid a data-mixing or anomaly stage reads to learn which signals
    co-move before trusting one as a proxy for another). The series are
    0-filled over the GLOBAL hour grid so every pair is compared over
    the same n hours.

    Determinism by construction: every MOMENT (n, Σa, Σb, Σab, Σa², Σb²)
    is an EXACT integer on exact cents — decimal(38,0) on Spark /
    HUGEINT on DuckDB, because n·Σx² already brushes the BIGINT ceiling
    at fixture scale (the 3σ-gate argument) — and only the final
    model-sized |types|² readout touches floats: one cast, one IEEE-754
    sqrt (correctly-rounded by spec, so bit-identical across engines),
    one division, ROUND 4dp (irrational quotients — the measure-zero
    argument the KN/JS entries use). Zero-variance series yield NULL
    explicitly on both engines, not a divide-by-zero artifact.

    Plan at 100 TB: ONE (type, hour) corpus hash agg; the dense grid is
    |types|×|hours| (grid-sized, built from sequence+explode, never a
    driver loop); the pair join is a self equi-join ON HOUR of that
    grid-sized table (each hour contributes |types|² rows — bounded by
    the type dictionary, not the corpus); the moment agg output is
    |types|² rows. Nothing after the first agg scales with event volume.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.expr("CAST(ROUND(SUM(value) * 100) AS BIGINT)").alias("x"))
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h")
    )
    ty = hourly.select("event_type").distinct()
    dense = (
        F.broadcast(ty)
        .crossJoin(grid)
        .join(hourly, ["event_type", "h"], "left")
        .select("event_type", "h", F.coalesce("x", F.lit(0)).alias("x"))
    )
    a = dense.select(
        F.col("event_type").alias("type_a"), "h", F.col("x").alias("ax")
    )
    b = dense.select(
        F.col("event_type").alias("type_b"), "h", F.col("x").alias("bx")
    )
    p = (
        a.join(b, "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("ax").alias("sa"),
            F.sum("bx").alias("sb"),
            F.sum(F.expr("CAST(ax AS DECIMAL(19,0)) * CAST(bx AS DECIMAL(19,0))")).alias("sab"),
            F.sum(F.expr("CAST(ax AS DECIMAL(19,0)) * CAST(ax AS DECIMAL(19,0))")).alias("saa"),
            F.sum(F.expr("CAST(bx AS DECIMAL(19,0)) * CAST(bx AS DECIMAL(19,0))")).alias("sbb"),
        )
    )
    var_a = "(CAST(n_hours AS DECIMAL(20,0)) * saa - CAST(sa AS DECIMAL(20,0)) * sa)"
    var_b = "(CAST(n_hours AS DECIMAL(20,0)) * sbb - CAST(sb AS DECIMAL(20,0)) * sb)"
    cov = "(CAST(n_hours AS DECIMAL(20,0)) * sab - CAST(sa AS DECIMAL(20,0)) * sb)"
    return p.select(
        "type_a",
        "type_b",
        "n_hours",
        F.expr(
            f"CASE WHEN {var_a} = 0 OR {var_b} = 0 THEN NULL"
            f" ELSE ROUND(CAST({cov} AS DOUBLE)"
            f" / SQRT(CAST({var_a} AS DOUBLE) * CAST({var_b} AS DOUBLE)), 4)"
            " END"
        ).alias("corr"),
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# anomalous_hours_mad — the ROBUST twin of the 3-sigma gate


@register(
    "anomalous_hours_mad",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM hourly GROUP BY 1),
    rk1 AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS r
      FROM hourly
    ),
    med AS (
      SELECT rk1.event_type, rk1.x AS med
      FROM rk1 JOIN nn USING (event_type)
      WHERE rk1.r = (nn.n + 1) // 2
    ),
    dev AS (
      SELECT h.event_type, ABS(h.x - m.med) AS d
      FROM hourly h JOIN med m USING (event_type)
    ),
    rk2 AS (
      SELECT event_type, d,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS r
      FROM dev
    ),
    mad AS (
      SELECT rk2.event_type, rk2.d AS mad
      FROM rk2 JOIN nn USING (event_type)
      WHERE rk2.r = (nn.n + 1) // 2
    )
    SELECT h.event_type, h.bucket, h.x AS value_cents,
           m.med AS med_cents, a.mad AS mad_cents,
           (ABS(h.x - m.med) > 3 * a.mad) AS is_anomaly,
           (h.x > m.med) AS is_high
    FROM hourly h
    JOIN med m USING (event_type)
    JOIN mad a USING (event_type)
    ORDER BY event_type, bucket
    """,
)
def q_anomalous_hours_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats/DQ band (late r14) — the ROBUST twin of
    ``anomalous_hours_3sigma``: flag hours whose cents total deviates
    from the type's MEDIAN by more than 3 MADs (median absolute
    deviation) — the Hampel-filter gate production monitors prefer when
    the series itself contains the outliers being hunted (a single
    extreme hour inflates σ and MASKS itself under the 3σ rule; the
    median/MAD pair has a 50% breakdown point, Hampel 1974).

    Exact arithmetic contract: both medians are the LOWER median — the
    ((n+1) DIV 2)-th order statistic by ROW_NUMBER over exact integer
    cents — so no averaging, no float, nothing to round; the engines
    cannot drift (selection by rank over a totally-ordered integer
    column is tie-safe: equal values make the selected VALUE identical
    under any tie order). MAD = 0 (more than half the hours at the
    median) flags every off-median hour — the degenerate-but-correct
    edge, documented like the 3σ entry's zero-variance case.

    Plan at 100 TB: the corpus pass is the SAME one (type, hour) hash
    agg as the 3σ twin; both median selections run on the aggregated
    hourly grid (|types|·|hours| rows — grid-sized, time-bounded, not
    corpus-sized) as per-type ROW_NUMBER windows; the two model-sized
    (|types|-row) median tables broadcast back onto the grid for the
    verdict expression.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.expr("CAST(ROUND(SUM(value) * 100) AS BIGINT)").alias("x"))
    nn = hourly.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col)
        return (
            df.withColumn("__r", F.row_number().over(w))
            .join(F.broadcast(nn), "event_type")
            .filter(F.expr("__r = (n + 1) DIV 2"))
            .select("event_type", F.col(col).alias(out))
        )

    med = lower_median(hourly, "x", "med_cents")
    dev = hourly.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("x") - F.col("med_cents")).alias("d")
    )
    mad = lower_median(dev, "d", "mad_cents")
    return (
        hourly.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "bucket",
            F.col("x").alias("value_cents"),
            "med_cents",
            "mad_cents",
            (F.abs(F.col("x") - F.col("med_cents")) > 3 * F.col("mad_cents")).alias(
                "is_anomaly"
            ),
            (F.col("x") > F.col("med_cents")).alias("is_high"),
        )
        .orderBy("event_type", "bucket")
    )
