"""Standard relational surface (SURVEY.md §2.7) — joins, aggregations,
windows, set ops, scalar functions — exercised TPC-H-style over the
driver's star schema. Each is pure DataFrame API (Catalyst plans them);
the oracle states the identical ANSI SQL for DuckDB.

Scale notes per query are in the docstrings: broadcast vs shuffle sides,
partial aggregation, AQE reliance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rust_cdc_spark.operators.ranks import exact_global_ntile, pin
from rust_cdc_spark.queries import register, utc
from rust_cdc_spark.sources.tables import load_table


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(l_quantity) AS DOUBLE), 2)      AS sum_qty,
           round(sum(l_extendedprice), 2)                 AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2)                      AS avg_qty,
           round(avg(l_extendedprice), 2)                 AS avg_price,
           round(avg(l_discount), 4)                      AS avg_disc,
           count(*)                                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation. Partial (map-side)
    aggregation collapses 6 groups before the shuffle — at 100 TB the
    exchange moves ~6 rows per task regardless of input size."""
    utc(spark)
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity").cast("double"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# Discounted revenue, exact in decimal in both engines: prices and
# discounts are whole cents, and a double sum rounded to cents splits
# between Spark and DuckDB on a half-cent tie (the engines sum in
# different orders and round a double differently).
_REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12, 2))"
    " * (1 - CAST(l_discount AS DECIMAL(4, 2)))"
)


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(round(sum({_REVENUE_SQL}), 2) AS DOUBLE) AS revenue,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join → top-k. customer
    (filtered) is small → broadcast to both fact joins; lineitem never
    shuffles. Top-k via sort+limit (Spark's TakeOrderedAndProject)."""
    utc(spark)
    cust = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.round(F.sum(F.expr(_REVENUE_SQL)), 2)
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           CAST(round(sum({_REVENUE_SQL}), 2) AS DOUBLE) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join, all dims broadcast — lineitem (the
    100 TB side) is touched by exactly one scan and one shuffle (the final
    25-group agg, which partial-aggregates map-side)."""
    utc(spark)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, "nation", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    sup = load_table(spark, "supplier", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    dims = (
        cust.join(F.broadcast(nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))),
                  F.col("c_nationkey") == F.col("n_nationkey"))
    )
    # Only the genuinely-constant-size dims (region, nation) are forced
    # broadcast; customer/orders/supplier grow with SF, so their join
    # strategy is left to Catalyst + AQE (auto-broadcast when small,
    # shuffle join at 100 TB).
    return (
        li.join(orders.join(dims, F.col("o_custkey") == F.col("c_custkey")),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(sup,
              (F.col("s_suppkey") == F.col("l_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.expr(_REVENUE_SQL)), 2)
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "window_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window — the same primitive the CDC
    collapse uses. One shuffle on the partition key; deterministic
    tie-break on the unique orderkey."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            "rn",
        )
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders since
    2000-01-01 (every customer has *some* order in this data, so the
    unfiltered variant proves nothing). The orders side is filtered and
    reduces to its join key — Catalyst prunes to one column before the
    exchange."""
    utc(spark)
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_semi_parts_ordered",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_parts_ordered
    FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
    """,
)
def join_semi_parts_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) + global count."""
    part = load_table(spark, "part", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .agg(F.count("*").alias("n_parts_ordered"))
    )


@register(
    "agg_rollup_returns",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregates via ROLLUP (grand total + per-flag +
    per-flag/status). Spark expands grouping sets map-side; still one
    shuffle."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity").cast("double"), 2).alias("sum_qty"),
    )


@register(
    "agg_cube_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def agg_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "orders", sf_dir)
    return li.cube("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    )


@register(
    "set_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_nationkey").alias("nationkey")
    )
    sup = load_table(spark, "supplier", sf_dir).select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(sup)


@register(
    "set_except_nations",
    oracle="""
    SELECT DISTINCT o_custkey AS custkey FROM orders
    WHERE o_orderdate < TIMESTAMP '1996-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    """,
)
def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference) as a churn query: customers who ordered
    before 1996 but not since 2000. (The original nations variant was
    always empty — every nation has both customers and suppliers.)
    Spark plans EXCEPT as a left-anti join after per-side distinct."""
    utc(spark)
    orders = load_table(spark, "orders", sf_dir)
    early = orders.filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    return early.subtract(recent)  # EXCEPT (set semantics)


@register(
    "scalar_functions_orders",
    oracle="""
    SELECT o_orderkey,
           upper(substr(o_orderpriority, 3)) AS priority_name,
           CAST(year(o_orderdate) AS INT)  AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           round(o_totalprice * 2, 2)      AS total_doubled,
           length(o_orderstatus) + abs(-1) AS status_len_plus,
           concat(CAST(o_orderkey AS VARCHAR), ':', o_orderstatus) AS tagged
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
)
def scalar_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function coverage: string (upper/substr/concat/length),
    temporal (year/month), math (round/abs) — all codegen'd built-ins."""
    utc(spark)
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") % 10 == 0)
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 3, 2147483647)).alias("priority_name"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        # *2 not *1.1: doubling is exact in binary FP, so Spark and the
        # oracle round identical doubles (no half-point divergence).
        F.round(F.col("o_totalprice") * 2, 2).alias("total_doubled"),
        (F.length("o_orderstatus") + F.abs(F.lit(-1))).cast("long").alias("status_len_plus"),
        F.concat(
            F.col("o_orderkey").cast("string"), F.lit(":"), F.col("o_orderstatus")
        ).alias("tagged"),
    )


@register(
    "agg_distinct_lineitem",
    oracle="""
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    """,
)
def agg_distinct_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase). The approximate
    variant (approx_count_distinct / HLL) is exposed separately without an
    oracle since DuckDB's sketch differs."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "agg_approx_distinct_lineitem",
    # DuckDB's HLL sketch differs from Spark's HLL++, so the estimates
    # themselves can't be compared — the *accuracy contract* can: the
    # query emits exact counts plus booleans asserting the Spark estimate
    # lands within 5× the configured 1% relative error, and the oracle
    # states those booleans must be true. A broken sketch fails the hash.
    oracle="""
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders_exact,
           true AS parts_within_5pct,
           true AS orders_within_5pct
    FROM lineitem
    """,
)
def agg_approx_distinct_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct — the scale path (no expand, one pass).
    approx_count_distinct(rsd=0.01) is the production operator; the exact
    counts here exist to make the estimate's error bound an
    oracle-checkable value rather than a rows-only row count."""
    li = load_table(spark, "lineitem", sf_dir)
    # Deliberately SPLIT passes: mixing countDistinct with
    # approx_count_distinct in one agg makes Catalyst rewrite through
    # Expand(×3) and key the partial HLL sketches by the distinct
    # values themselves — one rsd=0.01 sketch PER GROUP (measured 11.8 s
    # at sf0.1 vs 1.6 s for this shape). Separate one-row aggs keep the
    # HLL partials per-partition and the exact counts on the standard
    # two-phase distinct; the broadcast crossJoins are 1-row frames.
    approx = li.agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("n_parts_approx"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("n_orders_approx"),
    )
    parts = li.select("l_partkey").distinct().agg(
        F.count("*").alias("n_parts_exact")
    )
    orders = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders_exact")
    )
    agg = approx.crossJoin(F.broadcast(parts)).crossJoin(F.broadcast(orders))
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) <= F.col(e) * F.lit(0.05)
    )
    return agg.select(
        "n_parts_exact",
        "n_orders_exact",
        within("n_parts_approx", "n_parts_exact").alias("parts_within_5pct"),
        within("n_orders_approx", "n_orders_exact").alias("orders_within_5pct"),
    )


@register(
    "order_by_limit_top_orders",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def order_by_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heap + driver merge of k rows, never a full sort at scale."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation). Explicit value list → Catalyst plans a
    single-pass pivot agg, no second job to discover values (the
    discovery scan would be the 100 TB anti-pattern)."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


@register(
    "asof_join_purchase_last_click",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, value,
               (event_type = 'click') AS is_click,
               (event_type = 'purchase') AS is_purchase
        FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    enriched AS (
        SELECT user_id, ts, event_id, value, is_purchase,
               last_value(CASE WHEN is_click THEN event_id END IGNORE NULLS)
                   OVER w AS click_event_id,
               last_value(CASE WHEN is_click THEN value END IGNORE NULLS)
                   OVER w AS click_value
        FROM tagged
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id AS purchase_event_id, user_id,
           click_event_id, click_value
    FROM enriched WHERE is_purchase
    """,
)
def asof_join_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY.md §2.7): for each
    purchase, the most recent prior click of the same user.

    Implemented as the scalable merge-asof: union both sides, ONE
    shuffle on user_id, last(ignorenulls) running window — never a
    range cross-join. Works identically under Structured Streaming with
    a watermark."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        (F.col("event_type") == "click").alias("is_click"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = tagged.select(
        "user_id",
        "event_id",
        "is_purchase",
        F.last(F.when(F.col("is_click"), F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_event_id"),
        F.last(F.when(F.col("is_click"), F.col("value")), ignorenulls=True)
        .over(w)
        .alias("click_value"),
    )
    return enriched.filter(F.col("is_purchase")).select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        "click_event_id",
        "click_value",
    )


@register(
    "agg_percentiles_by_status",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (interpolated, TPC-H-style sorted-agg shape).
    The approximate path (percentile_approx / t-digest) is the 100 TB
    default; exact is used here because the oracle must match
    bit-for-bit."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "join_left_outer_customer_orders",
    oracle="""
    SELECT c_custkey,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(max(o_totalprice), 0.0), 2) AS max_total
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join + zero-filled aggregate per customer."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.max("o_totalprice"), F.lit(0.0)), 2).alias("max_total"),
        )
    )


@register(
    "set_union_nation_presence",
    oracle="""
    SELECT nationkey, CAST(count(*) AS BIGINT) AS n_sides
    FROM (
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT DISTINCT s_nationkey FROM supplier
    )
    GROUP BY nationkey
    """,
)
def set_union_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of deduplicated sides + count — presence on 1 or 2
    sides per nation."""
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    sup = load_table(spark, "supplier", sf_dir).select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    return cust.unionByName(sup).groupBy("nationkey").agg(
        F.count("*").alias("n_sides")
    )


@register(
    "scalar_string_funcs_part",
    oracle="""
    SELECT p_partkey,
           reverse(p_brand) AS brand_rev,
           lpad(p_brand, 12, '#') AS brand_pad,
           regexp_extract(p_type, '([A-Z]+)$', 1) AS type_last_word,
           replace(p_name, ' ', '_') AS name_snake,
           CAST(length(p_name) - length(replace(p_name, ' ', '')) + 1 AS INT) AS n_words
    FROM part
    WHERE p_partkey % 7 = 0
    """,
)
def scalar_string_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function coverage: reverse/lpad/regexp_extract/replace +
    derived word count — all codegen built-ins."""
    part = load_table(spark, "part", sf_dir).filter(F.col("p_partkey") % 7 == 0)
    return part.select(
        "p_partkey",
        F.reverse("p_brand").alias("brand_rev"),
        F.lpad("p_brand", 12, "#").alias("brand_pad"),
        F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("type_last_word"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        (F.length("p_name") - F.length(F.regexp_replace("p_name", " ", "")) + 1)
        .cast("int")
        .alias("n_words"),
    )


@register(
    "q4_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → left-semi join, then a tiny
    grouped count (5 groups)."""
    utc(spark)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional (CASE) aggregation."""
    utc(spark)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
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
    SELECT round(100.00 * sum(CASE WHEN p_type LIKE 'PROMO%%'
                              THEN l_extendedprice * (1 - l_discount) END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact⋈dim with LIKE-prefix classification.
    part is a dim (grows slowly) — AQE broadcasts at small SF."""
    utc(spark)
    part = load_table(spark, "part", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, o_orderkey, round(sum_qty, 2) AS total_qty
    FROM (
        SELECT o_custkey, l_orderkey AS o_orderkey, sum(l_quantity) AS sum_qty
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_orderkey
        HAVING sum(l_quantity) > 100
    ) big
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: grouped HAVING filter feeding a join — the
    aggregate shrinks the fact side before the customer join."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    big = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 100)
    )
    return big.join(cust, big.o_custkey == cust.c_custkey).select(
        "c_custkey",
        F.col("l_orderkey").alias("o_orderkey"),
        F.round("sum_qty", 2).alias("total_qty"),
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — Catalyst
    extracts the common single-side conjuncts for pushdown below the
    join."""
    part = load_table(spark, "part", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    joined = li.join(part, part.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & (F.col("l_quantity") >= 30))
    )
    return joined.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


@register(
    "table_column_stats",
    oracle="""
    SELECT 'c_custkey' AS "column", count(*) AS n_rows,
           count(*) - count(c_custkey) AS n_nulls,
           CAST(min(c_custkey) AS VARCHAR) AS min_str,
           CAST(max(c_custkey) AS VARCHAR) AS max_str
    FROM customer
    UNION ALL
    SELECT 'c_name', count(*), count(*) - count(c_name),
           min(c_name), max(c_name)
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
           min(c_mktsegment), max(c_mktsegment)
    FROM customer
    """,
)
def table_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 analog as a first-class operator: one-pass per-column null
    counts + min/max (data-skipping stats / quality monitoring) — a
    single partial-aggregated exchange however many columns are profiled
    (operators/stats.py)."""
    from rust_cdc_spark.operators.stats import column_stats

    cust = load_table(spark, "customer", sf_dir)
    return column_stats(cust, ["c_custkey", "c_name", "c_mktsegment"])


@register(
    "q7_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two aliases of the same dim (nation) on different
    join paths + disjunctive cross-side predicate + per-year rollup."""
    utc(spark)
    sup = load_table(spark, "supplier", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31 00:00:00")
    )
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    n1 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    utc(spark)
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, "nation", sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    SELECT DISTINCT p_partkey, p_name, s_name, s_acctbal, n_name
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_type = 'SMALL' AND p_size <= 15 AND r_name = 'EUROPE'
      AND l_extendedprice = (
        SELECT min(l2.l_extendedprice)
        FROM lineitem l2
        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, p_partkey, s_name
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp table in this schema — lineitem is the
    part-supplier bridge): for each part in a type/size slice, the
    EUROPE supplier(s) offering the minimum observed price. The
    correlated min subquery becomes a window min over the part key —
    one shuffle on l_partkey serves both the min and the equality
    filter; dims broadcast. Equality compares *stored* doubles (no
    arithmetic), so Spark and the oracle agree bit-for-bit."""
    utc(spark)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    nation = load_table(spark, "nation", sf_dir)
    sup = load_table(spark, "supplier", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(
        (F.col("p_type") == "SMALL") & (F.col("p_size") <= 15)
    )
    eu_sup = sup.join(
        F.broadcast(nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    li = load_table(spark, "lineitem", sf_dir)
    joined = li.join(F.broadcast(eu_sup), li.l_suppkey == F.col("s_suppkey"))
    w = Window.partitionBy("l_partkey")
    return (
        joined.withColumn("min_price", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")
        .distinct()
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_name")
        .limit(100)
    )


@register(
    "q9_product_type_profit",
    oracle="""
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount) AS amount
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for a
    part-name slice (no ps_supplycost here, so amount = discounted
    revenue). The part filter broadcasts and prunes lineitem *before*
    the orders join — the only big-big shuffle is lineitem⋈orders on
    orderkey; nation (25 rows) broadcasts; final agg is 25×years rows."""
    utc(spark)
    part = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("%red%"))
    li = load_table(spark, "lineitem", sf_dir)
    sup = load_table(spark, "supplier", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
    )


@register(
    "q11_important_parts",
    oracle="""
    SELECT l_partkey AS partkey,
           round(sum(l_extendedprice * l_quantity), 2) AS part_value
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
    GROUP BY l_partkey
    HAVING sum(l_extendedprice * l_quantity) > (
        SELECT sum(l_extendedprice * l_quantity) * 0.001
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7')
    ORDER BY part_value DESC, partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value held by one nation's suppliers,
    kept only when above a fraction of the nation's total (scalar
    subquery over the same aggregate). Spark computes the per-part agg
    once and derives the global threshold from it with a second tiny
    agg — the sf-scaled fact is scanned once, not twice like the
    literal SQL; the threshold (1 row) cross-joins back broadcast."""
    utc(spark)
    sup = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir).filter(F.col("n_name") == "NATION_7")
    li = load_table(spark, "lineitem", sf_dir)
    per_part = (
        li.join(
            F.broadcast(
                sup.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
            ),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("raw_value"))
    )
    threshold = per_part.agg((F.sum("raw_value") * F.lit(0.001)).alias("thr"))
    return (
        per_part.join(F.broadcast(threshold))
        .filter(F.col("raw_value") > F.col("thr"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round("raw_value", 2).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "partkey")
    )


@register(
    "q16_part_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 7, 10, 14, 19, 25, 31)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 500.0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    group, excluding a supplier denylist (NOT IN → broadcast left-anti
    join — never a shuffle for the exclusion). countDistinct expands to
    a two-phase partial/final aggregate; the only shuffle is on the
    (brand,type,size) grouping key."""
    utc(spark)
    part = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 25, 31)
    )
    denied = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal") < 500.0
    ).select("s_suppkey")
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.join(F.broadcast(denied), li.l_suppkey == denied.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_excess_suppliers",
    oracle="""
    WITH shipped AS (
        SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%bolt%'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey, l_partkey
    ),
    part_total AS (
        SELECT l_partkey AS tp, sum(qty) AS total_qty
        FROM shipped GROUP BY l_partkey
    )
    SELECT DISTINCT s_suppkey, s_name, s_acctbal
    FROM supplier
    JOIN shipped    ON s_suppkey = l_suppkey
    JOIN part_total ON l_partkey = tp
    WHERE qty > 0.3 * total_qty
    ORDER BY s_suppkey
    """,
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than 30% of a
    part's yearly volume for a part-name slice (nested aggregate over
    an aggregate, then a semi-style join back to supplier). Quantities
    are integral doubles, so the sums — and the 0.3× threshold — are
    exact in both engines. The part-total re-agg reuses the shipped
    partitioning (same l_partkey key → AQE coalesces, no extra wide
    shuffle); supplier joins broadcast."""
    utc(spark)
    part = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("%bolt%"))
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    # part totals as a window over the (suppkey,partkey) aggregate — one
    # partkey exchange instead of a second aggregate plus a join back
    sup = load_table(spark, "supplier", sf_dir)
    return (
        shipped.withColumn(
            "total_qty", F.sum("qty").over(Window.partitionBy("l_partkey"))
        )
        .filter(F.col("qty") > 0.3 * F.col("total_qty"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
        .distinct()
        .orderBy("s_suppkey")
    )


@register(
    "asof_join_next_click_1h",
    oracle="""
    WITH tagged AS (
        SELECT user_id, epoch_us(ts) AS t, event_id, value,
               (event_type = 'click') AS is_click,
               (event_type = 'purchase') AS is_purchase
        FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    enr AS (
        SELECT user_id, t, event_id, is_purchase,
               first_value(CASE WHEN is_click THEN t END IGNORE NULLS)
                   OVER w AS click_t,
               first_value(CASE WHEN is_click THEN event_id END IGNORE NULLS)
                   OVER w AS click_eid,
               first_value(CASE WHEN is_click THEN value END IGNORE NULLS)
                   OVER w AS click_val
        FROM tagged
        WINDOW w AS (PARTITION BY user_id ORDER BY t, is_purchase DESC
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id AS purchase_event_id, t AS purchase_t,
           CASE WHEN click_t - t <= 3600000000 THEN click_t END AS click_t,
           CASE WHEN click_t - t <= 3600000000 THEN click_eid END
               AS next_click_event_id,
           CASE WHEN click_t - t <= 3600000000 THEN click_val END
               AS next_click_value
    FROM enr WHERE is_purchase
    """,
)
def asof_join_next_click_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance (operators/asof.py — the
    generalized merge-asof: backward/forward/nearest + tolerance,
    pandas-equivalence-tested): for each purchase, the next click of the
    same user within one hour. Same single key-shuffle shape as the
    backward as-of; the tolerance is a post-carry map filter, never a
    join predicate."""
    from rust_cdc_spark.operators.asof import asof_join

    base = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            F.unix_micros("ts").alias("t"),
            "event_id",
            "value",
            "event_type",
        )
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id", "t", F.col("event_id").alias("purchase_event_id")
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "user_id",
        "t",
        F.col("event_id").alias("next_click_event_id"),
        F.col("value").alias("next_click_value"),
    )
    out = asof_join(
        purchases,
        clicks,
        on="t",
        by=["user_id"],
        direction="forward",
        tolerance=3_600_000_000,
    )
    return out.select(
        "user_id",
        "purchase_event_id",
        F.col("t").alias("purchase_t"),
        F.col("t_right").alias("click_t"),
        F.col("next_click_event_id_right").alias("next_click_event_id"),
        F.col("next_click_value_right").alias("next_click_value"),
    )


@register(
    "window_frame_functions",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ntile(4) OVER w AS INT) AS spend_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           round(first_value(o_totalprice) OVER w, 2) AS smallest,
           round(nth_value(o_totalprice, 2) OVER w2, 2) AS second_smallest,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS ma3_cents_sum
    FROM orders
    WHERE o_custkey % 100 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
           w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def window_frame_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic-window family in one query: ntile
    quartiles, percent_rank/cume_dist distribution positions,
    first/nth_value frames, and a 3-row moving window total (integer cents) — all on ONE
    customer-keyed window partitioning (a single exchange; every
    function reuses it)."""
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_custkey") % 100 == 0
    )
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_ma = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("spend_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.first("o_totalprice").over(w), 2).alias("smallest"),
        F.round(F.nth_value("o_totalprice", 2).over(w_run), 2).alias(
            "second_smallest"
        ),
        # 3-row moving total in integer cents (exact cross-engine; a
        # round(avg(...), 2) here split on a half-point at sf0.1)
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .over(w_ma)
        .cast("bigint")
        .alias("ma3_cents_sum"),
    )


@register(
    "agg_filter_clauses",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS n_finished,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
               AS open_cents,
           CAST(count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000)
                AS BIGINT) AS big_spenders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_filter_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (the SQL FILTER clause family): several
    differently-predicated aggregates in ONE grouped pass — the pivot-
    free way to compute per-segment metrics without N self-joins or N
    scans. One hash aggregate with map-side partials; monetary sum in
    integer cents per the cross-engine rounding rule."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.sum(
            F.when(
                F.col("o_orderstatus") == "O",
                F.round(F.col("o_totalprice") * 100).cast("bigint"),
            )
        ).cast("bigint").alias("open_cents"),
        F.countDistinct(
            F.when(F.col("o_totalprice") > 200000, F.col("o_custkey"))
        ).cast("bigint").alias("big_spenders"),
    )


@register(
    "join_salted_orders_lineitem",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_salted_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join, value-checked against the plain
    join: the big side (lineitem) is salted into 8 sub-keys and the
    orders side replicated across them, so one hot orderkey fans out
    over 8 reducers instead of pinning one straggler task — the manual
    remedy when AQE's skew-join threshold isn't reached or the skew is
    in an aggregation upstream of it. The salt is md5-deterministic,
    and the oracle is the UNSALTED join — agreement proves salting is
    semantics-free. (Synthetic TPC-H keys aren't skewed; the operator's
    outer-mode replication hazards are pinned separately in
    test_scale_operators.)

    Scale shape: same single shuffle as the plain join, keys widened
    by the salt; the replicated small side costs n_salts× its (already
    small) size. Result rolled up per priority to keep the checked
    output compact."""
    from rust_cdc_spark.operators.skew import salted_join

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice"
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    j = salted_join(
        li, orders, on=["o_orderkey"], n_salts=8,
        big_unique_col="l_extendedprice",
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("revenue_cents"),
    )


@register(
    "agg_salted_event_totals",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events GROUP BY event_type
    """,
)
def agg_salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on a pathologically low-cardinality
    key (|event_type| = 5): phase 1 aggregates per (key, salt) — 8×
    the reducers — phase 2 combines the 8 partials per key. This is
    the explicit remedy when a hash aggregate's key space is so small
    that map-side partials still funnel into a handful of reducers;
    value-checked against the plain GROUP BY (cents are exact BIGINTs,
    so the two-phase sum is bit-equal).

    Scale shape: two exchanges of at most |keys|·n_salts rows — the
    corpus is only scanned once, map-side partials still apply within
    each salt."""
    from rust_cdc_spark.operators.skew import salted_agg

    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
    )
    return salted_agg(
        ev,
        key_cols=["event_type"],
        partial_aggs=[
            F.count("*").alias("c"),
            F.sum("cents").alias("s"),
        ],
        final_aggs=[
            F.sum("c").alias("n"),
            F.sum("s").alias("total_cents"),
        ],
        n_salts=8,
        unique_col="event_id",
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey AS custkey,
               max(o_orderdate) AS last_order,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    q AS (
        SELECT custkey,
               ntile(4) OVER (ORDER BY last_order DESC, custkey) AS r_q,
               ntile(4) OVER (ORDER BY n_orders DESC, custkey) AS f_q,
               ntile(4) OVER (ORDER BY cents DESC, custkey) AS m_q,
               n_orders, cents
        FROM rfm
    )
    SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
           CAST(m_q AS INT) AS m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS orders,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM q GROUP BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile-bucket every customer on Recency
    (last order date), Frequency (order count), and Monetary (lifetime
    cents), then profile the ≤64 segments — the classic lifecycle
    segmentation (1,1,1 = champions; 4,1,1 = at-risk big spenders).
    ntile with a custkey tie-break is deterministic and has identical
    bucket-size semantics in both engines; money is exact cents.

    Scale shape: ONE custkey-keyed aggregate over orders; each
    quartile comes from `exact_global_ntile` (operators/ranks.py:
    range-repartition + per-partition row_number + partition offsets),
    so no single-partition window exists at ANY customer count — three
    range exchanges of the slim customer-level frame, each fully
    parallel; the final rollup is a ≤64-key agg."""
    orders = load_table(spark, "orders", sf_dir)
    rfm = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents"),
    )
    q = exact_global_ntile(
        rfm, [F.col("last_order").desc(), F.col("custkey")], 4, "r_q"
    )
    q = exact_global_ntile(
        q, [F.col("n_orders").desc(), F.col("custkey")], 4, "f_q"
    )
    q = exact_global_ntile(
        q, [F.col("cents").desc(), F.col("custkey")], 4, "m_q"
    ).select("custkey", "n_orders", "cents", "r_q", "f_q", "m_q")
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").alias("n_customers"),
        F.sum("n_orders").alias("orders"),
        F.sum("cents").alias("cents"),
    )


@register(
    "supplier_return_rate",
    oracle="""
    SELECT l_suppkey AS suppkey,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS return_rate_micro
    FROM lineitem GROUP BY l_suppkey
    """,
)
def supplier_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier quality scorecard: per-supplier return rate
    (returnflag = 'R') beside discounted revenue — the rollup behind
    q10's returned-items blame, pivoted from customers to suppliers
    (who SHIPPED the items that came back). Rates are exact floored
    ppm; money is exact cents (rounded once per line item — the same
    cent discipline every revenue query here uses).

    Scale shape: pure map → ONE suppkey-keyed hash aggregate with
    map-side partials. No joins."""
    li = load_table(spark, "lineitem", sf_dir)
    returned = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    return li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count("*").alias("n_items"),
        F.sum(returned).cast("long").alias("n_returned"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("revenue_cents"),
        F.expr(
            "sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
            " * 1000000 div count(*)"
        ).alias("return_rate_micro"),
    )


@register(
    "revenue_growth_by_region_month",
    oracle="""
    WITH m AS (
        SELECT r.r_name AS region,
               CAST(strftime(o.o_orderdate, '%Y-%m') AS VARCHAR) AS month,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY 1, 2
    )
    SELECT region, month, cents,
           lag(cents) OVER (PARTITION BY region ORDER BY month)
               AS prev_cents,
           CAST(CASE WHEN lag(cents) OVER (PARTITION BY region
                                           ORDER BY month) IS NULL
                THEN NULL
                ELSE (cents - lag(cents) OVER (PARTITION BY region
                                               ORDER BY month)) * 1000000
                     // lag(cents) OVER (PARTITION BY region
                                         ORDER BY month)
           END AS BIGINT) AS growth_micro
    FROM m
    """,
)
def revenue_growth_by_region_month(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Month-over-month revenue growth per region — the BI trendline
    every revenue dashboard leads with, here as a join-pipeline +
    window shape: three dimension hops (customer → nation → region,
    all broadcast), a (region, month)-keyed money rollup in exact
    cents, and a lag window over the ~|regions|·|months| trend table.
    Growth is exact floored ppm of exact cents (floor semantics match
    `div` and `//` on the positive sums).

    Scale shape: dims broadcast (no shuffle for the hops), ONE
    (region, month) hash agg over orders, and the growth window runs
    on the model-scale trend table — never on orders."""
    utc(spark)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    m = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("region").orderBy("month")
    prev = F.lag("cents").over(w)
    # Integer `//` in DuckDB and `div` in Spark BOTH truncate toward
    # zero (−7 // 2 = −3 in DuckDB integer math), so negative growth
    # months agree under plain truncating division. (A double-division
    # + floor() formulation disagreed on every negative month.)
    growth = F.expr("__num div prev_cents")
    return (
        m.select(
            "region",
            "month",
            "cents",
            prev.alias("prev_cents"),
        )
        .withColumn("__num", (F.col("cents") - F.col("prev_cents")) * 1000000)
        .select(
            "region",
            "month",
            "cents",
            "prev_cents",
            F.when(F.col("prev_cents").isNull(), F.lit(None).cast("long"))
            .otherwise(growth)
            .alias("growth_micro"),
        )
    )


@register(
    "agg_approx_quantile_eval",
    # Same accuracy-contract pattern as agg_approx_distinct_lineitem:
    # Spark's percentile_approx (GK sketch) and DuckDB's approx sketch
    # differ, so the ESTIMATES are not compared — the exact quantiles
    # are, plus booleans asserting the Spark estimate lands within
    # rank-error bounds that hold by the sketch's contract.
    oracle="""
    SELECT CAST(round(quantile_cont(o_totalprice, 0.50), 2) AS DOUBLE)
               AS p50_exact,
           CAST(round(quantile_cont(o_totalprice, 0.90), 2) AS DOUBLE)
               AS p90_exact,
           CAST(round(quantile_cont(o_totalprice, 0.99), 2) AS DOUBLE)
               AS p99_exact,
           true AS p50_in_bounds,
           true AS p90_in_bounds,
           true AS p99_in_bounds
    FROM orders
    """,
)
def agg_approx_quantile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-quantile QA: percentile_approx (the one-pass
    mergeable-sketch scale path for 100 TB) graded against the exact
    quantiles it approximates — the same approx-operator-audit family
    as the HLL distinct and LSH recall evals. With accuracy parameter
    A=10000 the sketch guarantees rank error ≤ n/A; the audit allows
    10× that (±0.001 rank) because the sketch returns an actual data
    element while the exact bounds interpolate — the estimate must
    land between the exact (q−0.001) and (q+0.001) quantiles, and the
    oracle states those booleans must be true, making a broken sketch
    fail the value hash.

    Scale shape: the exact pass is the only sort-heavy one and exists
    to GRADE the sketch; production keeps only percentile_approx
    (partial-mergeable, map-side combined, one pass)."""
    orders = load_table(spark, "orders", sf_dir)
    acc = 10000
    approx = orders.agg(
        F.percentile_approx("o_totalprice", [0.50, 0.90, 0.99], acc)
        .alias("qs")
    )
    lo_hi = orders.agg(
        F.expr(
            "percentile(o_totalprice,"
            " array(0.499, 0.501, 0.899, 0.901, 0.989, 0.991))"
        ).alias("bounds"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 2)
        .alias("p50_exact"),
        F.round(F.expr("percentile(o_totalprice, 0.90)"), 2)
        .alias("p90_exact"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 2)
        .alias("p99_exact"),
    )
    j = approx.crossJoin(F.broadcast(lo_hi))
    in_b = lambda i, lo, hi: (  # noqa: E731
        (F.col("qs")[i] >= F.col("bounds")[lo])
        & (F.col("qs")[i] <= F.col("bounds")[hi])
    )
    return j.select(
        "p50_exact", "p90_exact", "p99_exact",
        in_b(0, 0, 1).alias("p50_in_bounds"),
        in_b(1, 2, 3).alias("p90_in_bounds"),
        in_b(2, 4, 5).alias("p99_in_bounds"),
    )


@register(
    "table_skew_metrics",
    oracle="""
    WITH kc AS (
        SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(max(c) AS BIGINT) AS max_rows,
               CAST(sum(c * c) AS BIGINT) AS ss
        FROM kc
    ),
    top10 AS (
        SELECT CAST(sum(c) AS BIGINT) AS t10
        FROM (SELECT c FROM kc ORDER BY c DESC, k LIMIT 10)
    ),
    hist AS (SELECT c AS v, count(*) AS nk FROM kc GROUP BY c),
    med AS (
        SELECT CAST(min(v) AS BIGINT) AS med_c
        FROM (SELECT v, sum(nk) OVER (ORDER BY v) AS cum FROM hist),
             (SELECT count(*) AS nkeys FROM kc)
        WHERE cum * 2 >= nkeys
    )
    SELECT t.n_keys, t.n_rows,
           t.max_rows AS max_key_rows,
           m.med_c AS median_key_rows,
           CAST((1000000 * t.ss) // (t.n_rows * t.n_rows) AS BIGINT)
               AS hhi_micro,
           CAST((1000000 * p.t10) // t.n_rows AS BIGINT)
               AS top10_share_micro
    FROM tot t, top10 p, med m
    """,
)
def table_skew_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics for lineitem's supplier key — the
    pre-flight check that decides between a plain hash join and the
    salted/AQE-skew path: Herfindahl concentration (Σ(c/N)² ≈ 1/k for
    balanced keys, → 1 for one hot key), the top-10-key row share, and
    max/median key sizes. The engine runs this on any (table, key) pair
    before wiring a large join; the same numbers size salting factors.

    Scale shape: one key-keyed count agg (map-side combined), then
    everything downstream is KEY-space sized: a scalar agg, a top-10
    TakeOrdered heap, and a cumulative-sum window over the distinct
    key-SIZE value histogram (bounded by max key multiplicity, not by
    rows — the length_quantile_filter pattern; the median is the
    smallest size v with 2·cum ≥ n_keys, integer-exact). HHI and share
    are floor-divided integer micro-units — no float quotient. Int64
    bound: 1e6·Σc² needs Σc² < 9.2e12, i.e. max key count ~3e6 — shard
    the square sum by key ranges past that."""
    li = load_table(spark, "lineitem", sf_dir)
    kc = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = kc.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_rows"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    top10 = (
        kc.orderBy(F.col("c").desc(), "k")
        .limit(10)
        .agg(F.sum("c").cast("bigint").alias("t10"))
    )
    hist = kc.groupBy(F.col("c").alias("v")).agg(F.count("*").alias("nk"))
    cum = hist.select(
        "v",
        F.sum("nk")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
    )
    med = (
        cum.crossJoin(F.broadcast(tot.select("n_keys")))
        .filter(F.col("cum") * 2 >= F.col("n_keys"))
        .agg(F.min("v").cast("bigint").alias("med_c"))
    )
    return (
        tot.crossJoin(F.broadcast(top10))
        .crossJoin(F.broadcast(med))
        .select(
            "n_keys",
            "n_rows",
            F.col("max_rows").alias("max_key_rows"),
            F.col("med_c").alias("median_key_rows"),
            F.expr("(1000000 * ss) div (n_rows * n_rows)")
            .cast("bigint")
            .alias("hhi_micro"),
            F.expr("(1000000 * t10) div n_rows")
            .cast("bigint")
            .alias("top10_share_micro"),
        )
    )


@register(
    "part_entity_resolution",
    oracle="""
    WITH nc AS (
        SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
        FROM part GROUP BY p_name
    ),
    b AS (SELECT p_name, n_parts,
                 string_split(p_name, ' ')[-1] AS blk
          FROM nc)
    SELECT a.blk AS block,
           a.p_name AS name_a, bb.p_name AS name_b,
           CAST(levenshtein(a.p_name, bb.p_name) AS INT) AS edit_dist,
           a.n_parts AS n_parts_a, bb.n_parts AS n_parts_b
    FROM b a JOIN b bb
      ON a.blk = bb.blk AND a.p_name < bb.p_name
    WHERE levenshtein(a.p_name, bb.p_name) <= 3
    """,
)
def part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution over part names — the classic
    record-linkage shape: roll the row stream up to DISTINCT entities
    first (name + support count), block on a cheap key (last name
    token), and verify only within-block candidate pairs with an edit
    distance — never an all-pairs scan over rows.

    Scale shape: one name-keyed count agg collapses 20k rows/SF to the
    distinct-name table (entity-cardinality, orders of magnitude below
    row count in real catalogs); the self-join is equi-keyed on the
    block and quadratic only within a block (worst block here: one
    noun's adjective set). Levenshtein runs on candidate pairs only —
    the standard blocking/verify split every dedup-by-name pipeline
    (suppliers, merchants, author tables) uses. Both engines implement
    classic Levenshtein (unit costs), so edit_dist is engine-exact."""
    parts = load_table(spark, "part", sf_dir)
    nc = parts.groupBy("p_name").agg(
        F.count("*").cast("bigint").alias("n_parts")
    )
    b = nc.withColumn(
        "blk", F.element_at(F.split("p_name", " "), -1)
    )
    left = b.select(
        F.col("blk").alias("block"),
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
    )
    right = b.select(
        F.col("blk").alias("block"),
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
    )
    return (
        left.join(right, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "edit_dist",
            F.levenshtein("name_a", "name_b").cast("int"),
        )
        .filter(F.col("edit_dist") <= 3)
        .select(
            "block", "name_a", "name_b", "edit_dist",
            "n_parts_a", "n_parts_b",
        )
    )


@register(
    "orders_basket_affinity",
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders
           FROM ob),
    bc AS (SELECT brand, CAST(count(*) AS BIGINT) AS c FROM ob
           GROUP BY brand),
    co AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM ob a JOIN ob b
          ON a.okey = b.okey AND a.brand < b.brand
        GROUP BY a.brand, b.brand
    )
    SELECT c.brand_a, c.brand_b, c.n_both,
           ca.c AS n_a, cb.c AS n_b,
           CAST((1000000 * c.n_both * t.n_orders) // (ca.c * cb.c)
                AS BIGINT) AS lift_micro
    FROM co c
    JOIN bc ca ON ca.brand = c.brand_a
    JOIN bc cb ON cb.brand = c.brand_b
    CROSS JOIN nb t
    WHERE c.n_both >= 5
    """,
)
def orders_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity between part brands: for every brand
    pair co-purchased in ≥5 orders, the lift
    P(a,b)/(P(a)·P(b)) = n_both·n_orders/(n_a·n_b) — the co-occurrence
    signal product-recommendation and assortment pipelines mine from
    order lines. Lift > 1e6 micro means the brands attract each other.

    Scale shape: lineitem ⋈ part is a key-equi join that AQE
    broadcasts (part is the dim side); the (order, brand) rollup is
    one distinct agg; the pair term self-joins ON THE ORDER KEY, so
    fan-out is bounded by (basket brand-width choose 2) per order —
    ~7 lines/order in TPC-H, never |brands|² against the fact table —
    and the co-counts reduce to a |brands|²-bounded frame joined
    against the brand-support table at model scale. Lift is an exact
    integer floor-div micro (n_both·n_orders ≤ orders², safe to ~3e9
    orders in int64)."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"),
                F.col("p_brand").alias("brand"))
        .distinct()
    )
    nb = ob.agg(
        F.countDistinct("okey").cast("bigint").alias("n_orders")
    )
    bc = ob.groupBy("brand").agg(F.count("*").cast("bigint").alias("c"))
    right = ob.select(
        F.col("okey").alias("okey_r"), F.col("brand").alias("brand_b")
    )
    co = (
        ob.join(right, (F.col("okey") == F.col("okey_r"))
                & (F.col("brand") < F.col("brand_b")))
        .groupBy(F.col("brand").alias("brand_a"), "brand_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    return (
        co.join(
            F.broadcast(bc.select(F.col("brand").alias("brand_a"),
                                  F.col("c").alias("n_a"))),
            "brand_a",
        )
        .join(
            F.broadcast(bc.select(F.col("brand").alias("brand_b"),
                                  F.col("c").alias("n_b"))),
            "brand_b",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "brand_a", "brand_b", "n_both", "n_a", "n_b",
            F.expr("(1000000 * n_both * n_orders) div (n_a * n_b)")
            .cast("bigint")
            .alias("lift_micro"),
        )
    )


@register(
    "customer_cohort_ltv",
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    f AS (SELECT o_custkey, min(m) AS cm FROM o GROUP BY o_custkey)
    SELECT printf('%04d-%02d', f.cm // 12, f.cm % 12 + 1)
               AS cohort_month,
           CAST(o.m - f.cm AS INT) AS month_offset,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o.cents) AS BIGINT) AS revenue_cents
    FROM o JOIN f USING (o_custkey)
    GROUP BY f.cm, o.m - f.cm
    """,
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by
    first-purchase month, revenue and activity tracked at each month
    offset — the revenue twin of events_retention_cohorts and the
    table LTV/payback dashboards integrate along offsets. Month keys
    are exact integers (y·12+mo−1), so offsets and cohort labels are
    engine-identical with no date-diff semantics in play; revenue is
    integer cents.

    Scale shape: one customer-keyed first-month agg (dimension-sized
    output) joined back on the same customer partitioning — AQE
    broadcasts it when small; then ONE (cohort, offset)-keyed agg with
    map-side partials. The distinct-customer count rides the same
    shuffle (count-distinct expands once over a bounded group count:
    cohorts × offsets, not orders)."""
    orders = load_table(spark, "orders", sf_dir)
    o = orders.select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    f = o.groupBy("o_custkey").agg(F.min("m").alias("cm"))
    return (
        o.join(f, "o_custkey")
        .groupBy(
            F.format_string(
                "%04d-%02d",
                F.expr("cm div 12").cast("int"),
                (F.col("cm") % 12 + 1).cast("int"),
            ).alias("cohort_month"),
            (F.col("m") - F.col("cm")).cast("int").alias("month_offset"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


@register(
    "integrity_referential_audit",
    oracle="""
    WITH checks AS (
        SELECT 'lineitem_orphan_order' AS chk,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                   AS n_violations,
               (SELECT count(*) FROM lineitem) AS n_rows
        UNION ALL
        SELECT 'order_without_lineitems',
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                  WHERE l.l_orderkey = o.o_orderkey)),
               (SELECT count(*) FROM orders)
        UNION ALL
        SELECT 'order_orphan_customer',
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)),
               (SELECT count(*) FROM orders)
        UNION ALL
        SELECT 'lineitem_orphan_part',
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey)),
               (SELECT count(*) FROM lineitem)
        UNION ALL
        SELECT 'customer_without_orders',
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_custkey = c.c_custkey)),
               (SELECT count(*) FROM customer)
    )
    SELECT chk AS check_name,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST((1000000 * n_violations) // NULLIF(n_rows, 0) AS BIGINT)
               AS viol_micro
    FROM checks
    """,
)
def integrity_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the warehouse's foreign keys
    — the data-quality scorecard a 100 TB lake runs after every load
    (orphaned facts, childless parents, dangling dimension refs), the
    relational sibling of table_column_stats and table_skew_metrics.
    Five checks in one frame; violation rates as exact integer micro.
    (This synthetic warehouse ships one real violation class: orders
    with no lineitems — the audit is not vacuously green.)

    Scale shape: every check is ONE key-equi anti join (Spark plans
    broadcast or shuffled-hash per AQE size estimates; never a
    cross product) followed by a scalar count; the five 1-row results
    union into the report frame. At 100 TB each anti join rides the
    same key partitioning the fact tables' MERGE already uses."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    part = load_table(spark, "part", sf_dir)

    def check(name: str, child: DataFrame, child_key, parent: DataFrame,
              parent_key, denom: DataFrame) -> DataFrame:
        viol = child.join(
            parent.select(F.col(parent_key).alias(child_key)),
            child_key,
            "anti",
        ).agg(F.count("*").cast("bigint").alias("n_violations"))
        total = denom.agg(F.count("*").cast("bigint").alias("n_rows"))
        return (
            viol.crossJoin(F.broadcast(total))
            .select(
                F.lit(name).alias("check_name"),
                "n_violations",
                "n_rows",
                F.expr("(1000000 * n_violations) div nullif(n_rows, 0)")
                .cast("bigint")
                .alias("viol_micro"),
            )
        )

    reports = [
        check("lineitem_orphan_order", li, "l_orderkey",
              orders, "o_orderkey", li),
        check("order_without_lineitems", orders, "o_orderkey",
              li, "l_orderkey", orders),
        check("order_orphan_customer", orders, "o_custkey",
              cust, "c_custkey", orders),
        check("lineitem_orphan_part", li, "l_partkey",
              part, "p_partkey", li),
        check("customer_without_orders", cust, "c_custkey",
              orders, "o_custkey", cust),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


@register(
    "privacy_k_anonymity",
    oracle="""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(count(*) AS BIGINT) AS grp_size,
               CAST(count(DISTINCT CAST(floor(c_acctbal / 1000)
                                        AS BIGINT)) AS BIGINT)
                   AS l_distinct
        FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    tot AS (SELECT CAST(sum(grp_size) AS BIGINT) AS n_rows,
                   CAST(min(grp_size) AS BIGINT) AS k_anonymity,
                   CAST(min(l_distinct) AS BIGINT) AS l_diversity
            FROM g)
    SELECT t.n_rows,
           CAST(count(*) AS BIGINT) AS n_groups,
           t.k_anonymity,
           t.l_diversity,
           CAST(sum(CASE WHEN g.grp_size < 10 THEN g.grp_size
                         ELSE 0 END) AS BIGINT) AS rows_below_k10,
           CAST((1000000 * sum(CASE WHEN g.grp_size < 10 THEN g.grp_size
                                    ELSE 0 END)) // t.n_rows AS BIGINT)
               AS below_k10_micro
    FROM g CROSS JOIN tot t
    GROUP BY t.n_rows, t.k_anonymity, t.l_diversity
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the customer table's
    quasi-identifiers (nation, market segment) with account-balance
    band as the sensitive attribute — the privacy gate a dataset
    passes before release: k-anonymity = the SMALLEST
    quasi-identifier group (any group below k re-identifies its
    members), l-diversity = the least-diverse group's count of
    distinct sensitive values (a group can be large yet leak if every
    member shares one sensitive value). Also reports the row mass in
    groups below the k=10 release threshold, as an exact integer micro
    fraction.

    Scale shape: ONE quasi-identifier hash agg (map-side combined;
    the distinct-count expands per group, bounded by the band
    cardinality), then scalar mins over the |groups|-sized frame —
    the audit costs one shuffle of group keys regardless of table
    size. Balance bands use floor division on an exactly-representable
    quotient (c_acctbal/1000), identical in both engines."""
    cust = load_table(spark, "customer", sf_dir)
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("grp_size"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000).cast("bigint")
        )
        .cast("bigint")
        .alias("l_distinct"),
    )
    tot = g.agg(
        F.sum("grp_size").cast("bigint").alias("n_rows"),
        F.min("grp_size").cast("bigint").alias("k_anonymity"),
        F.min("l_distinct").cast("bigint").alias("l_diversity"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy("n_rows", "k_anonymity", "l_diversity")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum(
                F.when(F.col("grp_size") < 10, F.col("grp_size")).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_below_k10"),
        )
        .select(
            "n_rows",
            "n_groups",
            "k_anonymity",
            "l_diversity",
            "rows_below_k10",
            F.expr("(1000000 * rows_below_k10) div n_rows")
            .cast("bigint")
            .alias("below_k10_micro"),
        )
    )


# ── Round 6: join-size estimation (planner primitive) ──────────────────


@register(
    "join_size_estimate",
    oracle="""
    WITH lo AS (
        SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS co
        FROM orders GROUP BY 1
    ),
    ll AS (
        SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cl
        FROM lineitem GROUP BY 1
    ),
    prod AS (
        SELECT lo.k, lo.co, ll.cl, lo.co * ll.cl AS p
        FROM lo JOIN ll USING (k)
    ),
    skew AS (
        SELECT k AS top_skew_key, p AS top_skew_rows,
               row_number() OVER (ORDER BY p DESC, k) AS rn
        FROM prod
    )
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_left,
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_right,
        (SELECT CAST(count(*) AS BIGINT) FROM prod) AS n_join_keys,
        (SELECT CAST(sum(p) AS BIGINT) FROM prod) AS predicted_join_rows,
        (SELECT CAST(max(co) AS BIGINT) FROM prod) AS max_left_mult,
        (SELECT CAST(max(cl) AS BIGINT) FROM prod) AS max_right_mult,
        (SELECT CAST(top_skew_key AS BIGINT) FROM skew WHERE rn = 1)
            AS top_skew_key,
        (SELECT CAST(top_skew_rows AS BIGINT) FROM skew WHERE rn = 1)
            AS top_skew_rows
    """,
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation without executing the join — the
    query-planner primitive behind broadcast/shuffle/salt decisions:
    |R ⋈ S| on a key equals Σ_k cnt_R(k)·cnt_S(k), computable from two
    per-key count aggregates whose shuffle carries ONE ROW PER KEY
    instead of every payload row. Also surfaces the per-side maximum
    key multiplicity and the single worst skew key — exactly the
    numbers that decide whether the real join needs AQE skew handling
    or salting (join_salted_orders_lineitem is the mitigation this
    query justifies).

    At 100 TB this runs as two map-side-combined count aggs + a
    key-keyed merge join of the (much smaller) count tables — the
    cheap dry-run you do BEFORE committing to a multi-hour join.

    Spark-side scalars assemble via broadcast 1-row crossJoins (no
    collect); the skew argmax is a min(struct) agg, not a global
    window."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    lo = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count("*").cast("bigint").alias("co")
    )
    ll = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count("*").cast("bigint").alias("cl")
    )
    prod = lo.join(ll, "k").select(
        "k", "co", "cl", (F.col("co") * F.col("cl")).alias("p")
    )
    stats = prod.agg(
        F.count("*").cast("bigint").alias("n_join_keys"),
        F.sum("p").cast("bigint").alias("predicted_join_rows"),
        F.max("co").cast("bigint").alias("max_left_mult"),
        F.max("cl").cast("bigint").alias("max_right_mult"),
    )
    # argmax(p) with min-key tie-break as a single min(struct) agg on
    # (-p, k) — avoids a partition-less rank window
    skew = prod.agg(
        F.min(F.struct((-F.col("p")).alias("negp"), F.col("k"))).alias("b")
    ).select(
        F.col("b.k").cast("bigint").alias("top_skew_key"),
        (-F.col("b.negp")).cast("bigint").alias("top_skew_rows"),
    )
    counts = orders.agg(
        F.count("*").cast("bigint").alias("n_left")
    ).crossJoin(li.agg(F.count("*").cast("bigint").alias("n_right")))
    return (
        counts.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(skew))
        .select(
            "n_left", "n_right", "n_join_keys", "predicted_join_rows",
            "max_left_mult", "max_right_mult", "top_skew_key",
            "top_skew_rows",
        )
    )


@register(
    "part_demand_croston",
    # Croston's method for INTERMITTENT demand: separate SES smoothers
    # over (a) non-zero demand sizes and (b) inter-demand intervals,
    # forecast rate = size_level / interval_level. α = 1/4 dyadic, so
    # both recursions are exact BIGINT scalar folds (the SES
    # convention); rate in integer micros with NULL when a part has a
    # single demand day (interval undefined — the NULLIF discipline).
    oracle="""
    WITH daily AS (
        SELECT l_partkey AS part,
               CAST(date_trunc('day', l_shipdate) AS DATE)
                   - DATE '1970-01-01' AS d,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    series AS (
        SELECT part,
               list(q ORDER BY d) AS zs,
               list(d ORDER BY d) AS ds
        FROM daily GROUP BY part
    ),
    gaps AS (
        SELECT part, zs, len(zs) AS n_demand_days,
               CASE WHEN len(ds) >= 2
                    THEN list_transform(range(2, len(ds) + 1),
                                        i -> ds[i] - ds[i-1])
                    ELSE [] END AS ps
        FROM series
    ),
    fit AS (
        SELECT part, n_demand_days,
               list_reduce(zs, (l, x) -> (x + 3 * l) // 4) AS z_level,
               CASE WHEN len(ps) >= 1
                    THEN list_reduce(CAST(ps AS BIGINT[]),
                                     (l, x) -> (x + 3 * l) // 4)
                    ELSE NULL END AS p_level
        FROM gaps
    )
    SELECT part, CAST(n_demand_days AS BIGINT) AS n_demand_days,
           CAST(z_level AS BIGINT) AS size_level_qty,
           CAST(p_level AS BIGINT) AS interval_level_days,
           CAST((1000000 * z_level) // NULLIF(p_level, 0) AS BIGINT)
               AS rate_micro_per_day
    FROM fit
    """,
)
def part_demand_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast per part — the method
    supply chains use when most days have ZERO demand (plain SES
    decays toward zero between orders and over-forecasts right after
    one): smooth the non-zero demand sizes and the gaps between them
    separately, forecast rate = size/interval. Parts with one demand
    day get NULL interval/rate rather than a fabricated number.

    Scale shape: one (part, day) rollup (map-side combined), one
    part-keyed ordered small-K collect (demand days per part are
    calendar-bounded), two scalar BIGINT folds per part. The
    sessionize/SES cost model — linear in lineitem, parallel in
    parts, zero windows."""
    li = load_table(spark, "lineitem", sf_dir)
    daily = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.expr("datediff(to_date(l_shipdate), DATE'1970-01-01')").alias("d"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"))
    series = daily.groupBy("part").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, q))), s -> s.q)"
        ).alias("zs"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, q))),"
            " s -> cast(s.d as bigint))"
        ).alias("ds"),
    )
    gaps = series.select(
        "part", "zs",
        F.size("zs").cast("bigint").alias("n_demand_days"),
        F.expr(
            "CASE WHEN size(ds) >= 2 THEN"
            " transform(sequence(2, size(ds)),"
            "           i -> element_at(ds, i) - element_at(ds, i - 1))"
            " ELSE array() END"
        ).alias("ps"),
    )
    fit = gaps.select(
        "part", "n_demand_days",
        F.expr(
            "aggregate(slice(zs, 2, greatest(size(zs) - 1, 0)), zs[0],"
            " (l, x) -> (x + 3L * l) div 4L)"
        ).cast("bigint").alias("z_level"),
        F.expr(
            "CASE WHEN size(ps) >= 1 THEN"
            " aggregate(slice(ps, 2, greatest(size(ps) - 1, 0)), ps[0],"
            " (l, x) -> (x + 3L * l) div 4L)"
            " ELSE NULL END"
        ).cast("bigint").alias("p_level"),
    )
    return fit.select(
        "part", "n_demand_days",
        F.col("z_level").alias("size_level_qty"),
        F.col("p_level").alias("interval_level_days"),
        F.expr("(1000000 * z_level) div nullif(p_level, 0)")
        .cast("bigint").alias("rate_micro_per_day"),
    )


@register(
    "orders_benford_audit",
    # Benford's-law audit of monetary magnitudes: first significant
    # digit of the exact integer cents (string head of the BIGINT —
    # no float log10 at the boundary), observed share vs the Benford
    # expectation log10(1+1/d). The expectation is one double expr per
    # digit row (deterministic); all shares are floored ppm of exact
    # counts, so both engines hash identically.
    oracle="""
    WITH vals AS (
        SELECT 'orders.o_totalprice' AS col,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice > 0
        UNION ALL
        SELECT 'lineitem.l_extendedprice',
               CAST(round(l_extendedprice * 100) AS BIGINT)
        FROM lineitem WHERE l_extendedprice > 0
    ),
    digits AS (
        SELECT col, CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
                   AS digit
        FROM vals
    ),
    obs AS (
        SELECT col, digit, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(count(*)) OVER (PARTITION BY col) AS BIGINT)
                   AS total
        FROM digits GROUP BY col, digit
    )
    SELECT col, digit, n,
           CAST(n * 1000000 // total AS BIGINT) AS share_micro,
           CAST(round(log10(1.0 + 1.0 / digit) * 1000000) AS BIGINT)
               AS benford_micro,
           CAST(n * 1000000 // total
                - CAST(round(log10(1.0 + 1.0 / digit) * 1000000)
                       AS BIGINT) AS BIGINT) AS excess_micro
    FROM obs
    """,
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance audit over the two monetary columns:
    the observed first-significant-digit distribution vs the Benford
    expectation P(d) = log10(1+1/d) — the classic fraud/synthesis
    tripwire (hand-typed, capped, or naively generated amounts pile up
    on high digits; organic multiplicative amounts follow Benford).
    The digit comes from the decimal head of the exact integer cents
    (no float log at a power-of-ten boundary); shares are floored ppm;
    the expectation is a per-digit constant rounded once.

    Scale shape: map-side digit extraction → ONE hash aggregate into
    ≤ 2·9 keys (partials collapse everything before the shuffle); the
    per-column total is a 9-row window over the aggregate, not the
    data."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    vals = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(
            F.lit("orders.o_totalprice").alias("col"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .unionAll(
            li.filter(F.col("l_extendedprice") > 0).select(
                F.lit("lineitem.l_extendedprice").alias("col"),
                F.round(F.col("l_extendedprice") * 100)
                .cast("long")
                .alias("cents"),
            )
        )
    )
    digits = vals.select(
        "col",
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("int")
        .alias("digit"),
    )
    obs = digits.groupBy("col", "digit").agg(
        F.count("*").cast("long").alias("n")
    ).withColumn(
        "total", F.sum("n").over(Window.partitionBy("col")).cast("long")
    )
    benford = F.round(
        F.log10(1.0 + 1.0 / F.col("digit")) * 1_000_000
    ).cast("long")
    return obs.select(
        "col",
        "digit",
        "n",
        F.expr("n * 1000000 div total").alias("share_micro"),
        benford.alias("benford_micro"),
        (F.expr("n * 1000000 div total") - benford).alias("excess_micro"),
    )


# Candidate functional dependencies to profile: (table, lhs, rhs).
_FD_CANDIDATES = [
    ("orders", "o_orderkey", "o_custkey"),      # key → attr: holds
    ("orders", "o_custkey", "o_orderpriority"),  # does a customer stick to one priority?
    ("lineitem", "l_orderkey", "l_returnflag"),  # order-level flag purity
    ("lineitem", "l_partkey", "l_suppkey"),      # single-sourcing rate
    ("events", "user_id", "event_type"),         # single-action users
    ("documents", "source", "lang"),             # monolingual sources
]


def _fd_sql(table: str, lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{table}.{lhs} -> {rhs}' AS fd,
           CAST(count(*) AS BIGINT) AS n_lhs_values,
           CAST(sum(total) AS BIGINT) AS n_rows,
           CAST(sum(total) - sum(keep) AS BIGINT) AS n_violations,
           CAST((sum(total) - sum(keep)) * 1000000 // sum(total)
                AS BIGINT) AS g3_error_micro,
           CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_lhs
    FROM (
        SELECT {lhs}, count(DISTINCT {rhs}) AS n_rhs,
               CAST(sum(cnt) AS BIGINT) AS total,
               max(cnt) AS keep
        FROM (
            SELECT {lhs}, {rhs}, count(*) AS cnt
            FROM {table} GROUP BY 1, 2
        ) GROUP BY {lhs}
    )
    """


@register(
    "table_fd_discovery",
    # Approximate functional-dependency profiling (Kivinen–Mannila g3:
    # the fraction of rows that must be removed for X → Y to hold =
    # 1 − Σ_x max_y |x,y| / N). Six business-meaningful candidates
    # across four tables; everything is exact counts + floored ppm.
    oracle="\nUNION ALL\n".join(
        _fd_sql(t, lhs, rhs) for t, lhs, rhs in _FD_CANDIDATES
    ),
)
def table_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency discovery over candidate
    column pairs: for each X → Y, the number of X values that map to
    multiple Y values and the g3 error (the minimum fraction of rows
    to delete for the FD to hold exactly — Kivinen–Mannila) — the
    schema-inference / DQ primitive behind "is l_partkey single-
    sourced", "are sources monolingual", and key-candidate detection.
    All exact BIGINT counts; the error is floored ppm.

    Scale shape: per candidate, ONE (X, Y)-keyed aggregate (map-side
    partials) then an X-keyed rollup — the second agg's input is
    already |X×Y| keys, far below data scale; candidates union into a
    6-row result. No windows, no joins."""
    out = None
    for table, lhs, rhs in _FD_CANDIDATES:
        t = load_table(spark, table, sf_dir)
        xy = t.groupBy(lhs, rhs).agg(F.count("*").alias("cnt"))
        x = xy.groupBy(lhs).agg(
            F.countDistinct(rhs).alias("n_rhs"),
            F.sum("cnt").cast("long").alias("total"),
            F.max("cnt").alias("keep"),
        )
        row = x.agg(
            F.lit(f"{table}.{lhs} -> {rhs}").alias("fd"),
            F.count("*").cast("long").alias("n_lhs_values"),
            F.sum("total").cast("long").alias("n_rows"),
            (F.sum("total") - F.sum("keep")).cast("long")
            .alias("n_violations"),
            F.expr(
                "(sum(total) - sum(keep)) * 1000000 div sum(total)"
            ).cast("long").alias("g3_error_micro"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_lhs"),
        )
        out = row if out is None else out.unionAll(row)
    return out


_ELAS_Q = 1000  # milli-quantized lns (the text_zipf_slope discipline)


@register(
    "part_price_elasticity",
    # Log-log demand fit per part brand: OLS slope of ln(quantity) on
    # ln(effective unit price) across that brand's line items — the
    # price-elasticity estimate a pricing/assortment pipeline reads.
    # Both lns are quantized to milli-units ONCE per line item, so all
    # OLS moments are exact BIGINT and the slope is one floored
    # integer division (micro-units); flat-price brands (zero x
    # variance) emit NULL via NULLIF.
    oracle=f"""
    WITH li AS (
        SELECT p.p_brand AS brand,
               CAST(round(ln(l.l_quantity) * {_ELAS_Q}) AS BIGINT) AS y,
               CAST(round(ln(l.l_extendedprice * (1 - l.l_discount)
                             / l.l_quantity) * {_ELAS_Q}) AS BIGINT) AS x
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ),
    mom AS (
        SELECT brand,
               CAST(count(*) AS BIGINT) AS m,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM li GROUP BY brand
    )
    SELECT brand, m AS n_lineitems,
           -- HUGEINT: 10⁶ · (m·Σxy − ΣxΣy) tops 10²⁰ at sf0.1 and
           -- grows with m² — BIGINT moments are safe, the scaled
           -- numerator is not
           CAST((1000000 * (CAST(m AS HUGEINT) * sxy
                            - CAST(sx AS HUGEINT) * sy))
                // nullif(CAST(m AS HUGEINT) * sxx
                          - CAST(sx AS HUGEINT) * sx, 0) AS BIGINT)
               AS elasticity_micro
    FROM mom
    """,
)
def part_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per part brand: the log-log OLS
    slope of ordered quantity on effective unit price (extended price
    net of discount, per unit) — the canonical retail estimate of how
    demand answers price, the pricing-strategy complement to
    orders_basket_affinity's what-sells-together. An elasticity near
    0 is inelastic demand; strongly negative means discounts move
    volume. Same integer-OLS discipline as text_zipf_slope: each ln
    is quantized to milli-units once, every moment is an exact BIGINT
    sum, and the slope is one floored micro division — NULL for
    flat-price brands rather than a divide-by-zero.

    Scale shape: the part join is a broadcast (dimension side);
    moments are ONE brand-keyed aggregate with map-side partials over
    the fact scan. Nothing else shuffles."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    pts = (
        li.filter(
            (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
        )
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              li["l_partkey"] == part["p_partkey"])
        .select(
            F.col("p_brand").alias("brand"),
            F.round(F.log("l_quantity") * _ELAS_Q).cast("long").alias("y"),
            F.round(
                F.log(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    / F.col("l_quantity")
                )
                * _ELAS_Q
            ).cast("long").alias("x"),
        )
    )
    mom = pts.groupBy("brand").agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    # DECIMAL(38): the 10⁶-scaled numerator grows with m² and tops
    # BIGINT at sf0.1 (mirrors the oracle's HUGEINT cast).
    return mom.select(
        "brand",
        F.col("m").alias("n_lineitems"),
        F.expr(
            "(1000000 * (CAST(m AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy))"
            " div nullif(CAST(m AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx, 0)"
        ).cast("long").alias("elasticity_micro"),
    )


_DUPINV_WINDOW_DAYS = 7
# Deterministic duplicate injection: the synthetic totals are continuous
# doubles, so exact-cents collisions never occur organically. Orders
# with o_orderkey % 97 == 0 get a "resubmitted invoice" twin (same
# customer, same total, +2 days, orderkey offset by 10^9) in BOTH
# engines — the detector's plumbing is what's under test.
_DUPINV_MOD = 97
_DUPINV_KEY_OFFSET = 1_000_000_000


@register(
    "orders_duplicate_invoice_detect",
    # Double-billing audit: order pairs from the same customer with
    # the IDENTICAL total, placed within 7 days — the classic
    # accounts-payable duplicate-invoice signature. The join key is
    # (customer, exact cents), so candidates equi-join instead of
    # cross-comparing; the date band is a residual filter.
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders
    ),
    aug AS (
        SELECT * FROM base
        UNION ALL
        SELECT o_orderkey + {_DUPINV_KEY_OFFSET}, o_custkey,
               o_totalprice, o_orderdate + INTERVAL 2 DAY
        FROM base WHERE o_orderkey % {_DUPINV_MOD} = 0
    ),
    o AS (
        SELECT o_orderkey AS k, o_custkey AS cust,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d
        FROM aug
    )
    SELECT a.cust AS custkey,
           a.k AS orderkey_a, b.k AS orderkey_b,
           a.cents,
           b.d - a.d AS day_gap
    FROM o a JOIN o b
      ON b.cust = a.cust AND b.cents = a.cents AND b.k > a.k
    WHERE abs(b.d - a.d) <= {_DUPINV_WINDOW_DAYS}
    """,
)
def orders_duplicate_invoice_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-invoice detection: pairs of orders from the same
    customer with the identical exact total within a 7-day window —
    the accounts-payable double-billing audit (resubmitted invoices,
    retried payments, double-clicked checkouts). Totals compare as
    exact cents and dates as exact epoch days, so the pair set is
    engine-deterministic; ordering the pair by orderkey keeps each
    duplicate reported once. Duplicates are injected deterministically
    (orderkey % 97 twins, +2 days) since the synthetic continuous
    totals never collide on their own — the mojibake/PII-injection
    precedent.

    Scale shape: a SELF-EQUI-JOIN on (customer, cents) — the blocking
    key carries all the selectivity, so matching is hash-join linear
    in true collision count (the dedup-family discipline: never
    all-pairs); the 7-day band is a residual predicate on the already
    tiny candidate set."""
    orders = load_table(spark, "orders", sf_dir)
    base = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    aug = base.unionAll(
        base.filter(F.col("o_orderkey") % _DUPINV_MOD == 0).select(
            (F.col("o_orderkey") + _DUPINV_KEY_OFFSET).alias("o_orderkey"),
            "o_custkey",
            "o_totalprice",
            (F.col("o_orderdate") + F.expr("INTERVAL 2 DAYS"))
            .alias("o_orderdate"),
        )
    )
    o = aug.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.expr("floor(unix_timestamp(o_orderdate)) div 86400").alias("d"),
    )
    b = o.select(
        F.col("k").alias("kb"),
        F.col("cust").alias("custb"),
        F.col("cents").alias("centsb"),
        F.col("d").alias("db"),
    )
    return (
        o.join(
            b,
            (F.col("custb") == F.col("cust"))
            & (F.col("centsb") == F.col("cents"))
            & (F.col("kb") > F.col("k")),
        )
        .filter(
            F.abs(F.col("db") - F.col("d")) <= _DUPINV_WINDOW_DAYS
        )
        .select(
            F.col("cust").alias("custkey"),
            F.col("k").alias("orderkey_a"),
            F.col("kb").alias("orderkey_b"),
            "cents",
            (F.col("db") - F.col("d")).alias("day_gap"),
        )
    )


@register(
    "customer_revenue_gini",
    # Gini coefficient of customer revenue concentration via the
    # rank formula G = (2·Σ r·x − (n+1)·Σx) / (n·Σx) under an exact
    # global rank by (cents, custkey). Numerator and denominator grow
    # with n·Σx ~ n²·spend, so the final arithmetic runs in
    # HUGEINT/DECIMAL(38); the result is a floored micro-unit.
    oracle="""
    WITH u AS (
        SELECT o_custkey AS cust,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    r AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, cust) AS rk
        FROM u
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sx,
               sum(CAST(rk AS HUGEINT) * cents) AS srx
        FROM r
    )
    SELECT n AS n_customers, sx AS total_cents,
           CAST((2 * srx - (CAST(n AS HUGEINT) + 1) * sx) * 1000000
                // nullif(CAST(n AS HUGEINT) * sx, 0) AS BIGINT)
               AS gini_micro
    FROM m
    """,
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers —
    the inequality summary behind the Lorenz deciles of
    events_power_users_pareto: 0 = every customer spends alike, near
    1 = a handful carry the book (concentration risk, and the
    "should we even personalize" question). Uses the rank identity
    G = (2Σr·x − (n+1)Σx)/(nΣx) over exact cents with a total
    (cents, custkey) order; ranks come from the exact-global-rank
    operator (range repartition + partition offsets — no
    single-partition window), and the moments run in DECIMAL(38)/
    HUGEINT since n·Σx grows quadratically.

    Scale shape: one customer-keyed agg, one range-partitioned rank,
    one 1-row moment agg. No global window, no collect."""
    from rust_cdc_spark.operators.ranks import with_global_rank

    orders = load_table(spark, "orders", sf_dir)
    u = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents")
    )
    r = with_global_rank(
        u, [F.col("cents"), F.col("cust")], rank_col="rk"
    )
    m = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sx"),
        F.sum(
            F.col("rk").cast("decimal(38,0)") * F.col("cents")
        ).alias("srx"),
    )
    return m.select(
        F.col("n").alias("n_customers"),
        F.col("sx").alias("total_cents"),
        F.expr(
            "(2 * srx - (CAST(n AS DECIMAL(38,0)) + 1) * sx) * 1000000"
            " div nullif(CAST(n AS DECIMAL(38,0)) * sx, 0)"
        ).cast("long").alias("gini_micro"),
    )


_ABC_CUT1, _ABC_CUT2 = 800_000, 950_000  # cumulative-share ppm cuts
_XYZ_CV1, _XYZ_CV2 = 250_000, 500_000    # CV ppm cuts


@register(
    "part_abc_xyz_classification",
    # ABC×XYZ inventory classification: parts ranked by revenue into
    # cumulative-share classes (A: first 80%, B: to 95%, C: rest) and
    # crossed with demand-variability classes from the coefficient of
    # variation of weekly quantities (X ≤ 0.25, Y ≤ 0.5, Z above).
    # Ranks come from the exact-global-rank path; CV² is computed as
    # an exact integer ratio (n·Σq² − S²)·10¹² / (S²·... ) — compared
    # against squared thresholds so no sqrt enters the classification.
    oracle=f"""
    WITH pw AS (
        SELECT l_partkey AS part,
               CAST(floor(epoch(l_shipdate)) AS BIGINT) // 604800 AS wk,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                   AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    p AS (
        SELECT part,
               CAST(sum(cents) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS n_weeks,
               CAST(sum(qty) AS BIGINT) AS sq,
               CAST(sum(qty * qty) AS BIGINT) AS sqq
        FROM pw GROUP BY part
    ),
    r AS (
        SELECT *,
               sum(cents) OVER (ORDER BY cents DESC, part
                                ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cents) OVER () AS tot
        FROM p
    ),
    cls AS (
        SELECT part,
               CASE WHEN cum * 1000000 <= {_ABC_CUT1} * tot THEN 'A'
                    WHEN cum * 1000000 <= {_ABC_CUT2} * tot THEN 'B'
                    ELSE 'C' END AS abc,
               -- CV² = (n·Σq² − S²) / S² ; compare vs (cut/1e6)²
               CASE WHEN n_weeks < 2 OR sq = 0 THEN 'Z'
                    WHEN (n_weeks * CAST(sqq AS HUGEINT) - CAST(sq AS HUGEINT) * sq)
                         * 1000000000000
                         <= CAST(sq AS HUGEINT) * sq
                            * ({_XYZ_CV1} * CAST({_XYZ_CV1} AS HUGEINT))
                         THEN 'X'
                    WHEN (n_weeks * CAST(sqq AS HUGEINT) - CAST(sq AS HUGEINT) * sq)
                         * 1000000000000
                         <= CAST(sq AS HUGEINT) * sq
                            * ({_XYZ_CV2} * CAST({_XYZ_CV2} AS HUGEINT))
                         THEN 'Y'
                    ELSE 'Z' END AS xyz
        FROM r
    )
    SELECT abc, xyz,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM cls GROUP BY abc, xyz
    """,
)
def part_abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory classification — the two-axis matrix every
    supply-chain planner starts from: parts bucketed by cumulative
    revenue share (A carries the first 80%, B to 95%, C the tail)
    crossed with demand predictability from the coefficient of
    variation of weekly order quantities (X steady, Y variable, Z
    erratic) — AX parts get tight auto-replenishment, CZ parts get
    made to order. Revenue ranks ride the exact-global-rank operator;
    the CV gate compares the exact integer CV² = (nΣq² − S²)/S²
    against squared ppm thresholds in HUGEINT/DECIMAL(38), so no
    sqrt or float enters any class boundary.

    Scale shape: one (part, week) rollup (map-side partials), a
    part rollup, the range-partitioned rank for cumulative shares,
    and a 9-key class agg."""
    li = load_table(spark, "lineitem", sf_dir)
    pw = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.expr("floor(unix_timestamp(l_shipdate)) div 604800").alias("wk"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .alias("cents"),
        F.sum(F.round("l_quantity").cast("long")).alias("qty"),
    )
    p = pw.groupBy("part").agg(
        F.sum("cents").cast("long").alias("cents"),
        F.count("*").cast("long").alias("n_weeks"),
        F.sum("qty").cast("long").alias("sq"),
        F.sum(F.col("qty") * F.col("qty")).cast("long").alias("sqq"),
    )
    # Exact global PREFIX SUM of cents under (cents desc, part) without
    # a single-partition window — the ranks.py partition-offset trick
    # applied to a sum instead of a count: range-partition on the sort
    # key, per-partition running sum, plus the broadcast total of all
    # earlier partitions.
    from pyspark.sql import Window as _W

    ranged = pin(p.repartitionByRange(
        F.col("cents").desc(), F.col("part")
    ).withColumn("__pid", F.spark_partition_id()))
    pcents = ranged.groupBy("__pid").agg(F.sum("cents").alias("__pc"))
    a = pcents.select(F.col("__pid").alias("__a"))
    b = pcents.select(F.col("__pid").alias("__b"), "__pc")
    offs = (
        a.join(F.broadcast(b), F.col("__b") < F.col("__a"), "left")
        .groupBy("__a")
        .agg(F.coalesce(F.sum("__pc"), F.lit(0)).alias("__off"))
        .select(F.col("__a").alias("__pid"), "__off")
    )
    cum = (
        ranged.join(F.broadcast(offs), "__pid")
        .withColumn(
            "cum",
            F.col("__off")
            + F.sum("cents").over(
                _W.partitionBy("__pid")
                .orderBy(F.col("cents").desc(), F.col("part"))
                .rowsBetween(_W.unboundedPreceding, 0)
            ),
        )
    )
    tot = p.agg(F.sum("cents").alias("tot"))
    cls = cum.crossJoin(F.broadcast(tot)).select(
        F.when(
            F.col("cum") * 1_000_000 <= _ABC_CUT1 * F.col("tot"), "A"
        )
        .when(F.col("cum") * 1_000_000 <= _ABC_CUT2 * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc"),
        F.when(
            (F.col("n_weeks") < 2) | (F.col("sq") == 0), "Z"
        )
        .when(
            F.expr(
                f"(n_weeks * CAST(sqq AS DECIMAL(38,0))"
                f" - CAST(sq AS DECIMAL(38,0)) * sq) * 1000000000000"
                f" <= CAST(sq AS DECIMAL(38,0)) * sq"
                f" * ({_XYZ_CV1} * CAST({_XYZ_CV1} AS DECIMAL(38,0)))"
            ),
            "X",
        )
        .when(
            F.expr(
                f"(n_weeks * CAST(sqq AS DECIMAL(38,0))"
                f" - CAST(sq AS DECIMAL(38,0)) * sq) * 1000000000000"
                f" <= CAST(sq AS DECIMAL(38,0)) * sq"
                f" * ({_XYZ_CV2} * CAST({_XYZ_CV2} AS DECIMAL(38,0)))"
            ),
            "Y",
        )
        .otherwise("Z")
        .alias("xyz"),
    )
    return cls.groupBy("abc", "xyz").agg(
        F.count("*").cast("long").alias("n_parts")
    )


@register(
    "nation_trade_matrix",
    # Supplier-nation × customer-nation revenue matrix — the full
    # who-sells-to-whom cube behind TPC-H Q7's two-nation slice:
    # exact discounted cents per nation pair plus each pair's share
    # of the selling nation's exports (floored ppm).
    oracle="""
    WITH flows AS (
        SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               CAST(sum(CAST(round(l_extendedprice
                                   * (1 - l_discount) * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    )
    SELECT supp_nation, cust_nation, cents,
           CAST(cents * 1000000
                // sum(cents) OVER (PARTITION BY supp_nation)
                AS BIGINT) AS export_share_micro
    FROM flows
    """,
)
def nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade matrix: discounted revenue between every
    (supplier nation, customer nation) pair with each flow's share of
    the seller's total exports — the complete cube TPC-H Q7 slices
    two cells out of, and the input to trade-concentration and
    dependency analyses. Revenue is exact discounted cents (rounded
    per line item, the repo-wide rule); shares are floored ppm over a
    nation-partitioned window on the |nations|²-row aggregate.

    Scale shape: lineitem ⋈ orders is the one fact-fact join (hash,
    co-keyed on orderkey); customer/supplier/nation are broadcast
    dimensions; then one (nation, nation)-keyed agg with map-side
    partials and a 25-row-partition share window on the result."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    flows = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li["l_suppkey"] == supp["s_suppkey"])
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("ns_key"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            supp["s_nationkey"] == F.col("ns_key"),
        )
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("nc_key"),
                    F.col("n_name").alias("cust_nation"),
                )
            ),
            cust["c_nationkey"] == F.col("nc_key"),
        )
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("supp_nation")
    return flows.select(
        "supp_nation",
        "cust_nation",
        "cents",
        F.expr("cents * 1000000").cast("long").alias("__num"),
        F.sum("cents").over(w).alias("__den"),
    ).select(
        "supp_nation",
        "cust_nation",
        "cents",
        F.expr("__num div __den").cast("long")
        .alias("export_share_micro"),
    )


@register(
    "part_supplier_concentration",
    # Sourcing-risk audit: per part type (the 25-way p_type prefix
    # families collapse to their first word), the supplier HHI of
    # supplied quantity, the top supplier's share, and the effective
    # supplier count 1/HHI — single-sourced families are supply-chain
    # risk; all shares exact floored ppm, HHI in wide decimals.
    oracle="""
    WITH sq AS (
        SELECT string_split(p.p_type, ' ')[1] AS family,
               l.l_suppkey AS supp,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT family,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(qty) AS BIGINT) AS total_qty,
               CAST(max(qty) AS BIGINT) AS top_qty,
               sum(CAST(qty AS HUGEINT) * qty) AS sq2
        FROM sq GROUP BY family
    )
    SELECT family, n_suppliers, total_qty,
           CAST(top_qty * 1000000 // nullif(total_qty, 0) AS BIGINT)
               AS top_share_micro,
           CAST(sq2 * 1000000
                // nullif(CAST(total_qty AS HUGEINT) * total_qty, 0)
                AS BIGINT) AS hhi_micro,
           CAST(CAST(total_qty AS HUGEINT) * total_qty * 1000000
                // nullif(sq2 * 1000000, 0) AS BIGINT)
               AS effective_suppliers
    FROM m
    """,
)
def part_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration audit per part family: the Herfindahl
    index of supplied quantity, the top supplier's share, and the
    effective supplier count (1/HHI) — the sourcing-risk scorecard
    that flags families one supplier failure would stall. Quantity
    shares are exact floored ppm; HHI squares per-supplier quantities
    in HUGEINT/DECIMAL(38); the effective count is the floored
    integer reciprocal, NULL-guarded for empty families.

    Scale shape: the part join is broadcast (dimension side); ONE
    (family, supplier)-keyed agg with map-side partials, then a
    |families|-keyed moment agg. No windows."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    sq = (
        li.join(
            F.broadcast(
                part.select(
                    "p_partkey",
                    F.expr("split(p_type, ' ')[0]").alias("family"),
                )
            ),
            li["l_partkey"] == part["p_partkey"],
        )
        .groupBy("family", F.col("l_suppkey").alias("supp"))
        .agg(
            F.sum(F.round("l_quantity").cast("long")).alias("qty")
        )
    )
    m = sq.groupBy("family").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum("qty").cast("long").alias("total_qty"),
        F.max("qty").cast("long").alias("top_qty"),
        F.sum(F.col("qty").cast("decimal(38,0)") * F.col("qty"))
        .alias("sq2"),
    )
    return m.select(
        "family",
        "n_suppliers",
        "total_qty",
        F.expr("top_qty * 1000000 div nullif(total_qty, 0)")
        .cast("long").alias("top_share_micro"),
        F.expr(
            "sq2 * 1000000"
            " div nullif(CAST(total_qty AS DECIMAL(38,0)) * total_qty, 0)"
        ).cast("long").alias("hhi_micro"),
        F.expr(
            "CAST(total_qty AS DECIMAL(38,0)) * total_qty * 1000000"
            " div nullif(sq2 * 1000000, 0)"
        ).cast("long").alias("effective_suppliers"),
    )


@register(
    "orders_skyline_price_date",
    # 2-D skyline (Pareto-frontier) operator: orders not dominated on
    # (lower total price, more recent date) — the preference-query
    # primitive (Börzsönyi et al., ICDE'01). In 2-D the skyline has a
    # closed form: sort by one criterion, keep rows strictly better
    # than every predecessor on the other — a running-min window over
    # the DATE-value groups, not an O(n²) dominance join. Exact cents
    # and epoch days; deterministic tie handling (equal points are
    # all kept unless strictly dominated).
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d
        FROM orders
    ),
    -- min price per day, then the prefix min over STRICTLY LATER
    -- days decides dominance: an order is dominated iff some
    -- later-or-equal day has strictly lower price AND (later day or
    -- lower price).
    dmin AS (
        SELECT d, min(cents) AS day_min FROM o GROUP BY d
    ),
    better AS (
        SELECT d,
               min(day_min) OVER (ORDER BY d DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS later_min,
               day_min
        FROM dmin
    )
    SELECT o.o_orderkey, o.cents, o.d AS epoch_day
    FROM o JOIN better b ON b.d = o.d
    WHERE (b.later_min IS NULL OR o.cents < b.later_min)
      AND o.cents = b.day_min
    """,
)
def orders_skyline_price_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: the orders no other order
    beats on BOTH criteria — cheaper AND more recent — the
    preference-query operator behind "best tradeoff" product
    surfaces (cheapest-newest offers, dominated-option pruning).
    The naive formulation is an O(n²) dominance self-join; in 2-D
    the frontier collapses to per-day minima plus a running min over
    strictly-later days, so the whole operator is one day-keyed agg
    and a calendar-bounded window. A point survives iff it is its
    day's minimum and strictly cheaper than every later day's
    minimum. All comparisons on exact cents / epoch days.

    Scale shape: ONE (day)-keyed min agg (map-side partials), a
    running-min window over the |days|-row calendar table, and a
    broadcast join back to the fact scan to emit surviving rows —
    no dominance join at any scale."""
    orders = load_table(spark, "orders", sf_dir)
    o = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.expr("floor(unix_timestamp(o_orderdate)) div 86400").alias("d"),
    )
    dmin = o.groupBy("d").agg(F.min("cents").alias("day_min"))
    w = (
        Window.orderBy(F.col("d").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    better = dmin.select(
        "d", "day_min", F.min("day_min").over(w).alias("later_min")
    )
    return (
        o.join(F.broadcast(better), "d")
        .filter(
            (F.col("later_min").isNull()
             | (F.col("cents") < F.col("later_min")))
            & (F.col("cents") == F.col("day_min"))
        )
        .select("o_orderkey", "cents", F.col("d").alias("epoch_day"))
    )


@register(
    "lineitem_ship_delay_percentiles",
    # Order-to-ship delay SLA profile per order priority: EXACT
    # p50/p90/p99 of (l_shipdate − o_orderdate) in days, computed
    # from the delay VALUE histogram with explicit rank arithmetic —
    # the nearest-rank percentile (smallest value whose cumulative
    # count reaches ⌈q·n⌉), so both engines pick the identical day
    # with no interpolation. The histogram is bounded by the delay
    # range, never the row count.
    oracle="""
    WITH d AS (
        SELECT o.o_orderpriority AS priority,
               CAST(floor(epoch(l.l_shipdate)) AS BIGINT) // 86400
               - CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400
                   AS delay
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    hist AS (
        SELECT priority, delay, CAST(count(*) AS BIGINT) AS c
        FROM d GROUP BY priority, delay
    ),
    cum AS (
        SELECT priority, delay, c,
               sum(c) OVER (PARTITION BY priority ORDER BY delay
                            ROWS UNBOUNDED PRECEDING) AS cm,
               sum(c) OVER (PARTITION BY priority) AS n
        FROM hist
    )
    SELECT priority,
           CAST(max(n) AS BIGINT) AS n_lineitems,
           CAST(min(CASE WHEN cm * 2 >= n THEN delay END) AS BIGINT)
               AS p50_days,
           CAST(min(CASE WHEN cm * 10 >= 9 * n THEN delay END) AS BIGINT)
               AS p90_days,
           CAST(min(CASE WHEN cm * 100 >= 99 * n THEN delay END)
                AS BIGINT) AS p99_days,
           CAST(max(delay) AS BIGINT) AS max_days
    FROM cum GROUP BY priority
    """,
)
def lineitem_ship_delay_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-SLA profile: exact p50/p90/p99 of the order-to-ship
    delay per order priority — the table that answers "do URGENT
    orders actually ship faster, and what does the tail look like"
    without approx_percentile's error bars. Percentiles are
    nearest-rank over the delay VALUE histogram (cumulative-count
    cross-multiplication, no division, no interpolation), the same
    discipline as the funnel-latency and KS queries — so the chosen
    day is identical on both engines by integer arithmetic alone.

    Scale shape: one co-keyed fact-fact join (orderkey), a
    (priority, delay)-keyed histogram agg with map-side partials,
    then priority-partitioned cumulative windows over the
    range-bounded value rows."""
    utc(spark)
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    d = li.join(
        orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        li["l_orderkey"] == orders["o_orderkey"],
    ).select(
        F.col("o_orderpriority").alias("priority"),
        (
            F.expr("floor(unix_timestamp(l_shipdate)) div 86400")
            - F.expr("floor(unix_timestamp(o_orderdate)) div 86400")
        ).alias("delay"),
    )
    hist = d.groupBy("priority", "delay").agg(
        F.count("*").cast("long").alias("c")
    )
    wc = (
        Window.partitionBy("priority")
        .orderBy("delay")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("priority")
    cum = hist.select(
        "priority", "delay", "c",
        F.sum("c").over(wc).alias("cm"),
        F.sum("c").over(wp).alias("n"),
    )
    return cum.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_lineitems"),
        F.min(
            F.when(F.col("cm") * 2 >= F.col("n"), F.col("delay"))
        ).cast("long").alias("p50_days"),
        F.min(
            F.when(F.col("cm") * 10 >= 9 * F.col("n"), F.col("delay"))
        ).cast("long").alias("p90_days"),
        F.min(
            F.when(F.col("cm") * 100 >= 99 * F.col("n"), F.col("delay"))
        ).cast("long").alias("p99_days"),
        F.max("delay").cast("long").alias("max_days"),
    )


@register(
    "customer_revenue_gini_by_nation",
    # Within-market inequality: the revenue Gini computed PER NATION
    # — unlike the global customer_revenue_gini, the rank here is a
    # nation-partitioned window (bounded by the nation's customer
    # count), so no global-rank machinery is needed. Same rank
    # identity, same exact cents, wide-decimal moments.
    oracle="""
    WITH u AS (
        SELECT c.c_nationkey AS nation, o.o_custkey AS cust,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    r AS (
        SELECT nation, cents,
               row_number() OVER (PARTITION BY nation
                                  ORDER BY cents, cust) AS rk
        FROM u
    ),
    m AS (
        SELECT nation,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sx,
               sum(CAST(rk AS HUGEINT) * cents) AS srx
        FROM r GROUP BY nation
    )
    SELECT nation, n AS n_customers, sx AS total_cents,
           CAST((2 * srx - (CAST(n AS HUGEINT) + 1) * sx) * 1000000
                // nullif(CAST(n AS HUGEINT) * sx, 0) AS BIGINT)
               AS gini_micro
    FROM m
    """,
)
def customer_revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue inequality per market: the Gini coefficient of customer
    spend computed within each nation — the drill-down under the
    global customer_revenue_gini that says WHICH markets hinge on a
    few whales and which have broad books (different credit-risk and
    go-to-market answers). Same rank identity (2Σr·x − (n+1)Σx over
    nΣx) on exact cents; because the rank is nation-partitioned the
    window is market-bounded and needs no global-rank machinery; the
    moments still run in DECIMAL(38)/HUGEINT since n·Σx grows
    quadratically in the market size.

    Scale shape: one fact-dim join (customer broadcast), a
    (nation, customer) rollup, a nation-partitioned rank window, and
    a |nations|-keyed moment agg."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    u = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("o_custkey").alias("cust"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("nation").orderBy("cents", "cust")
    r = u.select(
        "nation", "cents", F.row_number().over(w).alias("rk")
    )
    m = r.groupBy("nation").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sx"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("cents"))
        .alias("srx"),
    )
    return m.select(
        "nation",
        F.col("n").alias("n_customers"),
        F.col("sx").alias("total_cents"),
        F.expr(
            "(2 * srx - (CAST(n AS DECIMAL(38,0)) + 1) * sx) * 1000000"
            " div nullif(CAST(n AS DECIMAL(38,0)) * sx, 0)"
        ).cast("long").alias("gini_micro"),
    )


@register(
    "part_brand_switch_matrix",
    # Brand-loyalty flows: each order's representative brand (the
    # lexicographic min over its line items — deterministic) chained
    # per customer in order-date order; the matrix counts consecutive
    # brand→brand transitions with row shares. The diagonal is
    # loyalty, off-diagonal mass is switching — the assortment/
    # promotion diagnostic on top of basket affinity's what-sells-
    # together.
    oracle="""
    WITH ob AS (
        SELECT l.l_orderkey AS ok, min(p.p_brand) AS brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY l.l_orderkey
    ),
    seqd AS (
        SELECT o.o_custkey AS cust, ob.brand,
               lag(ob.brand) OVER (
                   PARTITION BY o.o_custkey
                   ORDER BY o.o_orderdate, o.o_orderkey
               ) AS prev_brand
        FROM orders o JOIN ob ON ob.ok = o.o_orderkey
    ),
    tr AS (
        SELECT prev_brand AS brand_from, brand AS brand_to,
               CAST(count(*) AS BIGINT) AS n
        FROM seqd WHERE prev_brand IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT brand_from, brand_to, n AS n_transitions,
           CAST(n * 1000000
                // sum(n) OVER (PARTITION BY brand_from) AS BIGINT)
               AS row_share_micro
    FROM tr
    """,
)
def part_brand_switch_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-switching matrix: consecutive-order brand transitions
    per customer (each order represented by its deterministic
    lexicographic-min brand), with row-normalized shares — the
    loyalty/churn-between-brands view a category manager reads next
    to orders_basket_affinity (within-basket) and
    events_segment_transition_matrix (value-tier flows): a heavy
    diagonal is a loyal category, hot off-diagonal cells name the
    brand pairs customers actually trade between. Exact counts;
    shares floored ppm over brand-partitioned windows on the
    |brands|²-row matrix.

    Scale shape: one orderkey-keyed min agg over the broadcast-dim
    join, a customer-partitioned lag window (the shuffle order
    history already pays), and a |brands|²-keyed rollup."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    ob = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == part["p_partkey"],
        )
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.min("p_brand").alias("brand"))
    )
    w = Window.partitionBy("cust").orderBy("o_orderdate", "o_orderkey")
    seqd = (
        orders.join(ob, orders["o_orderkey"] == ob["ok"])
        .select(
            F.col("o_custkey").alias("cust"),
            "o_orderdate",
            "o_orderkey",
            "brand",
        )
        .select(
            "cust", "brand", F.lag("brand").over(w).alias("prev_brand")
        )
    )
    tr = (
        seqd.filter(F.col("prev_brand").isNotNull())
        .groupBy(
            F.col("prev_brand").alias("brand_from"),
            F.col("brand").alias("brand_to"),
        )
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )
    wrow = Window.partitionBy("brand_from")
    return tr.select(
        "brand_from",
        "brand_to",
        "n_transitions",
        F.expr("n_transitions * 1000000").alias("__num"),
        F.sum("n_transitions").over(wrow).alias("__den"),
    ).select(
        "brand_from",
        "brand_to",
        "n_transitions",
        F.expr("__num div __den").cast("long").alias("row_share_micro"),
    )


# ── Round 7: chi-square independence + Theil inequality ──────────────


@register(
    "orders_chi2_priority_status",
    # Pearson chi-square test of independence on the priority ×
    # status contingency table, in EXACT integer arithmetic: each
    # cell contributes 10⁶·(O·N − r·c)² div (N·r·c) — the (O−E)²/E
    # term with E = r·c/N cleared of fractions — floored once per
    # cell, summed as integers. Zero cells (expected > 0, observed 0)
    # are materialized by the level-grid cross join so they
    # contribute their full r·c/N mass. Squared Cramér's V is then
    # one more integer division. Products run in HUGEINT/DECIMAL(38):
    # (O·N)² bounds the arithmetic at N ≲ 1.8·10⁹ rows; beyond that,
    # switch the cell term to proportions.
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority AS pri, o_orderstatus AS st,
               CAST(count(*) AS BIGINT) AS o
        FROM orders GROUP BY 1, 2
    ),
    rows_ AS (SELECT pri, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY pri),
    cols_ AS (SELECT st, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY st),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    grid AS (
        SELECT r.pri, c.st, r.r, c.c, n.n,
               coalesce(ce.o, 0) AS o
        FROM rows_ r CROSS JOIN cols_ c CROSS JOIN n
        LEFT JOIN cells ce ON ce.pri = r.pri AND ce.st = c.st
    ),
    contrib AS (
        SELECT pri, st, n,
               (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
               * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
               * 1000000
               // (CAST(n AS HUGEINT) * r * c) AS cell_micro
        FROM grid
    ),
    dims AS (
        SELECT CAST(count(DISTINCT pri) AS BIGINT) AS n_pri,
               CAST(count(DISTINCT st) AS BIGINT) AS n_st
        FROM cells
    )
    SELECT n.n AS n_orders, d.n_pri, d.n_st,
           CAST((d.n_pri - 1) * (d.n_st - 1) AS BIGINT) AS dof,
           CAST(sum(c.cell_micro) AS BIGINT) AS chi2_micro,
           CAST(sum(c.cell_micro)
                // nullif(CAST(n.n AS HUGEINT)
                          * least(d.n_pri - 1, d.n_st - 1), 0) AS BIGINT)
               AS cramers_v2_micro
    FROM contrib c CROSS JOIN n CROSS JOIN dims d
    GROUP BY n.n, d.n_pri, d.n_st
    """,
)
def orders_chi2_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and
    order status — "does priority actually influence fulfilment
    state, or is the contingency table what independence predicts?"
    — with the squared Cramér's V effect size (χ²/(N·min(R−1,C−1)),
    the scale-free strength of association a raw χ² hides at large
    N). Exact integers end-to-end: the (O−E)²/E cell term is cleared
    of fractions as (O·N − r·c)²/(N·r·c), floored once per cell;
    empty cells appear via the level grid so their expected mass
    counts.

    Scale shape: ONE data-scale agg (the contingency rollup,
    map-side combined, |levels|² groups); rows/cols/N and the grid
    are broadcast-size frames; the cell math and χ² sum run on the
    bounded grid. DECIMAL(38) keeps (O·N)² exact to N ≈ 1.8e9 rows
    (documented bound — beyond it the term switches to
    proportions)."""
    orders = load_table(spark, "orders", sf_dir)
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count("*").cast("long").alias("o"))
    rows_ = cells.groupBy("pri").agg(F.sum("o").cast("long").alias("r"))
    cols_ = cells.groupBy("st").agg(F.sum("o").cast("long").alias("c"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rows_.crossJoin(F.broadcast(cols_))
        .crossJoin(F.broadcast(n))
        .join(cells, ["pri", "st"], "left")
        .select(
            "pri", "st", "r", "c", "n",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
        )
    )
    contrib = grid.select(
        "n",
        F.expr(
            "(cast(o as decimal(38,0)) * n - cast(r as decimal(38,0)) * c)"
            " * (cast(o as decimal(38,0)) * n"
            "    - cast(r as decimal(38,0)) * c)"
            " * 1000000"
            " div (cast(n as decimal(38,0)) * r * c)"
        ).alias("cell_micro"),
    )
    dims = cells.agg(
        F.countDistinct("pri").cast("long").alias("n_pri"),
        F.countDistinct("st").cast("long").alias("n_st"),
    )
    return (
        contrib.groupBy("n")
        .agg(F.sum("cell_micro").alias("chi2d"))
        .crossJoin(F.broadcast(dims))
        .select(
            F.col("n").alias("n_orders"),
            "n_pri",
            "n_st",
            ((F.col("n_pri") - 1) * (F.col("n_st") - 1))
            .cast("long").alias("dof"),
            F.col("chi2d").cast("long").alias("chi2_micro"),
            F.expr(
                "cast(chi2d div nullif(cast(n as decimal(38,0))"
                " * least(n_pri - 1, n_st - 1), 0) as long)"
            ).alias("cramers_v2_micro"),
        )
    )


@register(
    "customer_revenue_theil",
    # Theil T inequality index over customer revenue:
    # T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ). Each customer's term is quantized
    # ONCE to micro-nats — xᵢ·n and S are exact integers, their ratio
    # is one IEEE division, ln evaluated once per customer, rounded
    # to an integer — then the sum and the final div n are pure
    # BIGINT, the entropy-family discipline (events_entropy_rate,
    # corpus_drift_kl).
    oracle="""
    WITH u AS (
        SELECT o_custkey AS cust,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s
        FROM u
    ),
    terms AS (
        SELECT t.n, t.s,
               CAST(round(1e6 * (CAST(u.cents AS HUGEINT) * t.n / t.s)
                    * ln(CAST(u.cents AS HUGEINT) * t.n / t.s))
                    AS BIGINT) AS term_micro
        FROM u CROSS JOIN tot t
        WHERE u.cents > 0
    )
    SELECT max(n) AS n_customers, max(s) AS total_cents,
           CAST(sum(term_micro) AS BIGINT) AS theil_sum_micro,
           CAST(sum(term_micro) // max(n) AS BIGINT) AS theil_micro
    FROM terms
    """,
)
def customer_revenue_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer revenue concentration — the
    inequality measure that, unlike the Gini
    (customer_revenue_gini), DECOMPOSES additively: T over all
    customers = within-group T + between-group T for any partition
    (by nation, segment), so it's the one you aggregate up a
    hierarchy. T = mean over customers of (x/μ)·ln(x/μ); 0 = perfect
    equality, ln(n) = one customer holds everything.

    Each customer's term quantizes once to micro-nats: x·n and Σx
    are exact integers ≤ 2⁵³ (so the ratio is ONE correctly-rounded
    IEEE division), ln evaluates once, rounds once — then everything
    is BIGINT sums. Same ln-quantization discipline as
    events_entropy_rate / corpus_drift_kl. BOUND (ADVICE r7): the
    x·n/Σx ratio is cross-engine exact only while cents·n ≤ 2⁵³ —
    DuckDB forms the product in HUGEINT and converts once, Spark
    multiplies doubles — so beyond ~9·10¹⁵ cents·customers (≈ $10¹⁰
    revenue × 10⁴ customers, or any mix) parity degrades to 1-ulp
    noise in the ln argument. test_oracle_parity asserts the bound
    holds at sf0.1 (test_theil_exactness_bound).

    Scale shape: one customer-keyed agg, one broadcast 1-row total,
    one map-stage term per customer, one scalar agg. No windows, no
    rank, no collect."""
    orders = load_table(spark, "orders", sf_dir)
    u = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long").alias("cents")
    )
    tot = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    terms = (
        u.filter(F.col("cents") > 0)
        .crossJoin(F.broadcast(tot))
        .select(
            "n", "s",
            F.round(
                F.lit(1e6)
                * (
                    F.col("cents").cast("double") * F.col("n")
                    / F.col("s")
                )
                * F.log(
                    F.col("cents").cast("double") * F.col("n")
                    / F.col("s")
                )
            ).cast("long").alias("term_micro"),
        )
    )
    return terms.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.max("s").cast("long").alias("total_cents"),
        F.sum("term_micro").cast("long").alias("theil_sum_micro"),
        F.expr("sum(term_micro) div max(n)").cast("long")
        .alias("theil_micro"),
    )


@register(
    "privacy_user_sensitivity",
    # User-level differential-privacy sensitivity audit for per-type
    # event-count releases: the L1 sensitivity of "count of events by
    # type" under user add/remove is the MAX events one user
    # contributes; the Laplace scale at ε = 0.5 is b = Δ/ε = 2Δ. Also
    # the (lower) median contribution — what clipping at p50 would
    # shrink the noise to — all exact integers via the contribution
    # HISTOGRAM (value-bounded rows) and a keyed cumulative window.
    oracle="""
    WITH contrib AS (
        SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    hist AS (
        SELECT event_type, c, CAST(count(*) AS BIGINT) AS nu
        FROM contrib GROUP BY event_type, c
    ),
    cum AS (
        SELECT event_type, c, nu,
               sum(nu) OVER (PARTITION BY event_type ORDER BY c
                             ROWS UNBOUNDED PRECEDING) AS cumu,
               sum(nu) OVER (PARTITION BY event_type) AS n_users,
               max(c) OVER (PARTITION BY event_type) AS max_contrib
        FROM hist
    )
    SELECT event_type,
           CAST(max(n_users) AS BIGINT) AS n_users,
           CAST(max(max_contrib) AS BIGINT) AS max_contrib,
           CAST(min(CASE WHEN 2 * cumu >= n_users THEN c END) AS BIGINT)
               AS median_contrib,
           CAST(2 * 1000000 * max(max_contrib) AS BIGINT)
               AS laplace_b_micro,
           CAST(2 * 1000000 * min(CASE WHEN 2 * cumu >= n_users
                                       THEN c END) AS BIGINT)
               AS clipped_b_micro,
           CAST(min(CASE WHEN 2 * cumu >= n_users THEN c END) * 1000000
                // max(max_contrib) AS BIGINT) AS clip_ratio_micro
    FROM cum GROUP BY event_type
    """,
)
def privacy_user_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level DP sensitivity audit for releasing per-type event
    counts: the worst-case single-user contribution (= the L1
    sensitivity Δ of the count under user add/remove — the number
    that CALIBRATES the noise), the Laplace scale b = Δ/ε at ε = 0.5
    in micro units, and the same after clipping each user at the
    median contribution — the clip-vs-noise trade a DP release
    actually tunes (clip_ratio_micro = how far p50 clipping shrinks
    b). Complements privacy_k_anonymity's re-identification audit
    with the noise-calibration side of a private release.

    All exact integers: contributions are counts, the median is the
    lower median read off the contribution histogram's cumulative
    window (value-bounded rows — distinct contribution sizes, not
    users), and the scales are integer multiples.

    Scale shape: one (type, user) agg is the only data-scale stage
    (map-side partials); the histogram, cumulative window, and
    finishing agg all run on value-bounded rows keyed by type."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    contrib = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("c")
    )
    hist = contrib.groupBy("event_type", "c").agg(
        F.count("*").cast("long").alias("nu")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type", "c", "nu",
        F.sum("nu").over(wcum).alias("cumu"),
        F.sum("nu").over(wall).alias("n_users"),
        F.max("c").over(wall).alias("max_contrib"),
    )
    med = F.min(
        F.when(2 * F.col("cumu") >= F.col("n_users"), F.col("c"))
    )
    return cum.groupBy("event_type").agg(
        F.max("n_users").cast("long").alias("n_users"),
        F.max("max_contrib").cast("long").alias("max_contrib"),
        med.cast("long").alias("median_contrib"),
        (2 * 1000000 * F.max("max_contrib")).cast("long")
        .alias("laplace_b_micro"),
        (2 * 1000000 * med).cast("long").alias("clipped_b_micro"),
        F.expr(
            "min(CASE WHEN 2 * cumu >= n_users THEN c END) * 1000000"
            " div max(max_contrib)"
        ).cast("long").alias("clip_ratio_micro"),
    )


@register(
    "lineitem_simpson_reversal",
    # Simpson's-paradox probe on the discount → quantity relationship:
    # does the OVERALL covariance sign contradict the within-brand
    # signs once line items are stratified by part brand? Covariance
    # NUMERATORS n·Σxy − Σx·Σy are exact integers (discount in
    # hundredths, quantity integral), so every sign is exact — the
    # aggregation-reversal audit that tells an analyst a pooled trend
    # is a mix artifact. DECIMAL(38)/HUGEINT against n² growth.
    oracle="""
    WITH li AS (
        SELECT p.p_brand AS brand,
               CAST(round(l.l_discount * 100) AS BIGINT) AS x,
               CAST(l.l_quantity AS BIGINT) AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    g AS (
        SELECT brand,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM li GROUP BY brand
    ),
    signs AS (
        SELECT brand, n,
               CASE WHEN CAST(n AS HUGEINT) * sxy
                         - CAST(sx AS HUGEINT) * sy > 0 THEN 1
                    WHEN CAST(n AS HUGEINT) * sxy
                         - CAST(sx AS HUGEINT) * sy < 0 THEN -1
                    ELSE 0 END AS sgn
        FROM g
    ),
    overall AS (
        SELECT CASE WHEN CAST(sum(n) AS HUGEINT) * sum(sxy)
                         - CAST(sum(sx) AS HUGEINT) * sum(sy) > 0 THEN 1
                    WHEN CAST(sum(n) AS HUGEINT) * sum(sxy)
                         - CAST(sum(sx) AS HUGEINT) * sum(sy) < 0 THEN -1
                    ELSE 0 END AS overall_sign
        FROM g
    )
    SELECT o.overall_sign,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN s.sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos_groups,
           CAST(sum(CASE WHEN s.sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neg_groups,
           CAST(sum(CASE WHEN s.sgn = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_groups,
           (o.overall_sign <> 0
            AND sum(CASE WHEN s.sgn = -o.overall_sign
                         THEN 1 ELSE 0 END)
                > sum(CASE WHEN s.sgn = o.overall_sign
                           THEN 1 ELSE 0 END)) AS reversal
    FROM signs s CROSS JOIN overall o
    GROUP BY o.overall_sign
    """,
)
def lineitem_simpson_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit of the pooled discount→quantity trend:
    compare the OVERALL covariance sign against the per-brand
    covariance signs — if most strata trend opposite to the pool, the
    pooled number is a composition artifact (brand mix), not a causal
    signal, and any pricing decision made on it inverts reality. The
    single most common aggregation trap in BI; this is the one-query
    detector.

    Exactness: discount quantizes to hundredths (its generator grid),
    quantity is integral, so every covariance numerator
    n·Σxy − Σx·Σy is an exact DECIMAL(38) integer and the SIGNS —
    all this test needs — are exact, no variance division anywhere.

    Scale shape: one lineitem⋈part equi-join (partkey-keyed; the
    dimension side broadcasts at small SF, shuffles co-keyed at
    scale), one brand-keyed moment agg, then sign math over the
    |brands|-row frame (25 rows). No windows, no collect."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    j = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    g = j.groupBy("brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("sxy")
        - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    )
    signs = g.select(
        "brand", "n",
        F.when(num > 0, 1).when(num < 0, -1).otherwise(0).alias("sgn"),
    )
    overall = g.agg(
        F.expr(
            "CASE WHEN cast(sum(n) as decimal(38,0)) * sum(sxy)"
            "          - cast(sum(sx) as decimal(38,0)) * sum(sy) > 0"
            "     THEN 1"
            "     WHEN cast(sum(n) as decimal(38,0)) * sum(sxy)"
            "          - cast(sum(sx) as decimal(38,0)) * sum(sy) < 0"
            "     THEN -1 ELSE 0 END"
        ).alias("overall_sign")
    )
    return (
        signs.crossJoin(F.broadcast(overall))
        .groupBy("overall_sign")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
            .cast("long").alias("n_pos_groups"),
            F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
            .cast("long").alias("n_neg_groups"),
            F.sum(F.when(F.col("sgn") == 0, 1).otherwise(0))
            .cast("long").alias("n_zero_groups"),
            (
                (F.max("overall_sign") != 0)
                & (
                    F.sum(
                        F.when(
                            F.col("sgn") == -F.col("overall_sign"), 1
                        ).otherwise(0)
                    )
                    > F.sum(
                        F.when(
                            F.col("sgn") == F.col("overall_sign"), 1
                        ).otherwise(0)
                    )
                )
            ).alias("reversal"),
        )
    )
