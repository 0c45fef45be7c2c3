"""Relational operator surface over the TPC-H-ish star schema.

Covers SURVEY §2.5 Q1-Q11 (projection/filter, equi/semi/anti/theta
joins, aggregation, rollup/cube, window functions, sort/limit/top-k,
set ops, scalar functions). The reference delegates this surface to
Spark SQL / Presto (hive/hive.properties, .ipynb:184); here it is
first-class DataFrame API with explicit physical intent (broadcast
hints for dims, decimal-exact money math).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from eventsgateway_spark.queries import query
from eventsgateway_spark.queries._util import as_double, money, table

# ---------------------------------------------------------------------------
# Q2/Q6 — equi joins + aggregation: revenue by nation (broadcast dims)
# ---------------------------------------------------------------------------


@query(
    "q02_revenue_by_nation",
    oracle="""
    SELECT r.r_name AS region_name,
           n.n_name AS nation_name,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim star join. nation/region (fixed 25/5 rows) are
    broadcast; customer GROWS with SF (~15 M rows at sf100) so it gets
    no hint — AQE broadcasts it while it fits and shuffles when it
    doesn't. At 100 TB the lineitem↔orders join is the big shuffle."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")

    revenue_expr = money("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            as_double(F.sum(revenue_expr)).alias("revenue"),
        )
        .orderBy("region_name", "nation_name")
    )


# ---------------------------------------------------------------------------
# Q3 — anti join: customers with no large order
# ---------------------------------------------------------------------------


@query(
    "q03_customers_without_big_orders",
    oracle="""
    SELECT c.c_custkey AS c_custkey, c.c_name AS c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    ORDER BY c.c_custkey
    """,
)
def q03_customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti join (NOT EXISTS). Filter on the probe side is pushed
    below the join so only qualifying orders build the hash table."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q3' — semi join: order priorities that shipped large quantities
# ---------------------------------------------------------------------------


@query(
    "q05_priority_with_bulk_lineitems",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle="""
    SELECT o.o_orderpriority AS o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48
    )
    GROUP BY 1
    ORDER BY 1
    """,
)
def q05_priority_with_bulk_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi join (EXISTS), then aggregate — TPC-H Q4 shape."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q4 — range (theta) join: price-band histogram via interval join
# ---------------------------------------------------------------------------


@query(
    "q04_price_band_join",
    oracle="""
    SELECT b.band AS band,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS band_value
    FROM (SELECT range AS band, range * 11000 AS lo, (range + 1) * 11000 AS hi
          FROM range(10)) b
    JOIN lineitem l ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
    GROUP BY 1
    ORDER BY 1
    """,
)
def q04_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi interval join against a tiny broadcast band table →
    BroadcastNestedLoopJoin; cost stays linear in lineitem at any scale."""
    l = table(spark, sf_dir, "lineitem")
    bands = spark.range(10).select(
        F.col("id").alias("band"),
        (F.col("id") * 11000).alias("lo"),
        ((F.col("id") + 1) * 11000).alias("hi"),
    )
    return (
        l.join(
            F.broadcast(bands),
            (l.l_extendedprice >= bands.lo) & (l.l_extendedprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            as_double(F.sum(money("l_extendedprice").cast("decimal(14,2)"))).alias("band_value"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Q6 — full aggregation battery: TPC-H Q1 pricing summary
# ---------------------------------------------------------------------------


@query(
    "q06_pricing_summary",
    oracle="""
    SELECT l_returnflag AS l_returnflag,
           l_linestatus AS l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q06_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analog. Money math in exact decimals (double SUM is
    partial-aggregation-order dependent); one cast to double at the end.

    Split aggregation: mixing COUNT(DISTINCT l_orderkey) with the other
    aggregates in one ``agg`` makes Catalyst plan an Expand (every fact
    row duplicated per aggregate branch — measured 7.9 s at sf0.1 vs
    2.1 s for this plan). Instead the heavy decimal sums run WITHOUT
    the distinct (map-side combine collapses to ~6 groups per
    partition, the shuffle is a handful of partial rows), and the
    distinct count runs separately over a slim 3-column projection
    (column-pruned scan, distinct shuffle of narrow rows), broadcast-
    joined back onto the 6-row result. Scales: neither shuffle carries
    the fact table's payload columns.
    """
    l = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc_f = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    tax_f = F.lit(1).cast("decimal(3,2)") + F.col("l_tax").cast("decimal(4,2)")
    flt = l.filter(
        F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp_ntz")
    )
    # r15 note: a single-scan two-level rewrite (level 1 keyed by
    # (flag, status, orderkey), level 2 counting those groups for the
    # distinct-order count) was built and MEASURED SLOWER at sf0.1
    # (floor 3.5 s vs ~2.1 s): the ~600k-key level-1 hash aggregate
    # (wide decimal state through the exchange) costs more than the
    # second column-pruned scan it saves. Kept: the round-3
    # split-distinct shape below — heavy decimal sums collapse
    # map-side to ~6 groups, the distinct runs over a slim 3-column
    # projection, broadcast-joined back.
    main = flt.groupBy("l_returnflag", "l_linestatus").agg(
        as_double(F.sum(F.col("l_quantity").cast("decimal(14,2)"))).alias("sum_qty"),
        as_double(F.sum(price)).alias("sum_base_price"),
        as_double(F.sum(price * disc_f)).alias("sum_disc_price"),
        as_double(F.sum(price * disc_f * tax_f)).alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )
    dist = (
        flt.select("l_returnflag", "l_linestatus", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        main.join(F.broadcast(dist), ["l_returnflag", "l_linestatus"])
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            "count_order",
            "n_orders",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q6' — rollup with grouping id
# ---------------------------------------------------------------------------


@query(
    "q07_rollup_revenue",
    declared=False,  # rotation-pool member since r6 (pairs with q75;
    # Q6 family keeps q06/q17 in the static tier every phase)
    oracle="""
    SELECT COALESCE(r.r_name, '(all)') AS region_name,
           COALESCE(n.n_name, '(all)') AS nation_name,
           CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS BIGINT) AS gid,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_spend
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY 3, 1, 2
    """,
)
def q07_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (region, nation) — hierarchical subtotals + grand total.
    grouping_id disambiguates NULL-name rows deterministically."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            as_double(F.sum(F.col("o_totalprice").cast("decimal(14,2)"))).alias("total_spend"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region_name"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation_name"),
            "gid",
            "total_spend",
        )
        .orderBy("gid", "region_name", "nation_name")
    )


# ---------------------------------------------------------------------------
# Q8/Q9 — window top-k per group
# ---------------------------------------------------------------------------


@query(
    "q08_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey AS o_custkey, o_orderkey AS o_orderkey, rnk,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        FROM orders
    )
    WHERE rnk <= 3
    ORDER BY o_custkey, rnk, o_orderkey
    """,
)
def q08_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number window; single shuffle on the
    partition key, no global sort of the fact table."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk", as_double(F.col("o_totalprice")).alias("o_totalprice"))
        .orderBy("o_custkey", "rnk", "o_orderkey")
    )


@query(
    "q09_top10_customers_by_spend",
    oracle="""
    SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_spend,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    ORDER BY total_spend DESC, c_custkey
    LIMIT 10
    """,
)
def q09_top10_customers_by_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: aggregate then orderBy().limit() — Spark's
    TakeOrderedAndProject avoids a full sort at scale."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.groupBy("o_custkey")
        .agg(
            as_double(F.sum(F.col("o_totalprice").cast("decimal(14,2)"))).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.col("total_spend").desc(), "c_custkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q10 — set operations
# ---------------------------------------------------------------------------


@query(
    "q10_segment_set_ops",
    oracle="""
    SELECT c_custkey FROM (
        (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O')
        EXCEPT
        SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 350000
    )
    UNION ALL
    SELECT c_custkey FROM customer WHERE c_acctbal < -900
    ORDER BY c_custkey
    """,
)
def q10_segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL composition (all hash-based
    distinct-style shuffles on a single bigint column)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    open_orders = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    big_spenders = o.filter(F.col("o_totalprice") > 350000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    negative = c.filter(F.col("c_acctbal") < -900).select("c_custkey")
    return (
        building.intersect(open_orders).exceptAll(big_spenders.distinct())
        .unionAll(negative)
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q11 — scalar function gallery (string / date / math / conditional)
# ---------------------------------------------------------------------------


@query(
    "q11_scalar_gallery",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           substr(o_orderpriority, 1, 1) AS prio_class,
           CASE WHEN o_totalprice > 250000 THEN 'big' ELSE 'small' END AS size_class,
           upper(o_orderstatus) AS status_u,
           COUNT(*) AS n_orders,
           CAST(SUM(o_orderkey % 7) AS BIGINT) AS mod_sum,
           COUNT(CASE WHEN o_orderpriority LIKE '%URGENT%' THEN 1 END) AS n_urgent,
           min(concat(o_orderstatus, '-', substr(o_orderpriority, 1, 1))) AS min_tag
    FROM orders
    GROUP BY 1, 2, 3, 4
    ORDER BY 1, 2, 3, 4
    """,
)
def q11_scalar_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math/conditional scalar functions — all JVM-side
    built-ins inside whole-stage codegen (no Python UDFs)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.substring("o_orderpriority", 1, 1).alias("prio_class"),
            F.when(F.col("o_totalprice") > 250000, "big").otherwise("small").alias("size_class"),
            F.upper("o_orderstatus").alias("status_u"),
            (F.col("o_orderkey") % 7).alias("okmod"),
            F.col("o_orderpriority").like("%URGENT%").alias("is_urgent"),
            F.concat("o_orderstatus", F.lit("-"), F.substring("o_orderpriority", 1, 1)).alias("tag"),
        )
        .groupBy("order_year", "prio_class", "size_class", "status_u")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("okmod").cast("bigint").alias("mod_sum"),
            F.count(F.when(F.col("is_urgent"), 1)).alias("n_urgent"),
            F.min("tag").alias("min_tag"),
        )
        .orderBy("order_year", "prio_class", "size_class", "status_u")
    )


# ---------------------------------------------------------------------------
# Q4'' — equi join with non-equi residual: late shipments
# ---------------------------------------------------------------------------


@query(
    "q12_late_shipments",
    declared=False,
    oracle="""
    SELECT o.o_orderpriority AS o_orderpriority,
           CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           COUNT(*) AS n_late_items
    FROM lineitem l
    JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + non-equi residual predicate (theta condition rides the
    sort-merge join as a post-join filter, not a cartesian)."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return (
        l.join(
            o,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
        )
        .groupBy("o_orderpriority", F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(F.count(F.lit(1)).alias("n_late_items"))
        .orderBy("o_orderpriority", "order_year")
    )


# ---------------------------------------------------------------------------
# Q1/Q6 — scalar + correlated subqueries (Catalyst rewrites to joins)
# ---------------------------------------------------------------------------


@query(
    "q42_above_avg_spenders",
    declared=False,
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS spend
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    HAVING SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) >
           (SELECT 2 * SUM(CAST(o_totalprice AS DECIMAL(14,2))) / COUNT(DISTINCT o_custkey)
            FROM orders)
    ORDER BY 1
    """,
)
def q42_above_avg_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in HAVING: customers spending > 2× the mean
    per-customer spend. Catalyst plans the subquery as a one-row
    broadcast joined into the aggregate filter — no driver round-trip,
    no second job. Exact decimal spend; the threshold division is a
    single decimal-to-double conversion in both engines."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    price = F.col("o_totalprice").cast("decimal(14,2)")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(price).alias("_spend"))
    )
    threshold = o.agg(
        (
            F.lit(2) * F.sum(price) / F.countDistinct("o_custkey")
        ).alias("_thr")
    )
    return (
        spend.crossJoin(F.broadcast(threshold))
        .filter(F.col("_spend") > F.col("_thr"))
        .select("c_custkey", "c_name", as_double(F.col("_spend")).alias("spend"))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q8 — time-range window frame (RANGE BETWEEN, not ROWS)
# ---------------------------------------------------------------------------


@query(
    "q46_moving_7day_revenue",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS ord,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY 1, 2
    )
    SELECT order_date,
           n_orders,
           CAST(rev AS DOUBLE) AS day_revenue,
           CAST(SUM(rev) OVER (
                ORDER BY ord RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS revenue_7d,
           CAST(SUM(n_orders) OVER (
                ORDER BY ord RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS orders_7d
    FROM daily
    ORDER BY 1
    """,
)
def q46_moving_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue via a RANGE frame over the day ordinal —
    value-based, so missing calendar days still shrink the window
    (a ROWS frame would silently span gaps). Decimal sums inside the
    frame keep the running totals exact.

    The window input is the PRE-AGGREGATED per-day table (|distinct
    order dates| rows — ~2.4k over seven years), not the fact table,
    so the unpartitioned global sort is bounded by the calendar, never
    by data volume; the only full-data pass is the grouped aggregate.
    That two-level shape (aggregate down, then window over the small
    series) is the scale-safe form of every moving-metric query."""
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .withColumn(
            "ord", F.datediff("order_date", F.lit("1970-01-01").cast("date"))
        )
    )
    w = W.orderBy("ord").rangeBetween(-6, 0)
    return daily.select(
        "order_date",
        "n_orders",
        as_double(F.col("rev")).alias("day_revenue"),
        as_double(F.sum("rev").over(w)).alias("revenue_7d"),
        F.sum("n_orders").over(w).cast("bigint").alias("orders_7d"),
    ).orderBy("order_date")


# ---------------------------------------------------------------------------
# q57 — distribution windows: ntile / percent_rank / cume_dist
# ---------------------------------------------------------------------------


@query(
    "q57_spend_deciles",
    declared=False,
    oracle="""
    WITH s AS (
        SELECT c_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    )
    SELECT c_custkey, spend,
           NTILE(10)       OVER w AS decile,
           PERCENT_RANK()  OVER w AS pct_rank,
           CUME_DIST()     OVER w AS cume
    FROM s
    WINDOW w AS (ORDER BY spend DESC, c_custkey)
    ORDER BY spend DESC, c_custkey
    """,
)
def q57_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window battery — ntile deciles, percent_rank, and
    cume_dist over customer lifetime spend (exact decimal sums; the
    double cast happens once, after aggregation). The window input is
    the per-customer aggregate (|customers| rows), not the fact table,
    and the ordering carries a custkey tiebreak so every rank function
    is deterministic. The global window is the scale bound here, and
    it is a SINGLE-partition sort (Spark moves an unpartitioned
    window's whole input to one task — WindowExec warns; this is NOT
    a range-partitioned exchange); SCALE.md puts that one task's
    measured bound at ~1e8 customers."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(as_double(F.sum(money("o_totalprice"))).alias("spend"))
    )
    w = W.orderBy(F.desc("spend"), F.asc("c_custkey"))
    return s.select(
        "c_custkey",
        "spend",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    ).orderBy(F.desc("spend"), F.asc("c_custkey"))


# ---------------------------------------------------------------------------
# q58 — exact second moments: stddev / correlation from integer sums
# ---------------------------------------------------------------------------


@query(
    "q58_exact_moments",
    declared=False,
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS xc,
               CAST(l_quantity AS BIGINT) AS y
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(xc AS HUGEINT)) AS sx,
               SUM(CAST(xc AS HUGEINT) * xc) AS sxx,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(xc AS HUGEINT) * y) AS sxy
        FROM m GROUP BY 1
    )
    SELECT l_returnflag, n,
           ROUND(CAST(sx AS DOUBLE) / (100.0 * CAST(n AS DOUBLE)), 6) AS avg_price,
           ROUND(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                 / 100.0, 6) AS stddev_price,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS corr_price_qty
    FROM s ORDER BY l_returnflag
    """,
)
def q58_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerically exact variance/correlation at any scale: built-in
    stddev/corr accumulate doubles, so their low digits depend on
    partial-aggregation ORDER — two runs of the same query on different
    partitionings disagree. Here every cross-row sum is exact integer
    math (cents as decimal(19,0); squares/products as decimal(38,0) —
    ~6e19 max at sf1, 19 digits of headroom at 100 TB), and the
    double formulas run once per GROUP on identical exact inputs, so
    the result is bit-identical under any partitioning, AQE re-plan, or
    engine (the DuckDB oracle hash-matches through HUGEINT sums)."""
    li = table(spark, sf_dir, "lineitem")
    cents = (money("l_extendedprice") * 100).cast("decimal(19,0)")
    m = li.select(
        "l_returnflag",
        cents.alias("xc"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    # r15: per-ROW products run in BIGINT (exact; xc is integral cents
    # < ~1.1e7 in the TPC-H domain, so xc*xc < 1.3e14 — BIGINT holds
    # any price below ~$30M) and only the CROSS-ROW sum accumulates as
    # decimal(38,0), where the headroom argument above lives. Same
    # values (verified row-equal), ~10% cheaper per row than the
    # BigDecimal multiplies (A/B at sf0.1: 0.96→0.83 s min).
    xb = F.col("xc").cast("bigint")
    s = m.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xc").alias("sx"),
        F.sum((xb * xb).cast("decimal(38,0)")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum((xb * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return s.select(
        "l_returnflag",
        "n",
        F.round(sx / (100.0 * n), 6).alias("avg_price"),
        F.round(F.sqrt((n * sxx - sx * sx) / (n * (n - 1.0))) / 100.0, 6).alias(
            "stddev_price"
        ),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_price_qty"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q62 — salted top-k per key (skew-safe Q8/Q9 physical plan, oracle-identical)
# ---------------------------------------------------------------------------


@query(
    "q62_salted_topk_orders",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle="""
    WITH o AS (SELECT o_custkey, o_orderkey,
                      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                          AS price_cents
               FROM orders)
    SELECT o_custkey, rn, o_orderkey, price_cents
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY o_custkey
              ORDER BY price_cents DESC, o_orderkey) AS rn
          FROM o)
    WHERE rn <= 2
    ORDER BY o_custkey, rn
    """,
)
def q62_salted_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q08's top-k-per-group via the SKEW-SAFE two-phase plan
    (operators/skew.py topk_per_key): local top-k per (customer, salt)
    first, final rank over <= k*salts survivors — a hot customer's
    orders never sort in one task. The oracle is the NAIVE window, so
    the driver hash-check pins exact equivalence."""
    from eventsgateway_spark.operators.skew import topk_per_key

    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        (money("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    return (
        topk_per_key(
            o,
            keys=["o_custkey"],
            order_by=[F.col("price_cents").desc(), F.col("o_orderkey").asc()],
            k=2,
        )
        .select(
            "o_custkey",
            F.col("rn").cast("bigint").alias("rn"),
            "o_orderkey",
            "price_cents",
        )
        .orderBy("o_custkey", "rn")
    )
