"""Relational core: scan → filter → aggregate → sort, join chains,
conditional aggregation, grouping sets, set operations.

Reproduces the reference's aggregation semantics (SURVEY.md §2.4:
funding summary A1, histogram A7, sentiment A3, entity counts A4)
on the star schema, expressed as declarative DataFrame plans so
Catalyst gets predicate pushdown, partial aggregation and broadcast
join selection for free.

Scale notes (100 TB): every groupBy here is a hash aggregate with
map-side partial aggregation; dimension joins broadcast (region,
nation, supplier, part are bounded); fact-fact joins shuffle on the
join key and AQE handles skew/coalescing at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, GroupedData, SparkSession
from pyspark.sql import functions as F

from project_orbit_spark.catalog import load, maybe_broadcast, sort_bounded
from project_orbit_spark.registry import register


@register(
    "q1_pricing_summary",
    bench=True,
    tags=("agg", "flagship"),
    doc="Flagship: TPC-H Q1-shaped pricing summary (A1 funding-summary "
    "analog, ref src/structured_extraction_v2.py:1984-2001). "
    "scan→filter→groupBy→agg→sort, whole-stage-codegen friendly.",
    oracle="""
        SELECT
          l_returnflag,
          l_linestatus,
          round(sum(l_quantity), 2)                                        AS sum_qty,
          round(sum(l_extendedprice), 2)                                   AS sum_base_price,
          round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
          round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
          round(round(sum(l_quantity), 2) / count(*), 6)                   AS avg_qty,
          round(round(sum(l_extendedprice), 2) / count(*), 6)              AS avg_price,
          round(round(sum(l_discount), 4) / count(*), 6)                   AS avg_disc,
          count(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            # round(sum)/count, not avg(): the inputs are 2dp-quantized,
            # so avg() lands exactly on round boundaries where FP
            # summation-order noise (which varies per run) flips digits
            F.round(F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1)), 6).alias("avg_price"),
            F.round(F.round(F.sum("l_discount"), 4) / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    # bound: one row per (returnflag, linestatus) group, ≤ 6
    return sort_bounded(agg, "l_returnflag", "l_linestatus")


@register(
    "q3_top_revenue_orders",
    bench=True,
    tags=("join", "agg", "topk"),
    doc="TPC-H Q3 shape: customer⋈orders⋈lineitem, segment filter, "
    "revenue per order, top-10 (W3 head-slice semantics, ref "
    "src/rag_search.py:90). Broadcast-able dim side, shuffle join on "
    "orderkey; deterministic tie-break on o_orderkey.",
    oracle="""
        SELECT
          o.o_orderkey,
          strftime(o.o_orderdate, '%Y-%m-%d')                      AS orderdate,
          o.o_orderpriority,
          round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)    AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
          AND l.l_shipdate  > TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d'), o.o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_revenue_by_nation",
    bench=True,
    tags=("join", "agg", "broadcast"),
    doc="TPC-H Q5 shape: region⋈nation⋈customer⋈orders⋈lineitem. "
    "The dim chain broadcasts (reference's seed-dimension pattern, "
    "SURVEY §2.3 J1 note); only the orders⋈lineitem join shuffles.",
    oracle="""
        SELECT
          n.n_name,
          round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
          count(*)                                              AS n_lineitems
        FROM region r
        JOIN nation n   ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE r.r_name IN ('AMERICA', 'ASIA')
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n_name
    """,
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region").filter(F.col("r_name").isin("AMERICA", "ASIA"))
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem")
    dims = F.broadcast(r.join(n, n.n_regionkey == r.r_regionkey).join(
        c, F.col("c_nationkey") == F.col("n_nationkey")
    ))
    agg = (
        dims.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
    # bound: one row per nation of the two regions (nation dim)
    return sort_bounded(agg, F.desc("revenue"), F.asc("n_name"))


@register(
    "dim_chain_counts",
    tags=("join", "broadcast", "agg"),
    doc="Broadcast dimension chain region⋈nation⋈customer with counts "
    "and avg balance (A4 entity-summary-counts analog, ref "
    "src/scraper_v2.py:4085-4093).",
    oracle="""
        SELECT
          r.r_name,
          n.n_name,
          count(*)                    AS n_customers,
          round(round(sum(c.c_acctbal), 2) / count(*), 6)  AS avg_acctbal
        FROM region r
        JOIN nation n   ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY r.r_name, n.n_name
        ORDER BY r.r_name, n.n_name
    """,
)
def dim_chain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.round(F.sum("c_acctbal"), 2) / F.count(F.lit(1)), 6).alias("avg_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


@register(
    "event_type_histogram",
    tags=("agg",),
    doc="A7 event-type histogram + A3 conditional 'sentiment' aggregates "
    "(ref src/structured_extraction_v2.py:3504-3508, :3196-3207): "
    "counts per type plus safe-divide purchase ratio.",
    oracle="""
        SELECT
          event_type,
          count(*)                AS n_events,
          round(sum(value), 2)    AS total_value,
          round(round(sum(value), 2) / count(*), 6)    AS avg_value,
          count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def event_type_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.round(F.sum("value"), 2) / F.count(F.lit(1)), 6).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@register(
    "sentiment_ratio",
    tags=("agg", "conditional"),
    doc="A3 keyword-sentiment ratio semantics (ref "
    "src/structured_extraction_v2.py:3196-3207): positive/(pos+neg) "
    "with NULL on zero denominator via try_divide, per user bucket.",
    oracle="""
        SELECT
          user_id % 10 AS user_bucket,
          CAST(sum(CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END) AS BIGINT)
            AS positive,
          CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS negative,
          round(
            sum(CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END)
            / nullif(
                sum(CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END)
                + sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END), 0)::DOUBLE,
            4) AS sentiment
        FROM events
        GROUP BY user_id % 10
        ORDER BY user_bucket
    """,
)
def sentiment_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    pos = F.sum(F.when(F.col("event_type").isin("purchase", "signup"), 1).otherwise(0))
    neg = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(
            pos.alias("positive"),
            neg.alias("negative"),
            F.round(
                F.try_divide(pos, F.nullif((pos + neg).cast("double"), F.lit(0.0))),
                4,
            ).alias("sentiment"),
        )
        .orderBy("user_bucket")
    )


def _with_empty_total(grouped: GroupedData, o: DataFrame, *aggs: Column) -> DataFrame:
    """``grouped.agg(*aggs)`` for a rollup or cube over ``o``, plus the
    grand-total row when ``o`` is empty. Spark plans grouping sets as
    Expand and a keyed Aggregate, which emits no row over empty input;
    SQL's ``()`` set is one row there. A global aggregate always emits
    that row; it is kept only when it counts no rows (``n_orders``),
    since over any other input the keyed result already holds it. The
    grouping keys come out NULL, as in the ``()`` set."""
    total = o.agg(*aggs).filter(F.col("n_orders") == 0)
    return grouped.agg(*aggs).unionByName(total, allowMissingColumns=True)


@register(
    "rollup_order_stats",
    tags=("agg", "rollup"),
    doc="ROLLUP over (orderstatus, orderpriority) — partial/final "
    "grouping-sets aggregation the reference lacks but Spark gives "
    "free (SURVEY §2.4 closing note). NULL grouping keys coalesced "
    "to 'ALL' for stable hashing.",
    oracle="""
        SELECT
          coalesce(o_orderstatus, 'ALL')   AS orderstatus,
          coalesce(o_orderpriority, 'ALL') AS orderpriority,
          count(*)                         AS n_orders,
          round(sum(o_totalprice), 2)      AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY orderstatus, orderpriority
    """,
)
def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    agg = _with_empty_total(
        o.rollup("o_orderstatus", "o_orderpriority"),
        o,
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    ).select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
        "n_orders",
        "total_price",
    )
    # bound: 3 order statuses × 5 priorities + 3 subtotals + the total
    # (19 rows; TPC-H fixes both domains at every scale factor)
    return sort_bounded(agg, "orderstatus", "orderpriority")


@register(
    "grouping_sets_orders_sql",
    tags=("agg", "rollup", "sql"),
    doc="Explicit GROUPING SETS ((status), (priority), ()) through the "
    "spark.sql entry point — the SQL face of the engine (every other "
    "query is DataFrame-API; this one proves the catalog + SQL parser "
    "path end-to-end). Sets chosen so neither ROLLUP nor CUBE "
    "expresses them.",
    oracle="""
        SELECT
          coalesce(o_orderstatus, 'ALL')   AS orderstatus,
          coalesce(o_orderpriority, 'ALL') AS orderpriority,
          count(*)                         AS n_orders,
          round(sum(o_totalprice), 2)      AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY orderstatus, orderpriority
    """,
)
def grouping_sets_orders_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    agg = spark.sql(
        """
        SELECT
          coalesce(o_orderstatus, 'ALL')   AS orderstatus,
          coalesce(o_orderpriority, 'ALL') AS orderpriority,
          count(*)                         AS n_orders,
          round(sum(o_totalprice), 2)      AS total_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        UNION ALL
        -- the () set's row over an empty input (see _with_empty_total)
        SELECT 'ALL', 'ALL', count(*), round(sum(o_totalprice), 2)
        FROM orders_v
        HAVING count(*) = 0
        """
    )
    # bound: 3 order statuses + 5 priorities + the total (9 rows; TPC-H
    # fixes both domains at every scale factor)
    return sort_bounded(agg, "orderstatus", "orderpriority")


@register(
    "nation_set_ops",
    tags=("setops",),
    doc="O4/O5 set-operation semantics (ref src/rag_pipeline.py:203-213 "
    "missing-section diff): nationkeys with customers INTERSECT/"
    "EXCEPT nationkeys with suppliers, tagged and unioned.",
    oracle="""
        SELECT 'both' AS side, n_nationkey FROM (
          SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
          INTERSECT
          SELECT DISTINCT s_nationkey FROM supplier
        )
        UNION ALL
        SELECT 'customer_only' AS side, n_nationkey FROM (
          SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
          EXCEPT
          SELECT DISTINCT s_nationkey FROM supplier
        )
        ORDER BY side, n_nationkey
    """,
)
def nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey")
    ).distinct()
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey")
    ).distinct()
    both = c.intersect(s).select(F.lit("both").alias("side"), "n_nationkey")
    conly = c.exceptAll(s).select(F.lit("customer_only").alias("side"), "n_nationkey")
    return both.unionByName(conly).orderBy("side", "n_nationkey")


@register(
    "mktsegment_share",
    tags=("agg", "window"),
    doc="Share-of-total via window over aggregate (A4+W-family): "
    "customer count and balance share per market segment.",
    oracle="""
        SELECT
          c_mktsegment,
          count(*) AS n_customers,
          round(sum(c_acctbal), 2) AS seg_balance,
          round(sum(c_acctbal) / sum(sum(c_acctbal)) OVER (), 6) AS balance_share
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
)
def mktsegment_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    agg = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("c_acctbal").alias("_seg_balance"),
    )
    w = Window.partitionBy()
    return agg.select(
        "c_mktsegment",
        "n_customers",
        F.round("_seg_balance", 2).alias("seg_balance"),
        F.round(F.col("_seg_balance") / F.sum("_seg_balance").over(w), 6).alias(
            "balance_share"
        ),
    ).orderBy("c_mktsegment")


@register(
    "cube_order_stats",
    tags=("agg", "cube"),
    doc="CUBE over (orderstatus, year) — full grouping-sets lattice "
    "(SURVEY §2.4 closing note: free in Spark, absent in the "
    "reference). NULLs coalesced for stable hashing.",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
               coalesce(CAST(order_year AS VARCHAR), 'ALL') AS order_year,
               count(*) AS n_orders,
               round(round(sum(o_totalprice), 2) / count(*), 6) AS avg_price
        FROM (
          SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS order_year,
                 o_totalprice
          FROM orders
        )
        GROUP BY CUBE (o_orderstatus, order_year)
        ORDER BY orderstatus, order_year
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_totalprice",
    )
    agg = _with_empty_total(
        o.cube("o_orderstatus", "order_year"),
        o,
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.round(F.sum("o_totalprice"), 2) / F.count(F.lit(1)), 6).alias("avg_price"),
    ).select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
        F.coalesce(F.col("order_year").cast("string"), F.lit("ALL")).alias("order_year"),
        "n_orders",
        "avg_price",
    )
    # bound: (3 order statuses + 1) × (7 order years 1992–1998 + 1) = 32
    # rows; TPC-H fixes both domains at every scale factor
    return sort_bounded(agg, "orderstatus", "order_year")


@register(
    "multi_distinct_aggregates",
    tags=("agg", "distinct"),
    doc="Multiple DISTINCT aggregates in one pass (Catalyst's expand-"
    "based distinct-agg rewrite): per event_type, distinct users, "
    "distinct days, and a plain sum — three different distinct keys.",
    oracle="""
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
               count(DISTINCT CAST(floor(value) AS INT) % 100) AS n_value_buckets,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def multi_distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(F.date_format("ts", "yyyy-MM-dd")).alias("n_days"),
            F.countDistinct(F.floor("value").cast("int") % 100).alias("n_value_buckets"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "pivot_daily_event_matrix",
    tags=("agg", "pivot"),
    doc="A10 metrics-counter matrix (ref src/agents/metrics.py:29-147) "
    "as a pivot: days × event types, one counter column per type "
    "(Spark pivot ≡ conditional-sum oracle).",
    oracle="""
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        FROM events
        GROUP BY strftime(ts, '%Y-%m-%d')
        ORDER BY day
    """,
)
def pivot_daily_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for absent combos; metrics semantics want 0
    return pivoted.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
          for t in ["click", "error", "purchase", "signup", "view"]],
    ).orderBy("day")


@register(
    "order_value_percentiles",
    tags=("agg", "percentile"),
    doc="Exact interpolated percentiles per order status (Spark "
    "percentile() ≡ DuckDB quantile_cont — same linear interpolation; "
    "at 100 TB swap for percentile_approx and accept sketch error).",
    oracle="""
        SELECT o_orderstatus,
               CAST(round(quantile_cont(o_totalprice, 0.5), 2) AS DOUBLE) AS p50,
               CAST(round(quantile_cont(o_totalprice, 0.9), 2) AS DOUBLE) AS p90,
               CAST(round(quantile_cont(o_totalprice, 0.99), 2) AS DOUBLE) AS p99
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
            F.round(F.percentile("o_totalprice", F.lit(0.99)), 2).alias("p99"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "above_segment_avg_customers",
    tags=("window", "subquery"),
    doc="Correlated-scalar-subquery shape via window (customers whose "
    "balance beats their segment average) — one shuffle instead of a "
    "per-row subquery re-scan.",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               round(c_acctbal, 2) AS acctbal,
               round(seg_avg, 4) AS seg_avg
        FROM (
          SELECT c_custkey, c_mktsegment, c_acctbal,
                 round(sum(c_acctbal) OVER (PARTITION BY c_mktsegment), 2)
                   / count(*) OVER (PARTITION BY c_mktsegment) AS seg_avg
          FROM customer
        ) t
        WHERE c_acctbal > seg_avg
        ORDER BY c_custkey
    """,
)
def above_segment_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment")
    seg_avg = F.round(F.sum("c_acctbal").over(w), 2) / F.count(F.lit(1)).over(w)
    return (
        c.withColumn("seg_avg", seg_avg)
        .filter(F.col("c_acctbal") > F.col("seg_avg"))
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.round("seg_avg", 4).alias("seg_avg"),
        )
        .orderBy("c_custkey")
    )


@register(
    "json_props_extraction",
    tags=("json",),
    doc="C15 embedded-JSON extraction (ref src/scraper_v2.py:156-174): "
    "from_json with schema over the events props column + "
    "get_json_object path access, aggregated per extracted key bucket.",
    oracle="""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
               count(*) AS n_events,
               CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        FROM events
        GROUP BY CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
        ORDER BY k_bucket
    """,
)
def json_props_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k long"))
    return (
        parsed.groupBy((F.col("p.k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("p.k").alias("min_k"),
            F.max("p.k").alias("max_k"),
        )
        .orderBy("k_bucket")
    )


@register(
    "q6_forecast_revenue",
    bench=True,
    tags=("agg", "filter"),
    doc="TPC-H Q6 shape: pure scan→filter→agg, the pushdown-and-prune "
    "showcase — three pushed predicates, two read columns, one "
    "scalar result.",
    oracle="""
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_matched
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )


@register(
    "q18_large_order_customers",
    tags=("agg", "having", "join"),
    doc="TPC-H Q18 shape: HAVING over a grouped sum (large-quantity "
    "orders), then join back to customer — aggregate-filter-join "
    "pipeline. The HAVING is WINDOW-FREE: the per-order sum "
    "aggregates once on the orderkey (the single fact shuffle, "
    "map-side partials) and the threshold filters the AGGREGATE "
    "directly — no IN-subquery second lineitem scan. r11: the "
    "qualifying-order build is SIZE-GATED (catalog.maybe_broadcast, "
    "probe = the orders key column, an upper bound on the one-row-"
    "per-orderkey aggregate) — it survives ~3% of an orders-scale "
    "key set, unbounded on a star where orders scale with the fact "
    "table, so past the bound AQE decides from the runtime size. "
    "The top-50 is a TakeOrdered per-partition heap.",
    oracle="""
        WITH big AS (
          SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
          FROM lineitem
          GROUP BY l_orderkey
          HAVING sum(l_quantity) > 150
        )
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
               b.total_qty
        FROM big b
        JOIN orders o   ON o.o_orderkey = b.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY b.total_qty DESC, o.o_orderkey
        LIMIT 50
    """,
)
def q18_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_tq"))
        .filter(F.col("_tq") > 150)
        .select("l_orderkey", F.round("_tq", 2).alias("total_qty"))
    )
    # bound: 1M rows; the probe (orders' key column) upper-bounds the
    # per-orderkey aggregate without executing the aggregate twice
    return (
        o.join(maybe_broadcast(big, 1_000_000, probe=o.select("o_orderkey")),
               o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(50)
    )


@register(
    "order_count_distribution",
    tags=("relational", "join", "agg"),
    doc="TPC-H Q13-shaped activity distribution: customers LEFT "
    "JOINed to their orders with a predicate INSIDE the join "
    "condition (urgent-priority orders only) — the classic outer-join "
    "semantics trap, since filtering in WHERE would silently drop the "
    "zero-order customers the query exists to count — then a "
    "two-level aggregation: orders per customer, customers per order "
    "count. Scale shape: the first aggregate shuffles on the "
    "high-cardinality customer key (map-side partials), the second is "
    "tiny; the oracle catches any ON-vs-WHERE mistranslation because "
    "the n_orders=0 row vanishes under the wrong semantics.",
    oracle="""
        SELECT n_orders, count(*) AS n_customers
        FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
          FROM customer c
          LEFT JOIN orders o
            ON o.o_custkey = c.c_custkey
           AND o.o_orderpriority = '1-URGENT'
          GROUP BY c.c_custkey
        )
        GROUP BY n_orders
        ORDER BY n_customers DESC, n_orders DESC
    """,
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_customer = (
        c.join(
            o,
            (o.o_custkey == c.c_custkey) & (o.o_orderpriority == "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_customer.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


@register(
    "q17_small_quantity_revenue",
    bench=True,
    tags=("relational", "subquery", "join", "agg"),
    doc="TPC-H Q17 shape: average yearly revenue lost to small-"
    "quantity orders — a CORRELATED scalar subquery (per-part 20% "
    "of avg quantity) written the way Catalyst decorrelates it, with "
    "the subquery input PRUNED FIRST (VERDICT r10 ask #3): lineitem "
    "is semi-joined to the brand-filtered part set BEFORE the "
    "per-part aggregate, so only the ~1/5 of fact rows whose partkey "
    "can survive the final join are ever aggregated (the correlated "
    "avg is per-partkey, so dropping other partkeys' rows is "
    "result-identical). The aggregate then joins back under a "
    "SIZE-GATED broadcast hint (probe: the filtered part dim, an "
    "upper bound on the agg's row count) — on a star where the part "
    "dim scales with the data, the gate declines and AQE picks the "
    "strategy instead of force-broadcasting a dim-sized aggregate. "
    "Determinism: l_quantity holds integers, so avg = exact-integer-"
    "sum / count is order-independent; revenue is summed in exact "
    "cents (round(price*100) as long) so the final 2dp figure has no "
    "float summation-order exposure at all.",
    oracle="""
        SELECT p.p_brand,
               round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                     / 700.0, 2) AS avg_yearly_revenue
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand IN ('Brand#3', 'Brand#8', 'Brand#14', 'Brand#19', 'Brand#25')
          AND l.l_quantity < (
            SELECT 0.2 * avg(l2.l_quantity)
            FROM lineitem l2
            WHERE l2.l_partkey = p.p_partkey
          )
        GROUP BY p.p_brand
        ORDER BY p.p_brand
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#3", "Brand#8", "Brand#14", "Brand#19", "Brand#25")
    )
    pkeys = p.select("p_partkey")
    # the decorrelated subquery, pruned first: the correlated avg is
    # per-partkey, so semi-joining lineitem to the brand-filtered part
    # set before the groupBy drops the ~80% of the aggregation that
    # the final inner join would discard anyway — result-identical
    part_avg = (
        li.join(F.broadcast(pkeys), li.l_partkey == pkeys.p_partkey, "left_semi")
        .groupBy("l_partkey")
        .agg((F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"))
        .select("l_partkey", (F.lit(0.2) * F.col("avg_qty")).alias("qty_cut"))
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    # bound: 1M rows of (long, double) ≈ 16 MB — comfortably a
    # broadcast; past it, AQE decides from the runtime size. The probe
    # (filtered part dim) upper-bounds the agg's one-row-per-partkey
    # output without executing the aggregate twice.
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(maybe_broadcast(part_avg, 1_000_000, probe=pkeys), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(cents).cast("double") / 700.0, 2).alias("avg_yearly_revenue")
        )
    )
    # bound: the 5 brands of the part filter
    return sort_bounded(agg, "p_brand")


@register(
    "q7_nation_pair_volume",
    bench=True,
    tags=("relational", "join", "agg", "broadcast"),
    doc="TPC-H Q7 shape (volume shipping) on the trimmed star schema: "
    "revenue between two trading nations by (supplier nation, customer "
    "nation, ship year) for 1996-1997, where one side is NATION_3 and "
    "the other NATION_7 in either direction. Both nation-filtered dims "
    "(supplier⋈nation, customer⋈nation) broadcast onto the fact scans "
    "— the customer-side filter prunes orders BEFORE the only real "
    "shuffle (orders⋈lineitem on orderkey), so at 100 TB the shuffled "
    "volume is ~2/25ths of the fact table, not all of it. The pair "
    "disjunction rides as a residual on the assembled rows. Revenue "
    "accumulates as exact integer cents×discount-percent products "
    "(the q15 contract), so summation order is irrelevant.",
    oracle="""
        SELECT supp_nation, cust_nation, l_year,
               round(CAST(sum(v4) AS DOUBLE) / 10000.0, 2) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
                 CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l.l_discount) * 100) AS BIGINT) AS v4
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o   ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
          JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
          WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
              OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
            AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        )
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("NATION_3", "NATION_7")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    # nation-filtered dims: tiny, broadcast onto each fact side
    s = (
        load(spark, sf_dir, "supplier")
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load(spark, sf_dir, "customer")
        .join(n, F.col("n_nationkey") == F.col("c_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    # customer filter prunes orders BEFORE the orderkey shuffle.
    # Size-gated hint (bound: 1M two-column rows ≈ 24 MB): the build
    # derives from the CUSTOMER dim, which scales with the star on a
    # real lake — past the bound AQE picks the strategy instead.
    o = load(spark, sf_dir, "orders").join(
        maybe_broadcast(c, 1_000_000), F.col("c_custkey") == F.col("o_custkey")
    )
    v4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
    )
    agg = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(F.sum(v4).cast("double") / 10000.0, 2).alias("revenue")
        )
    )
    # bound: 2 nation pairs × the 2 ship years of the filter, ≤ 4 rows
    return sort_bounded(agg, "supp_nation", "cust_nation", "l_year")


@register(
    "q8_nation_market_share",
    bench=True,
    tags=("relational", "join", "agg", "broadcast"),
    doc="TPC-H Q8 shape (national market share): of the ECONOMY-part "
    "order volume sold into AMERICA-region customers during 1996-1997, "
    "the share supplied from NATION_6, per order year. The CASE-ratio "
    "decorrelates to two conditional sums in ONE aggregate pass — "
    "never a self-join of the yearly totals. All dims (part filtered "
    "to one type, region→nation→customer chain, supplier→nation) "
    "broadcast; part and customer prune the fact scans ahead of the "
    "single orderkey shuffle. Numerator and denominator both "
    "accumulate exact integer cents×percent, so the final double "
    "ratio is a deterministic function of two exact integers.",
    oracle="""
        SELECT o_year,
               round(CAST(sum(CASE WHEN supp_nation = 'NATION_6'
                                   THEN v4 ELSE 0 END) AS DOUBLE)
                     / CAST(sum(v4) AS DOUBLE), 6) AS mkt_share
        FROM (
          SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                 n1.n_name AS supp_nation,
                 CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l.l_discount) * 100) AS BIGINT) AS v4
          FROM lineitem l
          JOIN part p     ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
          JOIN orders o   ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
          JOIN region r   ON r.r_regionkey = n2.n_regionkey
          WHERE r.r_name = 'AMERICA'
            AND p.p_type = 'ECONOMY'
            AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        )
        GROUP BY o_year
        ORDER BY o_year
    """,
)
def q8_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    sn = (
        load(spark, sf_dir, "supplier")
        .join(
            load(spark, sf_dir, "nation"),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    # region→nation→customer chain, filtered to AMERICA
    cr = (
        load(spark, sf_dir, "region")
        .filter(F.col("r_name") == "AMERICA")
        .join(
            load(spark, sf_dir, "nation"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(
            load(spark, sf_dir, "customer"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        # size-gated: the AMERICA-filtered customer chain is ~1/5 of a
        # dim that scales with the star (bound: 1M single-key rows)
        .join(maybe_broadcast(cr, 1_000_000), F.col("c_custkey") == F.col("o_custkey"))
        .select("o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"))
    )
    li = load(spark, sf_dir, "lineitem")
    v4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
    ).alias("v4")
    vol = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(sn), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_year", "supp_nation", v4)
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_6", F.col("v4")).otherwise(F.lit(0))
    )
    share = vol.groupBy("o_year").agg(
        F.round(num.cast("double") / F.sum("v4").cast("double"), 6).alias("mkt_share")
    )
    # bound: the 2 order years of the filter
    return sort_bounded(share, "o_year")


@register(
    "q14_promo_revenue_share",
    tags=("relational", "join", "agg", "broadcast"),
    doc="TPC-H Q14 shape (promotion effect): the percentage of one "
    "month's lineitem revenue attributable to PROMO-type parts — the "
    "CASE-ratio over a month-pruned fact scan joined to the broadcast "
    "part dim. One aggregate pass, one output row; both sums are "
    "exact integer cents×percent, so the percentage is deterministic. "
    "The shipdate month prunes at the parquet scan (PushedFilters).",
    oracle="""
        SELECT round(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                                           THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                                                * CAST(round((1 - l.l_discount) * 100) AS BIGINT)
                                           ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                                * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE),
                     4) AS promo_revenue_pct
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    v4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", v4).otherwise(F.lit(0)))
    return li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")).agg(
        F.round(
            F.lit(100.0) * promo.cast("double") / F.sum(v4).cast("double"), 4
        ).alias("promo_revenue_pct")
    )


@register(
    "q19_disjunctive_revenue",
    tags=("relational", "join", "agg", "pushdown"),
    doc="TPC-H Q19 shape (discounted revenue, disjunctive predicates): "
    "revenue from lines matching an OR of three (brand, size range, "
    "quantity range) conjunctions — the one predicate SHAPE where what "
    "reaches the scan decides the cost at 100 TB. Catalyst will not "
    "push a cross-table OR, so each scan gets its IMPLIED single-table "
    "envelope explicitly: the part scan gets the (brand,size) "
    "disjunction, the lineitem scan gets the derived quantity bounds "
    "(1..30) — both land in PushedFilters (pinned by a plan test) — "
    "and the full compound condition rides as a residual after the "
    "broadcast part join. Revenue in exact integer cents×percent.",
    oracle="""
        SELECT round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                              * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE)
                     / 10000.0, 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # implied single-table envelopes, pushed to each scan explicitly
    p = load(spark, sf_dir, "part").filter(
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 30))
    v4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
    )
    compound = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(compound)
        .agg(
            F.round(F.sum(v4).cast("double") / 10000.0, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q9_nation_profit",
    # Was driver=False for round 10 only (case 2, slot budget);
    # flipped per that note — round 11's window has exactly the spare
    # slots (44 r07 rotations + 5 flips + q17 changed-path = 50).
    driver=True,
    bench=True,
    tags=("relational", "join", "agg", "broadcast"),
    doc="TPC-H Q9 shape (product-type profit) on the trimmed schema: "
    "profit per (supplier nation, order year) for parts named "
    "'*widget*', with retail cost standing in for the missing "
    "ps_supplycost (profit = discounted revenue − p_retailprice × "
    "quantity). Part and supplier⋈nation dims broadcast; the only "
    "shuffle is orders⋈lineitem on orderkey. Revenue and cost both "
    "accumulate in the exact 10⁻⁴-dollar integer domain (cents × "
    "discount-percent; cents × integer qty × 100), so the profit sum "
    "is order-independent. The output stays the UNROUNDED exact "
    "integer / 10⁴ (magnitudes < 2^53, so the double is exact and "
    "bit-identical in both engines): cost terms are multiples of 100 "
    "in the 10⁻⁴ domain, which parks sums on .xx5 half-cent "
    "boundaries where Spark (shortest-decimal HALF_UP) and DuckDB "
    "(binary-value) round(x, 2) legitimately disagree — measured on "
    "this very query at sf0.001.",
    oracle="""
        SELECT nation, o_year,
               CAST(sum(profit4) AS DOUBLE) / 10000.0 AS profit
        FROM (
          SELECT n.n_name AS nation,
                 CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                 CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l.l_discount) * 100) AS BIGINT)
                 - CAST(round(p.p_retailprice * 100) AS BIGINT)
                   * CAST(l.l_quantity AS BIGINT) * 100 AS profit4
          FROM lineitem l
          JOIN part p     ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n   ON n.n_nationkey = s.s_nationkey
          JOIN orders o   ON o.o_orderkey = l.l_orderkey
          WHERE p.p_name LIKE '%widget%'
        )
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
    """,
)
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    sn = (
        load(spark, sf_dir, "supplier")
        .join(
            load(spark, sf_dir, "nation"),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    profit4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
        - F.round(F.col("p_retailprice") * 100, 0).cast("long")
        * F.col("l_quantity").cast("long")
        * F.lit(100).cast("long")
    )
    agg = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(sn), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", "o_year")
        .agg((F.sum(profit4).cast("double") / 10000.0).alias("profit"))
    )
    # bound: nations (nation dim) × order years (calendar), not facts
    return sort_bounded(agg, "nation", F.desc("o_year"))


@register(
    "q10_returned_item_customers",
    # Was driver=False for round 10 only (case 2); flipped per the
    # q9_nation_profit note.
    driver=True,
    bench=True,
    tags=("relational", "join", "agg", "topk"),
    doc="TPC-H Q10 shape (returned-item reporting): the top 20 "
    "customers by revenue lost to returns (l_returnflag = 'R') for "
    "orders placed in 1996Q4, with their nation. Customer⋈nation "
    "broadcasts; the quarter filter prunes orders at the scan before "
    "the orderkey shuffle; the global top-20 is a TakeOrdered (per-"
    "partition heap + driver merge), never a full sort. Revenue in "
    "exact cents×percent makes the rank — and therefore the LIMIT "
    "boundary — deterministic, with c_custkey as the tie-break. The "
    "revenue output is the UNROUNDED exact integer / 10⁴ (the q9 "
    "contract): the rounding-boundary audit found 7 customers at "
    "sf0.01 (45 at sf0.1) whose returned-revenue sums sit exactly on "
    "a half cent, where Spark and DuckDB round() disagree — rounding "
    "here was a latent hash flip waiting for one of them to enter "
    "the top 20.",
    oracle="""
        SELECT c.c_custkey, c.c_name,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE)
                 / 10000.0 AS revenue,
               round(c.c_acctbal, 2) AS c_acctbal, n.n_name
        FROM customer c
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = (
        load(spark, sf_dir, "customer")
        .join(
            load(spark, sf_dir, "nation"),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    v4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cn), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(v4).cast("double") / 10000.0).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q12_delay_bucket_priority",
    # Was driver=False for round 10 only (case 2); flipped per the
    # q9_nation_profit note.
    driver=True,
    bench=True,
    tags=("relational", "join", "agg"),
    doc="TPC-H Q12 shape on the trimmed schema (shipping-delay "
    "buckets stand in for the missing l_shipmode): 1996 orders "
    "bucketed by ship lag (<30d fast / ≤60d normal / late), with the "
    "CASE-counts of critical (1-URGENT/2-HIGH) vs other priorities "
    "per bucket — Q12's conditional-count shape. One orderkey "
    "shuffle; the year filter prunes orders at the scan; counts are "
    "pure integers, no float exposure.",
    oracle="""
        SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) < 30
                    THEN 'fast'
                    WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 60
                    THEN 'normal' ELSE 'late' END AS delay_bucket,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS other_lines
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY delay_bucket
        ORDER BY delay_bucket
    """,
)
def q12_delay_bucket_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(lag < 30, "fast").when(lag <= 60, "normal").otherwise("late")
    )
    is_crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    agg = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(is_crit, 1).otherwise(0)).alias("critical_lines"),
            F.sum(F.when(is_crit, 0).otherwise(1)).alias("other_lines"),
        )
    )
    # bound: 3 delay buckets
    return sort_bounded(agg, "delay_bucket")
