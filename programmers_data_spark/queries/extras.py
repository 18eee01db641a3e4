"""Engine-extra queries: the operator shapes the reference lacks but
the engine exposes (SURVEY §2.4 note, §2.5 note, §2.7 note) — semi /
anti joins, rollup subtotals, set ops, approx distinct.

Semi/anti exist because the K7 upsert decomposes into anti-join +
union; rollup/cube and approx_count_distinct are the documented scale
variants of the reference's exact aggregates (SURVEY §7 scale
posture); INTERSECT/EXCEPT round out the set-op surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..memo import memoized
from ..operators import (
    anti_join,
    approx_distinct,
    bounded_global_window,
    rollup_agg,
    semi_join,
)
from ..registry import query


def _dec(col: str | F.Column, prec: int = 18, scale: int = 2) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


@query(
    "customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having ≥1 order. The right
    side reduces to its join keys before the shuffle — no fact-table
    payload moves, and no distinct is needed afterwards."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        semi_join(customer, orders, "c_custkey")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-01-01'
    )
    ORDER BY c_custkey
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): the K7 upsert survivor shape.
    Scoped to a one-year order window — every fixture customer has
    SOME order, so the unscoped form would be vacuously empty; this
    way the anti-join actually filters (~20% of customers match)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        anti_join(customer, orders, "c_custkey")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "rollup_revenue",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY region NULLS FIRST, nation NULLS FIRST
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals region → nation → grand total in ONE
    shuffle (grouping sets expand map-side) — vs three separate
    GROUP BYs re-reading the fact table. Fixed-cardinality dims
    (nation, region) broadcast by hint; customer grows with SF so
    its join is AQE's call."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "o_totalprice",
        )
    )
    return rollup_agg(
        joined,
        ["region", "nation"],
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
    ).orderBy(F.col("region").asc_nulls_first(), F.col("nation").asc_nulls_first())


@query(
    "returning_customers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    ORDER BY custkey
    """,
)
def returning_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers active in both 1995 and 1996. Plans as an
    aggregate + semi-join on the already-distinct key sets."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    ).select(F.col("o_custkey").alias("custkey"))
    y96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select(F.col("o_custkey").alias("custkey"))
    return y95.intersect(y96).orderBy("custkey")


@query(
    "churned_customers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    ORDER BY custkey
    """,
)
def churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: active in 1995, gone in 1996 (set difference)."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    ).select(F.col("o_custkey").alias("custkey"))
    y96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select(F.col("o_custkey").alias("custkey"))
    return y95.subtract(y96).orderBy("custkey")


@query("mau_approx")  # rows-only: HLL++ sketch values are engine-specific
def mau_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAU with approx_count_distinct (HLL++, 5% rsd): the 100 TB form
    of the exact `mau` query — sketches merge map-side in fixed
    memory, so the shuffle carries one sketch per month instead of
    every distinct user id. Same grouping as the exact `mau` query, so
    the two are directly comparable. Rows-only check (sketch estimates
    are engine-specific); exact `mau` is the correctness anchor."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"), "o_custkey"
    )
    return (
        approx_distinct(monthly, ["month"], "o_custkey")
        .withColumnRenamed("approx_o_custkey", "approx_mau")
        .orderBy("month")
    )


@query(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status NULLS FIRST, priority NULLS FIRST
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping-set combinations
    in one shuffle — low-cardinality dims, so map-side partial agg
    collapses everything before the exchange."""
    from ..operators import cube_agg

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice",
    )
    return cube_agg(
        orders,
        ["status", "priority"],
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
    ).orderBy(F.col("status").asc_nulls_first(), F.col("priority").asc_nulls_first())


@query(
    "running_revenue",
    oracle="""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      GROUP BY 1
    )
    SELECT day,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(SUM(rev) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS cum_revenue,
           CAST(rev - lag(rev) OVER (ORDER BY day) AS DOUBLE) AS delta_prev_day
    FROM daily
    ORDER BY day
    """,
)
def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative + LAG window over the daily rollup: running total and
    day-over-day delta (the frame classes the reference never uses —
    default RANGE running frame and offset windows). Aggregated input
    is one row per day, so the unpartitioned window is safe: the
    window operates on ~hundreds of rows, never the fact table."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01")
    )
    daily = (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
            _dec("o_totalprice").alias("p"),
        )
        .groupBy("day")
        .agg(F.sum("p").alias("rev"))
    )
    # bounded: one row per day after the rollup — constant key keeps
    # WindowExec's scale warning out of clean logs
    w_cum = bounded_global_window("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_lag = bounded_global_window("day")
    return daily.select(
        "day",
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(w_cum).cast("double").alias("cum_revenue"),
        (F.col("rev") - F.lag("rev").over(w_lag)).cast("double").alias("delta_prev_day"),
    ).orderBy("day")


@query(
    "asof_last_order",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           strftime(o.o_orderdate, '%Y-%m-%d') AS last_order_date
    FROM events e
    ASOF LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ORDER BY e.event_id
    """,
)
def asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.as_of_join): each event matched to the
    user's most recent order at-or-before the event time — the
    point-in-time lookup every feature-store / market-data pipeline
    needs and Spark lacks natively. Output carries only the matched
    timestamp (tie-invariant); DuckDB's native ASOF JOIN is the
    oracle."""
    from ..operators import as_of_join

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    joined = as_of_join(
        events, orders, on="user_id", left_ts="ts", right_ts="o_orderdate"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("asof_o_orderdate", "yyyy-MM-dd").alias("last_order_date"),
    ).orderBy("event_id")


@query(
    "value_histogram",
    oracle="""
    SELECT CAST(floor(value / 50) AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(value) AS DOUBLE) AS lo,
           CAST(max(value) AS DOUBLE) AS hi
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of events.value: one map-side-combining
    shuffle over ≤ a dozen buckets — the profiling pass that sizes
    every later decision (skew, binning, outliers)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.floor(F.col("value") / 50).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
        .orderBy("bucket")
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "event_type_pivot",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           {", ".join(
             f"count(*) FILTER (event_type = '{t}') AS {t}" for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: daily counts, one column per event type. Explicit value
    list so the plan is a single conditional-count aggregate — a
    pivot without a value list needs an extra distinct pass to
    discover the columns, which is the scale trap."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
        .na.fill(0, subset=list(_EVENT_TYPES))
        .orderBy("day")
    )


@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           floor(quantile_cont(value, 0.50) * 100 + 0.5) / 100 AS p50,
           floor(quantile_cont(value, 0.95) * 100 + 0.5) / 100 AS p95,
           floor(quantile_cont(value, 0.99) * 100 + 0.5) / 100 AS p99
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ↔
    DuckDB `quantile_cont`, both linear-interpolation), rounded to
    cents to absorb last-ulp interpolation differences. At 100 TB the
    drop-in scale form is approx_percentile (t-digest sketch, fixed
    memory, map-side mergeable)."""
    events = load_table(spark, sf_dir, "events")
    def p(q, name):
        return (
            F.floor(F.expr(f"percentile(value, {q})") * 100 + F.lit(0.5)) / 100
        ).alias(name)
    return (
        events.groupBy("event_type")
        .agg(p(0.50, "p50"), p(0.95, "p95"), p(0.99, "p99"))
        .orderBy("event_type")
    )


@query(
    "post_purchase_clicks",
    oracle="""
    SELECT p.user_id,
           count(*) AS n_clicks,
           CAST(sum(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
    FROM (SELECT user_id, ts AS p_ts,
                 ts + INTERVAL 1 DAY AS p_end
          FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts, value
          FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.p_ts
     AND c.ts < p.p_end
    GROUP BY 1
    ORDER BY 1
    """,
)
def post_purchase_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-join attribution: click events landing in the 24 h after
    a purchase by the same user — the marketing-attribution /
    feature-window shape. Runs through the engine's binned
    `range_join` (operators/__init__.py): interval → overlapped
    buckets → hash join on (bucket, user) + residual, never the
    BroadcastNestedLoopJoin a raw inequality join plans."""
    from ..operators import range_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("p_end"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    attributed = range_join(
        clicks,
        purchases,
        left_point="ts",
        right_start="p_ts",
        right_end="p_end",
        bucket_width=86400,
        equi=["user_id"],
    )
    return (
        attributed.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("click_value"),
        )
        .orderBy("user_id")
    )


@query(
    "acctbal_quartiles",
    oracle="""
    SELECT c_mktsegment, quartile,
           count(*) AS n_customers,
           min(c_acctbal) AS min_bal,
           max(c_acctbal) AS max_bal
    FROM (
      SELECT c_mktsegment, c_acctbal,
             ntile(4) OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
             ) AS quartile
      FROM customer
    )
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def acctbal_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing: account-balance quartiles within each market
    segment (W-class window beyond the reference's ROW_NUMBER /
    FIRST_VALUE). Deterministic because the window order is a total
    order (tie-break on custkey). One shuffle on the segment key; at
    100 TB segments are few → skew, so the scale form replaces ntile
    with approx_percentile cutoffs + a join (documented in SCALE.md)."""
    from pyspark.sql.window import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.select("c_mktsegment", "c_acctbal", F.ntile(4).over(w).alias("quartile"))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    ORDER BY 1, 2
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube):
    revenue at (status, priority), (status), and grand-total grains in
    ONE pass — Spark expands the sets map-side and shares the single
    shuffle, vs. three scans + a union by hand."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
               coalesce(o_orderpriority, 'ALL') AS orderpriority,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY 1, 2
        """
    )


@query(
    "event_type_unpivot",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def event_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide daily-counts matrix from
    event_type_pivot folded back to long form — the inverse op a
    feature-store export needs. unpivot is a zero-shuffle generator
    (each wide row emits one row per value column); absent (day,type)
    combos come back as the pivot's 0-fill and are dropped (n > 0)
    to match the long-form GROUP BY, which has no row for them —
    dense fixtures never exercise this, sparse days do (caught by
    the adversarial events sweep). The only shuffle is the pivot's
    own aggregate.
    """
    wide = event_type_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["day"],
            values=list(_EVENT_TYPES),
            variableColumnName="event_type",
            valueColumnName="n",
        )
        .filter(F.col("n") > 0)
        .orderBy("day", "event_type")
    )


@query(
    "salted_segment_revenue",
    oracle="""
    SELECT c_mktsegment,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           count(*) AS n_events
    FROM events
    JOIN customer ON user_id = c_custkey
    WHERE event_type = 'purchase'
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase revenue per market segment through the SKEW-SAFE join
    path: events (the skewed fact — real clickstreams have hot users)
    joins the customer dim via salted_join, spreading any hot
    user_id over 8 reducers. Salting is plan-level only, so the
    oracle is the plain equi-join — identical results by
    construction. At 100 TB this is the fallback for pathological
    keys AQE's skew splitting can't break up; the ×8 replication
    rides the small dim side.
    """
    from ..operators import salted_join

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("c_custkey"), "value")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        salted_join(events, cust, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "cohort_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('month', ts) AS am FROM events
    ),
    fm AS (SELECT user_id, min(am) AS cm FROM act GROUP BY 1),
    cs AS (SELECT cm, count(*) AS cohort_size FROM fm GROUP BY 1),
    j AS (
      SELECT a.user_id, f.cm, date_diff('month', f.cm, a.am) AS off
      FROM act a JOIN fm f USING (user_id)
    )
    SELECT strftime(j.cm, '%Y-%m') AS cohort_month,
           off AS month_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(count(*) AS DOUBLE) / cohort_size AS retention
    FROM j JOIN cs ON j.cm = cs.cm
    GROUP BY j.cm, off, cohort_size
    ORDER BY cohort_month, month_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-activity
    month, then for each (cohort, month-offset) the count and share
    of the cohort active that month — the product-analytics staple
    behind every retention dashboard (the reference's MAU/NPS
    summaries are its marginals).

    Scale shape: the distinct (user, month) membership reads the
    PUBLISHED activity_month_store (r18; the pair-store pattern —
    this plan references act twice and fm twice, and each reference
    previously re-ran the raw-events scan + distinct shuffle: 3
    events scans in the r17 plan; the r17 in-query persist was
    measured at +60-90% and reverted — the store read is the form
    that wins at both scales). The first-month aggregate and the
    cohort join key on user. Since (user, month) is distinct and
    each user has exactly one cohort, the final rollup needs
    count(*), not COUNT(DISTINCT) — no expand shuffle. Cohort sizes
    are a months-cardinality table, joined broadcast-by-AQE.
    retention is one IEEE division of exact integers (bitwise-stable
    vs the oracle).
    """
    from ..derived_store import activity_month_store

    act = activity_month_store(spark, sf_dir)
    fm = act.groupBy("user_id").agg(F.min("am").alias("cm"))
    cs = fm.groupBy("cm").agg(F.count(F.lit(1)).alias("cohort_size"))
    j = act.join(fm, "user_id").withColumn(
        "off", F.months_between("am", "cm").cast("int")
    )
    return (
        j.groupBy("cm", "off", )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(cs, "cm")
        .select(
            F.date_format("cm", "yyyy-MM").alias("cohort_month"),
            F.col("off").alias("month_offset"),
            "n_active",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
        .orderBy("cohort_month", "month_offset")
    )


@query(
    "ohlc_daily",
    oracle="""
    WITH b AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, ts, event_id, value
      FROM events
    ),
    ext AS (
      SELECT day, event_type,
             min(ts) AS ts_min, max(ts) AS ts_max,
             min(value) AS low, max(value) AS high,
             CAST(count(*) AS BIGINT) AS n_events
      FROM b GROUP BY 1, 2
    ),
    opens AS (
      SELECT b.day, b.event_type, arg_min(b.value, b.event_id) AS open
      FROM b JOIN ext ON b.day = ext.day AND b.event_type = ext.event_type
                     AND b.ts = ext.ts_min
      GROUP BY 1, 2
    ),
    closes AS (
      SELECT b.day, b.event_type, arg_max(b.value, b.event_id) AS close
      FROM b JOIN ext ON b.day = ext.day AND b.event_type = ext.event_type
                     AND b.ts = ext.ts_max
      GROUP BY 1, 2
    )
    SELECT ext.day, ext.event_type, opens.open, ext.high, ext.low,
           closes.close, ext.n_events
    FROM ext
    JOIN opens  ON ext.day = opens.day  AND ext.event_type = opens.event_type
    JOIN closes ON ext.day = closes.day AND ext.event_type = closes.event_type
    ORDER BY ext.day, ext.event_type
    """,
)
def ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) downsampling per event_type —
    the hypertable-rollup shape behind the reference's market-data
    pipeline (S4: UpdateSymbol.py:25-35 pulls per-day OHLCV bars from
    yfinance and :45-53 declares the stock_info(open, high, low,
    close, volume) schema; here the engine COMPUTES the bars from raw
    ticks instead of delegating the rollup to the data vendor).

    open/close are the values of the first/last event in the bucket,
    tie-broken by the unique event_id: one min/max over a
    (ts, event_id, value) struct — lexicographic struct comparison
    gives "value at the smallest (ts, event_id)" in the same aggregate
    pass as high/low/count, so the whole rollup is ONE map-side-
    partial groupBy with no window and no second scan. The oracle
    reproduces the tie-break as min-key-among-ties joins (arg_min over
    the unique event_id within the min-ts slice).

    Scale: classic time-series downsampling — partial aggregation
    makes the shuffle carry one row per (day, event_type) per task;
    at 100 TB, date-partitioned input turns the day grouping into
    partition-local work."""
    events = load_table(spark, sf_dir, "events")
    b = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "ts",
        "event_id",
        "value",
    )
    return (
        b.groupBy("day", "event_type")
        .agg(
            F.min(F.struct("ts", "event_id", "value"))["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "event_id", "value"))["value"].alias(
                "close"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day", "event_type")
    )


# Integer power-iteration constants: ranks are scaled fixed-point
# longs so every contribution is an integer division and every
# aggregate a sum of longs — bitwise identical across engines (no
# IEEE summation order to diverge). 3 iterations unroll exactly in
# the SQL oracle.
_PR_SCALE = 1_000_000
_PR_ITERATIONS = 3

_PR_EDGES_SQL = """
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
"""

_PR_STEP_SQL = """
    {dst} AS (
      SELECT n.node,
             CAST({base} + (85 * COALESCE(i.incoming, 0)) // 100
                  AS BIGINT) AS rank
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(sum((r.rank * e.w) // o.tw) AS BIGINT) AS incoming
        FROM edges e
        JOIN {src} r ON e.src = r.node
        JOIN outw o  ON e.src = o.src
        GROUP BY 1
      ) i ON n.node = i.node
    )
"""


@query(
    "nation_pagerank",
    oracle=(
        "WITH edges AS (" + _PR_EDGES_SQL + "),\n"
        "outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS tw"
        " FROM edges GROUP BY 1),\n"
        "nodes AS (SELECT n_nationkey AS node FROM nation),\n"
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),\n"
        + ",\n".join(
            _PR_STEP_SQL.format(
                dst=f"r{i + 1}", src=f"r{i}", base=150_000
            )
            for i in range(_PR_ITERATIONS)
        )
        + f"""
    SELECT n.n_name AS nation, r.rank
    FROM r{_PR_ITERATIONS} r JOIN nation n ON r.node = n.n_nationkey
    ORDER BY r.rank DESC, nation
    """
    ),
)
def nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier-nation → customer-nation trade
    graph: the heavy part is the distributed EDGE BUILD (lineitem ⋈
    orders ⋈ customer ⋈ supplier aggregated to one weighted edge per
    nation pair — the same multi-join shuffle profile as
    nation_trade_volume, Q7's shape); the power iteration then folds
    the aggregated graph (≤ 625 edges: nation has 25 keys) on the
    driver. Ranks are scaled fixed-point LONGS with damping 0.85
    applied as integer `div` — sums of longs are order-independent,
    so three iterations hash-match the recursive SQL exactly (the
    float formulation would diverge by summation order)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # The aggregated graph is nation×nation (≤ 625 edges for any SF),
    # so the power iteration folds DRIVER-SIDE under the bounded
    # collect the component resolver uses
    # (operators.DRIVER_RESOLVE_MAX_EDGES) — per-round joins over a
    # ≤625-row frame were pure stage-scheduling overhead (r17:
    # iterations cost ~2.4s of the query's ~4s at sf0.1). All
    # arithmetic is non-negative fixed-point integer (`div` == Python
    # // on non-negatives), so the driver fold is bit-identical to the
    # recursive SQL oracle.
    from ..operators import DRIVER_RESOLVE_MAX_EDGES

    edge_rows = edges.limit(DRIVER_RESOLVE_MAX_EDGES + 1).collect()
    if len(edge_rows) > DRIVER_RESOLVE_MAX_EDGES:
        raise ValueError(
            "nation_pagerank: the nation graph has more than "
            f"DRIVER_RESOLVE_MAX_EDGES={DRIVER_RESOLVE_MAX_EDGES} edges"
        )
    node_rows = nation.collect()  # fixed-cardinality dimension
    tw: dict = {}
    for r in edge_rows:
        tw[r.src] = tw.get(r.src, 0) + r.w
    ranks = {r.n_nationkey: _PR_SCALE for r in node_rows}
    for _ in range(_PR_ITERATIONS):
        incoming: dict = {}
        for r in edge_rows:
            # an edge whose src is not a known nation contributes
            # nothing (the oracle's inner join)
            rank_src = ranks.get(r.src)
            if rank_src is None:
                continue
            contrib = (rank_src * r.w) // tw[r.src]
            incoming[r.dst] = incoming.get(r.dst, 0) + contrib
        ranks = {
            n: 150_000 + (85 * incoming.get(n, 0)) // 100
            for n in ranks
        }
    name = {r.n_nationkey: r.n_name for r in node_rows}
    data = sorted(
        ((name[n], ranks[n]) for n in ranks),
        key=lambda t: (-t[1], t[0]),
    )
    return spark.createDataFrame(data, "nation string, rank long")


@query(
    "mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type,
             CAST(floor(quantile_cont(value, 0.5) * 100 + 0.5) AS BIGINT)
               AS med_c
      FROM events GROUP BY 1
    ),
    adev AS (
      SELECT e.event_type, e.value, m.med_c,
             abs(e.value - m.med_c / 100.0) AS dev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type,
             CAST(floor(quantile_cont(dev, 0.5) * 100 + 0.5) AS BIGINT)
               AS mad_c
      FROM adev GROUP BY 1
    )
    SELECT a.event_type,
           a.med_c + 3 * d.mad_c AS threshold_cents,
           CAST(sum(CASE WHEN CAST(floor(a.value * 100 + 0.5) AS BIGINT)
                              > a.med_c + 3 * d.mad_c
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM adev a JOIN mad d ON a.event_type = d.event_type
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type: values above
    median + 3×MAD (median absolute deviation) — the standard
    heavy-tail-safe anomaly filter (a mean/stddev rule is itself
    dragged by the outliers it should catch). Used as the pre-publish
    value-sanity gate a pipeline runs before trusting a new batch.

    Cross-engine determinism: the median and MAD are cent-rounded to
    exact integers BEFORE entering the threshold (both engines'
    linear-interpolation percentiles agree to cents — the
    value_percentiles precedent), deviations are measured around the
    cent-rounded median so both engines interpolate identical
    doubles, and the outlier comparison is integer cents vs integer
    cents — no float boundary can flip a row between engines.

    Scale: both percentile statistics ride windows keyed by
    event_type over ONE shuffle of the value rows — an exact
    percentile ships every group member to its reducer under EITHER
    form, so the window costs what the groupBy cost, but the
    previous groupBy + broadcast-join-back rounds re-evaluated the
    events scan per stage (4 fact scans in the physical plan; now 1
    — r17 opt, the quantile-as-window shape; consecutive windows on
    the same key share the single exchange, guide §2.4)."""
    from pyspark.sql.window import Window as W

    # isNotNull pins the r17 window rewrite row-identical to the old
    # join-based form (r17 ADVICE #1): an inner join on event_type
    # dropped null-keyed rows, a window would keep them as a group —
    # fixtures carry no nulls, so this is a no-op filter today
    events = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("event_type").isNotNull())
    )
    wt = W.partitionBy("event_type")
    adev = events.withColumn(
        "med_c",
        F.floor(F.expr("percentile(value, 0.5)").over(wt) * 100 + F.lit(0.5))
        .cast("long"),
    ).withColumn("dev", F.abs(F.col("value") - F.col("med_c") / 100.0))
    scored = adev.withColumn(
        "mad_c",
        F.floor(F.expr("percentile(dev, 0.5)").over(wt) * 100 + F.lit(0.5))
        .cast("long"),
    ).withColumn(
        "threshold_cents", F.col("med_c") + 3 * F.col("mad_c")
    )
    return (
        scored.groupBy("event_type", "threshold_cents")
        .agg(
            F.sum(
                F.when(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                    > F.col("threshold_cents"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers")
        )
        .orderBy("event_type")
    )


@query(
    "ingest_freshness",
    oracle="""
    WITH g AS (SELECT max(epoch_us(ts)) AS gmax FROM events)
    SELECT event_type,
           max(epoch_us(ts)) AS latest_us,
           (g.gmax - max(epoch_us(ts))) // 1000000 AS lag_seconds
    FROM events, g
    GROUP BY event_type, g.gmax
    ORDER BY event_type
    """,
)
def ingest_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness monitor: each event type's latest event
    time and its lag behind the freshest stream — the first dashboard
    a scheduled-ingestion platform needs (the reference's failure
    mode: one DAG silently stops and its table quietly ages;
    cross-checking every stream against the freshest one surfaces
    exactly that). Integer epoch-micros end to end, so both engines
    agree bitwise.

    Scale: ONE map-side max aggregate per type; the global max is a
    bounded window over the per-type maxes (max of maxes == the
    global max — exact; the frame is one row per event type, a data
    property independent of row count), so the fact table is scanned
    once. The previous separate events.agg(max) anchor re-scanned it
    (r17 opt, the one-pass-anchor shape; plan: events scans 2 -> 1,
    the crossJoin+broadcast dropped)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us")
    )
    return (
        events.groupBy("event_type")
        .agg(F.max("ts_us").alias("latest_us"))
        .withColumn(
            "gmax", F.max("latest_us").over(bounded_global_window())
        )
        .select(
            "event_type",
            "latest_us",
            # integer div on BOTH sides: DuckDB CAST(double AS BIGINT)
            # ROUNDS where Spark's cast truncates — float division here
            # was off by one second at the boundary
            F.expr("(gmax - latest_us) div 1000000").alias("lag_seconds"),
        )
        .orderBy("event_type")
    )


@query(
    "volume_anomaly_days",
    oracle="""
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    med AS (
      SELECT CAST(floor(quantile_cont(CAST(n AS DOUBLE), 0.5) * 100 + 0.5)
                  AS BIGINT) AS med_c
      FROM daily
    ),
    mad AS (
      SELECT CAST(floor(quantile_cont(abs(d.n - m.med_c / 100.0), 0.5)
                        * 100 + 0.5) AS BIGINT) AS mad_c
      FROM daily d, med m
    )
    SELECT d.day, d.n
    FROM daily d, med m, mad a
    WHERE abs(d.n * 100 - m.med_c) > 3 * a.mad_c
    ORDER BY d.day
    """,
)
def volume_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-volume anomaly days: days whose event count deviates
    from the median daily volume by more than 3×MAD — the series-level
    companion to `mad_outliers` (row-level values): a silent upstream
    outage halves a day's volume and a replay doubles it; both land
    outside the robust band while ordinary traffic variation stays
    inside. Median and MAD are cent-scaled integers (the
    value_percentiles cent-parity precedent) and the day count enters
    the comparison as an exact integer, so the band check is integer
    arithmetic on both engines.

    Scale: the daily rollup is one map-side count per day; both
    percentile statistics ride bounded windows over the
    one-row-per-day aggregate (provably tiny: one row per calendar
    day), so the fact table is scanned ONCE — the previous
    1-row-agg + crossJoin form re-evaluated the daily rollup per
    statistic (4 events scans in the physical plan; r17 opt, the
    quantile-as-bounded-window shape)."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = bounded_global_window()
    with_med = daily.withColumn(
        "med_c",
        F.floor(
            F.expr("percentile(CAST(n AS DOUBLE), 0.5)").over(w) * 100
            + F.lit(0.5)
        ).cast("long"),
    )
    with_mad = with_med.withColumn(
        "mad_c",
        F.floor(
            F.expr("percentile(abs(n - med_c / 100.0), 0.5)").over(w) * 100
            + F.lit(0.5)
        ).cast("long"),
    )
    return (
        with_mad.filter(
            F.abs(F.col("n") * 100 - F.col("med_c")) > 3 * F.col("mad_c")
        )
        .select("day", "n")
        .orderBy("day")
    )


# --------------------------------------------------- event path mining

PATH_TOP_K = 20


@query(
    "event_path_trigrams",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM seq
    WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path
    LIMIT {PATH_TOP_K}
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the corpus-wide top {PATH_TOP_K}
    event-type transition trigrams over per-user time-ordered
    sequences — the "what do users do next" report product analytics
    builds funnels from (generalizes the single signup→purchase pair
    `funnel_signup_purchase` checks).

    Scale shape: ONE shuffle on user_id for the lead() window (ties
    pinned by event_id, so the sequence is deterministic), trigram
    assembly map-side from the two lead columns — no per-user
    collect_list, so a power user costs rows, not driver or executor
    memory — then a partial-aggregable count and a bounded top-K.
    """
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(PATH_TOP_K)
    )


# --------------------------------------------------- RFM segmentation

# quartile-score band widths for the three distributed ranks; each
# band count is bounded by a per-customer property (date span / 30,
# max orders per customer / 4, max customer spend / $500), never by
# customer count
_RFM_Q = 4


# memoized: the per-customer base table persists for its three rank
# passes + final join
@query(
    "rfm_segments",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey AS cust,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_c,
             max(CAST(o_orderdate AS DATE)) AS last_d
      FROM orders
      GROUP BY o_custkey
    ),
    now_d AS (SELECT max(CAST(o_orderdate AS DATE)) AS now FROM orders),
    m AS (
      SELECT cust, frequency, monetary_c,
             date_diff('day', last_d, now) AS recency_days
      FROM base, now_d
    ),
    ranked AS (
      SELECT cust, recency_days, frequency, monetary_c,
             CAST(row_number() OVER (ORDER BY recency_days, cust)
                  AS BIGINT) - 1 AS r_rank,
             CAST(row_number() OVER (ORDER BY frequency, cust)
                  AS BIGINT) - 1 AS f_rank,
             CAST(row_number() OVER (ORDER BY monetary_c, cust)
                  AS BIGINT) - 1 AS m_rank
      FROM m
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m)
    SELECT CAST((r_rank * {_RFM_Q}) // n.n AS INT) AS r_q,
           CAST((f_rank * {_RFM_Q}) // n.n AS INT) AS f_q,
           CAST((m_rank * {_RFM_Q}) // n.n AS INT) AS m_q,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM ranked, n
    GROUP BY r_q, f_q, m_q
    ORDER BY r_q, f_q, m_q
    """,
)
@memoized
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the BI classic behind every CRM
    summary table: each customer scored into recency / frequency /
    monetary quartiles (0 = most recent / least frequent / lowest
    spend), reported as segment-cell counts (≤ 4³ rows).

    Exactness: monetary is floor(x*100+0.5) cent-longs (the portable
    rounding), recency an exact datediff against the 1-row global max
    date (allowlisted broadcast); each quartile is
    (rank * 4) div n on the exact global (metric, custkey) rank.

    Scale shape: one shuffle of orders to the per-customer base, then
    THREE `operators.distributed_rank` passes over the persisted
    |customers|-row base — each is per-band row_number + broadcast
    band offsets, no global sort — joined back on custkey, and a
    64-cell-bounded aggregate. The quartile boundaries adapt to the
    data; nothing is a hand-tuned threshold.
    """
    from ..operators import distributed_rank

    orders = load_table(spark, sf_dir, "orders")
    # persisted: the global "now" anchor derives from base's own
    # last_d (max over per-customer maxes == the global max — exact),
    # so the fact table is scanned ONCE; the previous separate
    # orders.agg(max(...)) anchor re-scanned it (r17 opt, the
    # one-pass-anchor shape; plan: orders scans 2 -> 1)
    base = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).cast("long").alias("monetary_c"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    ).persist()
    now_row = base.agg(F.max("last_d").alias("now"))
    # no second persist: m is a map-side projection (broadcast 1-row
    # join + datediff) over the PERSISTED base — its four consumers
    # re-do only that projection from memory; a second
    # materialization barrier here measured as a net loss (r17 opt)
    m = base.crossJoin(F.broadcast(now_row)).select(
        "cust",
        "frequency",
        "monetary_c",
        F.datediff("now", "last_d").cast("long").alias("recency_days"),
    )
    n_row = m.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def q(metric: str, band_w: int, out: str) -> DataFrame:
        ranked = distributed_rank(
            m.select("cust", metric),
            [metric, "cust"],
            F.expr(f"{metric} div {band_w}"),
            rank_name="__r",
        )
        return ranked.crossJoin(F.broadcast(n_row)).select(
            "cust",
            F.expr(f"CAST((__r * {_RFM_Q}) div n AS INT)").alias(out),
        )

    r = q("recency_days", 30, "r_q")
    f = q("frequency", 4, "f_q")
    mo = q("monetary_c", 5_000_000, "m_q")
    result = (
        r.join(f, "cust").join(mo, "cust")
        .groupBy("r_q", "f_q", "m_q")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("r_q", "f_q", "m_q")
    )
    return result
