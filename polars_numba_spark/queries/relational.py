"""Relational-breadth queries: the SURVEY.md §2.B host-surface gaps the
reference delegates to its host engine — joins of every flavor (incl. as-of),
set operations, JSON extraction, date/string/array scalar functions — each
with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polars_numba_spark.operators.asof import asof_join
from polars_numba_spark.queries.catalog import _t, register


@register(
    "asof_last_signup_before_purchase",
    oracle="""
    SELECT l.event_id, l.user_id, r.ts_us AS signup_ts
    FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts_us
          FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN
         (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts_us
          FROM events WHERE event_type = 'signup') r
      ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    """,
)
def asof_last_signup_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent prior (or
    simultaneous) signup. Our union+window implementation (one shuffle, no
    row explosion) vs DuckDB's native ASOF JOIN as the oracle."""
    e = _t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = e.where(F.col("event_type") == "signup").select("user_id", "ts")
    out = asof_join(purchases, signups, on="ts", by="user_id", value_cols=["ts"])
    return out.select(
        "event_id", "user_id", F.col("ts_asof").alias("signup_ts")
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
    )
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): customers with no orders in 2001 — no row
    multiplication, AQE picks the build side at runtime."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "repeat_customers_setops",
    oracle="""
    SELECT 'both_years' AS cohort, COUNT(*) AS n FROM (
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        INTERSECT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    UNION ALL
    SELECT '1996_only' AS cohort, COUNT(*) AS n FROM (
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        EXCEPT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    """,
)
def repeat_customers_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: INTERSECT / EXCEPT cohorts of customers by order year."""
    o = _t(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return o.where(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    both = year(1996).intersect(year(1997)).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both_years").alias("cohort"), "n"
    )
    only96 = year(1996).subtract(year(1997)).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("1996_only").alias("cohort"), "n")
    return both.unionByName(only96)


@register(
    "events_json_props",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY 1
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the semi-structured props column (string JSON →
    typed value) + aggregate — the log-parsing staple."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
    )


@register(
    "orders_by_month",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS month_revenue
    FROM orders
    GROUP BY 1
    """,
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date bucketing (date_trunc) + aggregate."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("month", F.date_trunc("month", F.col("o_orderdate")))
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)").alias(
                "month_revenue"
            ),
        )
    )


@register(
    "part_brand_stats",
    oracle="""
    SELECT CAST(regexp_replace(p_brand, 'Brand#', '') AS INTEGER) AS brand_num,
           upper(p_type) AS p_type_upper,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM part
    GROUP BY 1, 2
    """,
)
def part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions: regexp_replace / upper + typed cast + aggregate."""
    p = _t(spark, sf_dir, "part")
    return (
        p.withColumn(
            "brand_num", F.regexp_replace("p_brand", "Brand#", "").cast("int")
        )
        .withColumn("p_type_upper", F.upper("p_type"))
        .groupBy("brand_num", "p_type_upper")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.expr("CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE)").alias(
                "total_price"
            ),
        )
    )


@register(
    "embedding_array_stats",
    oracle="""
    SELECT vec_id,
           CAST(length(embedding) AS INTEGER) AS dim,
           list_aggregate(embedding::DOUBLE[], 'min') AS el_min,
           list_aggregate(embedding::DOUBLE[], 'max') AS el_max
    FROM embeddings
    WHERE vec_id < 100
    """,
)
def embedding_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar functions over the embedding column (size/min/max) —
    pure codegen, no explode."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_min(v).alias("el_min"),
        F.array_max(v).alias("el_max"),
    )


@register(
    "part_supplier_distinct",
    oracle="""
    SELECT p_brand, COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_lineitems
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def part_supplier_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (TPC-H Q16 shape): countDistinct over a broadcast
    dimension join — Catalyst plans the expand+two-phase distinct."""
    l = _t(spark, sf_dir, "lineitem")  # noqa: E741
    p = _t(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "events_daily_windows",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def events_daily_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (the batch face of the streaming rollup —
    identical expression runs under readStream with a watermark; see
    polars_numba_spark.streaming.windowed_rollup and its parity test)."""
    from polars_numba_spark.streaming import windowed_rollup

    e = _t(spark, sf_dir, "events")
    out = windowed_rollup(
        e,
        "ts",
        "1 day",
        group_by=["event_type"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_cents": F.sum(F.round(F.col("value") * 100).cast("long")),
        },
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_cents",
    )


@register(
    "calendar_order_coverage",
    oracle="""
    WITH cal AS (
        SELECT CAST(d AS TIMESTAMP) AS day
        FROM generate_series(TIMESTAMP '1995-01-01 00:00:00',
                             TIMESTAMP '1995-03-31 00:00:00',
                             INTERVAL 1 DAY) AS t(d)
    )
    SELECT cal.day, COUNT(o.o_orderkey) AS n_orders
    FROM cal LEFT JOIN orders o ON o.o_orderdate = cal.day
    GROUP BY cal.day
    """,
)
def calendar_order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated date-range dimension (the reference uses pl.date_range for
    its weather fixture, `examples_fold.py:17`; Spark's analog is
    sequence+explode) outer-joined against facts — finds zero-order days."""
    o = _t(spark, sf_dir, "orders")
    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("1995-03-31").cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    return (
        cal.join(o, o.o_orderdate == cal.day, "left")
        .groupBy("day")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "order_price_quantiles",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles: Spark's percentile() and DuckDB's quantile_cont()
    share the linear-interpolation definition, so medians/p90 over identical
    doubles are bit-equal — no approx sketch needed for the oracle."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "user_event_type_pivot",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events
    GROUP BY user_id
    """,
)
def user_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix. Explicit value list keeps the
    plan a single pass (no distinct-values pre-query); the oracle is the
    portable conditional-aggregation spelling."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
    )
    cols = ["click", "view", "purchase", "signup", "error"]
    return out.select(
        "user_id", *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in cols]
    )


@register(
    "recent_order_pressure",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, COUNT(o.o_orderkey) AS n_recent_orders
    FROM (SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem WHERE l_orderkey < 1000) l
    LEFT JOIN orders o
      ON o.o_orderdate >= l.l_shipdate - INTERVAL 7 DAY
     AND o.o_orderdate <= l.l_shipdate
    GROUP BY l.l_orderkey, l.l_linenumber
    """,
)
def recent_order_pressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: for each lineitem, how many orders (any customer) were
    placed in the 7 days up to its ship date. Implemented with the
    bucketized interval join (hash join on week buckets + exact range
    filter) instead of the nested-loop plan a bare BETWEEN join gets;
    ``how='right'`` keeps zero-match windows natively (the operator recovers
    unmatched intervals with an anti join — SURVEY §9 item closed). Oracle
    uses DuckDB's native IEJoin."""
    from polars_numba_spark.operators.rangejoin import interval_join

    l = (  # noqa: E741
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.unix_timestamp("l_shipdate").alias("ship_s"),
        )
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("recent_orderkey"),
        F.unix_timestamp("o_orderdate").alias("od_s"),
    )
    # interval per order: [od, od] joined against window [ship-7d, ship]
    # flip: treat each lineitem's window as the interval, orders as points
    windows = l.withColumn("win_lo", F.col("ship_s") - 7 * 86400).withColumn(
        "win_hi", F.col("ship_s")
    )
    joined = interval_join(
        o.select(F.col("recent_orderkey"), F.col("od_s")),
        windows,
        point="od_s",
        lower="win_lo",
        upper="win_hi",
        bucket_width=7 * 86400,
        how="right",
        right_keys=["l_orderkey", "l_linenumber"],
    )
    # F.count(col) skips the nulls of recovered zero-match windows; the
    # groupBy merges duplicate (orderkey, linenumber) rows like the oracle's
    return joined.groupBy("l_orderkey", "l_linenumber").agg(
        F.count("recent_orderkey").alias("n_recent_orders")
    )


@register(
    "distinct_users_kmv",
    oracle="""
    WITH hashed AS (
        SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v
        FROM events WHERE user_id IS NOT NULL
    ), h AS (
        SELECT event_type,
               CAST(CAST(('0x' || substr(md5(v), 1, 15)) AS UBIGINT) AS BIGINT) AS h
        FROM hashed
    ), ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h
    ), agg AS (
        SELECT event_type, MAX(h) AS hk, COUNT(*) AS nk
        FROM ranked WHERE rn <= 64 GROUP BY event_type
    ), est AS (
        SELECT event_type,
               CASE WHEN nk < 64 THEN CAST(nk AS DOUBLE)
                    ELSE 63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE)
               END AS kmv_estimate
        FROM agg
    ), exact AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_users FROM events
        GROUP BY event_type
    )
    SELECT e.event_type, x.exact_users,
           ROUND(e.kmv_estimate, 6) AS kmv_users,
           ROUND(ABS(e.kmv_estimate - x.exact_users) / x.exact_users, 6)
               AS rel_err
    FROM est e JOIN exact x USING (event_type)
    """,
)
def distinct_users_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULLY-ORACLED cardinality sketch: K-Minimum-Values over
    md5-derived hashes, estimate and relative error reproduced bit-for-bit
    in DuckDB (operators/sketch.py::kmv_distinct). Complements
    distinct_users_sketch, whose HLL++ side is engine-specific and
    rows-only — approximate ≠ un-oracleable when the sketch is
    deterministic and hash-portable."""
    from polars_numba_spark.operators.sketch import kmv_distinct

    e = _t(spark, sf_dir, "events")
    est = kmv_distinct(e, "user_id", "event_type", k=64)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        F.round(F.col("kmv_estimate"), 6).alias("kmv_users"),
        F.round(
            F.abs(F.col("kmv_estimate") - F.col("exact_users"))
            / F.col("exact_users"),
            6,
        ).alias("rel_err"),
    )


@register("distinct_users_sketch")  # approx side is engine-specific — rows-only
def distinct_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality sketch surface: HyperLogLog++ approx-distinct next to the
    exact count, with the relative error computed in-plan — the query is its
    own accuracy report (approx values are engine-specific, so no cross-
    engine oracle; determinism within Spark makes the driver's repeat-run
    hash stable)."""
    e = _t(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
    )
    return per_type.select(
        "event_type",
        "exact_users",
        "approx_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
        ).alias("rel_err"),
    )


@register(
    "nation_order_cube",
    oracle="""
    SELECT n_name, o_orderstatus, COUNT(*) AS order_count
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY CUBE (n_name, o_orderstatus)
    HAVING COUNT(*) > 0
    """,
)
def nation_order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE grouping sets (all four subtotal combinations)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .cube("n_name", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "events_unpivoted_flags",
    oracle="""
    WITH pivoted AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase
        FROM events GROUP BY user_id
    )
    SELECT user_id, kind, n FROM pivoted
    UNPIVOT (n FOR kind IN (click, purchase))
    """,
)
def events_unpivoted_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide per-user counts back to long (kind, n) rows."""
    e = _t(spark, sf_dir, "events")
    wide = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("click"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("purchase"),
    )
    return wide.unpivot("user_id", ["click", "purchase"], "kind", "n")


@register(
    "embedding_sign_stats",
    oracle="""
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive,
           CAST(CASE WHEN len(list_filter(embedding, x -> x > 0.2)) > 0
                THEN 1 ELSE 0 END AS BOOLEAN) AS has_large
    FROM embeddings WHERE vec_id < 200
    """,
)
def embedding_sign_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (filter/exists) over the embedding
    column — pure codegen, no explode."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    return e.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        F.exists("embedding", lambda x: x > 0.2).alias("has_large"),
    )


@register(
    "scalar_function_zoo",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS f_abs,
           CAST(ceil(l_quantity / 7.0) AS BIGINT) AS f_ceil,
           CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS f_floor,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS f_sign,
           CAST(l_quantity AS BIGINT) % 5 AS f_mod,
           sqrt(l_extendedprice) AS f_sqrt,
           l_extendedprice * l_extendedprice AS f_sq,
           greatest(l_discount, l_tax) AS f_greatest,
           least(l_discount, l_tax) AS f_least,
           nullif(l_discount, 0.0) AS f_nullif,
           coalesce(nullif(l_discount, 0.0), -1.0) AS f_coalesce,
           substr(l_returnflag || l_linestatus, 1, 2) AS f_concat_substr,
           lpad(CAST(l_linenumber AS VARCHAR), 3, '0') AS f_lpad,
           replace(l_returnflag, 'N', 'X') AS f_replace
    FROM lineitem WHERE l_orderkey < 300
    """,
)
def scalar_function_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function breadth in one projection: arithmetic (abs/ceil/
    floor/sign/mod), IEEE-exact sqrt and squaring, comparators (greatest/
    least), null combinators (nullif/coalesce), string functions (concat/
    substr/lpad/replace) — all with bit-exact cross-engine semantics
    (libm-dependent exp/ln are deliberately absent: their last-ulp values
    differ between JVM and C runtimes)."""
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 300)  # noqa: E741
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("f_abs"),
        F.ceil(F.col("l_quantity") / 7.0).cast("long").alias("f_ceil"),
        F.floor(F.col("l_extendedprice") / 1000.0).cast("long").alias("f_floor"),
        F.signum(F.col("l_discount") - 0.05).alias("f_sign"),
        (F.col("l_quantity").cast("long") % 5).alias("f_mod"),
        F.sqrt("l_extendedprice").alias("f_sqrt"),
        (F.col("l_extendedprice") * F.col("l_extendedprice")).alias("f_sq"),
        F.greatest("l_discount", "l_tax").alias("f_greatest"),
        F.least("l_discount", "l_tax").alias("f_least"),
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("f_nullif"),
        F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.lit(-1.0)).alias("f_coalesce"),
        F.substring(F.concat("l_returnflag", "l_linestatus"), 1, 2).alias("f_concat_substr"),
        F.lpad(F.col("l_linenumber").cast("string"), 3, "0").alias("f_lpad"),
        F.replace(F.col("l_returnflag"), F.lit("N"), F.lit("X")).alias("f_replace"),
    )


@register(
    "events_hourly_heatmap",
    oracle="""
    SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INTEGER) AS dow,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hod,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap by day-of-week × hour-of-day (date-part extraction;
    Spark dayofweek is 1=Sunday, DuckDB dayofweek is 0=Sunday — the oracle
    aligns with +1)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hod"),
        )
        .groupBy("dow", "hod")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "document_length_histogram",
    oracle="""
    SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents GROUP BY 1
    """,
)
def document_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of document lengths (floor-bucketing — the
    groupBy histogram idiom that scales to any cardinality)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("bucket_lo", (F.floor(F.col("n_chars") / 50) * 50).cast("long"))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "orders_merge_upsert",
    oracle="""
    WITH changelog AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               CAST(NULL AS INTEGER) AS __seq, CAST(NULL AS VARCHAR) AS __op
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'X' AS o_orderstatus,
               o_totalprice * 1.1 AS o_totalprice, 1 AS __seq, 'U' AS __op
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
               2 AS __seq, 'D' AS __op
        FROM orders WHERE o_orderkey % 97 = 0
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_orderkey ORDER BY __seq DESC NULLS LAST
        ) AS rn FROM changelog
    )
    SELECT o_orderkey, o_orderstatus,
           ROUND(o_totalprice, 6) AS o_totalprice
    FROM ranked
    WHERE rn = 1 AND (__op IS NULL OR __op <> 'D')
    """,
)
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO without a table format (operators/cdc.py::merge_upsert):
    a base snapshot plus a deterministic derived changelog — a price/status
    update wave (orderkey % 10, seq 1) and a delete wave (orderkey % 97,
    seq 2) — compacted by one last-write-wins window pass. Updated rows
    carry the new status, deleted keys vanish, everything else passes
    through; a later delete beats an earlier update on keys divisible by
    both. No join: one hash shuffle on the merge key."""
    from polars_numba_spark.operators.cdc import merge_upsert

    o = _t(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    upd = (
        o.where(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        )
        .withColumn("__seq", F.lit(1))
        .withColumn("__op", F.lit("U"))
    )
    dels = (
        o.where(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.lit(None).cast("string").alias("o_orderstatus"),
            F.lit(None).cast("double").alias("o_totalprice"),
        )
        .withColumn("__seq", F.lit(2))
        .withColumn("__op", F.lit("D"))
    )
    snap = merge_upsert(
        base,
        upd.unionByName(dels),
        keys="o_orderkey",
        seq_col="__seq",
        op_col="__op",
    )
    return snap.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("o_totalprice"),
    )


@register(
    "user_state_scd2",
    oracle="""
    SELECT user_id, event_id, event_type,
           CAST(ts AS TIMESTAMP) AS valid_from,
           LEAD(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS valid_to,
           LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) IS NULL AS is_current
    FROM events WHERE event_type IN ('signup', 'purchase')
    """,
)
def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history (operators/cdc.py::scd2_history): each signup/purchase
    version of a user's state annotated with its validity interval — the
    next version's timestamp closes the current one, the open interval is
    the current row. One lead() window, one shuffle on the key."""
    from polars_numba_spark.operators.cdc import scd2_history

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "purchase")
    )
    hist = scd2_history(e, keys="user_id", seq_col="ts", tiebreak="event_id")
    return hist.select(
        "user_id", "event_id", "event_type", "valid_from", "valid_to", "is_current"
    )


@register(
    "order_price_hist_quantiles",
    oracle="""
    WITH binned AS (
        SELECT o_orderpriority,
               CAST(LEAST(255, GREATEST(0,
                   FLOOR((o_totalprice - 1000.0) / 1949.21875))) AS INTEGER)
                   AS bin
        FROM orders WHERE o_totalprice IS NOT NULL
    ), counts AS (
        SELECT o_orderpriority, bin, COUNT(*) AS n
        FROM binned GROUP BY 1, 2
    ), cum AS (
        SELECT o_orderpriority, bin, n,
               CAST(SUM(n) OVER (
                   PARTITION BY o_orderpriority ORDER BY bin
               ) AS BIGINT) AS c,
               CAST(SUM(n) OVER (PARTITION BY o_orderpriority) AS BIGINT)
                   AS total
        FROM counts
    ), exploded AS (
        SELECT *, UNNEST([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                          CAST(0.99 AS DOUBLE)]) AS prob
        FROM cum
    )
    SELECT o_orderpriority, prob,
           ROUND(1000.0 + 1949.21875 * (CAST(bin AS DOUBLE)
               + (prob * CAST(total AS DOUBLE) - CAST(c - n AS DOUBLE))
                 / CAST(n AS DOUBLE)), 6) AS quantile_est
    FROM exploded
    WHERE CAST(c AS DOUBLE) >= prob * CAST(total AS DOUBLE)
      AND CAST(c - n AS DOUBLE) < prob * CAST(total AS DOUBLE)
    """,
)
def order_price_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state histogram quantiles
    (operators/sketch.py::histogram_quantiles): p50/p90/p99 of order price
    per priority from a 256-bin equi-width histogram. Unlike the
    sort-based exact percentile (order_price_quantiles, which shuffles
    every value), the aggregate ships ≤256 counter rows per group —
    map-side partials collapse each partition to its bin counts first —
    and unlike approx_percentile/t-digest the estimator is deterministic
    arithmetic that DuckDB reproduces exactly. Width 1949.21875 =
    (500000-1000)/256, an exact binary double, so FLOOR agrees bit-for-bit
    cross-engine."""
    from polars_numba_spark.operators.sketch import histogram_quantiles

    o = _t(spark, sf_dir, "orders")
    return histogram_quantiles(
        o,
        "o_totalprice",
        "o_orderpriority",
        probs=(0.5, 0.9, 0.99),
        lo=1000.0,
        hi=500000.0,
        n_bins=256,
    )


@register("order_price_tdigest_report")  # merge-order-dependent — rows-only
def order_price_tdigest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluating accuracy report for the t-digest-style mergeable
    quantile sketch (operators/sketch.py::tdigest_quantiles, r6 verdict
    next-round #8) — the VALUE-ADAPTIVE complement of the oracled
    histogram estimator above: no [lo, hi) range assumed, k1-scale
    centroids dense in the tails. Like every merge-order-dependent sketch
    (HLL, GK, t-digest proper) its estimates cannot cross-engine oracle,
    so — the distinct_users_sketch / recall-report pattern — the query
    grades itself in-plan: each (priority, prob) row carries the estimate,
    the rank it actually attains against the raw data, and whether the
    |rank - prob| ≤ 1/n_centroids contract holds. Broadcast join: 15
    estimate rows against the orders scan, one aggregate."""
    from polars_numba_spark.operators.sketch import tdigest_quantiles

    n_centroids = 128  # single source for both the sketch and its 1/C bound

    o = _t(spark, sf_dir, "orders")
    est = tdigest_quantiles(
        o, "o_totalprice", "o_orderpriority", probs=(0.5, 0.9, 0.99),
        n_centroids=n_centroids,
    )
    joined = o.join(F.broadcast(est), "o_orderpriority")
    report = joined.groupBy("o_orderpriority", "prob", "quantile_est").agg(
        F.avg(
            (F.col("o_totalprice") <= F.col("quantile_est")).cast("double")
        ).alias("rank_attained")
    )
    return report.select(
        "o_orderpriority",
        "prob",
        "quantile_est",
        "rank_attained",
        F.abs(F.col("rank_attained") - F.col("prob")).alias("rank_error"),
        (
            F.abs(F.col("rank_attained") - F.col("prob"))
            <= F.lit(1.0 / n_centroids)
        ).alias("within_bound"),
    ).orderBy("o_orderpriority", "prob")


@register(
    "doc_corpus_diff",
    oracle="""
    WITH v1 AS (
        SELECT doc_id, md5(text) AS fp FROM documents
    ), v2 AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS fp
        FROM documents WHERE doc_id % 17 <> 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, md5(text || ' new') AS fp
        FROM documents WHERE doc_id % 11 = 0
    ), d AS (
        SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
               CASE WHEN v1.fp IS NULL THEN 'added'
                    WHEN v2.fp IS NULL THEN 'removed'
                    WHEN v1.fp = v2.fp THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT status, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM d GROUP BY status
    """,
)
def doc_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-release audit: diff two corpus versions into added /
    removed / changed / unchanged per doc (operators/cdc.py::corpus_diff
    — one full-outer join on the key carrying only (id, md5) pairs). The
    second version is built deterministically from the first inside the
    query (drop %17, edit %13, add %11 under offset ids) so both engines
    construct and diff identical snapshots; membership pinned by id_sum
    per status."""
    from polars_numba_spark.operators.cdc import corpus_diff

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        d.where(F.col("doc_id") % 17 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            d.where(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" new")).alias("text"),
            )
        )
    )
    diff = corpus_diff(d, v2, "doc_id", F.md5("text"))
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
    )


@register(
    "window_function_zoo",
    oracle="""
    SELECT o_custkey, o_orderkey,
           RANK() OVER wt AS f_rank,
           DENSE_RANK() OVER wt AS f_dense_rank,
           PERCENT_RANK() OVER wt AS f_percent_rank,
           CUME_DIST() OVER wt AS f_cume_dist,
           NTILE(4) OVER wu AS f_ntile,
           LAG(o_orderkey) OVER wu AS f_lag,
           LEAD(o_orderkey) OVER wu AS f_lead,
           FIRST_VALUE(o_orderkey) OVER wf AS f_first,
           LAST_VALUE(o_orderkey) OVER wf AS f_last,
           NTH_VALUE(o_orderkey, 2) OVER wf AS f_nth2
    FROM orders WHERE o_orderkey < 5000
    WINDOW
        wt AS (PARTITION BY o_custkey
               ORDER BY CAST(FLOOR(o_totalprice / 10000) AS BIGINT)),
        wu AS (PARTITION BY o_custkey ORDER BY o_orderkey),
        wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_function_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function breadth in one pass: tie-aware ranks (rank /
    dense_rank / percent_rank / cume_dist over a bucketed price that DOES
    tie — their values are tie-deterministic), and order-dependent
    functions (ntile / lag / lead / first / last / nth_value) over a
    UNIQUE ordering plus an explicit unbounded frame — the split that
    keeps every output engine-deterministic (order-dependent values over
    a tied ordering would be legal but arbitrary). One shuffle on
    o_custkey serves all three window specs."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 5000)
    bucket = F.floor(F.col("o_totalprice") / 10000).cast("long")
    wt = Window.partitionBy("o_custkey").orderBy(bucket)
    wu = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wf = wu.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(wt).alias("f_rank"),
        F.dense_rank().over(wt).alias("f_dense_rank"),
        F.percent_rank().over(wt).alias("f_percent_rank"),
        F.cume_dist().over(wt).alias("f_cume_dist"),
        F.ntile(4).over(wu).alias("f_ntile"),
        F.lag("o_orderkey").over(wu).alias("f_lag"),
        F.lead("o_orderkey").over(wu).alias("f_lead"),
        F.first("o_orderkey").over(wf).alias("f_first"),
        F.last("o_orderkey").over(wf).alias("f_last"),
        F.nth_value("o_orderkey", 2).over(wf).alias("f_nth2"),
    )


@register(
    "event_user_skew_report",
    oracle="""
    WITH counts AS (
        SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id
    ), ranked AS (
        SELECT user_id, n_rows,
               ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id) AS rank
        FROM counts
    )
    SELECT user_id, rank, n_rows,
           CAST(n_rows AS DOUBLE) / (SELECT CAST(SUM(n_rows) AS DOUBLE) FROM counts) AS share
    FROM ranked WHERE rank <= 10
    """,
)
def event_user_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact key-skew audit: the 10 heaviest event users with row counts
    and corpus share (operators/skew.py::key_skew_report) — the number
    that decides between hash partitioning, AQE skew-split and salting
    before a shuffle ships. The top-n window runs over the already-
    aggregated per-key counts, never the raw rows."""
    from polars_numba_spark.operators.skew import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "events"), "user_id", top_n=10)


@register(
    "distinct_users_hll_portable",
    oracle="""
    WITH h AS (
        SELECT event_type,
               CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                         AS UBIGINT) AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL
    ), br AS (
        SELECT event_type, h >> 48 AS bucket,
               CASE WHEN strpos(lpad(bin(h & ((1::BIGINT << 48) - 1)), 48, '0'),
                                '1') = 0
                    THEN 49
                    ELSE strpos(lpad(bin(h & ((1::BIGINT << 48) - 1)), 48, '0'),
                                '1')
               END AS rho
        FROM h
    ), regs AS (
        SELECT event_type, bucket, MAX(rho) AS rho FROM br GROUP BY 1, 2
    ), g AS (
        SELECT event_type, COUNT(*) AS used,
               SUM(1::BIGINT << (49 - rho)) AS zp
        FROM regs GROUP BY event_type
    ), raws AS (
        SELECT event_type, used, (4096 - used) AS nz,
               (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
                   * CAST(1::BIGINT << 49 AS DOUBLE)
                   / CAST(zp + (4096 - used) * (1::BIGINT << 49) AS DOUBLE)
                   AS raw
        FROM g
    ), est AS (
        SELECT event_type, used,
               CASE WHEN raw <= 2.5 * 4096 AND nz > 0
                    THEN 4096.0 * LN(4096.0 / CAST(nz AS DOUBLE))
                    ELSE raw END AS e
        FROM raws
    ), exact AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_users FROM events
        GROUP BY event_type
    )
    SELECT e.event_type, x.exact_users,
           CAST(e.used AS INTEGER) AS n_registers,
           ROUND(e.e, 6) AS hll_users,
           ROUND(ABS(ROUND(e.e, 6) - x.exact_users) / x.exact_users, 6)
               AS rel_err
    FROM est e JOIN exact x USING (event_type)
    """,
)
def distinct_users_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULLY-ORACLED HyperLogLog: md5-derived registers (top-12 hash
    bits bucket, leading-zero rank of the remaining 48), register sum
    accumulated as the EXACT integer sum(2^(49-rho)) so no float ordering
    can perturb it, and the alpha / linear-counting correction reproduced
    verbatim in DuckDB — estimate and relative error hash-exact
    cross-engine (operators/sketch.py::hll_distinct). Complements
    distinct_users_kmv (order-statistics sketch, also oracled) and
    distinct_users_sketch (the built-in HLL++, engine-private registers,
    rows-only by nature): the classic register sketch needs no rows-only
    allowance when the hash is portable and the accumulator is integer."""
    from polars_numba_spark.operators.sketch import hll_distinct

    e = _t(spark, sf_dir, "events")
    est = hll_distinct(e, "user_id", "event_type", p=12)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        "n_registers",
        F.col("hll_estimate").alias("hll_users"),
        F.round(
            F.abs(F.col("hll_estimate") - F.col("exact_users"))
            / F.col("exact_users"),
            6,
        ).alias("rel_err"),
    )


@register(
    "user_conversion_funnel",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
    ), s AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ms END) AS s_ms
        FROM e GROUP BY user_id
    ), sv AS (
        SELECT e.user_id, MIN(s.s_ms) AS s_ms,
               MIN(CASE WHEN e.event_type = 'view' AND e.ms > s.s_ms
                        THEN e.ms END) AS v_ms
        FROM e JOIN s ON e.user_id = s.user_id GROUP BY e.user_id
    ), svp AS (
        SELECT e.user_id, MIN(sv.s_ms) AS s_ms, MIN(sv.v_ms) AS v_ms,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.ms > sv.v_ms
                        THEN e.ms END) AS p_ms
        FROM e JOIN sv ON e.user_id = sv.user_id GROUP BY e.user_id
    ), lab AS (
        SELECT CASE WHEN p_ms IS NOT NULL THEN 3
                    WHEN v_ms IS NOT NULL THEN 2
                    WHEN s_ms IS NOT NULL THEN 1 ELSE 0 END AS funnel_depth,
               p_ms - s_ms AS diff
        FROM svp
    )
    SELECT CAST(funnel_depth AS INTEGER) AS funnel_depth,
           COUNT(*) AS n_users,
           ROUND(CAST(SUM(diff) AS DOUBLE) / COUNT(*) / 3600000.0, 6)
               AS avg_hours_to_purchase
    FROM lab GROUP BY funnel_depth
    """,
)
def user_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel analytics (the MATCH_RECOGNIZE-lite shape):
    per user, the earliest signup, the earliest view STRICTLY AFTER that
    signup, and the earliest purchase strictly after that view — then the
    population rolled up by funnel depth with mean signup→purchase hours
    for completers. Millisecond epochs are exact integers in both engines
    (probed: unix_millis == epoch_ms on this data), the duration sum is an
    integer sum, and the only floats are the final two divisions — fully
    hash-oracled sequential-pattern analytics. Three user-keyed
    aggregates, each joining the previous step's per-user result: every
    shuffle keys on user_id, no window over the raw event stream."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ms")
    )
    s = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ms"))
        ).alias("s_ms")
    )
    sv = (
        e.join(s, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("s_ms").alias("s_ms"),
            F.min(
                F.when(
                    (F.col("event_type") == "view")
                    & (F.col("ms") > F.col("s_ms")),
                    F.col("ms"),
                )
            ).alias("v_ms"),
        )
    )
    svp = (
        e.join(sv, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("s_ms").alias("s_ms"),
            F.min("v_ms").alias("v_ms"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ms") > F.col("v_ms")),
                    F.col("ms"),
                )
            ).alias("p_ms"),
        )
    )
    depth = (
        F.when(F.col("p_ms").isNotNull(), F.lit(3))
        .when(F.col("v_ms").isNotNull(), F.lit(2))
        .when(F.col("s_ms").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
    )
    return (
        svp.select(
            depth.cast("int").alias("funnel_depth"),
            (F.col("p_ms") - F.col("s_ms")).alias("diff"),
        )
        .groupBy("funnel_depth")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                F.sum("diff").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(3600000.0),
                6,
            ).alias("avg_hours_to_purchase"),
        )
    )


_BLOOM_MD5INT = "CAST(CAST(('0x' || substr(md5({x}), 1, 15)) AS UBIGINT) AS BIGINT)"


def _bloom_hash_sql(key: str) -> str:
    """DuckDB list of the 4 seeded bloom hashes of ``key`` — the SQL twin
    of operators/sketch.py::_bloom_hash at n_hashes=4."""
    return (
        "["
        + ", ".join(
            _BLOOM_MD5INT.format(x=f"CAST({key} AS VARCHAR) || '#bloom{j}'")
            for j in range(4)
        )
        + "]"
    )


@register(
    "orders_bloom_prefilter",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT c_custkey AS k FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 7500
          AND c_custkey IS NOT NULL
    ), stats AS (
        SELECT 32 * CAST(ceil(8 * COUNT(*) / 32.0) AS BIGINT) AS m_bits
        FROM build
    ), pos AS (
        SELECT UNNEST({_bloom_hash_sql('k')}) % m_bits AS p FROM build, stats
    ), words AS (
        SELECT p // 32 AS w,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS word
        FROM pos GROUP BY p // 32
    ), probe AS (
        SELECT o_orderkey, UNNEST({_bloom_hash_sql('o_custkey')}) % m_bits AS p
        FROM orders, stats
    ), hits AS (
        SELECT pr.o_orderkey,
               MIN(CASE WHEN (w.word >> CAST(pr.p % 32 AS INTEGER)) & 1 = 1
                        THEN 1 ELSE 0 END) AS all_hit
        FROM probe pr LEFT JOIN words w ON w.w = pr.p // 32
        GROUP BY pr.o_orderkey
    )
    SELECT o.o_orderpriority AS o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE h.all_hit = 1) AS n_pass_bloom,
           COUNT(*) FILTER (WHERE b.k IS NOT NULL) AS n_exact_match,
           COUNT(*) FILTER (WHERE h.all_hit = 1 AND b.k IS NULL) AS n_false_pos
    FROM orders o
    JOIN hits h ON h.o_orderkey = o.o_orderkey
    LEFT JOIN build b ON b.k = o.o_custkey
    GROUP BY o.o_orderpriority
    """,
)
def orders_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join prefilter, fully oracled: a selective
    customer dim (BUILDING segment, high balance) builds a data-scaled
    md5 bitmap (operators/sketch.py::bloom_build) that is broadcast onto
    the orders fact as a pure projection — the explicit form of the AQE
    runtime filter that, at 100 TB, drops non-matching fact rows at the
    scan instead of shuffling them. The report groups by order priority
    and compares bloom verdicts to the exact broadcast join: n_pass_bloom
    ≥ n_exact_match always (no false negatives — property-tested), and
    n_false_pos realizes the bounded (1 - e^(-k/8))^k ≈ 2.4% rate."""
    from polars_numba_spark.operators.sketch import bloom_build, bloom_probe

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    build = c.where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 7500)
    )
    bloom = bloom_build(build, "c_custkey", bits_per_key=8, n_hashes=4)
    probed = bloom_probe(o, "o_custkey", bloom)
    marks = build.select(F.col("c_custkey").alias("__bk")).distinct()
    flagged = probed.join(
        F.broadcast(marks), probed["o_custkey"] == marks["__bk"], "left"
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("passes_bloom"), 1)).alias("n_pass_bloom"),
        F.count(F.when(F.col("__bk").isNotNull(), 1)).alias("n_exact_match"),
        F.count(
            F.when(F.col("passes_bloom") & F.col("__bk").isNull(), 1)
        ).alias("n_false_pos"),
    )


@register(
    "user_retention_cohorts",
    oracle="""
    WITH signup AS (
        SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), act AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ), offs AS (
        SELECT DISTINCT s.user_id, s.cohort_day,
               CAST(date_diff('day', s.cohort_day, a.d) // 7 AS INTEGER)
                   AS week_offset
        FROM act a JOIN signup s USING (user_id)
        WHERE a.d >= s.cohort_day
    ), cohort_sizes AS (
        SELECT cohort_day, COUNT(*) AS cohort_size FROM signup
        GROUP BY cohort_day
    )
    SELECT o.cohort_day AS cohort_day, o.week_offset AS week_offset,
           z.cohort_size AS cohort_size,
           COUNT(DISTINCT o.user_id) AS n_active,
           ROUND(CAST(COUNT(DISTINCT o.user_id) AS DOUBLE) / z.cohort_size, 6)
               AS retention
    FROM offs o JOIN cohort_sizes z USING (cohort_day)
    GROUP BY o.cohort_day, o.week_offset, z.cohort_size
    """,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: users cohorted by first-signup
    day, then for each (cohort, weeks-since-signup) the distinct-active
    share of the cohort. The companion analytics face to the conversion
    funnel: both reduce the raw event stream to the product metrics a
    pipeline dashboard reads. Scale shape: one shuffle keyed on user_id
    builds cohorts and daily activity (distinct at day granularity first,
    so the offset join fans out per active DAY, not per event), then a
    bounded (cohort_day x week_offset) aggregate; cohort sizes join on the
    tiny cohort-day dimension."""
    e = _t(spark, sf_dir, "events")
    signup = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("DAY", F.min("ts")).alias("cohort_day"))
    )
    act = e.select("user_id", F.date_trunc("DAY", "ts").alias("d")).distinct()
    offs = (
        act.join(signup, "user_id")
        .where(F.col("d") >= F.col("cohort_day"))
        .select(
            "user_id",
            "cohort_day",
            F.floor(F.datediff("d", "cohort_day") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    sizes = signup.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        offs.groupBy("cohort_day", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "week_offset",
            "cohort_size",
            "n_active",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )


@register(
    "event_type_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   AS prev_type
        FROM events
    ), pairs AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ), tot AS (
        SELECT prev_type, SUM(n_transitions) AS n_from FROM pairs
        GROUP BY prev_type
    )
    SELECT p.prev_type AS prev_type, p.next_type AS next_type,
           p.n_transitions AS n_transitions,
           ROUND(CAST(p.n_transitions AS DOUBLE) / t.n_from, 6)
               AS transition_prob
    FROM pairs p JOIN tot t USING (prev_type)
    """,
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    lag each user's ordered event stream by one, count (prev, next) pairs,
    normalize per source state. One shuffle keyed on user_id for the lag
    window, then a bounded |event_types|^2 aggregate; the row-count
    normalizer joins on the tiny state dimension. The behavioral-model
    face next to the funnel and retention triangles."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    pairs = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("n_transitions").alias("n_from"))
    return pairs.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double") / F.col("n_from"), 6
        ).alias("transition_prob"),
    )


@register(
    "order_basket_lift",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), n AS (
        SELECT COUNT(DISTINCT ok) AS n_orders FROM items
    ), psup AS (
        SELECT pk, COUNT(*) AS np FROM items GROUP BY pk
    ), pairs AS (
        SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS pair_orders
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk
    ), scored AS (
        SELECT p.part_a, p.part_b, p.pair_orders,
               sa.np AS n_a, sb.np AS n_b,
               CAST(p.pair_orders AS DOUBLE) / n.n_orders AS support,
               CAST(p.pair_orders AS DOUBLE) / sa.np AS confidence_a_b,
               (CAST(p.pair_orders AS DOUBLE) * n.n_orders)
                   / (CAST(sa.np AS DOUBLE) * sb.np) AS lift
        FROM pairs p
        JOIN psup sa ON sa.pk = p.part_a
        JOIN psup sb ON sb.pk = p.part_b
        CROSS JOIN n
    )
    SELECT part_a, part_b, pair_orders, n_a, n_b,
           support, confidence_a_b, lift
    FROM scored
    ORDER BY pair_orders DESC, part_a, part_b LIMIT 20
    """,
)
def order_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity mining (the association-rules face):
    co-ordered part pairs with support / confidence / lift. Scale shape:
    the pair explosion is the WITHIN-BASKET self-join keyed on the order
    id — bounded by max basket size squared (13 items here, so ≤78 pairs
    per order), never a part-by-part cartesian; part supports join back
    broadcast-sized, and the top-20 ships per-partition heads only
    (TakeOrderedAndProject). All ratios are single divisions of exact
    counts — hash-stable with no decimal tricks."""
    from polars_numba_spark.plans.checkpoint import checkpoint

    l = _t(spark, sf_dir, "lineitem")
    # items feeds four consumers (order count, part supports, both pair
    # sides); materialize the scan+distinct once instead of replaying it
    # per consumer (no exchange reuse fires across these subtrees).
    items = checkpoint(
        l.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct()
    )
    n_orders = items.agg(F.countDistinct("ok").alias("n_orders"))
    psup = items.groupBy("pk").agg(F.count(F.lit(1)).alias("np"))
    a = items.select(F.col("ok"), F.col("pk").alias("part_a"))
    b = items.select(F.col("ok"), F.col("pk").alias("part_b"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
    )
    scored = (
        pairs.join(
            psup.select(F.col("pk").alias("part_a"), F.col("np").alias("n_a")),
            "part_a",
        )
        .join(
            psup.select(F.col("pk").alias("part_b"), F.col("np").alias("n_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            "n_a",
            "n_b",
            (F.col("pair_orders").cast("double") / F.col("n_orders")).alias(
                "support"
            ),
            (F.col("pair_orders").cast("double") / F.col("n_a")).alias(
                "confidence_a_b"
            ),
            (
                (F.col("pair_orders").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("pair_orders").desc(), "part_a", "part_b"
    ).limit(20)


# Single-sourced burst oracle: the batch face and the streaming face
# compute the same hourly-count + trailing-baseline flags, so one SQL
# statement oracles both (the CMS/EWMA-twin pattern).
_BURST_ORACLE_SQL = """
    WITH hourly AS (
        SELECT event_type,
               CAST(date_part('epoch', date_trunc('hour', ts)) // 3600
                    AS BIGINT) AS hour_idx,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ), base AS (
        SELECT event_type, hour_idx, n_events,
               AVG(n_events) OVER (
                   PARTITION BY event_type ORDER BY hour_idx
                   RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING
               ) AS trailing_avg
        FROM hourly
    )
    SELECT event_type, hour_idx, n_events, trailing_avg,
           (trailing_avg IS NOT NULL AND n_events > 2.0 * trailing_avg
            AND n_events >= 10) AS is_burst
    FROM base
    """


@register("events_burst_windows", oracle=_BURST_ORACLE_SQL)
def events_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection over the event stream: hourly counts per type
    against a trailing-24h RANGE-frame baseline (RANGE, not ROWS, so
    missing hours cannot misalign the window), flagged when the hour
    runs above 2x baseline with an absolute floor. One count aggregate
    (map-side combinable, key space |types| x hours) then a per-type
    window — the monitoring face a streaming ingest pipeline runs next
    to the drift audits. The trailing average is an exact-integer-sum
    division, so no decimal accumulation is needed."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.floor(
                F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600
            ).alias("hour_idx"),
        )
        .groupBy("event_type", "hour_idx")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour_idx")
        .rangeBetween(-24, -1)
    )
    base = hourly.withColumn("trailing_avg", F.avg("n_events").over(w))
    return base.select(
        "event_type",
        "hour_idx",
        "n_events",
        "trailing_avg",
        (
            F.col("trailing_avg").isNotNull()
            & (F.col("n_events") > F.lit(2.0) * F.col("trailing_avg"))
            & (F.col("n_events") >= 10)
        ).alias("is_burst"),
    )


@register(
    "user_rfm_segments",
    oracle="""
    WITH anchor AS (
        SELECT MAX(CAST(ts AS TIMESTAMP)) AS t_max FROM events
    ), rfm AS (
        SELECT user_id,
               CAST(date_diff('day',
                    date_trunc('day', MAX(CAST(ts AS TIMESTAMP))),
                    date_trunc('day', ANY_VALUE(a.t_max))) AS BIGINT)
                   AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
                   AS monetary
        FROM events, anchor a WHERE event_type = 'purchase'
        GROUP BY user_id
    ), bounds AS (
        SELECT quantile_cont(-recency_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
               quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fb,
               quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mb
        FROM rfm
    )
    SELECT user_id, recency_days, frequency, monetary,
           CAST(1 + length(list_filter(rb, x -> -recency_days > x))
                AS INTEGER) AS r_score,
           CAST(1 + length(list_filter(fb, x -> frequency > x))
                AS INTEGER) AS f_score,
           CAST(1 + length(list_filter(mb, x -> monetary > x))
                AS INTEGER) AS m_score
    FROM rfm, bounds
    """,
)
def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over the purchase stream: recency (days
    from last purchase to the corpus anchor — the deterministic stand-in
    for "today"), frequency, and monetary (exact cents accumulation),
    each bucketed 1-5 by VALUE against exact quintile boundaries from one
    broadcast aggregate — the same no-global-sort spelling the r8 soak
    forced on the quality calibration (a global ntile would serialize on
    one reducer). Recency is negated before bucketing so higher score =
    more recent, matching the classic RFM orientation."""

    e = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    anchor = e.agg(F.max("ts").alias("t_max"))
    rfm = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.date_trunc("DAY", F.any_value("t_max")),
                F.date_trunc("DAY", F.max("ts")),
            )
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / 100.0
            ).alias("monetary"),
        )
    )
    bounds = rfm.agg(
        F.percentile(
            -F.col("recency_days").cast("double"),
            F.array(*[F.lit(q) for q in (0.2, 0.4, 0.6, 0.8)]),
        ).alias("rb"),
        F.percentile(
            F.col("frequency").cast("double"),
            F.array(*[F.lit(q) for q in (0.2, 0.4, 0.6, 0.8)]),
        ).alias("fb"),
        F.percentile(
            "monetary", F.array(*[F.lit(q) for q in (0.2, 0.4, 0.6, 0.8)])
        ).alias("mb"),
    )

    def bucket(boundaries, value):
        return (
            F.lit(1)
            + F.size(F.filter(boundaries, lambda x: value > x))
        ).cast("int")

    return rfm.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        bucket(F.col("rb"), -F.col("recency_days")).alias("r_score"),
        bucket(F.col("fb"), F.col("frequency")).alias("f_score"),
        bucket(F.col("mb"), F.col("monetary")).alias("m_score"),
    )


@register(
    "funnel_conversion_latency",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
        SELECT e.user_id,
               MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
        FROM events e JOIN s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(e.ts AS TIMESTAMP) >= s.t_signup
        GROUP BY e.user_id
    ), lat AS (
        SELECT s.user_id,
               CAST(floor(epoch(p.t_purchase)) AS BIGINT)
                   - CAST(floor(epoch(s.t_signup)) AS BIGINT) AS latency_s
        FROM s JOIN p ON p.user_id = s.user_id
    )
    SELECT COUNT(*) AS n_converters,
           quantile_cont(latency_s, 0.25) AS p25_s,
           quantile_cont(latency_s, 0.5) AS p50_s,
           quantile_cont(latency_s, 0.75) AS p75_s,
           quantile_cont(latency_s, 0.9) AS p90_s
    FROM lat
    """,
)
def funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: first signup to first subsequent
    purchase per user, summarized as exact percentiles — the latency
    companion to the ordered-step funnel (how LONG conversion takes, not
    just whether it happens). Two min-aggregates keyed on user plus one
    exact-percentile aggregate over the per-user latencies (one value
    per converter — the aggregate's memory is converter-bounded; at
    larger cardinalities swap in the t-digest face)."""
    e = _t(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    lat = s.join(p, "user_id").select(
        (
            F.unix_timestamp("t_purchase") - F.unix_timestamp("t_signup")
        ).alias("latency_s")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.percentile(F.col("latency_s").cast("double"), F.lit(0.25)).alias("p25_s"),
        F.percentile(F.col("latency_s").cast("double"), F.lit(0.5)).alias("p50_s"),
        F.percentile(F.col("latency_s").cast("double"), F.lit(0.75)).alias("p75_s"),
        F.percentile(F.col("latency_s").cast("double"), F.lit(0.9)).alias("p90_s"),
    )


@register(
    "events_cusum_changepoints",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_part('epoch', date_trunc('day', ts)) // 86400
                    AS BIGINT) AS day_idx,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ), totals AS (
        SELECT event_type, SUM(n_events) AS total, COUNT(*) AS n_days
        FROM daily GROUP BY 1
    ), scored AS (
        SELECT d.event_type, d.day_idx, d.n_events,
               t.total, t.n_days,
               SUM(t.n_days * d.n_events - t.total) OVER (
                   PARTITION BY d.event_type ORDER BY d.day_idx
                   ROWS UNBOUNDED PRECEDING) AS p_scaled
        FROM daily d JOIN totals t USING (event_type)
    ), floored AS (
        SELECT *, LEAST(0, MIN(p_scaled) OVER (
                   PARTITION BY event_type ORDER BY day_idx
                   ROWS UNBOUNDED PRECEDING)) AS m_scaled
        FROM scored
    )
    SELECT event_type, day_idx, n_events,
           CAST(p_scaled - m_scaled AS DOUBLE) / n_days AS cusum,
           (p_scaled - m_scaled) > 2 * total AS is_shift
    FROM floored
    """,
)
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over per-type daily event counts —
    the level-shift monitor that complements the burst face (bursts catch
    single hot hours; CUSUM accumulates small sustained drifts). The
    textbook recurrence S_t = max(0, S_{t-1} + x_t - k) is NOT computed
    as a recurrence: it has the exact closed form S_t = P_t - min(0,
    min_{i<=t} P_i) with P the prefix sum of deviations, so the whole
    detector is two stacked window frames over one sort — embarrassingly
    parallel across event types, no iteration, no Python. Arithmetic is
    kept in scaled integers (deviations multiplied by the day count so
    the drift k = mean stays exact-rational); the single double division
    happens at output. Shift flag fires when the statistic exceeds 2x
    the mean daily rate. At 100 TB the scaled prefix sums would move to
    decimal(38,0) to dodge long overflow; day x type keyspace keeps the
    aggregate map-side combinable."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(
                F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
            ).alias("day_idx"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    totals = daily.groupBy("event_type").agg(
        F.sum("n_events").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = daily.join(F.broadcast(totals), "event_type").withColumn(
        "p_scaled",
        F.sum(
            F.col("n_days") * F.col("n_events") - F.col("total")
        ).over(w),
    )
    floored = scored.withColumn(
        "m_scaled",
        F.least(F.lit(0).cast("long"), F.min("p_scaled").over(w)),
    )
    return floored.select(
        "event_type",
        "day_idx",
        "n_events",
        (
            (F.col("p_scaled") - F.col("m_scaled")).cast("double")
            / F.col("n_days")
        ).alias("cusum"),
        (
            (F.col("p_scaled") - F.col("m_scaled"))
            > F.lit(2) * F.col("total")
        ).alias("is_shift"),
    )


# Single-sourced CMS oracle: the batch face and the streaming face build
# the SAME deterministic counter table, so one SQL statement oracles both.
_CMS_ORACLE_SQL = """
    WITH keys AS (
        SELECT CAST(user_id AS VARCHAR) AS v, user_id
        FROM events WHERE user_id IS NOT NULL
    ), coords AS (
        SELECT j,
               CAST(CAST(('0x' || substr(md5(v || '#cms' || CAST(j AS VARCHAR)), 1, 15))
                    AS UBIGINT) AS BIGINT) % 1024 AS bucket
        FROM keys, (SELECT UNNEST(range(4)) AS j)
    ), sketch AS (
        SELECT j, bucket, COUNT(*) AS cnt FROM coords GROUP BY 1, 2
    ), exact AS (
        SELECT user_id, COUNT(*) AS exact_n
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id ORDER BY exact_n DESC, user_id LIMIT 20
    ), probe AS (
        SELECT e.user_id, e.exact_n, j,
               CAST(CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR)
                        || '#cms' || CAST(j AS VARCHAR)), 1, 15))
                    AS UBIGINT) AS BIGINT) % 1024 AS bucket
        FROM exact e, (SELECT UNNEST(range(4)) AS j)
    )
    SELECT p.user_id, p.exact_n,
           MIN(COALESCE(s.cnt, 0)) AS cms_n,
           MIN(COALESCE(s.cnt, 0)) - p.exact_n AS overest
    FROM probe p LEFT JOIN sketch s USING (j, bucket)
    GROUP BY 1, 2
    """


@register("user_events_cms", oracle=_CMS_ORACLE_SQL)
def user_events_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (operators/sketch.py::
    cms_build/cms_probe): per-user event counts approximated by a fixed
    4x1024 counter table, probed for the 20 exact-heaviest users and
    reported next to their true counts with the (always non-negative)
    overestimate. The sketch shuffle is SKETCH-sized (4096 rows) no
    matter the input — the frequency complement to the KMV cardinality
    face — and counters merge by addition, so a 1000-executor build is
    one map-side-combinable aggregate. Every bucket derives from md5, so
    the DuckDB oracle reproduces each counter and the min-estimate
    bit-for-bit (approximate does not mean un-oracleable when the sketch
    is deterministic and hash-portable)."""
    from polars_numba_spark.operators.sketch import cms_build, cms_probe

    e = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    sketch = cms_build(e, "user_id", depth=4, width=1024, portable=True)
    exact = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(20)
    )
    probed = cms_probe(sketch, exact.select("user_id"), "user_id")
    return exact.join(probed, "user_id").select(
        "user_id",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overest"),
    )


@register(
    "audience_overlap_kmv",
    oracle="""
    WITH d AS (
        SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS v
        FROM events WHERE user_id IS NOT NULL
    ), h AS (
        SELECT g,
               CAST(CAST(('0x' || substr(md5(v), 1, 15)) AS UBIGINT)
                    AS BIGINT) AS h
        FROM d
    ), ranked AS (
        SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM h
    ), thetas AS (
        SELECT g, COALESCE(MAX(CASE WHEN rn = 256 THEN h END),
                           1152921504606846976) AS theta
        FROM ranked GROUP BY g
    ), samp AS (
        SELECT g, h FROM ranked WHERE rn <= 255
    ), base AS (
        SELECT a.g AS g_a, b.g AS g_b, LEAST(a.theta, b.theta) AS theta_pair
        FROM thetas a, thetas b WHERE a.g < b.g
    ), counted AS (
        SELECT sa.g AS g_a, sb.g AS g_b, COUNT(*) AS c
        FROM samp sa
        JOIN samp sb ON sa.h = sb.h AND sa.g < sb.g
        JOIN base ON base.g_a = sa.g AND base.g_b = sb.g
        WHERE sa.h < base.theta_pair
        GROUP BY 1, 2
    ), exact AS (
        SELECT da.g AS g_a, db.g AS g_b, COUNT(*) AS exact_overlap
        FROM d da JOIN d db ON da.v = db.v AND da.g < db.g
        GROUP BY 1, 2
    ), est AS (
        SELECT base.g_a, base.g_b,
               COALESCE(e.exact_overlap, 0) AS exact_overlap,
               CAST(COALESCE(c.c, 0) AS DOUBLE) * 1152921504606846976.0
                   / CAST(base.theta_pair AS DOUBLE) AS raw_kmv
        FROM base
        LEFT JOIN counted c ON c.g_a = base.g_a AND c.g_b = base.g_b
        LEFT JOIN exact e ON e.g_a = base.g_a AND e.g_b = base.g_b
    )
    SELECT g_a AS type_a, g_b AS type_b, exact_overlap,
           ROUND(raw_kmv, 6) AS kmv_overlap,
           CASE WHEN exact_overlap > 0
                THEN ROUND(ABS(raw_kmv - CAST(exact_overlap AS DOUBLE))
                           / CAST(exact_overlap AS DOUBLE), 6)
           END AS rel_err
    FROM est
    """,
)
def audience_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: |A ∩ B| for every event-type audience pair
    estimated from KMV/theta sketches alone (operators/sketch.py::
    kmv_pairwise_overlap) next to the exact overlap — the DataSketches-
    style capability that answers "how many users did both X and Y"
    without ever joining the raw audiences. The pair join touches at
    most k=256 sketch rows per group however large the data; the exact
    side here is the self-audit (and the only data-sized join in the
    face). Deterministic md5 hashing reproduces estimate and error
    bit-for-bit in the DuckDB oracle."""
    from polars_numba_spark.operators.sketch import kmv_pairwise_overlap

    e = _t(spark, sf_dir, "events")
    d = (
        e.select(F.col("event_type").alias("g"), F.col("user_id").alias("u"))
        .where(F.col("u").isNotNull())
        .distinct()
    )
    exact = (
        d.select(F.col("g").alias("g_a"), "u")
        .join(d.select(F.col("g").alias("g_b"), "u"), "u")
        .where(F.col("g_a") < F.col("g_b"))
        .groupBy("g_a", "g_b")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    est = kmv_pairwise_overlap(e, "user_id", "event_type", k=256)
    joined = est.join(exact, ["g_a", "g_b"], "left").select(
        "g_a",
        "g_b",
        F.coalesce(F.col("exact_overlap"), F.lit(0).cast("long")).alias(
            "exact_overlap"
        ),
        F.col("kmv_overlap").alias("raw_kmv"),
    )
    return joined.select(
        F.col("g_a").alias("type_a"),
        F.col("g_b").alias("type_b"),
        "exact_overlap",
        F.round(F.col("raw_kmv"), 6).alias("kmv_overlap"),
        F.when(
            F.col("exact_overlap") > 0,
            F.round(
                F.abs(
                    F.col("raw_kmv") - F.col("exact_overlap").cast("double")
                )
                / F.col("exact_overlap").cast("double"),
                6,
            ),
        ).alias("rel_err"),
    )


@register(
    "user_value_concentration",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
        GROUP BY user_id
    ), st AS (
        SELECT COUNT(*) AS n, SUM(cents) AS t,
               GREATEST(1, CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / 100.0)
                                AS BIGINT)) AS k
        FROM pu
    ), rk AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, user_id) AS r
        FROM pu
    )
    SELECT st.n AS n_users,
           CAST(st.t AS BIGINT) AS total_cents,
           CAST(2 * SUM(r * cents) AS DOUBLE)
               / (CAST(st.n AS DOUBLE) * CAST(st.t AS DOUBLE))
               - CAST(st.n + 1 AS DOUBLE) / CAST(st.n AS DOUBLE) AS gini,
           CAST(SUM(CAST(ROUND(
                   -(CAST(cents AS DOUBLE) / CAST(st.t AS DOUBLE))
                   * LN(CAST(cents AS DOUBLE) / CAST(st.t AS DOUBLE)), 9)
               AS DECIMAL(28,12))) AS DOUBLE) AS entropy,
           CAST(SUM(cents * cents) AS DOUBLE)
               / (CAST(st.t AS DOUBLE) * CAST(st.t AS DOUBLE)) AS hhi,
           CAST(SUM(CASE WHEN r > st.n - st.k THEN cents ELSE 0 END)
                AS DOUBLE) / CAST(st.t AS DOUBLE) AS top1_share
    FROM rk, st GROUP BY st.n, st.t, st.k
    """,
)
def user_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration / inequality audit of per-user purchase value — the
    budget-mixing diagnostic (is the corpus one whale or a long tail?):
    exact Gini coefficient, Shannon entropy, Herfindahl index, and the
    top-1%-of-users value share, in ONE pass over ranked user totals.
    Gini uses the rank formulation G = 2·Σ r·x / (n·T) − (n+1)/n with
    ranks from operators/profile.py::global_ranks — the distributed
    sort-rank (range partition + local rank + broadcast offsets), NOT a
    single-reducer row_number. Everything except entropy stays in exact
    integers until one output division (Σ r·x and Σ x² are bigint sums;
    at 100-TB cardinalities they'd move to decimal(38,0)); entropy terms
    use the proven round-9 decimal-sum recipe. Deterministic ranks via
    the user_id tiebreaker."""
    from polars_numba_spark.operators.profile import global_ranks

    pu = (
        _t(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
    )
    st = pu.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("t"),
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.count(F.lit(1)).cast("double") / 100.0).cast("long"),
        ).alias("k"),
    )
    rk = global_ranks(pu, ["cents", "user_id"], rank_col="r")
    p = F.col("cents").cast("double") / F.col("t").cast("double")
    return (
        rk.crossJoin(F.broadcast(st))
        # keyed on the (single) stats row, NOT an ungrouped agg: an empty
        # purchase table must yield an empty readout in both engines (the
        # oracle's FROM rk, st GROUP BY does), not one row of NaNs
        .groupBy("n", "t", "k")
        .agg(
            F.any_value("n").alias("n_users"),
            F.any_value("t").cast("long").alias("total_cents"),
            (
                (F.lit(2) * F.sum(F.col("r") * F.col("cents"))).cast("double")
                / (
                    F.any_value("n").cast("double")
                    * F.any_value("t").cast("double")
                )
                - (F.any_value("n") + 1).cast("double")
                / F.any_value("n").cast("double")
            ).alias("gini"),
            F.sum(
                F.round(-p * F.log(p), 9).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("entropy"),
            (
                F.sum(F.col("cents") * F.col("cents")).cast("double")
                / (
                    F.any_value("t").cast("double")
                    * F.any_value("t").cast("double")
                )
            ).alias("hhi"),
            (
                F.sum(
                    F.when(
                        F.col("r") > F.col("n") - F.col("k"), F.col("cents")
                    ).otherwise(F.lit(0).cast("long"))
                ).cast("double")
                / F.any_value("t").cast("double")
            ).alias("top1_share"),
        )
        .select(
            "n_users", "total_cents", "gini", "entropy", "hhi", "top1_share"
        )
    )


@register(
    "purchase_attribution_items",
    oracle="""
    WITH t AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts_t, event_id,
               CAST(json_extract(props, '$.k') AS INTEGER) AS item
        FROM events WHERE event_type IN ('click', 'view')
    ), p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts_p, event_id AS pid, value
        FROM events WHERE event_type = 'purchase'
    ), j AS (
        SELECT p.pid, p.value, t.item, t.ts_t, t.event_id
        FROM p JOIN t ON t.user_id = p.user_id
                     AND t.ts_t <= p.ts_p
                     AND t.ts_t >= p.ts_p - INTERVAL 3 DAY
    ), stats AS (
        SELECT pid, COUNT(*) AS n_t FROM j GROUP BY 1
    ), ranked AS (
        SELECT j.*,
               ROW_NUMBER() OVER (
                   PARTITION BY pid ORDER BY ts_t, event_id) AS rn_first,
               ROW_NUMBER() OVER (
                   PARTITION BY pid ORDER BY ts_t DESC, event_id DESC) AS rn_last
        FROM j
    ), lin AS (
        SELECT j.item,
               SUM(CAST(round(j.value / CAST(s.n_t AS DOUBLE), 9)
                        AS DECIMAL(28,10))) AS lin
        FROM j JOIN stats s USING (pid) GROUP BY 1
    ), fc AS (
        SELECT item, SUM(CAST(value AS DECIMAL(18,6))) AS fst
        FROM ranked WHERE rn_first = 1 GROUP BY 1
    ), lc AS (
        SELECT item, SUM(CAST(value AS DECIMAL(18,6))) AS lst
        FROM ranked WHERE rn_last = 1 GROUP BY 1
    ), tn AS (
        SELECT item, COUNT(*) AS n_touches FROM j GROUP BY 1
    )
    SELECT tn.item, tn.n_touches,
           CAST(lin.lin AS DOUBLE) AS linear_credit,
           CAST(COALESCE(fc.fst, 0) AS DOUBLE) AS first_credit,
           CAST(COALESCE(lc.lst, 0) AS DOUBLE) AS last_credit
    FROM tn
    JOIN lin ON lin.item = tn.item
    LEFT JOIN fc ON fc.item = tn.item
    LEFT JOIN lc ON lc.item = tn.item
    """,
)
def purchase_attribution_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TOUCH ATTRIBUTION — the marketing-analytics face that closes
    the loop from sessions/funnels to revenue: each purchase's value is
    credited to the items the user touched (click/view, ``props.k``) in
    the 3 days before it, under the three standard models side by side —
    linear (value / touch count per touch), first-touch (all value to
    the earliest touch) and last-touch. Purchases with no in-window
    touch are unattributed and drop (documented).

    Exactness: the linear share is one double division rounded to 9
    decimals then DECIMAL(28,10)-accumulated — the PageRank contribution
    recipe, with the scale WIDENED per magnitude: at |x|≈10³ the double
    ulp (~10⁻¹³) exceeds a scale-14 half-quantum, so a (28,14) cast can
    land on different sides per engine (measured: 27/100 rows off in the
    last ulps); scale 10 keeps the quantum three decades above the ulp.
    First/last sums use the DECIMAL(18,6) value-sum pattern;
    first/last selection is a ROW_NUMBER over the total order
    (ts, event_id). Scale shape: the touch-window join keys on user_id
    with a 3-day range predicate (fan-out = touches per user-window, the
    attribution bound); ranking windows partition by purchase; credit
    aggregates key on item — |items| rows out."""
    e = _t(spark, sf_dir, "events")
    t = e.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("ts_t"),
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("item"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ts_p"),
        F.col("event_id").alias("pid"),
        "value",
    )
    j = p.join(
        t,
        (p.user_id == t.user_id)
        & (t.ts_t <= p.ts_p)
        & (t.ts_t >= p.ts_p - F.expr("INTERVAL 3 DAYS")),
    ).select("pid", "value", "item", "ts_t", "event_id")
    stats = j.groupBy("pid").agg(F.count(F.lit(1)).alias("n_t"))
    wf = Window.partitionBy("pid").orderBy("ts_t", "event_id")
    wl = Window.partitionBy("pid").orderBy(
        F.col("ts_t").desc(), F.col("event_id").desc()
    )
    ranked = j.withColumn("rn_first", F.row_number().over(wf)).withColumn(
        "rn_last", F.row_number().over(wl)
    )
    lin = (
        j.join(stats, "pid")
        .groupBy("item")
        .agg(
            F.sum(
                F.round(
                    F.col("value") / F.col("n_t").cast("double"), 9
                ).cast("decimal(28,10)")
            ).alias("lin")
        )
    )
    fc = (
        ranked.where(F.col("rn_first") == 1)
        .groupBy("item")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("fst"))
    )
    lc = (
        ranked.where(F.col("rn_last") == 1)
        .groupBy("item")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("lst"))
    )
    tn = j.groupBy("item").agg(F.count(F.lit(1)).alias("n_touches"))
    return (
        tn.join(lin, "item")
        .join(fc, "item", "left")
        .join(lc, "item", "left")
        .select(
            "item",
            "n_touches",
            F.col("lin").cast("double").alias("linear_credit"),
            F.coalesce(F.col("fst"), F.lit(0)).cast("double").alias("first_credit"),
            F.coalesce(F.col("lst"), F.lit(0)).cast("double").alias("last_credit"),
        )
    )


@register(
    "item_cooccurrence_recs",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(json_extract(props, '$.k') AS INTEGER) AS item
        FROM events WHERE event_type IN ('click', 'view')
    ), c AS (
        SELECT user_id, item, COUNT(*) AS cnt FROM ev GROUP BY 1, 2
    ), nrm AS (
        SELECT item, SUM(cnt * cnt) AS n2 FROM c GROUP BY 1
    ), dots AS (
        SELECT a.item AS ia, b.item AS ib, SUM(a.cnt * b.cnt) AS dot
        FROM c a JOIN c b ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY 1, 2
    ), sym AS (
        SELECT ia AS item, ib AS neighbor, dot FROM dots
        UNION ALL
        SELECT ib AS item, ia AS neighbor, dot FROM dots
    ), scored AS (
        SELECT s.item, s.neighbor, CAST(s.dot AS BIGINT) AS dot,
               CAST(s.dot AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                   AS cosine
        FROM sym s
        JOIN nrm na ON na.item = s.item
        JOIN nrm nb ON nb.item = s.neighbor
    ), ranked AS (
        SELECT item, neighbor, dot, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY item ORDER BY cosine DESC, neighbor
               ) AS INTEGER) AS rank
        FROM scored
    )
    SELECT item, neighbor, dot, cosine, rank FROM ranked WHERE rank <= 3
    """,
)
def item_cooccurrence_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item COLLABORATIVE FILTERING from implicit feedback — the
    classic co-occurrence cosine recommender (Sarwar et al. 2001) over
    the (user, item) interaction matrix mined from click/view events
    (item = the ``props.k`` JSON field): for every item its top-3
    neighbors by cosine similarity of user-interaction vectors.

    Exactness: interaction counts, squared norms and dot products are
    exact integer aggregates; cosine is one fixed double dag
    (dot / (√n²_a·√n²_b)) over those integers — identical bits per
    engine; ties broken by neighbor id so the top-3 cut is a total
    order. Scale shape: the pair stage self-joins the interaction table
    ON user_id — fan-out per user is (items-per-user)², the standard
    co-occurrence bound (a per-user activity cap is the production
    guard; AQE handles residual hot users); the item-norm directory is
    |items| rows and broadcasts; ranking windows partition by item."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
    )
    c = ev.groupBy("user_id", "item").agg(F.count(F.lit(1)).alias("cnt"))
    nrm = c.groupBy("item").agg(F.sum(F.col("cnt") * F.col("cnt")).alias("n2"))
    a = c.select("user_id", F.col("item").alias("ia"), F.col("cnt").alias("ca"))
    b = c.select("user_id", F.col("item").alias("ib"), F.col("cnt").alias("cb"))
    dots = (
        a.join(b, "user_id")
        .where(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    sym = dots.select(
        F.col("ia").alias("item"), F.col("ib").alias("neighbor"), "dot"
    ).unionAll(
        dots.select(
            F.col("ib").alias("item"), F.col("ia").alias("neighbor"), "dot"
        )
    )
    scored = (
        sym.join(
            F.broadcast(nrm.select(F.col("item"), F.col("n2").alias("na2"))),
            "item",
        )
        .join(
            F.broadcast(
                nrm.select(F.col("item").alias("neighbor"), F.col("n2").alias("nb2"))
            ),
            "neighbor",
        )
        .select(
            "item",
            "neighbor",
            "dot",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("cosine").desc(), F.col("neighbor"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("item", "neighbor", "dot", "cosine", "rank")
    )


@register(
    "events_dow_seasonality",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_part('epoch', date_trunc('day', ts)) // 86400
                    AS BIGINT) AS day_idx,
               COUNT(*) AS y
        FROM events GROUP BY 1, 2
    ), d2 AS (
        SELECT event_type, day_idx, ((day_idx + 4) % 7) AS dow, y FROM daily
    ), dw AS (
        SELECT event_type, dow, COUNT(*) AS n_dow,
               SUM(y) AS s, SUM(y * y) AS syy
        FROM d2 GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, COUNT(*) AS n_days, SUM(y) AS s_tot
        FROM d2 GROUP BY 1
    ), fl AS (
        SELECT d.event_type, d.dow,
               CASE WHEN (CAST(w.n_dow AS DOUBLE) * CAST(d.y AS DOUBLE)
                            - CAST(w.s AS DOUBLE))
                         * (CAST(w.n_dow AS DOUBLE) * CAST(d.y AS DOUBLE)
                            - CAST(w.s AS DOUBLE))
                       > 9.0 * (CAST(w.n_dow AS DOUBLE) * CAST(w.syy AS DOUBLE)
                                - CAST(w.s AS DOUBLE) * CAST(w.s AS DOUBLE))
                    THEN 1 ELSE 0 END AS isout
        FROM d2 d JOIN dw w
          ON w.event_type = d.event_type AND w.dow = d.dow
    ), outs AS (
        SELECT event_type, dow, CAST(SUM(isout) AS BIGINT) AS n_outlier_days
        FROM fl GROUP BY 1, 2
    )
    SELECT w.event_type, CAST(w.dow AS INTEGER) AS dow,
           CAST(w.n_dow AS BIGINT) AS n_dow_days,
           (CAST(w.s AS DOUBLE) * CAST(t.n_days AS DOUBLE))
             / (CAST(w.n_dow AS DOUBLE) * CAST(t.s_tot AS DOUBLE))
               AS seasonal_index,
           o.n_outlier_days
    FROM dw w
    JOIN tot t USING (event_type)
    JOIN outs o ON o.event_type = w.event_type AND o.dow = w.dow
    """,
)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly SEASONAL DECOMPOSITION of the per-type daily series — the
    calendar-profile face next to the ACF's lag-7 cycle probe: per
    (event_type, day-of-week) a multiplicative seasonal index
    (dow mean ÷ overall mean) and the count of seasonally-adjusted
    outlier days (|y − dow_mean| > 3σ_dow). Day-of-week is PURE INTEGER
    arithmetic from the epoch day ((day + 4) % 7, Sunday = 0) — calendar
    functions differ across engines, epoch arithmetic cannot. The index
    is one double division of exact integer products; the 3σ test is a
    fixed double dag over exact integer sufficient statistics with both
    sides VARIANCE-SCALED (dev² > 9·(n·Σy²−(Σy)²), dev = n·y−Σy — both
    sides carry the n² scale, so the comparison IS |y−ȳ| > 3σ_dow
    against the population σ) so no square root,
    no mean subtraction in floats, ever — identical bits per engine.
    Keyspace |types|·7 after a |types|·|days| pre-aggregate; everything
    map-side combinable, the dow directory joins broadcast."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(
                F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
            ).alias("day_idx"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.count(F.lit(1)).alias("y"))
        .select(
            "event_type",
            "day_idx",
            ((F.col("day_idx") + 4) % 7).alias("dow"),
            "y",
        )
    )
    dw = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_dow"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("y").alias("s_tot")
    )
    nd = F.col("n_dow").cast("double")
    dev = nd * F.col("y").cast("double") - F.col("s").cast("double")
    var9 = F.lit(9.0) * (
        nd * F.col("syy").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    )
    outs = (
        daily.join(F.broadcast(dw), ["event_type", "dow"])
        .select(
            "event_type",
            "dow",
            F.when(dev * dev > var9, F.lit(1))
            .otherwise(F.lit(0))
            .alias("isout"),
        )
        .groupBy("event_type", "dow")
        .agg(F.sum("isout").alias("n_outlier_days"))
    )
    return (
        dw.join(F.broadcast(tot), "event_type")
        .join(F.broadcast(outs), ["event_type", "dow"])
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            F.col("n_dow").alias("n_dow_days"),
            (
                (F.col("s").cast("double") * F.col("n_days").cast("double"))
                / (nd * F.col("s_tot").cast("double"))
            ).alias("seasonal_index"),
            "n_outlier_days",
        )
    )


@register(
    "events_ols_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_part('epoch', date_trunc('day', ts)) // 86400
                    AS BIGINT) AS day_idx,
               COUNT(*) AS y
        FROM events GROUP BY 1, 2
    ), based AS (
        SELECT event_type,
               day_idx - MIN(day_idx) OVER (PARTITION BY event_type) AS x,
               y
        FROM daily
    ), s AS (
        SELECT event_type,
               COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
        FROM based GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CASE WHEN n * sxx - sx * sx > 0 THEN
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
           CASE WHEN n * sxx - sx * sx > 0 THEN
               (CAST(sy AS DOUBLE)
                 - (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE) END AS intercept,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
               (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE))
                 * (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
    FROM s
    """,
)
def events_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type ORDINARY LEAST SQUARES trend over the daily event series —
    the regression face next to the ACF (cycle), CUSUM (level shift) and
    Pearson (cross-series) monitors: slope (events/day drift), intercept,
    and R² per event_type. All sufficient statistics (n, Σx, Σy, Σx²,
    Σxy, Σy²) are EXACT integer sums over the day-indexed series; the
    closed-form estimators are then a fixed dag of IEEE double ops on
    those integers, so both engines agree bit-for-bit (the exact-integer
    sufficient-statistics recipe). Day index is REBASED per type
    (x = day − min_day) so the x·y products stay far from bigint range at
    any realistic scale — absolute epoch-days would put n·Σxy within two
    decades of overflow at 10⁹ events/day. One groupBy keyed on
    (type, day) then one on type — keyspace |types|·|days|, every
    aggregate map-side combinable; R² is composed from the same ratios as
    the slope (no variance subtraction in floating point)."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(
                F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
            ).alias("day_idx"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    based = daily.select(
        "event_type",
        (
            F.col("day_idx")
            - F.min("day_idx").over(Window.partitionBy("event_type"))
        ).alias("x"),
        "y",
    )
    s = based.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # single-day / zero-variance series have no trend: NULL, not an ANSI
    # divide-by-zero (mirrored CASE in the oracle)
    slope = F.when(den_x > 0.0, num / den_x)
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept"),
        F.when(den_y > 0.0, slope * (num / den_y)).alias("r2"),
    )


@register(
    "events_daily_acf",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_part('epoch', date_trunc('day', ts)) // 86400
                    AS BIGINT) AS day_idx,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, SUM(x) AS total, COUNT(*) AS d
        FROM daily GROUP BY 1
    ), devs AS (
        SELECT d.event_type, d.day_idx, t.d * d.x - t.total AS dev
        FROM daily d JOIN tot t USING (event_type)
    ), den AS (
        SELECT event_type, SUM(dev * dev) AS den FROM devs GROUP BY 1
    ), num AS (
        SELECT a.event_type, k.lag,
               SUM(a.dev * b.dev) AS num, COUNT(*) AS n_pairs
        FROM devs a
        CROSS JOIN (SELECT UNNEST(range(1, 8)) AS lag) k
        JOIN devs b ON b.event_type = a.event_type
                   AND b.day_idx = a.day_idx + k.lag
        GROUP BY 1, 2
    )
    SELECT n.event_type, CAST(n.lag AS INTEGER) AS lag, n.n_pairs,
           CASE WHEN d.den > 0
                THEN CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE)
           END AS acf
    FROM num n JOIN den d USING (event_type)
    """,
)
def events_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the per-type daily event series at
    lags 1-7 — the seasonality probe next to the burst and CUSUM
    monitors (a weekly cycle shows as a lag-7 peak). Same exact-rational
    trick as CUSUM: deviations are held day-count-scaled (dev = d·x −
    total, integer), so the n²-scaled numerator and denominator share
    the factor and Σ dev_t·dev_{t+k} / Σ dev² is ONE double division of
    exact integer sums — no mean subtraction in floating point, ever.
    The lag join is an equi-join on (type, day+k) against a broadcast
    7-row lag table; days missing from the series simply contribute no
    pair (documented — the series is day-indexed, not gap-filled).
    Keyspace |types|·|days| keeps every aggregate map-side combinable."""
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(
                F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
            ).alias("day_idx"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("x").alias("total"), F.count(F.lit(1)).alias("d")
    )
    devs = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day_idx",
        (F.col("d") * F.col("x") - F.col("total")).alias("dev"),
    )
    den = devs.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("den")
    )
    a = devs.select(
        "event_type", F.col("day_idx").alias("day_a"), F.col("dev").alias("dev_a")
    ).crossJoin(F.broadcast(lags))
    b = devs.select(
        "event_type", F.col("day_idx").alias("day_b"), F.col("dev").alias("dev_b")
    )
    num = (
        a.withColumn("day_b", F.col("day_a") + F.col("lag"))
        .join(b, ["event_type", "day_b"])
        .groupBy("event_type", "lag")
        .agg(
            F.sum(F.col("dev_a") * F.col("dev_b")).alias("num"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    return num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "lag",
        "n_pairs",
        # constant series (den = Σdev² = 0) has undefined autocorrelation:
        # NULL, not an ANSI divide-by-zero (mirrored CASE in the oracle)
        F.when(
            F.col("den") > 0,
            F.col("num").cast("double") / F.col("den").cast("double"),
        ).alias("acf"),
    )


@register(
    "orders_dq_expectations",
    oracle="""
    WITH o AS (SELECT * FROM orders), checks AS (
        SELECT
            COUNT(*) AS n_rows,
            COUNT(*) - COUNT(o_orderkey) AS v_key_null,
            COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v_key_dup,
            SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                     THEN 1 ELSE 0 END) AS v_price_range,
            SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                      OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS v_status,
            SUM(CASE WHEN o_orderdate IS NULL
                      OR o_orderdate <  TIMESTAMP '1992-01-01 00:00:00'
                      OR o_orderdate >= TIMESTAMP '2002-01-01 00:00:00'
                     THEN 1 ELSE 0 END) AS v_date_range,
            SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                     THEN 0 ELSE 1 END) AS v_priority_fmt
        FROM o
    ), ri AS (
        SELECT COUNT(*) AS n_rows, COUNT(*) FILTER (
            WHERE o_orderkey IS NULL
        ) AS v FROM (
            SELECT l.l_orderkey, o.o_orderkey
            FROM lineitem l LEFT JOIN o ON o.o_orderkey = l.l_orderkey
        )
    )
    SELECT rule, n_checked, n_violations,
           n_violations = 0 AS pass
    FROM (
        SELECT 'orderkey_not_null' AS rule, n_rows AS n_checked,
               CAST(v_key_null AS BIGINT) AS n_violations FROM checks
        UNION ALL
        SELECT 'orderkey_unique', n_rows, CAST(v_key_dup AS BIGINT) FROM checks
        UNION ALL
        SELECT 'totalprice_positive', n_rows, CAST(v_price_range AS BIGINT)
        FROM checks
        UNION ALL
        SELECT 'status_in_domain', n_rows, CAST(v_status AS BIGINT) FROM checks
        UNION ALL
        SELECT 'orderdate_in_range', n_rows, CAST(v_date_range AS BIGINT)
        FROM checks
        UNION ALL
        SELECT 'priority_format', n_rows, CAST(v_priority_fmt AS BIGINT)
        FROM checks
        UNION ALL
        SELECT 'lineitem_fk_orders', n_rows, CAST(v AS BIGINT) FROM ri
    )
    """,
)
def orders_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality EXPECTATIONS report (the Great-Expectations-style
    validation suite a 100-TB ingest runs before publishing a
    partition): null / uniqueness / range / domain / format rules over
    orders computed in ONE conditional-aggregate scan (seven rules, one
    pass — not seven scans), plus the referential-integrity rule
    (lineitem→orders FK) as a left-join null count. One row per rule
    with checked/violation counts and the pass verdict, so the report is
    itself queryable (alert on `NOT pass`). All counts exact integers."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")  # noqa: E741
    checks = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("v_key_null"),
        (F.count("o_orderkey") - F.countDistinct("o_orderkey")).alias(
            "v_key_dup"
        ),
        F.sum(
            F.when(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0),
                1,
            ).otherwise(0)
        ).alias("v_price_range"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin("O", "F", "P")
                | F.col("o_orderstatus").isNull(),
                1,
            ).otherwise(0)
        ).alias("v_status"),
        F.sum(
            F.when(
                F.col("o_orderdate").isNull()
                | (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2002-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("v_date_range"),
        F.sum(
            F.when(
                F.col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$"), 0
            ).otherwise(1)
        ).alias("v_priority_fmt"),
    )
    ri = (
        l.select("l_orderkey")
        .join(
            o.select(F.col("o_orderkey")),
            l.l_orderkey == o.o_orderkey,
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # count(when(...)) not sum(when/otherwise): the oracle's
            # COUNT(*) FILTER yields 0 on an EMPTY join while SUM yields
            # NULL — the empty-corpus gate caught the asymmetry
            F.count(
                F.when(F.col("o_orderkey").isNull(), F.lit(1))
            ).alias("v"),
        )
    )
    # unpivot the ONE aggregate row with stack() — a union of per-rule
    # selects would re-execute the orders aggregate once per rule (the
    # plan showed 6 scans, zero ReusedExchange)
    unpivoted = checks.select(
        F.col("n_rows").alias("n_checked"),
        F.expr(
            "stack(6, "
            "'orderkey_not_null', CAST(v_key_null AS BIGINT), "
            "'orderkey_unique', CAST(v_key_dup AS BIGINT), "
            "'totalprice_positive', CAST(v_price_range AS BIGINT), "
            "'status_in_domain', CAST(v_status AS BIGINT), "
            "'orderdate_in_range', CAST(v_date_range AS BIGINT), "
            "'priority_format', CAST(v_priority_fmt AS BIGINT)"
            ") AS (rule, n_violations)"
        ),
    ).select("rule", "n_checked", "n_violations")
    out = unpivoted.unionByName(
        ri.select(
            F.lit("lineitem_fk_orders").alias("rule"),
            F.col("n_rows").alias("n_checked"),
            F.col("v").cast("long").alias("n_violations"),
        )
    )
    return out.withColumn("pass", F.col("n_violations") == 0)


@register(
    "event_type_correlations",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_part('epoch', date_trunc('day', ts)) // 86400
                    AS BIGINT) AS day_idx,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ), paired AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.x AS xa, b.x AS xb
        FROM daily a JOIN daily b
          ON a.day_idx = b.day_idx AND a.event_type < b.event_type
    ), sums AS (
        SELECT type_a, type_b, COUNT(*) AS n,
               SUM(xa) AS sx, SUM(xb) AS sy,
               SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy,
               SUM(xa * xb) AS sxy
        FROM paired GROUP BY 1, 2
    )
    SELECT type_a, type_b, n,
           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE))
           END AS pearson
    FROM sums
    """,
)
def event_type_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between the DAILY COUNT SERIES of
    every event-type pair — the cross-series complement to the per-type
    ACF face (does a purchase spike co-move with views?). The classic
    one-pass sufficient-statistics spelling: align the two series on
    day_idx (an equi-join on the |types|·|days| aggregate, never on raw
    events), accumulate n, Σx, Σy, Σx², Σy², Σxy as EXACT integers, and
    form r = (nΣxy − ΣxΣy) / √((nΣx²−(Σx)²)(nΣy²−(Σy)²)) with doubles
    only in the final expression — IEEE multiply/divide/sqrt of identical
    integers is deterministic in both engines, so the coefficient is
    hash-exact with no decimal machinery. Days where either series is
    missing contribute no pair (inner join — documented)."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(
                F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
            ).alias("day_idx"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    a = daily.select(
        F.col("event_type").alias("type_a"), "day_idx", F.col("x").alias("xa")
    )
    b = daily.select(
        F.col("event_type").alias("type_b"), "day_idx", F.col("x").alias("xb")
    )
    sums = (
        a.join(b, "day_idx")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xa").alias("sx"),
            F.sum("xb").alias("sy"),
            F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).alias("syy"),
            F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
        )
    )
    vprod = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return sums.select(
        "type_a",
        "type_b",
        "n",
        # a zero-variance series has no defined correlation: NULL, not an
        # ANSI divide-by-zero (mirrored CASE in the oracle)
        F.when(
            vprod > 0.0,
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.sqrt(vprod),
        ).alias("pearson"),
    )


@register(
    "views_point_in_time_state",
    oracle="""
    WITH versions AS (
        SELECT user_id, event_type AS state_type,
               CAST(ts AS TIMESTAMP) AS valid_from,
               LEAD(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS valid_to
        FROM events WHERE event_type IN ('signup', 'purchase')
    ), live AS (
        SELECT * FROM versions
        WHERE valid_to IS NULL OR valid_from < valid_to
    ), v AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'view'
    )
    SELECT v.event_id, v.user_id, l.state_type,
           CAST(floor(epoch(v.ts)) AS BIGINT)
               - CAST(floor(epoch(l.valid_from)) AS BIGINT) AS state_age_s
    FROM v LEFT JOIN live l
      ON l.user_id = v.user_id AND l.valid_from <= v.ts
     AND (l.valid_to IS NULL OR v.ts < l.valid_to)
    """,
)
def views_point_in_time_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME-correct enrichment off the SCD2 history — the
    feature-store join that forbids leakage from the future: every view
    event picks the user-state version (last signup/purchase) whose
    validity interval contains the view timestamp. The Spark side runs
    the as-of join (union + one window — one shuffle, no interval
    explosion, operators/asof.py); the ORACLE deliberately uses the
    other spelling — LEFT JOIN on interval containment over the SCD2
    intervals — so the hash match proves the two formulations agree row
    for row, nulls included (views before any version). Zero-length
    intervals (two versions at one timestamp) are closed out before the
    join in BOTH spellings, which also keeps version timestamps unique
    per user — the condition that makes as-of and containment
    equivalent."""
    from polars_numba_spark.operators.asof import asof_join
    from polars_numba_spark.operators.cdc import scd2_history

    e = _t(spark, sf_dir, "events")
    hist = scd2_history(
        e.where(F.col("event_type").isin("signup", "purchase")),
        keys="user_id",
        seq_col="ts",
        tiebreak="event_id",
    )
    versions = hist.where(
        F.col("valid_to").isNull() | (F.col("valid_from") < F.col("valid_to"))
    ).select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.col("event_type").alias("state_type"),
    )
    views = e.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        views, versions, on="ts", by="user_id", value_cols=["state_type", "ts"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("state_type_asof").alias("state_type"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp("ts_asof")
        ).alias("state_age_s"),
    )


@register(
    "user_churn_features",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
               CAST(date_part('epoch', date_trunc('day', ts)) // 86400
                    AS BIGINT) AS day_idx
        FROM events
    ), agg AS (
        SELECT user_id,
               MAX(CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00'
                        THEN day_idx END) AS last_pre_day,
               COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                           AND ts < TIMESTAMP '2024-01-22 00:00:00'
                          THEN 1 END) AS freq_7d,
               COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00'
                           AND ts < TIMESTAMP '2024-01-22 00:00:00'
                          THEN 1 END) AS freq_14d,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                            AND ts >= TIMESTAMP '2024-01-08 00:00:00'
                            AND ts < TIMESTAMP '2024-01-22 00:00:00'
                           THEN CAST(value AS DECIMAL(18,6)) END), 0)
                    AS DOUBLE) AS monetary_14d,
               COUNT(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00'
                                    AND ts < TIMESTAMP '2024-01-22 00:00:00'
                                   THEN event_type END) AS distinct_types_14d,
               MAX(CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00'
                         AND ts < TIMESTAMP '2024-01-29 00:00:00'
                        THEN 1 ELSE 0 END) AS label_active_next7
        FROM e GROUP BY user_id
    )
    SELECT user_id,
           CAST(19744 - last_pre_day AS BIGINT) AS recency_days,
           freq_7d, freq_14d, monetary_14d,
           distinct_types_14d,
           CAST(label_active_next7 AS INTEGER) AS label_active_next7
    FROM agg WHERE last_pre_day IS NOT NULL
    """,
)
def user_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-STORE matrix for churn/activity prediction — the
    point-in-time-correct training table an ML pipeline materializes:
    per user, RFM-style features computed strictly BEFORE the
    2024-01-22 cutoff (recency in whole days, 7/14-day frequencies,
    14-day purchase value, type diversity) and the label strictly AFTER
    it (any activity in the next 7 days) — the leakage boundary is the
    same fixed literal on every column, so no feature can see the label
    window. Users with no pre-cutoff history drop (cold-start rows have
    no features; documented). One scan, one user-keyed aggregate —
    every feature a conditional aggregate (map-side combinable), value
    sums decimal-exact, recency from epoch-day integers."""
    cutoff = F.lit("2024-01-22 00:00:00").cast("timestamp")
    w7 = F.lit("2024-01-15 00:00:00").cast("timestamp")
    w14 = F.lit("2024-01-08 00:00:00").cast("timestamp")
    horizon = F.lit("2024-01-29 00:00:00").cast("timestamp")
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        "ts",
        F.floor(
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
        ).alias("day_idx"),
    )
    pre14 = (F.col("ts") >= w14) & (F.col("ts") < cutoff)
    agg = e.groupBy("user_id").agg(
        F.max(F.when(F.col("ts") < cutoff, F.col("day_idx"))).alias(
            "last_pre_day"
        ),
        F.count(
            F.when((F.col("ts") >= w7) & (F.col("ts") < cutoff), F.lit(1))
        ).alias("freq_7d"),
        F.count(F.when(pre14, F.lit(1))).alias("freq_14d"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase") & pre14,
                    F.col("value").cast("decimal(18,6)"),
                )
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("monetary_14d"),
        F.countDistinct(F.when(pre14, F.col("event_type"))).alias(
            "distinct_types_14d"
        ),
        F.max(
            F.when(
                (F.col("ts") >= cutoff) & (F.col("ts") < horizon), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("int")
        .alias("label_active_next7"),
    )
    return agg.where(F.col("last_pre_day").isNotNull()).select(
        "user_id",
        (F.lit(19744) - F.col("last_pre_day")).cast("long").alias("recency_days"),
        "freq_7d",
        "freq_14d",
        "monetary_14d",
        "distinct_types_14d",
        "label_active_next7",
    )


@register(
    "orders_benford_audit",
    oracle="""
    WITH cents AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
        FROM orders WHERE o_totalprice > 0
    ), digits AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM cents
    ), obs AS (
        SELECT digit, COUNT(*) AS observed FROM digits GROUP BY 1
    ), lad AS (
        SELECT UNNEST(range(1, 10)) AS digit
    ), tot AS (
        SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs
    ), tbl AS (
        SELECT l.digit AS digit,
               CAST(COALESCE(o.observed, 0) AS BIGINT) AS observed,
               log10(1.0 + 1.0 / CAST(l.digit AS DOUBLE)) AS expected_share,
               t.n
        FROM lad l LEFT JOIN obs o ON o.digit = l.digit CROSS JOIN tot t
    ), chi AS (
        SELECT SUM(CAST(round(
            (CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) * expected_share)
            * (CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) * expected_share)
            / (CAST(n AS DOUBLE) * expected_share), 6) AS DECIMAL(28,8)))
               AS chi2
        FROM tbl
    )
    SELECT CAST(tbl.digit AS INTEGER) AS digit, observed,
           CAST(observed AS DOUBLE) / CAST(n AS DOUBLE) AS observed_share,
           expected_share,
           CAST(chi.chi2 AS DOUBLE) AS chi2
    FROM tbl CROSS JOIN chi
    """,
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S LAW first-digit audit over order totals — the
    fraud/data-quality screen finance pipelines run on amount columns:
    observed vs expected (log₁₀(1+1/d)) first-digit shares plus the
    9-term χ² statistic. First digit is extracted ARITHMETICALLY — cents
    as bigint, then the first character of the INTEGER's string form
    (integer rendering is identical across engines; float formatting is
    not, and floor(log10(x)) is an ulp trap at powers of ten). The χ²
    sum crosses 9 rows of doubles, so each term is rounded to 6 decimals
    and DECIMAL(28,8)-accumulated — at |term|≈n the scale-8 quantum
    stays well above the double ulp (the magnitude-aware scale rule).
    One scan, one 9-row rollup; the digit ladder and totals broadcast."""
    cents = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    )
    obs = (
        cents.select(
            F.col("c").cast("string").substr(1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    lad = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    tot = obs.agg(F.sum("observed").alias("n"))
    tbl = (
        lad.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("observed"), F.lit(0)).alias("observed"),
            F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
            .alias("expected_share"),
            "n",
        )
    )
    dev = (
        F.col("observed").cast("double")
        - F.col("n").cast("double") * F.col("expected_share")
    )
    chi = tbl.agg(
        F.sum(
            F.round(
                dev * dev / (F.col("n").cast("double") * F.col("expected_share")),
                6,
            ).cast("decimal(28,8)")
        ).alias("chi2")
    )
    return tbl.crossJoin(F.broadcast(chi)).select(
        "digit",
        "observed",
        (F.col("observed").cast("double") / F.col("n").cast("double"))
        .alias("observed_share"),
        "expected_share",
        F.col("chi2").cast("double").alias("chi2"),
    )


@register(
    "event_markov_backtest",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ), tr AS (
        SELECT prev_type, event_type AS curr_type, ts
        FROM seq WHERE prev_type IS NOT NULL
    ), train AS (
        SELECT prev_type, curr_type, COUNT(*) AS cnt FROM tr
        WHERE ts < TIMESTAMP '2024-01-22 00:00:00' GROUP BY 1, 2
    ), model AS (
        SELECT prev_type, curr_type AS predicted, cnt,
               ROW_NUMBER() OVER (
                   PARTITION BY prev_type ORDER BY cnt DESC, curr_type) AS rn
        FROM train
    ), best AS (
        SELECT prev_type, predicted FROM model WHERE rn = 1
    ), ntrain AS (
        SELECT prev_type, CAST(SUM(cnt) AS BIGINT) AS n_train
        FROM train GROUP BY 1
    ), test AS (
        SELECT prev_type, curr_type FROM tr
        WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
    ), ev AS (
        SELECT t.prev_type, b.predicted,
               COUNT(*) AS n_test,
               COUNT(CASE WHEN t.curr_type = b.predicted THEN 1 END)
                   AS n_correct
        FROM test t JOIN best b USING (prev_type)
        GROUP BY 1, 2
    )
    SELECT e.prev_type, e.predicted, n.n_train, e.n_test, e.n_correct,
           CAST(e.n_correct AS DOUBLE) / CAST(e.n_test AS DOUBLE) AS accuracy
    FROM ev e JOIN ntrain n USING (prev_type)
    """,
)
def event_markov_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL BACKTEST of a first-order Markov next-event model — the
    ML-evaluation face next to the transition matrix: train the
    argmax-next-type predictor on transitions before the 2024-01-22
    split, evaluate top-1 accuracy on transitions after it, per
    antecedent type. The train/test boundary is a fixed timestamp
    literal (a transition belongs to the period of its CURRENT event);
    argmax ties break lexicographically so the model is a pure function
    of counts; test rows whose antecedent never occurs in training drop
    with the inner model join (documented). Exact integer counts and one
    double division — nothing to round. Scale shape: the lag window
    partitions by user (the sessionize shuffle); train counts key on the
    |types|² transition space and the model directory broadcasts into
    the evaluation join."""
    seq = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    split = F.lit("2024-01-22 00:00:00").cast("timestamp")
    tr = seq.where(F.col("prev_type").isNotNull()).select(
        "prev_type", F.col("event_type").alias("curr_type"), "ts"
    )
    train = (
        tr.where(F.col("ts") < split)
        .groupBy("prev_type", "curr_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wm = Window.partitionBy("prev_type").orderBy(
        F.col("cnt").desc(), F.col("curr_type")
    )
    best = (
        train.withColumn("rn", F.row_number().over(wm))
        .where(F.col("rn") == 1)
        .select("prev_type", F.col("curr_type").alias("predicted"))
    )
    ntrain = train.groupBy("prev_type").agg(F.sum("cnt").alias("n_train"))
    test = tr.where(F.col("ts") >= split)
    ev = (
        test.join(F.broadcast(best), "prev_type")
        .groupBy("prev_type", "predicted")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.count(
                F.when(F.col("curr_type") == F.col("predicted"), F.lit(1))
            ).alias("n_correct"),
        )
    )
    return ev.join(F.broadcast(ntrain), "prev_type").select(
        "prev_type",
        "predicted",
        "n_train",
        "n_test",
        "n_correct",
        (F.col("n_correct").cast("double") / F.col("n_test").cast("double"))
        .alias("accuracy"),
    )


@register(
    "events_ldiversity_audit",
    oracle="""
    WITH qi AS (
        SELECT event_type,
               CAST(date_part('epoch', date_trunc('day', ts)) // 86400
                    AS BIGINT) AS day_idx,
               CAST(ROUND(value * 100) AS BIGINT) // 1000 AS value_bucket,
               CAST(json_extract(props, '$.k') AS INTEGER) AS sens
        FROM events WHERE user_id IS NOT NULL
    ), cell AS (
        SELECT event_type, day_idx, value_bucket, sens, COUNT(*) AS c
        FROM qi GROUP BY 1, 2, 3, 4
    ), grp AS (
        SELECT event_type, day_idx, value_bucket,
               CAST(SUM(c) AS BIGINT) AS gsize,
               COUNT(*) AS l_distinct,
               SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
                        AS DECIMAL(28,10))) AS clogc
        FROM cell GROUP BY 1, 2, 3
    ), ent AS (
        SELECT *,
               ROUND(exp(ln(CAST(gsize AS DOUBLE))
                   - CAST(clogc AS DOUBLE) / CAST(gsize AS DOUBLE)), 9)
                   AS ent_l
        FROM grp
    ), tot AS (
        SELECT SUM(gsize) AS n_rows, COUNT(*) AS n_groups,
               MIN(ent_l) AS min_entropy_l
        FROM ent
    )
    SELECT CAST(lad.l AS INTEGER) AS l_threshold, t.n_groups, t.min_entropy_l,
           COUNT(CASE WHEN g.l_distinct < lad.l THEN 1 END) AS n_groups_below,
           CAST(COALESCE(SUM(CASE WHEN g.l_distinct < lad.l THEN g.gsize END),
                         0) AS BIGINT) AS n_rows_at_risk,
           CAST(COALESCE(SUM(CASE WHEN g.l_distinct < lad.l THEN g.gsize END),
                         0) AS DOUBLE)
               / CAST(t.n_rows AS DOUBLE) AS risk_share
    FROM ent g
    CROSS JOIN (SELECT UNNEST([2, 3, 5, 10]) AS l) lad
    CROSS JOIN tot t
    GROUP BY lad.l, t.n_groups, t.n_rows, t.min_entropy_l
    """,
)
def events_ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY privacy audit — the attribute-disclosure sibling of
    the k-anonymity face (Machanavajjhala et al. 2007): a QI group can
    be k-anonymous yet leak its members' sensitive attribute if every
    row in it shares the same value. Same QI key (type, day, coarse
    value bucket); sensitive attribute = the ``props.k`` item. Per
    group: distinct-l and entropy-l (exp of the sensitive-value Shannon
    entropy — the 'effective number of values'); the report rolls both
    up over a broadcast l-ladder exactly like the k-audit, plus the
    corpus-wide minimum entropy-l (the weakest cell).

    Exactness: H = ln(g) − Σc·ln(c)/g over exact integer counts; each
    c·ln(c) term is rounded to 9 decimals and DECIMAL(28,10)-accumulated
    (double sums are order-dependent; decimal sums are not — and at
    |x|≈10⁵ a scale-10 quantum sits three decades above the double ulp,
    the magnitude-aware scale rule). Scale shape: one map-side-combinable
    (QI, sens) pre-aggregate, one QI rollup, then ladder×groups — the
    audit costs one data-sized aggregate regardless of ladder size."""
    e = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    cell = (
        e.select(
            "event_type",
            F.floor(
                F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
            ).alias("day_idx"),
            F.floor(F.round(F.col("value") * 100).cast("long") / 1000)
            .cast("long")
            .alias("value_bucket"),
            F.get_json_object("props", "$.k").cast("int").alias("sens"),
        )
        .groupBy("event_type", "day_idx", "value_bucket", "sens")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cd = F.col("c").cast("double")
    grp = cell.groupBy("event_type", "day_idx", "value_bucket").agg(
        F.sum("c").alias("gsize"),
        F.count(F.lit(1)).alias("l_distinct"),
        F.sum(
            F.round(cd * F.log(cd), 9).cast("decimal(28,10)")
        ).alias("clogc"),
    )
    ent = grp.withColumn(
        "ent_l",
        # ROUND 9dp: exp/ln are libm calls whose last bit differs across
        # engines on some inputs (surfaced by the replicated soak build);
        # the rounding makes the MIN and the emitted value engine-exact
        F.round(
            F.exp(
                F.log(F.col("gsize").cast("double"))
                - F.col("clogc").cast("double") / F.col("gsize").cast("double")
            ),
            9,
        ),
    )
    tot = ent.agg(
        F.sum("gsize").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("ent_l").alias("min_entropy_l"),
    )
    ladder = spark.range(0, 4).select(
        F.element_at(F.array(F.lit(2), F.lit(3), F.lit(5), F.lit(10)),
                     F.col("id").cast("int") + 1).cast("int").alias("l_threshold")
    )
    at_risk = F.when(F.col("l_distinct") < F.col("l_threshold"), F.col("gsize"))
    return (
        ent.crossJoin(F.broadcast(ladder))
        .crossJoin(F.broadcast(tot))
        .groupBy("l_threshold", "n_groups", "n_rows", "min_entropy_l")
        .agg(
            F.count(at_risk).alias("n_groups_below"),
            F.coalesce(F.sum(at_risk), F.lit(0)).alias("n_rows_at_risk"),
        )
        .select(
            "l_threshold",
            "n_groups",
            "min_entropy_l",
            "n_groups_below",
            "n_rows_at_risk",
            (
                F.col("n_rows_at_risk").cast("double")
                / F.col("n_rows").cast("double")
            ).alias("risk_share"),
        )
    )


@register(
    "events_kanonymity_audit",
    oracle="""
    WITH qi AS (
        SELECT event_type,
               CAST(date_part('epoch', date_trunc('day', ts)) // 86400
                    AS BIGINT) AS day_idx,
               CAST(ROUND(value * 100) AS BIGINT) // 1000 AS value_bucket
        FROM events WHERE user_id IS NOT NULL
    ), grp AS (
        SELECT event_type, day_idx, value_bucket, COUNT(*) AS gsize
        FROM qi GROUP BY 1, 2, 3
    ), tot AS (
        SELECT SUM(gsize) AS n_rows, COUNT(*) AS n_groups FROM grp
    )
    SELECT k.k, t.n_groups,
           COUNT(CASE WHEN g.gsize < k.k THEN 1 END) AS n_groups_at_risk,
           CAST(COALESCE(SUM(CASE WHEN g.gsize < k.k THEN g.gsize END), 0)
                AS BIGINT) AS n_rows_at_risk,
           CAST(COALESCE(SUM(CASE WHEN g.gsize < k.k THEN g.gsize END), 0)
                AS DOUBLE) / CAST(t.n_rows AS DOUBLE) AS risk_share
    FROM grp g
    CROSS JOIN (SELECT UNNEST([2, 5, 10, 20]) AS k) k
    CROSS JOIN tot t
    GROUP BY k.k, t.n_groups, t.n_rows
    """,
)
def events_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ANONYMITY privacy audit — the re-identification risk report a
    training-data pipeline runs before releasing event-derived data:
    rows whose quasi-identifier combination (event type, day, coarse
    value bucket) is shared by fewer than k rows are linkage-attack
    candidates. One scan builds the QI group sizes (map-side
    combinable); the per-k rollup then runs over the GROUP table crossed
    with a broadcast 4-row k ladder, so the audit costs one data-sized
    aggregate however many thresholds are checked. Reports group and row
    counts at risk plus the row share, exact integers and one double
    division."""
    e = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    qi = e.select(
        "event_type",
        F.floor(
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
        ).alias("day_idx"),
        F.floor(F.round(F.col("value") * 100).cast("long") / 1000)
        .cast("long")
        .alias("value_bucket"),
    )
    grp = qi.groupBy("event_type", "day_idx", "value_bucket").agg(
        F.count(F.lit(1)).alias("gsize")
    )
    tot = grp.agg(
        F.sum("gsize").alias("n_rows"), F.count(F.lit(1)).alias("n_groups")
    )
    # VALUES literal (LocalRelation), not createDataFrame: same 4 rows, but
    # the ladder stays a provably-bounded local relation in the plan instead
    # of an opaque Python-RDD scan (tools/plan_gate.py's bounded-build rule).
    ks = spark.sql(
        "SELECT CAST(k AS BIGINT) AS k FROM VALUES (2), (5), (10), (20) AS t(k)"
    )
    return (
        grp.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n_groups", "n_rows")
        .agg(
            F.count(F.when(F.col("gsize") < F.col("k"), 1)).alias(
                "n_groups_at_risk"
            ),
            F.coalesce(
                F.sum(F.when(F.col("gsize") < F.col("k"), F.col("gsize"))),
                F.lit(0).cast("long"),
            ).alias("n_rows_at_risk"),
        )
        .select(
            "k",
            "n_groups",
            "n_groups_at_risk",
            "n_rows_at_risk",
            (
                F.col("n_rows_at_risk").cast("double")
                / F.col("n_rows").cast("double")
            ).alias("risk_share"),
        )
    )


@register(
    "signup_survival_km",
    oracle="""
    WITH anchor AS (
        SELECT MAX(CAST(ts AS TIMESTAMP)) AS t_max FROM events
    ), s AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
        FROM events e JOIN s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(e.ts AS TIMESTAMP) >= s.t_signup
        GROUP BY e.user_id
    ), subjects AS (
        SELECT s.user_id,
               CASE WHEN p.user_id IS NOT NULL THEN
                   date_diff('day', date_trunc('day', s.t_signup),
                             date_trunc('day', p.t_purchase))
               ELSE
                   date_diff('day', date_trunc('day', s.t_signup),
                             date_trunc('day', a.t_max))
               END AS t_days,
               (p.user_id IS NOT NULL) AS is_event
        FROM s LEFT JOIN p ON p.user_id = s.user_id CROSS JOIN anchor a
    ), daily AS (
        SELECT t_days,
               COUNT(CASE WHEN is_event THEN 1 END) AS d,
               COUNT(CASE WHEN NOT is_event THEN 1 END) AS c
        FROM subjects GROUP BY t_days
    ), cum AS (
        SELECT t_days, d, c,
               (SELECT COUNT(*) FROM subjects)
                   - COALESCE(SUM(d + c) OVER (
                         ORDER BY t_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS n_at_risk
        FROM daily
    ), km AS (
        SELECT t_days, n_at_risk, d, c,
               SUM(CAST(CASE WHEN d > 0 THEN
                   ROUND(LN(GREATEST(1.0 - CAST(d AS DOUBLE)
                                  / CAST(n_at_risk AS DOUBLE), 1e-12)), 9)
               ELSE 0.0 END AS DECIMAL(28,12))) OVER (
                   ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS log_s
        FROM cum
    )
    SELECT t_days AS latency_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events, CAST(c AS BIGINT) AS n_censored,
           CAST(log_s AS DOUBLE) AS log_survival,
           ROUND(EXP(CAST(log_s AS DOUBLE)), 6) AS survival
    FROM km
    """,
)
def signup_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier SURVIVAL curve for signup→first-purchase with RIGHT
    CENSORING — the estimator the conversion-latency percentiles cannot
    replace (percentiles over converters only; KM uses never-converters
    as censored subjects, so the curve is unbiased by them). One
    aggregate to (day, events, censored), one cumulative window for the
    risk set, one cumulative decimal window for Σ ln(1 − d/n). The
    authoritative output is log_survival — an EXACT decimal sum of
    round-9 terms, bit-stable cross-engine; the human-facing survival
    column is ROUND(EXP(·), 6) (the same libm-absorbing recipe as the
    LM-logprob faces). Keyspace = distinct latency days; everything
    map-side combinable before the tiny day-indexed windows. The
    1e-12 floor inside the log handles the curve hitting exact zero
    (every remaining subject converts on the last day): DuckDB's LN
    errors on 0 where Spark yields null — the floor keeps both
    engines finite and the rounded survival at 0.0."""
    e = _t(spark, sf_dir, "events")
    anchor = e.agg(F.max("ts").alias("t_max"))
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    subjects = (
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(anchor))
        .select(
            F.when(
                F.col("t_purchase").isNotNull(),
                F.datediff(
                    F.date_trunc("DAY", F.col("t_purchase")),
                    F.date_trunc("DAY", F.col("t_signup")),
                ),
            )
            .otherwise(
                F.datediff(
                    F.date_trunc("DAY", F.col("t_max")),
                    F.date_trunc("DAY", F.col("t_signup")),
                )
            )
            .cast("long")
            .alias("t_days"),
            F.col("t_purchase").isNotNull().alias("is_event"),
        )
    )
    daily = subjects.groupBy("t_days").agg(
        F.count(F.when(F.col("is_event"), 1)).alias("d"),
        F.count(F.when(~F.col("is_event"), 1)).alias("c"),
    )
    total = subjects.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = daily.crossJoin(F.broadcast(total)).withColumn(
        "n_at_risk",
        F.col("n_total")
        - F.coalesce(
            F.sum(F.col("d") + F.col("c")).over(w_prev),
            F.lit(0).cast("long"),
        ),
    )
    log_term = F.when(
        F.col("d") > 0,
        F.round(
            F.log(
                F.greatest(
                    F.lit(1.0)
                    - F.col("d").cast("double")
                    / F.col("n_at_risk").cast("double"),
                    F.lit(1e-12),
                )
            ),
            9,
        ),
    ).otherwise(F.lit(0.0))
    km = cum.withColumn(
        "log_s", F.sum(log_term.cast("decimal(28,12)")).over(w_cum)
    )
    return km.select(
        F.col("t_days").alias("latency_days"),
        "n_at_risk",
        F.col("d").cast("long").alias("n_events"),
        F.col("c").cast("long").alias("n_censored"),
        F.col("log_s").cast("double").alias("log_survival"),
        F.round(F.exp(F.col("log_s").cast("double")), 6).alias("survival"),
    )


@register(
    "ab_value_cuped",
    oracle="""
    WITH u AS (
        SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
    ), pre AS (
        SELECT user_id, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                             AS BIGINT) AS x
        FROM events
        WHERE event_type = 'purchase'
          AND ts < TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY user_id
    ), post AS (
        SELECT user_id, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                             AS BIGINT) AS y
        FROM events
        WHERE event_type = 'purchase'
          AND ts >= TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY user_id
    ), assigned AS (
        SELECT u.user_id,
               CAST(CAST(('0x' || substr(md5(CAST(u.user_id AS VARCHAR)
                        || '#ab'), 1, 15)) AS UBIGINT) AS BIGINT) % 2
                   AS variant,
               COALESCE(pre.x, 0) AS x, COALESCE(post.y, 0) AS y
        FROM u
        LEFT JOIN pre ON pre.user_id = u.user_id
        LEFT JOIN post ON post.user_id = u.user_id
    ), s AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy,
               COUNT(CASE WHEN variant = 0 THEN 1 END) AS n_a,
               SUM(CASE WHEN variant = 0 THEN x ELSE 0 END) AS sx_a,
               SUM(CASE WHEN variant = 0 THEN y ELSE 0 END) AS sy_a,
               SUM(CASE WHEN variant = 0 THEN x * x ELSE 0 END) AS sxx_a,
               SUM(CASE WHEN variant = 0 THEN y * y ELSE 0 END) AS syy_a,
               SUM(CASE WHEN variant = 0 THEN x * y ELSE 0 END) AS sxy_a,
               COUNT(CASE WHEN variant = 1 THEN 1 END) AS n_b,
               SUM(CASE WHEN variant = 1 THEN x ELSE 0 END) AS sx_b,
               SUM(CASE WHEN variant = 1 THEN y ELSE 0 END) AS sy_b,
               SUM(CASE WHEN variant = 1 THEN x * x ELSE 0 END) AS sxx_b,
               SUM(CASE WHEN variant = 1 THEN y * y ELSE 0 END) AS syy_b,
               SUM(CASE WHEN variant = 1 THEN x * y ELSE 0 END) AS sxy_b
        FROM assigned
    ), t AS (
        SELECT *,
               CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
                    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    ELSE 0.0 END AS theta
        FROM s
    ), arms AS (
        SELECT n_a, n_b, theta,
               (CAST(sy_a AS DOUBLE) - theta * CAST(sx_a AS DOUBLE))
                   / CAST(n_a AS DOUBLE) AS m_a,
               (CAST(sy_b AS DOUBLE) - theta * CAST(sx_b AS DOUBLE))
                   / CAST(n_b AS DOUBLE) AS m_b,
               (CAST(syy_a AS DOUBLE) - 2.0 * theta * CAST(sxy_a AS DOUBLE)
                + theta * theta * CAST(sxx_a AS DOUBLE))
                   / CAST(n_a AS DOUBLE) AS q_a,
               (CAST(syy_b AS DOUBLE) - 2.0 * theta * CAST(sxy_b AS DOUBLE)
                + theta * theta * CAST(sxx_b AS DOUBLE))
                   / CAST(n_b AS DOUBLE) AS q_b,
               CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m0_a,
               CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m0_b,
               CAST(syy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS q0_a,
               CAST(syy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS q0_b,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS cnum,
               (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS cdenx,
               (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS cdeny
        FROM t
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, theta,
           m_a - m_b AS adj_diff_cents,
           CASE WHEN (q0_a - m0_a * m0_a) / CAST(n_a AS DOUBLE)
                     + (q0_b - m0_b * m0_b) / CAST(n_b AS DOUBLE) > 0.0
                THEN (m0_a - m0_b)
                     / SQRT((q0_a - m0_a * m0_a) / CAST(n_a AS DOUBLE)
                            + (q0_b - m0_b * m0_b) / CAST(n_b AS DOUBLE))
           END AS z_raw,
           CASE WHEN (q_a - m_a * m_a) / CAST(n_a AS DOUBLE)
                     + (q_b - m_b * m_b) / CAST(n_b AS DOUBLE) > 0.0
                THEN (m_a - m_b)
                     / SQRT((q_a - m_a * m_a) / CAST(n_a AS DOUBLE)
                            + (q_b - m_b * m_b) / CAST(n_b AS DOUBLE))
           END AS z_cuped,
           CASE WHEN cdenx > 0.0 AND cdeny > 0.0
                THEN (cnum / cdenx) * (cnum / cdeny) END AS rho2
    FROM arms
    """,
)
def ab_value_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013 — the
    industry-standard A/B sensitivity booster): per-user POST-period
    purchase value adjusted by the PRE-period covariate
    (Y − θ·X, θ = cov/var from the pooled sample), then the two-sample
    z on adjusted means next to the raw z — the variance the covariate
    explains (ρ²) is exactly the sensitivity gained. Same deterministic
    md5 arm assignment as the conversion z-test.

    Exactness: per-user values are integer CENTS, so every sufficient
    statistic (ΣX, ΣY, ΣX², ΣY², ΣXY, per arm and pooled) is an exact
    integer sum; θ and both z-statistics are one fixed double dag over
    those integers — per-arm adjusted means and variances come from the
    ALGEBRAIC EXPANSION (ΣY² − 2θΣXY + θ²ΣX²), never a per-user float
    Y_adj column whose sum would be order-dependent. Zero-variance and
    singular-covariate cases guarded NULL/0 (ANSI-safe). Scale shape:
    one distinct, two user-keyed conditional aggregates, one global
    18-way aggregate — all map-side combinable; population-variance
    (/n) form, documented."""
    split = F.lit("2024-01-15 00:00:00").cast("timestamp")
    e = _t(spark, sf_dir, "events")
    u = e.where(F.col("user_id").isNotNull()).select("user_id").distinct()
    cents = F.round(F.col("value") * 100).cast("long")
    pre = (
        e.where((F.col("event_type") == "purchase") & (F.col("ts") < split))
        .groupBy("user_id")
        .agg(F.sum(cents).alias("x"))
    )
    post = (
        e.where((F.col("event_type") == "purchase") & (F.col("ts") >= split))
        .groupBy("user_id")
        .agg(F.sum(cents).alias("y"))
    )
    from polars_numba_spark.operators.dedup import md5_long

    assigned = (
        u.join(pre, "user_id", "left")
        .join(post, "user_id", "left")
        .select(
            (md5_long(F.concat(F.col("user_id").cast("string"), F.lit("#ab")))
             % 2).alias("variant"),
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )

    def arm(g, expr):
        return F.sum(F.when(F.col("variant") == g, expr).otherwise(F.lit(0)))

    x, y = F.col("x"), F.col("y")
    s = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
        F.count(F.when(F.col("variant") == 0, F.lit(1))).alias("n_a"),
        arm(0, x).alias("sx_a"), arm(0, y).alias("sy_a"),
        arm(0, x * x).alias("sxx_a"), arm(0, y * y).alias("syy_a"),
        arm(0, x * y).alias("sxy_a"),
        F.count(F.when(F.col("variant") == 1, F.lit(1))).alias("n_b"),
        arm(1, x).alias("sx_b"), arm(1, y).alias("sy_b"),
        arm(1, x * x).alias("sxx_b"), arm(1, y * y).alias("syy_b"),
        arm(1, x * y).alias("sxy_b"),
    )

    def d(c):
        return F.col(c).cast("double")

    cdenx = d("n") * d("sxx") - d("sx") * d("sx")
    cdeny = d("n") * d("syy") - d("sy") * d("sy")
    cnum = d("n") * d("sxy") - d("sx") * d("sy")
    t = s.withColumn(
        "theta",
        F.when(cdenx > 0.0, cnum / cdenx).otherwise(F.lit(0.0)),
    )
    th = F.col("theta")
    m_a = (d("sy_a") - th * d("sx_a")) / d("n_a")
    m_b = (d("sy_b") - th * d("sx_b")) / d("n_b")
    q_a = (d("syy_a") - 2.0 * th * d("sxy_a") + th * th * d("sxx_a")) / d("n_a")
    q_b = (d("syy_b") - 2.0 * th * d("sxy_b") + th * th * d("sxx_b")) / d("n_b")
    m0_a, m0_b = d("sy_a") / d("n_a"), d("sy_b") / d("n_b")
    q0_a, q0_b = d("syy_a") / d("n_a"), d("syy_b") / d("n_b")
    se0 = (q0_a - m0_a * m0_a) / d("n_a") + (q0_b - m0_b * m0_b) / d("n_b")
    se = (q_a - m_a * m_a) / d("n_a") + (q_b - m_b * m_b) / d("n_b")
    return t.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "theta",
        (m_a - m_b).alias("adj_diff_cents"),
        F.when(se0 > 0.0, (m0_a - m0_b) / F.sqrt(se0)).alias("z_raw"),
        F.when(se > 0.0, (m_a - m_b) / F.sqrt(se)).alias("z_cuped"),
        F.when((cdenx > 0.0) & (cdeny > 0.0), (cnum / cdenx) * (cnum / cdeny))
        .alias("rho2"),
    )


@register(
    "ab_conversion_ztest",
    oracle="""
    WITH u AS (
        SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
    ), pc AS (
        SELECT user_id, COUNT(*) AS n_purchases FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ), med AS (
        SELECT quantile_cont(CAST(n_purchases AS DOUBLE), 0.5) AS m FROM pc
    ), assigned AS (
        SELECT u.user_id,
               CAST(CAST(('0x' || substr(md5(CAST(u.user_id AS VARCHAR)
                        || '#ab'), 1, 15)) AS UBIGINT) AS BIGINT) % 2
                   AS variant,
               COALESCE(CAST(pc.n_purchases AS DOUBLE) > med.m, FALSE)
                   AS converted
        FROM u LEFT JOIN pc ON pc.user_id = u.user_id CROSS JOIN med
    ), sums AS (
        SELECT COUNT(CASE WHEN variant = 0 THEN 1 END) AS n_a,
               COUNT(CASE WHEN variant = 1 THEN 1 END) AS n_b,
               COUNT(CASE WHEN variant = 0 AND converted THEN 1 END) AS c_a,
               COUNT(CASE WHEN variant = 1 AND converted THEN 1 END) AS c_b
        FROM assigned
    )
    , terms AS (
        SELECT n_a, n_b, c_a, c_b,
               CASE WHEN n_a > 0
                    THEN CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) END
                   AS rate_a,
               CASE WHEN n_b > 0
                    THEN CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) END
                   AS rate_b,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
               (CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
               * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
               * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))
               END AS var_term
        FROM sums
    )
    SELECT n_a, n_b, c_a, c_b, rate_a, rate_b,
           CASE WHEN var_term > 0.0
                THEN (rate_a - rate_b) / SQRT(var_term) END AS z_score,
           CASE WHEN var_term > 0.0
                THEN ABS((rate_a - rate_b) / SQRT(var_term))
                     > 1.959963984540054 END AS significant
    FROM terms
    """,
)
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B EXPERIMENT readout: deterministic 50/50 variant assignment by
    hashing the user id (the md5-portable recipe — the same user lands
    in the same arm in every engine, every run: assignment IS the
    randomization in online experimentation), per-arm conversion rates,
    and the two-proportion pooled z-test with the 95% two-sided verdict.
    "Converted" is self-calibrating — purchase count above the in-plan
    GLOBAL MEDIAN (broadcast 1-row aggregate) — so the rate is interior
    at any SF (a has-any-purchase definition saturates at 100% here and
    makes the z-statistic 0/0). Four exact counts feed one IEEE float
    expression mirrored in the oracle, z guarded NULL when the pooled
    variance is zero (Spark's ANSI division would throw where DuckDB
    yields NaN). One distinct + one aggregate; at 100 TB the distinct is
    the only data-sized shuffle."""
    from polars_numba_spark.operators.dedup import md5_long

    e = _t(spark, sf_dir, "events")
    u = (
        e.where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
    )
    pc = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    med = pc.agg(
        F.percentile(F.col("n_purchases").cast("double"), F.lit(0.5)).alias("m")
    )
    assigned = (
        u.join(pc, "user_id", "left")
        .crossJoin(F.broadcast(med))
        .select(
            F.pmod(
                md5_long(
                    F.concat(F.col("user_id").cast("string"), F.lit("#ab"))
                ),
                F.lit(2),
            ).alias("variant"),
            F.coalesce(
                F.col("n_purchases").cast("double") > F.col("m"),
                F.lit(False),
            ).alias("converted"),
        )
    )
    sums = assigned.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        F.count(
            F.when((F.col("variant") == 0) & F.col("converted"), 1)
        ).alias("c_a"),
        F.count(
            F.when((F.col("variant") == 1) & F.col("converted"), 1)
        ).alias("c_b"),
    )
    pp = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    # empty-arm guards (empty corpus -> n_a = n_b = 0): rates and the
    # pooled variance are undefined, NULL in both spellings (the
    # empty-corpus gate caught Spark's ANSI divide-by-zero here)
    terms = sums.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        F.when(
            F.col("n_a") > 0,
            F.col("c_a").cast("double") / F.col("n_a").cast("double"),
        ).alias("rate_a"),
        F.when(
            F.col("n_b") > 0,
            F.col("c_b").cast("double") / F.col("n_b").cast("double"),
        ).alias("rate_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            pp
            * (F.lit(1.0) - pp)
            * (
                F.lit(1.0) / F.col("n_a").cast("double")
                + F.lit(1.0) / F.col("n_b").cast("double")
            ),
        ).alias("var_term"),
    )
    z = (F.col("rate_a") - F.col("rate_b")) / F.sqrt(F.col("var_term"))
    return terms.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        "rate_a",
        "rate_b",
        F.when(F.col("var_term") > 0.0, z).alias("z_score"),
        F.when(
            F.col("var_term") > 0.0, F.abs(z) > F.lit(1.959963984540054)
        ).alias("significant"),
    )


@register(
    "user_value_pareto_deciles",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
        GROUP BY user_id
    ), st AS (
        SELECT COUNT(*) AS n, SUM(cents) AS t FROM pu
    ), rk AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, user_id) AS r
        FROM pu
    ), dec AS (
        SELECT ((r - 1) * 10) // st.n + 1 AS decile, cents
        FROM rk, st
    ), agg AS (
        SELECT CAST(decile AS INTEGER) AS decile,
               COUNT(*) AS n_users,
               CAST(SUM(cents) AS BIGINT) AS decile_cents
        FROM dec GROUP BY decile
    )
    SELECT a.decile, a.n_users, a.decile_cents,
           CAST(a.decile_cents AS DOUBLE) / CAST(st.t AS DOUBLE) AS share,
           CAST(SUM(a.decile_cents) OVER (
                    ORDER BY a.decile DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS DOUBLE) / CAST(st.t AS DOUBLE) AS cum_share_from_top
    FROM agg a, st
    """,
)
def user_value_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz/Pareto DECILE table behind the concentration scalars
    ("the top 10% of users drive X% of value"): users ranked by exact
    purchase cents via the distributed sort-rank (global_ranks — no
    single-reducer sort), binned into ten equal-population deciles with
    pure integer arithmetic ((r−1)·10 DIV n + 1 — no float boundary
    ambiguity), then per-decile counts/mass and the cumulative
    share-from-the-top over the ten-row aggregate. Everything exact
    integers until the two share divisions."""
    from polars_numba_spark.operators.profile import global_ranks

    pu = (
        _t(spark, sf_dir, "events")
        .where(
            (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    st = pu.agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("t"))
    rk = global_ranks(pu, ["cents", "user_id"], rank_col="r")
    dec = rk.crossJoin(F.broadcast(st)).select(
        (
            ((F.col("r") - 1) * 10 - F.pmod((F.col("r") - 1) * 10, F.col("n")))
            / F.col("n")
            + 1
        )
        .cast("int")
        .alias("decile"),
        "cents",
        "t",
    )
    agg = dec.groupBy("decile", "t").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cents").alias("decile_cents"),
    )
    w = Window.orderBy(F.col("decile").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return agg.select(
        "decile",
        "n_users",
        "decile_cents",
        (
            F.col("decile_cents").cast("double") / F.col("t").cast("double")
        ).alias("share"),
        (
            F.sum("decile_cents").over(w).cast("double")
            / F.col("t").cast("double")
        ).alias("cum_share_from_top"),
    )


@register(
    "ab_value_mannwhitney",
    oracle="""
    WITH u AS (
        SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
    ), pc AS (
        SELECT user_id, SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), a AS (
        SELECT u.user_id, COALESCE(pc.cents, 0) AS cents,
               CAST(CAST(('0x' || substr(md5(CAST(u.user_id AS VARCHAR)
                        || '#mw'), 1, 15)) AS UBIGINT) AS BIGINT) % 2
                   AS variant
        FROM u LEFT JOIN pc ON pc.user_id = u.user_id
    ), rk AS (
        SELECT cents, variant,
               ROW_NUMBER() OVER (ORDER BY cents, user_id) AS r
        FROM a
    ), blocks AS (
        SELECT cents, MIN(r) AS rmin, COUNT(*) AS t,
               COUNT(CASE WHEN variant = 0 THEN 1 END) AS ta
        FROM rk GROUP BY cents
    ), s AS (
        SELECT CAST(SUM(ta * (2 * rmin + t - 1)) AS BIGINT) AS r2a,
               CAST(SUM(t * t * t - t) AS BIGINT) AS tiesum,
               CAST(SUM(ta) AS BIGINT) AS n_a,
               CAST(SUM(t - ta) AS BIGINT) AS n_b
        FROM blocks
    ), terms AS (
        SELECT n_a, n_b, tiesum,
               (CAST(r2a AS DOUBLE)
                - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0
                   AS u_a,
               CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
               CAST(n_a + n_b AS DOUBLE) AS n,
               CAST(tiesum AS DOUBLE) AS ts
        FROM s
    )
    SELECT n_a, n_b, u_a,
           CASE WHEN na * nb / 12.0
                     * ((n + 1.0) - ts / (n * (n - 1.0))) > 0.0
                THEN (u_a - na * nb / 2.0)
                     / SQRT(na * nb / 12.0
                            * ((n + 1.0) - ts / (n * (n - 1.0))))
           END AS z_score,
           CASE WHEN na * nb / 12.0
                     * ((n + 1.0) - ts / (n * (n - 1.0))) > 0.0
                THEN ABS((u_a - na * nb / 2.0)
                         / SQRT(na * nb / 12.0
                                * ((n + 1.0) - ts / (n * (n - 1.0)))))
                     > 1.959963984540054
           END AS significant
    FROM terms
    """,
)
def ab_value_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) A/B readout over per-user purchase
    value — the NONPARAMETRIC sibling of ab_conversion_ztest/ab_value_cuped
    for the heavy-tailed revenue metrics a t-test mis-handles. Variant
    assignment is the md5-portable 50/50 recipe; non-purchasers keep an
    exact zero-cents value, deliberately creating a giant tie block that
    exercises the midrank + tie-variance correction. Rank machinery is the
    distributed sort-rank (global_ranks — no single-reducer ORDER BY): a
    unique (cents, user_id) tiebreaker makes per-row ranks deterministic,
    then midranks come from value-block aggregates (midrank×2 = 2·min_rank
    + t − 1, an INTEGER, so the A-side rank-sum R2_A = Σ tA·(2·rmin+t−1)
    and the tie term Σ(t³−t) are both exact BIGINTs). One float expression
    at the end — z with the standard tie-corrected variance — mirrored
    token-for-token in the oracle. At 100 TB the only data-sized shuffles
    are the per-user aggregate and the range-partitioned rank; every later
    stage is keyed on the (bounded) distinct-value table."""
    from polars_numba_spark.operators.dedup import md5_long
    from polars_numba_spark.operators.profile import global_ranks

    e = _t(spark, sf_dir, "events")
    u = e.where(F.col("user_id").isNotNull()).select("user_id").distinct()
    pc = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    a = u.join(pc, "user_id", "left").select(
        "user_id",
        F.coalesce(F.col("cents"), F.lit(0).cast("long")).alias("cents"),
        F.pmod(
            md5_long(F.concat(F.col("user_id").cast("string"), F.lit("#mw"))),
            F.lit(2),
        ).alias("variant"),
    )
    rk = global_ranks(a, ["cents", "user_id"], rank_col="r")
    blocks = rk.groupBy("cents").agg(
        F.min("r").alias("rmin"),
        F.count(F.lit(1)).alias("t"),
        F.count(F.when(F.col("variant") == 0, 1)).alias("ta"),
    )
    s = blocks.agg(
        F.sum(
            F.col("ta") * (2 * F.col("rmin") + F.col("t") - 1)
        ).alias("r2a"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tiesum"),
        F.sum("ta").alias("n_a"),
        F.sum(F.col("t") - F.col("ta")).alias("n_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    ts = F.col("tiesum").cast("double")
    u_a = (
        F.col("r2a").cast("double") - na * (na + F.lit(1.0))
    ) / F.lit(2.0)
    var = (
        na * nb / F.lit(12.0)
        * ((n + F.lit(1.0)) - ts / (n * (n - F.lit(1.0))))
    )
    z = (u_a - na * nb / F.lit(2.0)) / F.sqrt(var)
    return s.select(
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        F.when(var > 0.0, z).alias("z_score"),
        F.when(var > 0.0, F.abs(z) > F.lit(1.959963984540054)).alias(
            "significant"
        ),
    )


@register(
    "events_chisq_independence",
    oracle="""
    WITH cells AS (
        SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
               COUNT(*) AS o
        FROM events GROUP BY event_type, isodow(ts)
    ), rt AS (
        SELECT event_type, CAST(SUM(o) AS BIGINT) AS row_n FROM cells
        GROUP BY event_type
    ), ct AS (
        SELECT dow, CAST(SUM(o) AS BIGINT) AS col_n FROM cells GROUP BY dow
    ), tot AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells
    ), grid AS (
        SELECT rt.event_type, ct.dow, rt.row_n, ct.col_n,
               COALESCE(c.o, 0) AS o
        FROM rt CROSS JOIN ct
        LEFT JOIN cells c
          ON c.event_type = rt.event_type AND c.dow = ct.dow
    ), contrib AS (
        SELECT CAST(ROUND(
                   (CAST(o AS DOUBLE)
                    - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                      / CAST(tot.n AS DOUBLE))
                   * (CAST(o AS DOUBLE)
                      - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                        / CAST(tot.n AS DOUBLE))
                   / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                      / CAST(tot.n AS DOUBLE)), 9)
               AS DECIMAL(28,9)) AS c,
               row_n, col_n
        FROM grid CROSS JOIN tot
    )
    SELECT CAST(CAST(SUM(c) AS DECIMAL(38,9)) AS DOUBLE) AS chi2,
           CAST((SELECT COUNT(*) FROM rt) - 1 AS BIGINT)
             * CAST((SELECT COUNT(*) FROM ct) - 1 AS BIGINT) AS dof,
           (SELECT n FROM tot) AS n,
           SQRT(CAST(CAST(SUM(c) AS DECIMAL(38,9)) AS DOUBLE)
                / (CAST((SELECT n FROM tot) AS DOUBLE)
                   * CAST(LEAST((SELECT COUNT(*) FROM rt) - 1,
                                (SELECT COUNT(*) FROM ct) - 1) AS DOUBLE)))
               AS cramers_v
    FROM contrib
    HAVING COUNT(*) > 0
    """,
)
def events_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event_type and ISO weekday —
    the categorical-association monitor next to the Pearson/ACF/PSI family
    (is traffic mix a function of day-of-week?). The contingency table is
    one keyed groupBy; row/column marginals re-aggregate the CELL table
    (bounded: #types × 7), the full grid is rebuilt with explicit zero
    cells (a missing cell still contributes its expectation), and each
    cell's (o−e)²/e is computed in one mirrored double expression then
    ROUNDed to 9 decimals and accumulated as DECIMAL(28,9) — exact
    addition, so neither engine's aggregation order can perturb the
    statistic. Outputs chi2, degrees of freedom, n, and Cramér's V. At
    100 TB the single data-sized stage is the first groupBy; everything
    after runs on a ≤(types×7)-row frame."""
    e = _t(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        (F.weekday(F.col("ts")) + F.lit(1)).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    ct = cells.groupBy("dow").agg(F.sum("o").alias("col_n"))
    tot = cells.agg(F.sum("o").alias("n"))
    grid = (
        rt.crossJoin(ct)
        .join(cells, ["event_type", "dow"], "left")
        .select(
            "event_type",
            "dow",
            "row_n",
            "col_n",
            F.coalesce(F.col("o"), F.lit(0).cast("long")).alias("o"),
        )
        .crossJoin(F.broadcast(tot))
    )
    exp = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    contrib = grid.select(
        F.round(
            (F.col("o").cast("double") - exp)
            * (F.col("o").cast("double") - exp)
            / exp,
            9,
        )
        .cast("decimal(28,9)")
        .alias("c"),
        "event_type",
        "dow",
        "n",
    )
    r_cnt = rt.agg(F.count(F.lit(1)).alias("r")).select("r")
    c_cnt = ct.agg(F.count(F.lit(1)).alias("c")).select("c")
    chi2 = F.col("chi2_dec").cast("decimal(38,9)").cast("double")
    return (
        contrib.groupBy("n")
        .agg(F.sum("c").alias("chi2_dec"))
        .crossJoin(F.broadcast(r_cnt))
        .crossJoin(F.broadcast(c_cnt))
        .select(
            chi2.alias("chi2"),
            (
                (F.col("r") - 1).cast("long") * (F.col("c") - 1).cast("long")
            ).alias("dof"),
            "n",
            F.sqrt(
                chi2
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
                )
            ).alias("cramers_v"),
        )
    )


@register(
    "events_seasonal_backtest",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), paired AS (
        SELECT a.event_type, a.day,
               a.cents AS actual, f.cents AS forecast
        FROM daily a JOIN daily f
          ON f.event_type = a.event_type
         AND f.day = a.day - INTERVAL 7 DAY
    ), scored AS (
        SELECT event_type, actual, forecast,
               ABS(actual - forecast) AS abs_err,
               actual - forecast AS err,
               CASE WHEN actual + forecast > 0 THEN
                   CAST(ROUND(
                       2.0 * ABS(CAST(actual AS DOUBLE)
                                 - CAST(forecast AS DOUBLE))
                       / (CAST(actual AS DOUBLE) + CAST(forecast AS DOUBLE)),
                       9) AS DECIMAL(28,9))
               ELSE CAST(0 AS DECIMAL(28,9)) END AS smape_c
        FROM paired
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(CAST(SUM(abs_err) AS BIGINT) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mae_cents,
           CAST(CAST(SUM(err) AS BIGINT) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS bias_cents,
           CAST(CAST(SUM(smape_c) AS DECIMAL(38,9)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS smape
    FROM scored GROUP BY event_type
    """,
)
def events_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST: predict each (event_type, day)'s
    value total with the value from the same weekday one week earlier,
    then score MAE / bias / SMAPE per type — the baseline every fancier
    forecaster (Holt-Winters, OLS trend, DOW indices — all siblings in
    this catalog) must beat, and the standard way a pipeline validates a
    seasonality assumption before using it. Daily totals are exact cents;
    the 7-day shift is a self-equi-join on (type, day−7) — keyed, no
    window, no sequential scan. MAE/bias come from BIGINT error sums; each
    day's SMAPE term is one mirrored double expression rounded to 9
    decimals and accumulated as DECIMAL(28,9), so the per-type mean is
    bit-stable under any aggregation order. At 100 TB the daily rollup is
    the only data-sized shuffle; the join runs on (types × days) rows."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    f = daily.select(
        F.col("event_type").alias("f_type"),
        (F.col("day") + F.expr("INTERVAL 7 DAY")).alias("f_day"),
        F.col("cents").alias("forecast"),
    )
    paired = daily.join(
        f,
        (F.col("event_type") == F.col("f_type"))
        & (F.col("day") == F.col("f_day")),
    ).select("event_type", F.col("cents").alias("actual"), "forecast")
    ad = F.col("actual").cast("double")
    fd = F.col("forecast").cast("double")
    scored = paired.select(
        "event_type",
        F.abs(F.col("actual") - F.col("forecast")).alias("abs_err"),
        (F.col("actual") - F.col("forecast")).alias("err"),
        F.when(
            F.col("actual") + F.col("forecast") > 0,
            F.round(
                F.lit(2.0) * F.abs(ad - fd) / (ad + fd), 9
            ).cast("decimal(28,9)"),
        )
        .otherwise(F.lit(0).cast("decimal(28,9)"))
        .alias("smape_c"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        (
            F.sum("abs_err").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mae_cents"),
        (
            F.sum("err").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("bias_cents"),
        (
            F.sum("smape_c").cast("decimal(38,9)").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("smape"),
    )


@register(
    "customer_part_hits",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), srcs AS (
        SELECT DISTINCT src FROM edges
    ), h0 AS (
        SELECT src,
               ROUND(1.0 / CAST((SELECT COUNT(*) FROM srcs) AS DOUBLE), 12)
                   AS h
        FROM srcs
    ), a1r AS (
        SELECT dst, SUM(CAST(ROUND(h, 12) AS DECIMAL(28,14))) AS ar
        FROM edges JOIN h0 USING (src) GROUP BY dst
    ), a1 AS (
        SELECT dst,
               ROUND(CAST(ar AS DOUBLE)
                     / CAST((SELECT SUM(ar) FROM a1r) AS DOUBLE), 12) AS a
        FROM a1r
    ), h1r AS (
        SELECT src, SUM(CAST(a AS DECIMAL(28,14))) AS hr
        FROM edges JOIN a1 USING (dst) GROUP BY src
    ), h1 AS (
        SELECT src,
               ROUND(CAST(hr AS DOUBLE)
                     / CAST((SELECT SUM(hr) FROM h1r) AS DOUBLE), 12) AS h
        FROM h1r
    ), a2r AS (
        SELECT dst, SUM(CAST(ROUND(h, 12) AS DECIMAL(28,14))) AS ar
        FROM edges JOIN h1 USING (src) GROUP BY dst
    ), a2 AS (
        SELECT dst,
               ROUND(CAST(ar AS DOUBLE)
                     / CAST((SELECT SUM(ar) FROM a2r) AS DOUBLE), 12) AS a
        FROM a2r
    ), h2r AS (
        SELECT src, SUM(CAST(a AS DECIMAL(28,14))) AS hr
        FROM edges JOIN a2 USING (dst) GROUP BY src
    ), h2 AS (
        SELECT src,
               ROUND(CAST(hr AS DOUBLE)
                     / CAST((SELECT SUM(hr) FROM h2r) AS DOUBLE), 12) AS h
        FROM h2r
    )
    SELECT 'hub' AS side, src AS node, h AS score FROM h2
    UNION ALL
    SELECT 'auth' AS side, dst AS node, a AS score FROM a2
    """,
)
def customer_part_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the customer→part purchase graph
    (operators/graphrank.py::hits): hub customers "buy broadly and well",
    authority parts "are bought by good hubs" — the mutual-reinforcement
    centrality split PageRank can't express, and the item-importance
    signal a recommender or curation pipeline reads off a bipartite
    interaction graph. Two iterations unroll into a flat oracle: every
    half-step sums 12-decimal-rounded contributions as DECIMAL(28,14)
    (order-proof exact addition) and L1-normalizes in one mirrored double
    division — the PageRank portability recipe applied to the two-vector
    recurrence. Edge list = DISTINCT (custkey, partkey) from one keyed
    join; each half-step shuffles on a node id; the L1 totals are
    broadcast 1-row aggregates."""
    from polars_numba_spark.operators.graphrank import hits

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
    )
    hubs, auths = hits(edges, iterations=2)
    return hubs.select(
        F.lit("hub").alias("side"), "node", F.col("hub").alias("score")
    ).unionAll(
        auths.select(
            F.lit("auth").alias("side"), "node", F.col("auth").alias("score")
        )
    )


@register(
    "segment_overlap_bitmap",
    oracle="""
    WITH active AS (
        SELECT DISTINCT c.c_mktsegment AS seg, l.l_partkey AS k
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), bm AS (
        SELECT seg, k // 63 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(k % 63 AS INTEGER)) AS bits
        FROM active GROUP BY seg, k // 63
    ), sizes AS (
        SELECT seg, CAST(SUM(CAST(bit_count(bits) AS BIGINT)) AS BIGINT)
                   AS n_members
        FROM bm GROUP BY seg
    ), inter AS (
        SELECT a.seg AS seg_a, b.seg AS seg_b,
               CAST(SUM(CAST(bit_count(a.bits & b.bits) AS BIGINT))
                   AS BIGINT) AS n_inter
        FROM bm a JOIN bm b ON a.word = b.word AND a.seg < b.seg
        GROUP BY a.seg, b.seg
    )
    SELECT i.seg_a, i.seg_b, sa.n_members AS n_a, sb.n_members AS n_b,
           i.n_inter,
           CAST(i.n_inter AS DOUBLE)
               / CAST(sa.n_members + sb.n_members - i.n_inter AS DOUBLE)
               AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.seg = i.seg_a
    JOIN sizes sb ON sb.seg = i.seg_b
    """,
)
def segment_overlap_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT basket-overlap via compressed id bitmaps — the
    roaring-bitmap technique every OLAP engine uses for segment
    intersection, next to the KMV/theta APPROXIMATE twin
    (audience_overlap_kmv): each market segment's PURCHASED-PART set
    (parts genuinely recur across segments, so the intersections are
    non-degenerate — customer ids would partition disjointly) packs into
    63-bit words (bit = id mod 63, word = id div 63 — 63 keeps every mask
    positive so no engine disagrees on sign-bit semantics), one
    bit_or-aggregated word table per segment, and segment-pair
    intersections are bit_count(a&b) summed over equi-joined words.
    Exact Jaccard from pure integer arithmetic — no hashes, no sketch
    error. Scale shape: the bitmap table is (segments × id-space/63) rows
    regardless of fact-row count — the groupBy compresses 63 membership
    rows into one BIGINT — and the pair stage joins ONLY on word, so a
    sparse shared word never explodes; a 10⁹-id space is ~16M words per
    segment, each pair intersection one keyed merge join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    active = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .select(F.col("c_mktsegment").alias("seg"), F.col("l_partkey").alias("k"))
        .distinct()
    )
    bm = active.groupBy(
        "seg", F.expr("k div 63").alias("word")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(k % 63 AS INT))")
        ).alias("bits")
    )
    sizes = bm.groupBy("seg").agg(
        F.sum(F.bit_count("bits").cast("long")).alias("n_members")
    )
    a = bm.select(
        F.col("seg").alias("seg_a"), "word", F.col("bits").alias("bits_a")
    )
    b = bm.select(
        F.col("seg").alias("seg_b"),
        F.col("word").alias("word_b"),
        F.col("bits").alias("bits_b"),
    )
    inter = (
        a.join(
            b,
            (F.col("word") == F.col("word_b"))
            & (F.col("seg_a") < F.col("seg_b")),
        )
        .groupBy("seg_a", "seg_b")
        .agg(
            F.sum(
                F.bit_count(
                    F.col("bits_a").bitwiseAND(F.col("bits_b"))
                ).cast("long")
            ).alias("n_inter")
        )
    )
    sa = sizes.select(F.col("seg").alias("seg_a"), F.col("n_members").alias("n_a"))
    sb = sizes.select(F.col("seg").alias("seg_b"), F.col("n_members").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "seg_a")
        .join(F.broadcast(sb), "seg_b")
        .select(
            "seg_a",
            "seg_b",
            "n_a",
            "n_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


# Shared by ab_sequential_sprt and its streaming twin (single-sourced —
# the burst/CMS/EWMA-twin pattern): bounded input means the stream's
# per-user state must equal the batch per-user aggregate, so both faces
# share one oracle verbatim.
_SPRT_ORACLE_SQL = """
    WITH u AS (
        SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
    ), pc AS (
        SELECT user_id, COUNT(*) AS n_purchases FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ), med AS (
        SELECT quantile_cont(CAST(n_purchases AS DOUBLE), 0.5) AS m FROM pc
    ), a AS (
        SELECT u.user_id,
               CAST(CAST(('0x' || substr(md5(CAST(u.user_id AS VARCHAR)
                        || '#ab'), 1, 15)) AS UBIGINT) AS BIGINT) % 2
                   AS variant,
               COALESCE(CAST(pc.n_purchases AS DOUBLE) > med.m, FALSE)
                   AS converted
        FROM u LEFT JOIN pc ON pc.user_id = u.user_id CROSS JOIN med
    ), inc AS (
        SELECT variant, user_id,
               CASE WHEN converted
                    THEN CAST(0.223143551314 AS DECIMAL(38,12))
                    ELSE CAST(-0.182321556794 AS DECIMAL(38,12))
               END AS inc
        FROM a
    ), c AS (
        SELECT variant, user_id,
               ROW_NUMBER() OVER (PARTITION BY variant ORDER BY user_id)
                   AS rn,
               SUM(inc) OVER (PARTITION BY variant ORDER BY user_id
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM inc
    ), crossings AS (
        SELECT variant, rn, cum,
               ROW_NUMBER() OVER (PARTITION BY variant ORDER BY rn) AS k
        FROM c
        WHERE cum >= CAST(2.944438979166 AS DECIMAL(38,12))
           OR cum <= CAST(-2.944438979166 AS DECIMAL(38,12))
    ), tot AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users FROM a
        GROUP BY variant
    )
    SELECT t.variant, t.n_users,
           CASE WHEN x.cum >= CAST(2.944438979166 AS DECIMAL(38,12))
                THEN 'accept_h1'
                WHEN x.cum <= CAST(-2.944438979166 AS DECIMAL(38,12))
                THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           x.rn AS n_at_decision,
           CAST(x.cum AS DOUBLE) AS llr_at_decision
    FROM tot t LEFT JOIN (SELECT * FROM crossings WHERE k = 1) x
      ON x.variant = t.variant
    """


def sprt_decision(a: DataFrame) -> DataFrame:
    """The SPRT latch over assigned users ``(user_id, variant,
    converted)`` — shared by the batch face and the streaming twin. See
    :func:`ab_sequential_sprt` for the statistics and the
    distributed-prefix-sum plan shape."""
    from decimal import Decimal

    up = F.lit(Decimal("0.223143551314")).cast("decimal(38,12)")
    dn = F.lit(Decimal("-0.182321556794")).cast("decimal(38,12)")
    hi = F.lit(Decimal("2.944438979166")).cast("decimal(38,12)")
    lo = F.lit(Decimal("-2.944438979166")).cast("decimal(38,12)")
    inc = a.select(
        "variant",
        "user_id",
        F.when(F.col("converted"), up).otherwise(dn).alias("inc"),
        F.expr("user_id div 1048576").alias("bucket"),
    )
    per_bucket = inc.groupBy("variant", "bucket").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("inc").alias("s")
    )
    wb = (
        Window.partitionBy("variant")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "variant",
        "bucket",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0).cast("long")).alias(
            "off_cnt"
        ),
        F.coalesce(
            F.sum("s").over(wb), F.lit(Decimal("0")).cast("decimal(38,12)")
        ).alias("off_s"),
    )
    wl = Window.partitionBy("variant", "bucket").orderBy("user_id")
    wls = wl.rowsBetween(Window.unboundedPreceding, 0)
    c = (
        inc.join(offsets, ["variant", "bucket"])
        .select(
            "variant",
            (F.col("off_cnt") + F.row_number().over(wl)).alias("rn"),
            (F.col("off_s") + F.sum("inc").over(wls)).alias("cum"),
        )
    )
    crossing = c.where((F.col("cum") >= hi) | (F.col("cum") <= lo))
    first = crossing.groupBy("variant").agg(
        F.min(F.struct("rn", "cum")).alias("x")
    )
    tot = a.groupBy("variant").agg(F.count(F.lit(1)).alias("n_users"))
    return tot.join(first, "variant", "left").select(
        "variant",
        "n_users",
        F.when(F.col("x.cum") >= hi, F.lit("accept_h1"))
        .when(F.col("x.cum") <= lo, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.col("x.rn").alias("n_at_decision"),
        F.col("x.cum").cast("double").alias("llr_at_decision"),
    )


@register("ab_sequential_sprt", oracle=_SPRT_ORACLE_SQL)
def ab_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SEQUENTIAL probability-ratio test per experiment arm — the
    early-stopping monitor the fixed-horizon z-test family can't express:
    users stream in deterministic order, each contributes an exact
    DECIMAL(38,12) log-likelihood-ratio increment for H1: p=0.5 vs
    H0: p=0.4 (ln(19) boundaries = 5%/5% error rates), and the arm LATCHES
    at the first boundary crossing ("how many users did we actually need
    before the evidence was conclusive?"). All running arithmetic is
    decimal — exact, aggregation-order-proof — so the cumulative LLR and
    the crossing index match DuckDB's window spelling hash-for-hash. The
    Spark plan is the DISTRIBUTED PREFIX SUM, not a single-reducer window:
    users bucket by id (2²⁰ per bucket), per-(arm, bucket) sums cumulate
    over the bounded bucket spine, and within-bucket windows run one
    bounded task each — the two-pass scan decomposition at any scale.
    Conversion reuses ab_conversion_ztest's self-calibrating definition
    and '#ab' assignment, so this face reads the SAME experiment."""
    from polars_numba_spark.operators.dedup import md5_long

    e = _t(spark, sf_dir, "events")
    u = e.where(F.col("user_id").isNotNull()).select("user_id").distinct()
    pc = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    med = pc.agg(
        F.percentile(F.col("n_purchases").cast("double"), F.lit(0.5)).alias("m")
    )
    a = (
        u.join(pc, "user_id", "left")
        .crossJoin(F.broadcast(med))
        .select(
            "user_id",
            F.pmod(
                md5_long(
                    F.concat(F.col("user_id").cast("string"), F.lit("#ab"))
                ),
                F.lit(2),
            ).alias("variant"),
            F.coalesce(
                F.col("n_purchases").cast("double") > F.col("m"),
                F.lit(False),
            ).alias("converted"),
        )
    )
    return sprt_decision(a)


@register(
    "events_hill_tail_index",
    oracle="""
    WITH pos AS (
        SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE value > 0
    ), top AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents DESC, event_id) AS rn
        FROM (SELECT * FROM pos ORDER BY cents DESC, event_id LIMIT 501)
    ), boundary AS (
        SELECT cents AS x_k1 FROM top WHERE rn = 501
    ), terms AS (
        SELECT b.x_k1,
               CAST(ROUND(ln(CAST(t.cents AS DOUBLE)
                             / CAST(b.x_k1 AS DOUBLE)), 9)
                   AS DECIMAL(28,9)) AS term
        FROM top t CROSS JOIN boundary b
        WHERE t.rn <= 500
    )
    SELECT CAST(500 AS BIGINT) AS k,
           x_k1 AS x_k1_cents,
           CAST(CAST(SUM(term) AS DECIMAL(38,9)) AS DOUBLE) AS sum_log,
           500.0 / CAST(CAST(SUM(term) AS DECIMAL(38,9)) AS DOUBLE)
               AS hill_alpha
    FROM terms
    GROUP BY x_k1
    """,
)
def events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law TAIL index over event values — the
    tail-risk companion to the Zipf (rank-frequency) and Pareto-decile
    faces: α̂ = k / Σᵢ ln(xᵢ/x₍ₖ₊₁₎) over the k=500 largest observations,
    the standard extreme-value diagnostic for "how heavy is the revenue
    tail really" (α ≤ 2 ⇒ infinite variance — means alone mislead). The
    only data-sized operation is a global top-(k+1) — Spark's TakeOrdered
    push-down, per-partition heaps then one k-row merge, NO total sort —
    after which every term is one mirrored double log rounded to 9
    decimals and accumulated as DECIMAL(28,9). Deterministic boundary:
    ties at the 501st value break on event_id in both engines. Both
    spellings aggregate GROUPED on the boundary value, so a corpus with
    fewer than 501 positive rows yields an EMPTY result in both engines
    (no 501st boundary → no terms → no group) rather than one engine
    emitting a NULL row."""
    e = _t(spark, sf_dir, "events")
    pos = e.where(F.col("value") > 0).select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    top = (
        pos.orderBy(F.col("cents").desc(), F.col("event_id"))
        .limit(501)
        .select(
            "cents",
            F.row_number()
            .over(Window.orderBy(F.col("cents").desc(), F.col("event_id")))
            .alias("rn"),
        )
    )
    boundary = top.where(F.col("rn") == 501).select(
        F.col("cents").alias("x_k1")
    )
    terms = (
        top.where(F.col("rn") <= 500)
        .crossJoin(F.broadcast(boundary))
        .select(
            F.round(
                F.log(
                    F.col("cents").cast("double") / F.col("x_k1").cast("double")
                ),
                9,
            )
            .cast("decimal(28,9)")
            .alias("term"),
            "x_k1",
        )
    )
    sl = F.col("sum_term").cast("decimal(38,9)").cast("double")
    return (
        terms.groupBy("x_k1")
        .agg(F.sum("term").alias("sum_term"))
        .select(
            F.lit(500).cast("long").alias("k"),
            F.col("x_k1").alias("x_k1_cents"),
            sl.alias("sum_log"),
            (F.lit(500.0) / sl).alias("hill_alpha"),
        )
    )


@register(
    "events_entropy_rate",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   AS prev_type
        FROM events
    ), pairs AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ), tot AS (
        SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from FROM pairs
        GROUP BY prev_type
    ), na AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM pairs
    ), h AS (
        SELECT p.prev_type,
               CAST(SUM(CAST(ROUND(
                   -(CAST(p.n AS DOUBLE) / CAST(t.n_from AS DOUBLE))
                   * ln(CAST(p.n AS DOUBLE) / CAST(t.n_from AS DOUBLE)), 9)
               AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS h_dec
        FROM pairs p JOIN tot t USING (prev_type)
        GROUP BY p.prev_type
    )
    SELECT t.prev_type, t.n_from,
           CAST(h.h_dec AS DOUBLE) AS h_cond_nats,
           CAST(t.n_from AS DOUBLE)
               / CAST((SELECT n_all FROM na) AS DOUBLE) AS pi,
           (CAST(t.n_from AS DOUBLE)
               / CAST((SELECT n_all FROM na) AS DOUBLE))
               * CAST(h.h_dec AS DOUBLE) AS contribution_nats
    FROM tot t JOIN h USING (prev_type)
    """,
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov ENTROPY RATE of user behavior — how predictable the next
    event is, per source state and in aggregate (Σ of the contribution
    column): the information-theoretic readout of the same transition
    matrix event_type_transitions estimates and event_markov_backtest
    scores (H→0 means the argmax predictor is near-perfect; H→ln(k) means
    behavior is noise — the model-capacity ceiling quantified BEFORE
    training anything). Transition counts ride the one user-keyed lag
    window; each −p·ln p term is one mirrored double expression rounded
    to 9 decimals into DECIMAL(28,9) (order-proof addition over the
    bounded |types|² cells); the stationary weights are empirical
    transition-mass ratios of exact BIGINTs. Everything after the lag
    window runs on a ≤|types|²-row frame."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    pairs = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    na = pairs.agg(F.sum("n").alias("n_all"))
    p = F.col("n").cast("double") / F.col("n_from").cast("double")
    h = (
        pairs.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            F.round(-p * F.log(p), 9).cast("decimal(28,9)").alias("term"),
        )
        .groupBy("prev_type")
        .agg(F.sum("term").cast("decimal(38,9)").alias("h_dec"))
    )
    pi = F.col("n_from").cast("double") / F.col("n_all").cast("double")
    return (
        tot.join(h, "prev_type")
        .crossJoin(F.broadcast(na))
        .select(
            "prev_type",
            "n_from",
            F.col("h_dec").cast("double").alias("h_cond_nats"),
            pi.alias("pi"),
            (pi * F.col("h_dec").cast("double")).alias("contribution_nats"),
        )
    )


@register(
    "orders_incremental_rollup",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS month, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders GROUP BY date_trunc('month', o_orderdate), o_orderstatus
    """,
)
def orders_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance — the batch shape behind
    every incremental pipeline: a rollup "snapshot" built from orders
    before a cutover date merges with the new delta's PARTIAL aggregate
    by re-aggregating mergeable statistics (counts and sums add; this is
    exactly what Spark's own partial/final aggregation does across
    partitions, applied across TIME), and the result must equal the
    full-table rollup bit-for-bit — which is precisely what the oracle
    checks, since it computes the full rollup directly. At 100 TB the
    snapshot side reads a pre-aggregated (months × statuses)-row table,
    not history: only the delta is scanned, the merge re-aggregates
    bounded partials. Both scans here carry their cutover predicate into
    the parquet scan (pushdown-pinned in tests)."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit("2001-06-01").cast("timestamp")
    rollup = lambda df: df.groupBy(  # noqa: E731
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("revenue_cents"),
    )
    snapshot = rollup(o.where(F.col("o_orderdate") < cut))
    delta = rollup(o.where(F.col("o_orderdate") >= cut))
    return (
        snapshot.unionByName(delta)
        .groupBy("month", "o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
    )


@register(
    "ab_bootstrap_ci",
    oracle="""
    WITH u AS (
        SELECT user_id,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
        GROUP BY user_id
    ), a AS (
        SELECT user_id, cents,
               CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
                        || '#ab'), 1, 15)) AS UBIGINT) AS BIGINT) % 2
                   AS variant
        FROM u
    ), w AS (
        SELECT variant, b, cents,
               CASE WHEN m8 < 3 THEN 0 WHEN m8 < 6 THEN 1
                    WHEN m8 < 7 THEN 2 ELSE 3 END AS wt
        FROM (
            SELECT a.variant, b.b, a.cents,
                   CAST(CAST(('0x' || substr(md5(CAST(a.user_id AS VARCHAR)
                            || '#bs' || CAST(b.b AS VARCHAR)), 1, 15))
                        AS UBIGINT) AS BIGINT) % 8 AS m8
            FROM a CROSS JOIN (SELECT UNNEST(range(1, 101)) AS b) b
        )
    ), means AS (
        SELECT variant, b,
               CAST(SUM(wt * cents) AS DOUBLE)
                   / CAST(SUM(wt) AS DOUBLE) AS m
        FROM w GROUP BY variant, b
        HAVING SUM(wt) > 0
    ), ranked AS (
        SELECT variant, m,
               ROW_NUMBER() OVER (PARTITION BY variant ORDER BY m, b) AS r,
               COUNT(*) OVER (PARTITION BY variant) AS nb
        FROM means
    )
    SELECT variant,
           CAST(MAX(nb) AS BIGINT) AS n_resamples,
           MAX(CASE WHEN r = CAST(ceil(0.025 * nb) AS BIGINT) THEN m END)
               AS ci_lo,
           MAX(CASE WHEN r = CAST(ceil(0.975 * nb) AS BIGINT) THEN m END)
               AS ci_hi
    FROM ranked GROUP BY variant
    """,
)
def ab_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-weighted BOOTSTRAP confidence interval for mean revenue per
    arm — the distribution-free uncertainty readout next to the z/CUPED/
    rank/SPRT faces (for heavy-tailed revenue the normal-theory interval
    lies; the bootstrap doesn't): 100 deterministic resamples, each
    reweighting every user by an md5(user, b) mod-8 ladder
    {0,0,0,1,1,1,2,3} — integer weights with mean 1 AND variance 1,
    the second-moment condition the generalized (Rao-Wu/Poisson-style)
    reweighting bootstrap needs for first-order-correct intervals (the
    round-10 mod-3 uniform had Var[w]=2/3, shrinking every CI by
    √(2/3)≈0.82 — a "95%" interval that covered ~90%); no RNG, the
    hash IS the resample. Each
    resample's weighted mean an exact-integer ratio, nearest-rank 2.5%/
    97.5% quantiles over the 100 means. EMBARRASSINGLY PARALLEL at any
    scale: one per-user aggregate, a 100-way explode of the users-sized
    frame (never the event table), and B×2 keyed partial-combined means —
    the reason hash-weight bootstraps are the production standard at
    fleet scale. Deterministic ties: means rank with the resample index
    as tiebreaker."""
    from polars_numba_spark.operators.dedup import md5_long

    e = _t(spark, sf_dir, "events")
    u = (
        e.where(
            (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    a = u.select(
        "user_id",
        "cents",
        F.pmod(
            md5_long(F.concat(F.col("user_id").cast("string"), F.lit("#ab"))),
            F.lit(2),
        ).alias("variant"),
    )
    w = a.select(
        "variant",
        "cents",
        F.explode(F.sequence(F.lit(1), F.lit(100))).alias("b"),
        "user_id",
    ).select(
        "variant",
        "b",
        "cents",
        F.pmod(
            md5_long(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit("#bs"),
                    F.col("b").cast("string"),
                )
            ),
            F.lit(8),
        ).alias("m8"),
    ).select(
        "variant",
        "b",
        "cents",
        F.when(F.col("m8") < 3, F.lit(0))
        .when(F.col("m8") < 6, F.lit(1))
        .when(F.col("m8") < 7, F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
        .alias("wt"),
    )
    means = (
        w.groupBy("variant", "b")
        .agg(
            F.sum(F.col("wt") * F.col("cents")).alias("swx"),
            F.sum("wt").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select(
            "variant",
            "b",
            (F.col("swx").cast("double") / F.col("sw").cast("double")).alias(
                "m"
            ),
        )
    )
    wr = Window.partitionBy("variant").orderBy("m", "b")
    wn = Window.partitionBy("variant")
    ranked = means.select(
        "variant",
        "m",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wn).alias("nb"),
    )
    lo_r = F.ceil(F.lit(0.025) * F.col("nb")).cast("long")
    hi_r = F.ceil(F.lit(0.975) * F.col("nb")).cast("long")
    return ranked.groupBy("variant").agg(
        F.max("nb").cast("long").alias("n_resamples"),
        F.max(F.when(F.col("r") == lo_r, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("r") == hi_r, F.col("m"))).alias("ci_hi"),
    )


@register(
    "events_runs_test",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), moves AS (
        SELECT event_type, day,
               CASE WHEN cents > LAG(cents) OVER w THEN 1
                    WHEN cents < LAG(cents) OVER w THEN -1 END AS s
        FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), signs AS (
        SELECT event_type, day, s,
               LAG(s) OVER (PARTITION BY event_type ORDER BY day) AS prev_s
        FROM moves WHERE s IS NOT NULL
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(CASE WHEN s = 1 THEN 1 END) AS BIGINT) AS n_up,
               CAST(COUNT(CASE WHEN s = -1 THEN 1 END) AS BIGINT) AS n_down,
               CAST(1 + COUNT(CASE WHEN prev_s IS NOT NULL
                              AND s <> prev_s THEN 1 END) AS BIGINT) AS runs
        FROM signs GROUP BY event_type
    ), terms AS (
        SELECT event_type, n_up, n_down, runs,
               CAST(n_up AS DOUBLE) AS a, CAST(n_down AS DOUBLE) AS b
        FROM agg
    )
    SELECT event_type, n_up, n_down, runs,
           CASE WHEN a + b > 1.0 AND a * b > 0.0
                AND 2.0 * a * b > a + b THEN
               (CAST(runs AS DOUBLE) - (2.0 * a * b / (a + b) + 1.0))
               / SQRT((2.0 * a * b / (a + b))
                      * (2.0 * a * b / (a + b) - 1.0) / (a + b - 1.0))
           END AS z_score
    FROM terms
    """,
)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz RUNS TEST on the day-over-day direction of each
    event type's daily value total — the randomness audit beside
    ACF/CUSUM/OLS: too FEW runs means trending/sticky days, too MANY
    means oscillation; |z| > 2 says the up/down sequence is not
    exchangeable and a monitor assuming i.i.d. days will misfire. Daily
    totals are exact cents; moves are sign(Δ) with flat days dropped;
    the run count and the up/down counts are exact BIGINTs off two
    type-keyed lag windows over the bounded (types × days) table; the z
    against μ = 2ab/(a+b)+1, σ² = (μ−1)(μ−2)/(a+b−1) is one mirrored
    double expression, guarded to NULL when σ² would be ≤ 0 (2ab ≤ a+b).
    At 100 TB the daily rollup is the only data-sized shuffle."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    w = W.partitionBy("event_type").orderBy("day")
    moves = daily.select(
        "event_type",
        "day",
        F.when(F.col("cents") > F.lag("cents").over(w), F.lit(1))
        .when(F.col("cents") < F.lag("cents").over(w), F.lit(-1))
        .alias("s"),
    ).where(F.col("s").isNotNull())
    signs = moves.select(
        "event_type", "s", F.lag("s").over(w).alias("prev_s")
    )
    agg = signs.groupBy("event_type").agg(
        F.count(F.when(F.col("s") == 1, 1)).alias("n_up"),
        F.count(F.when(F.col("s") == -1, 1)).alias("n_down"),
        (
            F.lit(1)
            + F.count(
                F.when(
                    F.col("prev_s").isNotNull()
                    & (F.col("s") != F.col("prev_s")),
                    1,
                )
            )
        ).cast("long").alias("runs"),
    )
    a = F.col("n_up").cast("double")
    b = F.col("n_down").cast("double")
    mu_part = F.lit(2.0) * a * b / (a + b)
    z = (F.col("runs").cast("double") - (mu_part + F.lit(1.0))) / F.sqrt(
        mu_part * (mu_part - F.lit(1.0)) / (a + b - F.lit(1.0))
    )
    return agg.select(
        "event_type",
        "n_up",
        "n_down",
        "runs",
        F.when(
            (a + b > 1.0) & (a * b > 0.0) & (F.lit(2.0) * a * b > a + b), z
        ).alias("z_score"),
    )


@register(
    "signup_cohort_ltv",
    oracle="""
    WITH purchases AS (
        SELECT user_id,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   // 7 AS BIGINT) AS wk,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ), firsts AS (
        SELECT user_id, MIN(wk) AS cohort_wk FROM purchases GROUP BY user_id
    ), cohort_sizes AS (
        SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM firsts GROUP BY cohort_wk
    ), cells AS (
        SELECT f.cohort_wk, p.wk - f.cohort_wk AS weeks_since,
               CAST(SUM(p.cents) AS BIGINT) AS cents
        FROM purchases p JOIN firsts f ON f.user_id = p.user_id
        GROUP BY f.cohort_wk, p.wk - f.cohort_wk
    ), cum AS (
        SELECT cohort_wk, weeks_since,
               CAST(SUM(cents) OVER (PARTITION BY cohort_wk
                   ORDER BY weeks_since
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        FROM cells
    )
    SELECT c.cohort_wk, c.weeks_since, c.cum_cents, s.n_users,
           CAST(c.cum_cents AS DOUBLE) / CAST(s.n_users AS DOUBLE)
               AS ltv_cents_per_user
    FROM cum c JOIN cohort_sizes s ON s.cohort_wk = c.cohort_wk
    """,
)
def signup_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LIFETIME-VALUE curves — the monetary sibling of the
    retention triangle (retention asks "did they come back", LTV asks
    "what are they worth by week w"): users cohorted by first-purchase
    WEEK (exact days-since-epoch div 7 integer arithmetic — no
    date-diff float ambiguity), per-(cohort, weeks-since) revenue cells
    in exact BIGINT cents, cumulated along each cohort's row of the
    bounded (weeks × weeks) triangle, divided by cohort size for the
    per-user curve. Two user-keyed shuffles (the purchase rollup and the
    first-purchase join); the window runs on the triangle, never on
    events. The payback-period readout every acquisition decision
    needs."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    purchases = e.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
            " div 7"
        ).alias("wk"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    firsts = purchases.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = firsts.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    cells = (
        purchases.join(firsts, "user_id")
        .groupBy(
            "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("weeks_since")
        )
        .agg(F.sum("cents").alias("cents"))
    )
    w = (
        W.partitionBy("cohort_wk")
        .orderBy("weeks_since")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = cells.select(
        "cohort_wk",
        "weeks_since",
        F.sum("cents").over(w).cast("long").alias("cum_cents"),
    )
    return cum.join(F.broadcast(sizes), "cohort_wk").select(
        "cohort_wk",
        "weeks_since",
        "cum_cents",
        "n_users",
        (
            F.col("cum_cents").cast("double") / F.col("n_users").cast("double")
        ).alias("ltv_cents_per_user"),
    )


@register(
    "part_price_index",
    oracle="""
    WITH li AS (
        SELECT l_partkey AS pk,
               CAST(date_diff('day', DATE '1970-01-01',
                    CAST(l_shipdate AS DATE)) // 7 AS BIGINT) AS wk,
               l_quantity AS qty, l_extendedprice AS ext
        FROM lineitem
    ), pw AS (
        SELECT pk, wk,
               CAST(SUM(CAST(ext AS DECIMAL(18,6))) AS DOUBLE)
                   / CAST(SUM(CAST(qty AS DECIMAL(18,6))) AS DOUBLE) AS price,
               CAST(SUM(CAST(qty AS DECIMAL(18,6))) AS DOUBLE) AS q
        FROM li GROUP BY pk, wk
    ), base AS (
        SELECT MIN(wk) AS wk0 FROM li
    ), base_pw AS (
        SELECT pk, price AS p0, q AS q0 FROM pw, base WHERE pw.wk = base.wk0
    ), terms AS (
        SELECT pw.wk,
               CAST(ROUND(b.q0 * pw.price, 9) AS DECIMAL(28,9)) AS num,
               CAST(ROUND(b.q0 * b.p0, 9) AS DECIMAL(28,9)) AS den
        FROM pw JOIN base_pw b ON b.pk = pw.pk
    )
    SELECT wk,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(CAST(SUM(num) AS DECIMAL(38,9)) AS DOUBLE)
               / CAST(CAST(SUM(den) AS DECIMAL(38,9)) AS DOUBLE)
               AS laspeyres_index
    FROM terms GROUP BY wk
    """,
)
def part_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres PRICE INDEX per ship-week — the inflation-tracking shape
    every commerce warehouse computes (index_w = Σ q₀·p_w / Σ q₀·p₀ over
    the base-week basket): per-(part, week) unit prices as decimal-exact
    ratio-of-sums, base-week quantities as the fixed weights, matched
    sample (parts absent from a week drop from that week's basket — the
    standard matched Laspeyres; n_parts reports the basket size so a
    thinning basket is visible). Each q₀·p term is one mirrored double
    product rounded to 9 decimals into DECIMAL(28,9); the base week is a
    broadcast 1-row MIN. One keyed (part, week) aggregate is the only
    data-sized shuffle; the index runs on the parts×weeks frame."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.expr(
            "CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')"
            " AS BIGINT) div 7"
        ).alias("wk"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("ext"),
    )
    from polars_numba_spark.plans.checkpoint import checkpoint

    # pw feeds the base-week basket AND the terms join; materialize the
    # (part, week) aggregate once (parts x weeks rows — tiny) instead of
    # replaying the lineitem scan+agg per consumer. The base-week MIN then
    # reads pw too (identical value — groupBy never drops a wk), removing
    # a third full lineitem scan.
    pw = checkpoint(
        li.groupBy("pk", "wk").agg(
            (
                F.expr("CAST(SUM(CAST(ext AS DECIMAL(18,6))) AS DOUBLE)")
                / F.expr("CAST(SUM(CAST(qty AS DECIMAL(18,6))) AS DOUBLE)")
            ).alias("price"),
            F.expr("CAST(SUM(CAST(qty AS DECIMAL(18,6))) AS DOUBLE)").alias("q"),
        )
    )
    base = pw.agg(F.min("wk").alias("wk0"))
    base_pw = (
        pw.crossJoin(F.broadcast(base))
        .where(F.col("wk") == F.col("wk0"))
        .select(
            F.col("pk").alias("b_pk"),
            F.col("price").alias("p0"),
            F.col("q").alias("q0"),
        )
    )
    terms = pw.join(base_pw, pw.pk == F.col("b_pk")).select(
        "wk",
        F.round(F.col("q0") * F.col("price"), 9)
        .cast("decimal(28,9)")
        .alias("num"),
        F.round(F.col("q0") * F.col("p0"), 9)
        .cast("decimal(28,9)")
        .alias("den"),
    )
    return terms.groupBy("wk").agg(
        F.count(F.lit(1)).alias("n_parts"),
        (
            F.sum("num").cast("decimal(38,9)").cast("double")
            / F.sum("den").cast("decimal(38,9)").cast("double")
        ).alias("laspeyres_index"),
    )
