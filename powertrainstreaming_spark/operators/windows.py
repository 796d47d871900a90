"""Window-function operators (SURVEY.md §2.5, §2.6).

Every Window.orderBy carries a unique-key tiebreak so ranked output is
a total order (determinism contract §5.3 rule 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powertrainstreaming_spark.functions.exprs import money_frame_sum
from powertrainstreaming_spark.plans.registry import query
from powertrainstreaming_spark.sources.loaders import load


@query(
    "win_row_number_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS INT) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
    tier="P0",
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice (rank tiebroken by key).

    100 TB note: partitionBy(o_custkey) shuffles once on the group key;
    no global sort.  Skewed customers are handled by AQE skew splitting.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts,
           lag(ts)  OVER w AS prev_ts,
           lead(ts) OVER w AS next_ts,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tier="P0",
)
def lag_lead_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap via lag/lead — the reference's
    per-vehicle consecutive-reading delta, keyed-shuffle once on
    user_id.  Gap in integer microseconds: exact across engines."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return events.select(
        "event_id",
        "user_id",
        "ts",
        prev_ts.alias("prev_ts"),
        F.lead("ts").over(w).alias("next_ts"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)).alias("gap_us"),
    )


@query(
    "sort_multi_nulls",
    oracle="""
    SELECT o_orderkey, status_or_null, o_totalprice
    FROM (
        SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_or_null,
               o_totalprice
        FROM orders
    )
    ORDER BY status_or_null DESC NULLS FIRST, o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tier="P0",
)
def sort_multi_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column sort with explicit null placement + limit; the
    ORDER BY ends in the unique key so the limited set is total-ordered
    (determinism contract §5.3 rule 4)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_or_null"),
            "o_totalprice",
        )
        .orderBy(
            F.col("status_or_null").desc_nulls_first(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey"),
        )
        .limit(100)
    )


@query(
    "topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tier="P0",
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders by price.

    orderBy().limit() lowers to TakeOrderedAndProjectExec: per-partition
    heaps + a k-row merge on the driver — no global sort even at 100 TB.
    """
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total
    FROM orders
    """,
    tier="P1",
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer in order-date order (orderkey
    tiebreak).  The frame sum accumulates in DECIMAL so the result is
    independent of how either engine associates the additions."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        money_frame_sum("o_totalprice", w).alias("running_total"),
    )


@query(
    "win_moving_avg",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w, 6) AS moving_avg7
    FROM orders
    WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    tier="P1",
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average of order totals: exact decimal frame sum ÷
    frame count, rounded.

    Scale note: this window is UNPARTITIONED — a deliberate single-sort
    demonstration shape.  At 100 TB you partition by a time bucket (see
    win_running_sum) or pre-aggregate per day first; the frame
    arithmetic is identical either way.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderdate", "o_orderkey").rowsBetween(-6, Window.currentRow)
    frame_sum = money_frame_sum("o_totalprice", w)
    frame_n = F.count(F.lit(1)).over(w)
    return orders.select(
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.round(frame_sum / frame_n, 6).alias("moving_avg7"),
    )


@query(
    "win_rank_dense",
    oracle="""
    SELECT s_nationkey, s_suppkey, s_acctbal,
           CAST(rank() OVER w AS INT) AS bal_rank,
           CAST(dense_rank() OVER w AS INT) AS bal_dense_rank
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC)
    """,
    tier="P1",
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank of suppliers by account balance per nation.
    Ties share a rank (that IS deterministic); no row_number here, so
    no tiebreak column is needed."""
    supplier = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc())
    return supplier.select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
    )


@query(
    "win_first_last_ntile",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_key,
           CAST(ntile(4) OVER w AS INT) AS price_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    tier="P2",
)
def win_first_last_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / ntile per customer.  last_value uses
    an explicit unbounded-following frame — the default frame ends at
    CURRENT ROW, which silently returns the current row instead of the
    partition max (classic window gotcha in both engines)."""
    orders = load(spark, sf_dir, "orders")
    order_spec = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    w = Window.partitionBy("o_custkey").orderBy(*order_spec)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w_full).alias("last_key"),
        F.ntile(4).over(w).alias("price_quartile"),
    )


@query(
    "win_percent_cume",
    oracle="""
    SELECT n_nationkey, c_custkey, c_acctbal,
           percent_rank() OVER w AS bal_pct_rank,
           cume_dist() OVER w AS bal_cume_dist
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WINDOW w AS (PARTITION BY n_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    tier="P2",
)
def win_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist of customers by balance within nation.

    NOT rounded: both engines compute the identical integer→double
    divisions ((rank-1)/(n-1), rank/n), so the raw doubles are
    bit-exact — whereas round() DIVERGES on exact 7-decimal .5
    boundaries (Spark rounds the shortest decimal repr half-up, DuckDB
    rounds the raw binary; 41/640 bit us at sf0.1).  Rounding is for
    values computed by different float paths, not identical ones.
    """
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    w = Window.partitionBy("n_nationkey").orderBy("c_acctbal", "c_custkey")
    return joined.select(
        "n_nationkey",
        "c_custkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("bal_pct_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
    )


@query(
    "win_range_interval",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_30d_total,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_30d_orders
    FROM orders
    """,
    tier="P2",
)
def win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day revenue per customer — a RANGE (value-based)
    frame over event time, the batch form of a sliding time window.

    RANGE frames include ALL peers of the boundary values, so ties in
    o_orderdate need no tiebreak column (unlike ROWS frames) — the
    frame is a deterministic function of the ORDER BY value alone.
    Spark's rangeBetween needs a numeric sort key: seconds since epoch
    with the interval expressed in seconds, which is exactly what the
    oracle's INTERVAL arithmetic does on the timestamp.
    """
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 24 * 3600, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        money_frame_sum("o_totalprice", w).alias("trailing_30d_total"),
        F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
    )


@query(
    "win_running_distinct",
    oracle="""
    WITH f AS (
        SELECT event_type, event_id, ts, user_id,
               ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                  ORDER BY ts, event_id) = 1 AS is_first
        FROM events
    )
    SELECT event_type, event_id,
           CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) OVER (
                PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS running_distinct_users
    FROM f
    """,
    tier="P2",
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered window — a frame no
    engine supports natively (COUNT(DISTINCT) OVER is rejected by both
    Spark and DuckDB), emulated by the standard two-window algebra:
    mark each user's FIRST event per type (row_number = 1 over the
    (type, user) ordering), then running-sum the first-seen flags over
    the plain (type) ordering.  The cumulative-unique-users curve every
    growth dashboard plots.

    Two window passes: the first shuffles on (event_type, user_id),
    the second on event_type.  The second pass's per-partition sort is
    the scale bound — with a handful of types, at 100 TB the partition
    key becomes (event_type, day) with closed-day offsets carried
    forward (same chunking move as ts_gapfill_locf's note), turning an
    unbounded sort into bounded daily ones.  Ordering ties break on
    event_id in both engines (§5.3 rule 3).
    """
    ev = load(spark, sf_dir, "events")
    w_first = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.withColumn(
        "is_first", (F.row_number().over(w_first) == 1).cast("int")
    )
    return flagged.select(
        "event_type",
        "event_id",
        F.sum("is_first").over(w_run).cast("bigint").alias(
            "running_distinct_users"
        ),
    )


@query(
    "win_nth_value",
    oracle="""
    SELECT DISTINCT o_custkey,
           nth_value(o_orderkey, 2) OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_best_order
    FROM orders
    """,
    tier="P2",
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over the full partition frame: each customer's
    SECOND-most-expensive order (NULL for single-order customers) —
    the "runner-up" shape that first/last can't express.

    The full-partition frame forces a real frame evaluation (not the
    running default), ordered with the unique o_orderkey tiebreak; the
    DISTINCT collapse emits one row per customer.  One shuffle on
    o_custkey; per-partition state is the sort buffer, bounded by
    orders-per-customer.
    """
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        F.nth_value("o_orderkey", 2).over(w).alias("second_best_order"),
    ).distinct()


@query(
    "win_ignore_nulls",
    oracle="""
    SELECT event_id, user_id, ts, purchase_value,
           last_value(purchase_value IGNORE NULLS) OVER w AS last_purchase,
           first_value(purchase_value IGNORE NULLS) OVER w AS first_purchase
    FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'purchase' THEN value END
                   AS purchase_value
        FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tier="P2",
)
def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation: per user, carry forward the
    most recent purchase value and pin the first one, over a sparse
    (mostly-NULL) derived column — the gap-tolerant form of
    first/last_value that win_first_last_ntile's NULL-free variant
    cannot exercise.

    Both engines implement SQL-standard IGNORE NULLS (Spark via
    ``last(col, ignorenulls=True)``); the frame is the explicit
    running prefix so first/last are well-defined per row.  One
    user-keyed shuffle, sort within partitions — the LOCF building
    block (ts_gapfill_locf applies it to a regularized grid; this is
    the raw-event form).
    """
    ev = load(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        pv.alias("purchase_value"),
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase"),
        F.first(pv, ignorenulls=True).over(w).alias("first_purchase"),
    )
