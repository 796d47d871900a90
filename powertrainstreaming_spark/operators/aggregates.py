"""Aggregation operators (SURVEY.md §2.4) + the tumbling batch twin.

Grouped aggregations are the reference's core per-key/per-window
computation (SURVEY.md §0 envelope: keyed count/avg/min/max over
telemetry channels).  Spark's HashAggregateExec already does
partial (map-side) + final aggregation, so at 100 TB the shuffle
carries one row per (partition, group), not per input row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powertrainstreaming_spark.functions.exprs import (
    money_avg,
    money_sum,
    o_money_avg,
    o_money_sum,
)
from powertrainstreaming_spark.plans.registry import query
from powertrainstreaming_spark.sources.loaders import load

_Q1_CUTOFF = "2001-09-01"


@query(
    "agg_groupby_multi",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {o_money_sum('l_quantity')} AS sum_qty,
           {o_money_sum('l_extendedprice')} AS sum_base_price,
           {o_money_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {o_money_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {o_money_avg('l_quantity')} AS avg_qty,
           {o_money_avg('l_extendedprice')} AS avg_price,
           {o_money_avg('l_discount')} AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
    tier="P0",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q1 shape: multi-aggregate groupBy over lineitem."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit(_Q1_CUTOFF))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum("l_quantity").alias("sum_qty"),
        money_sum("l_extendedprice").alias("sum_base_price"),
        money_sum(disc_price).alias("sum_disc_price"),
        money_sum(charge).alias("sum_charge"),
        money_avg("l_quantity").alias("avg_qty"),
        money_avg("l_extendedprice").alias("avg_price"),
        money_avg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "agg_global",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           {o_money_sum('l_extendedprice')} AS sum_price,
           {o_money_avg('l_quantity')} AS avg_qty,
           MIN(l_shipdate) AS min_shipdate,
           MAX(l_shipdate) AS max_shipdate,
           MIN(l_discount) AS min_disc,
           MAX(l_discount) AS max_disc
    FROM lineitem
    """,
    tier="P0",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregation — partial aggregation makes this a
    single-row shuffle regardless of input size."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        money_sum("l_extendedprice").alias("sum_price"),
        money_avg("l_quantity").alias("avg_qty"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.min("l_discount").alias("min_disc"),
        F.max("l_discount").alias("max_disc"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    """,
    tier="P0",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type (expands to a two-phase
    aggregate in Catalyst; approx_count_distinct is the scale path
    when exactness isn't required — see agg_approx_distinct)."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "distinct_rows",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    tier="P0",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    return customer.select("c_mktsegment", "c_nationkey").distinct()


# The tumbling-window aggregation lives in operators/streaming.py as a
# real streaming query (stream_tumbling_agg) with a batch twin.


@query(
    "agg_filter_clause",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchases,
           {o_money_sum('value')} AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'purchase')
                AS DOUBLE) AS purchase_value,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'error')
                AS DOUBLE) AS error_value
    FROM events
    GROUP BY user_id
    """,
    tier="P1",
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (SQL FILTER clause) — per-user totals
    split by event type in ONE pass over the input.

    Spark expresses FILTER as sum(when(cond, x)): identical semantics
    (rows failing the condition contribute NULL, an all-NULL group sums
    to NULL), still a single partial+final hash aggregate — at 100 TB
    this beats N separate filtered scans N:1 on input bandwidth.
    """
    events = load(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    is_error = F.col("event_type") == "error"
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(is_purchase, 1)).alias("n_purchases"),
        money_sum("value").alias("sum_value"),
        money_sum(F.when(is_purchase, F.col("value"))).alias("purchase_value"),
        money_sum(F.when(is_error, F.col("value"))).alias("error_value"),
    )


_ROLLUP_AGGS_SQL = f"""
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {o_money_sum('o_totalprice')} AS total_price"""


@query(
    "agg_rollup",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,{_ROLLUP_AGGS_SQL}
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tier="P1",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (status, priority): per-pair, per-status subtotal, and
    grand total in one aggregation.  The group columns contain no NULLs
    in the fixtures, so NULL unambiguously marks subtotal rows.

    Catalyst expands rollup into a single Expand + hash aggregate —
    one shuffle carrying (n_grouping_sets × groups) rows, not one job
    per level.
    """
    orders = load(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("total_price"),
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {o_money_sum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tier="P1",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (returnflag, linestatus): all 2² grouping combinations."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        money_sum("l_quantity").alias("sum_qty"),
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,{_ROLLUP_AGGS_SQL}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tier="P1",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() markers — the markers
    (not NULL-sniffing) are the correct way to tell a subtotal row from
    a genuine NULL group at any scale."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("total_price"),
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           array_to_string(list_sort(array_agg(o_orderkey)), ',') AS order_keys
    FROM orders
    WHERE o_totalprice > 350000
    GROUP BY o_custkey
    """,
    tier="P2",
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer sorted list of big-order keys.  collect_list order
    is nondeterministic under parallelism — array_sort makes the value
    canonical (determinism contract §5.3 rule 4).  The list is emitted
    in a canonical comma-joined string rendering: raw ARRAY columns are
    unhashable in the cross-engine compare harness (pandas sort_values
    cannot factorize list cells — observed in the round-2 driver run),
    and the string form pins element order AND rendering in one value."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.array_join(
            F.array_sort(F.collect_list("o_orderkey")).cast("array<string>"), ","
        ).alias("order_keys"),
    )


@query("agg_approx_distinct", oracle=None, tier="P2")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct users per event type (rows-only
    check: the sketch differs from DuckDB's).  This is the 100 TB
    distinct-count path — constant memory per group vs the exact
    two-phase expansion of countDistinct."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "agg_median_percentile",
    oracle="""
    SELECT o_orderstatus,
           median(o_totalprice) AS median_price,
           quantile_cont(o_totalprice, 0.25) AS p25_price,
           quantile_cont(o_totalprice, 0.95) AS p95_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    tier="P2",
)
def agg_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median and continuous percentiles per group.

    Spark's percentile()/median() and DuckDB's quantile_cont()/median()
    share linear-interpolation semantics, and the interpolation
    arithmetic runs over identical operands — bit-exact, no rounding
    (see exprs.py rule 2).  Exact percentiles buffer each group's
    values; at 100 TB switch to percentile_approx (t-digest sketch,
    bounded memory) — the cheap path is agg_approx_distinct's pattern.
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.median("o_totalprice").alias("median_price"),
        F.percentile("o_totalprice", 0.25).alias("p25_price"),
        F.percentile("o_totalprice", 0.95).alias("p95_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_PIVOT_ORACLE = "SELECT o_orderstatus, " + ", ".join(
    f"""CAST(COUNT(*) FILTER (WHERE o_orderpriority = '{p}') AS BIGINT) AS "{p}" """
    for p in _PRIORITIES
) + " FROM orders GROUP BY o_orderstatus"


@query("agg_pivot", oracle=_PIVOT_ORACLE, tier="P1")
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): order counts per status x priority.

    The pivot value list is EXPLICIT — without it Spark runs an extra
    job to collect distinct pivot values to the driver, which at 100 TB
    is a full shuffle just to name columns.  With the list given, the
    plan is a single partial/final hash aggregate over one shuffle,
    identical in shape to any grouped agg.  Cells with no input rows
    are coalesced to 0 to match SQL's COUNT FILTER semantics.
    """
    orders = load(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0).cast("bigint")).alias(p) for p in _PRIORITIES],
    )


@query(
    "agg_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
    """,
    tier="P1",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long): part measures melted to (key, metric,
    value) rows.

    ``DataFrame.unpivot`` is a zero-shuffle generator — each input row
    emits one output row per value column in place, so the plan stays
    a map-only scan at any scale (the UNION-ALL oracle formulation
    would scan the table once per measure instead).  Value columns are
    cast to a common type first; unpivot requires it and the oracle's
    UNION ALL coerces the same way.
    """
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(LEAST(FLOOR(l_extendedprice / 5500.0), 19) AS INT)
               AS price_bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {o_money_sum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY 1
    """,
    tier="P2",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of lineitem prices: 20 bins of width
    5500 from 0, top bin clamped (width_bucket semantics expressed as
    FLOOR so both dialects share one formula).

    Binning is a row-local projection, so the plan is the canonical
    partial/final hash agg on a 20-value key — map-side combine
    collapses everything before the shuffle, which carries at most
    |bins| x |map partitions| rows at any input scale.  FLOOR of a
    double division over identical operands is bit-exact across
    engines (exprs.py rule 2) — no boundary risk at bin edges.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    bin_col = (
        F.least(F.floor(F.col("l_extendedprice") / F.lit(5500.0)), F.lit(19))
        .cast("int")
        .alias("price_bin")
    )
    return (
        lineitem.select(bin_col, "l_extendedprice")
        .groupBy("price_bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("l_extendedprice").alias("sum_price"),
        )
    )


@query("agg_approx_quantile", oracle=None, tier="P2")
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group percentiles via Spark's KLL-style
    quantile sketch (rows-only check: sketch internals differ from
    DuckDB's).  This is the 100 TB quantile path — the sketch merges
    associatively in constant memory per group, so the shuffle carries
    one small sketch per (group, map partition) instead of the full
    value distribution that exact percentile() must sort.  Accuracy is
    rank-error-bounded (1/accuracy); the bound is asserted against the
    exact twin in tests/test_properties.py.
    """
    orders = load(spark, sf_dir, "orders")
    pq = F.percentile_approx(
        "o_totalprice", F.array(F.lit(0.5), F.lit(0.95)), F.lit(1000)
    )
    return orders.groupBy("o_orderstatus").agg(
        pq.getItem(0).alias("approx_median"),
        pq.getItem(1).alias("approx_p95"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Mergeable sketches — the 100 TB re-aggregation pattern

_TOPK_TOKENS_K = 20


@query(
    "agg_approx_topk",
    oracle=f"""
    SELECT token AS item, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, item
    LIMIT {_TOPK_TOKENS_K}
    """,
    tier="P2",
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the MERGEABLE approx_top_k sketch: per-lang
    partial sketches (accumulate) → one combine → estimate, exploded to
    (item, n) rows.

    This is the re-aggregation shape that matters at 100 TB: per-shard/
    per-day sketch states are tiny, persistable, and combinable, so
    "top tokens this month" is a merge of stored states instead of a
    re-scan of raw text.  The sketch tracks 4096 items — far above the
    fixture vocabulary — so counts here are EXACT and the k=20 boundary
    is separated at every fixture SF [MEASURED], which is what lets an
    approximate operator carry a full value-hash SQL oracle.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    states = toks.groupBy("lang").agg(
        F.expr("approx_top_k_accumulate(token, 4096)").alias("state")
    )
    # Seed with one EMPTY sketch (ungrouped agg over a false filter
    # always emits exactly one row): combining with an empty state is
    # identity, and approx_top_k_combine over ZERO rows crashes with a
    # MatchError on its null accumulator — an empty corpus (zero
    # groups) must degrade to an empty result, not a job failure.
    seed = toks.where(F.lit(False)).agg(
        F.expr("approx_top_k_accumulate(token, 4096)").alias("state")
    )
    states = states.select("state").unionByName(seed)
    est = states.agg(
        F.expr(
            f"approx_top_k_estimate(approx_top_k_combine(state), {_TOPK_TOKENS_K})"
        ).alias("top")
    )
    return est.select(F.explode("top").alias("e")).select(
        F.col("e.item").alias("item"), F.col("e.count").cast("bigint").alias("n")
    )


@query("agg_hll_sketch_merge", oracle=None, tier="P2")
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counts: per-event_type Datasketches HLL
    sketches of user_id, estimated per type, PLUS an 'ALL' row whose
    estimate comes from hll_union_agg over the per-type sketches — the
    union re-aggregates the sketches, never the raw rows.

    The scale contract: distinct-count rollups (per hour → per day →
    per month) are sketch unions of stored state, constant memory per
    group, one pass over raw data ever.  Rows-only t2 check (DuckDB's
    HLL is a different sketch); estimate accuracy and merge consistency
    (union-of-parts ≡ direct sketch over the whole) are property-tested
    in tests/test_properties.py.
    """
    ev = load(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    per = sk.select(
        "event_type",
        F.expr("hll_sketch_estimate(sk)").cast("bigint").alias("approx_users"),
    )
    total = sk.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        .cast("bigint")
        .alias("approx_users")
    ).select(F.lit("ALL").alias("event_type"), "approx_users")
    return per.unionByName(total)


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
    FROM events
    GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
    FROM events
    """,
    tier="P2",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT re-aggregatable distinct counting via roaring-style
    bitmaps (bitmap_construct_agg / bitmap_or_agg / bitmap_count).

    The third point on the distinct-count cost curve: countDistinct is
    exact but expands every id through the shuffle; HLL sketches
    (agg_hll_sketch_merge) are mergeable but approximate; bitmaps are
    BOTH exact AND mergeable — per-(group, bucket) bitmaps of 32768 id
    positions each union losslessly across groups, so a 100 TB rollup
    re-aggregates fixed-size bitmap bytes instead of re-scanning ids.
    Buckets partition the id space, so per-bucket cardinalities sum
    exactly; the ALL row is computed by OR-merging the per-type bitmaps
    bucket-by-bucket — never touching the raw events again.
    """
    ev = load(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
    per_type = per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("exact_users")
    )
    merged = (
        per_bucket.groupBy("bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("exact_users"))
        .select(F.lit("ALL").alias("event_type"), "exact_users")
    )
    return per_type.unionByName(merged)


@query(
    "agg_minmax_by",
    oracle="""
    WITH ranked AS (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice DESC,
                                           o_orderkey DESC) AS rn_top,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice ASC,
                                           o_orderkey ASC) AS rn_bot
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(MAX(CASE WHEN rn_top = 1 THEN o_orderkey END)
                AS BIGINT) AS top_order,
           CAST(MAX(CASE WHEN rn_bot = 1 THEN o_orderkey END)
                AS BIGINT) AS bottom_order,
           max(o_totalprice) AS top_price,
           min(o_totalprice) AS bottom_price
    FROM ranked
    GROUP BY o_orderstatus
    """,
    tier="P2",
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX/ARGMIN aggregation (max_by / min_by): which order is the
    most/least expensive per status — the one-pass answer to "give me
    the row that attains the extreme", replacing the window-rank +
    filter detour (the oracle IS that detour, verifying the one-pass
    aggregate against the two-window formulation).

    Determinism trap: max_by ties on the ordering value are
    engine-nondeterministic, so the ordering key is the STRUCT
    (price, orderkey) — lexicographic comparison makes orderkey the
    tiebreak with no arithmetic packing (an integer-packed key like
    cents*K + orderkey silently stops being order-preserving once
    orderkey reaches K, i.e. exactly at scale).  One partial+final
    agg, no window, no shuffle beyond the group keys — the cheapest
    argmax at any scale.
    """
    orders = load(spark, sf_dir, "orders")
    okey = F.struct("o_totalprice", "o_orderkey")
    return orders.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", okey).alias("top_order"),
        F.min_by("o_orderkey", okey).alias("bottom_order"),
        F.max("o_totalprice").alias("top_price"),
        F.min("o_totalprice").alias("bottom_price"),
    )


@query(
    "agg_bool_countif",
    oracle="""
    SELECT user_id,
           CAST(count_if(event_type = 'purchase') AS BIGINT) AS n_purchases,
           bool_or(event_type = 'error') AS any_error,
           bool_and(value IS NOT NULL) AS all_valued,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    """,
    tier="P2",
)
def agg_bool_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates: count_if / any (bool_or) / every (bool_and)
    per user — the predicate-rollup surface (did this user ever error?
    how many purchases?) that turns flag columns into cohort features.

    All three are single-bit accumulators in the partial agg — the
    shuffle carries one bool/int64 per (partition, user), making this
    the cheapest possible per-key profile at 100 TB.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "purchase").cast("bigint").alias(
            "n_purchases"
        ),
        F.bool_or(F.col("event_type") == "error").alias("any_error"),
        F.bool_and(F.col("value").isNotNull()).alias("all_valued"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang, source
    )
    SELECT lang, source AS modal_source, n AS n_docs
    FROM (
        SELECT lang, source, n,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n DESC, source
               ) AS rn
        FROM c
    )
    WHERE rn = 1
    """,
    tier="P2",
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE with a total tiebreak: the most frequent source
    per language (ties broken alphabetically) — the deterministic form
    of the mode() aggregate.

    Neither engine's built-in mode() pins tie behavior (Spark returns
    an arbitrary tied value; DuckDB its first-seen), so the operator
    computes it as count-then-argmax with an explicit (n DESC, source)
    order — the only formulation whose result is reproducible across
    engines, reruns, and partitionings.  Plan: one partial+final hash
    agg to (lang, source) counts — a tiny relation bounded by the
    categorical domain, not the corpus — then max_by over the counts;
    no window over raw rows, so nothing here scales with documents
    beyond the first aggregation.
    """
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    # min_by on (-n, source): highest count first, alphabetically
    # smallest source on ties — a total order, so the result is unique.
    return (
        c.groupBy("lang")
        .agg(
            F.min_by(
                F.struct(F.col("source"), F.col("n")),
                F.struct((-F.col("n")).alias("neg_n"), F.col("source")),
            ).alias("b")
        )
        .select(
            "lang",
            F.col("b.source").alias("modal_source"),
            F.col("b.n").alias("n_docs"),
        )
    )


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
                AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS wavg_discount,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total_weight,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tier="P2",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted average: price-weighted mean discount per return flag —
    the aggregate every revenue-mix report needs and engines don't
    ship as a builtin.

    Determinism: the per-row product l_extendedprice * l_discount is
    computed in DOUBLE from identical operands (bit-identical on both
    engines), then summed in DECIMAL so the accumulation is
    order-insensitive; the final ratio divides two identical doubles —
    unrounded per the exprs.py boundary rule.  Plain partial+final
    hash agg, map-side combined, scale-safe.
    """
    li = load(spark, sf_dir, "lineitem")
    wx = F.col("l_extendedprice") * F.col("l_discount")
    return li.groupBy("l_returnflag").agg(
        (money_sum(wx) / money_sum("l_extendedprice")).alias("wavg_discount"),
        money_sum("l_extendedprice").alias("total_weight"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_building,
           string_agg(c_name, '|' ORDER BY c_name) AS names
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_custkey % 5 = 0
    GROUP BY c_nationkey
    """,
    tier="P2",
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg surface: pipe-joined, ORDER-BY-sorted
    customer names per nation (filtered to a small deterministic
    slice so group payloads stay readable).

    Spark has no ordered string_agg aggregate, so the operator builds
    it from primitives with identical semantics: collect_list →
    array_sort → array_join — the sort makes the concatenation
    order-insensitive to partitioning, which is the only way a
    string aggregate can be deterministic on a parallel engine.  Per-
    group payload is bounded by the group's row count — same per-key
    contract as collect_sorted; at 100 TB cap the slice per group
    (slice(array_sort(...), 1, k)) before joining.
    """
    cust = load(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_custkey") % 5 == 0)
    )
    return cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_building"),
        F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias("names"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005)

_CMS_D = 4  # sketch depth (hash rows)
_CMS_W = 512  # sketch width (cells per row); eps ~ e/512
_CMS_PHI_INV = 1000  # heavy-hitter threshold: est * 1000 >= N  (phi = 0.1%)


def _cms_oracle() -> str:
    from powertrainstreaming_spark.functions.exprs import (
        POLY_B,
        POLY_B2,
        POLY_M,
        POLY_M2,
        o_poly_hash,
    )

    h1 = o_poly_hash("token", base=POLY_B, mod=POLY_M)
    h2 = o_poly_hash("token", base=POLY_B2, mod=POLY_M2)
    return f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    hashed AS (
        SELECT token, {h1} AS h1, {h2} AS h2 FROM tok
    ),
    cells AS (
        SELECT row_idx,
               CAST((h1 + row_idx * h2) % {POLY_M} % {_CMS_W} AS BIGINT)
                   AS col_idx,
               token
        FROM hashed, range({_CMS_D}) AS r(row_idx)
    ),
    cms AS (
        SELECT row_idx, col_idx, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cells GROUP BY row_idx, col_idx
    ),
    exact AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt,
               CAST(MIN(h1) AS BIGINT) AS h1, CAST(MIN(h2) AS BIGINT) AS h2
        FROM hashed GROUP BY token
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    est AS (
        SELECT e.token, e.exact_cnt,
               CAST(MIN(c.cnt) AS BIGINT) AS est_cnt
        FROM exact e
        JOIN cms c
          ON c.row_idx IN (SELECT * FROM range({_CMS_D}))
         AND c.col_idx = (e.h1 + c.row_idx * e.h2) % {POLY_M} % {_CMS_W}
        GROUP BY e.token, e.exact_cnt
    )
    SELECT token, exact_cnt, est_cnt, est_cnt - exact_cnt AS overcount
    FROM est CROSS JOIN n
    WHERE est_cnt * {_CMS_PHI_INV} >= n.n
    """


@query("agg_countmin_heavy", oracle=_cms_oracle(), tier="P2")
def agg_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005):
    build a d=4 × w=512 CMS over the corpus token stream with
    Kirsch–Mitzenmacher double hashing (cell_i = (h1 + i·h2) mod M mod
    w from the engine's two independent poly-hash fingerprints — two
    hash folds per token, not four), then report every token whose
    sketch estimate clears the 0.1% frequency threshold, alongside its
    exact count so the CMS one-sided error (est ≥ exact, always) is
    visible in the output.  The streaming-friendly frequent-items
    primitive: unlike ``agg_approx_topk`` (Spark's native sketch,
    rows-only checkable) this sketch is built from cross-engine-exact
    integer arithmetic, so the ENTIRE sketch — collisions, overcounts
    and all — is replayed bit-for-bit by the DuckDB oracle and the op
    carries a full value-hash check with zero rounding.

    100 TB plan shape — the corpus is touched by exactly ONE codegen
    hash aggregate (token → exact count; partial agg collapses the
    stream map-side, the shuffle carries Heaps-bounded vocabulary
    rows).  The poly-hash folds are higher-order lambdas — INTERPRETED,
    never codegen'd (CLAUDE.md rule) — so they run over the DISTINCT
    vocabulary only, never per occurrence, and the sketch is built
    from the frequency table (cell += exact_cnt): bit-identical to
    per-occurrence updates because cell counts are additive, at
    1/(corpus÷vocab) of the lambda evaluations.  [MEASURED, round 8]
    the per-occurrence formulation probed 40.6× wall for 10× data
    (2.05 s → 83.12 s — two interpreted folds per token occurrence,
    re-executed by both the sketch and the exact branch); this
    vocabulary-side formulation re-probed 1.2× (1.11 s → 1.28 s, rows
    30 → 300) — a 65× cut at the 10× tier from moving the lambda off
    the occurrence stream.  The vocabulary table is localCheckpointed once for
    its three consumers (sketch / probes / N).  The finished sketch
    is ≤ d·w = 2048 rows — broadcast to the probe join (this is WHY
    CMS exists: fixed-size, mergeable across shards/streams).  The
    threshold compare stays in exact integers (est·1000 ≥ N) so no
    float enters the plan.
    """
    from powertrainstreaming_spark.functions.exprs import (
        POLY_B2,
        POLY_M,
        POLY_M2,
        poly_hash,
    )

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
    hashedv = freq.select(
        "token",
        "exact_cnt",
        poly_hash("token").alias("h1"),
        poly_hash("token", base=POLY_B2, mod=POLY_M2).alias("h2"),
    ).localCheckpoint()
    rows = F.array([F.lit(i) for i in range(_CMS_D)])
    col_idx = (
        (F.col("h1") + F.col("row_idx") * F.col("h2")) % POLY_M % _CMS_W
    ).cast("bigint")
    cms = (
        hashedv.select("exact_cnt", F.explode(rows).alias("row_idx"), "h1", "h2")
        .select("row_idx", col_idx.alias("col_idx"), "exact_cnt")
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("exact_cnt").cast("bigint").alias("cnt"))
    )
    n = hashedv.agg(F.sum("exact_cnt").cast("bigint").alias("n"))
    probes = hashedv.select(
        "token", "exact_cnt", F.explode(rows).alias("row_idx"), "h1", "h2"
    ).select("token", "exact_cnt", "row_idx", col_idx.alias("col_idx"))
    est = (
        probes.join(F.broadcast(cms), ["row_idx", "col_idx"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("cnt").cast("bigint").alias("est_cnt"))
    )
    return (
        est.crossJoin(F.broadcast(n))
        .filter(F.col("est_cnt") * _CMS_PHI_INV >= F.col("n"))
        .select(
            "token",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
        )
    )


# Exact rank-based quantiles WITHOUT a sort: (p_num, p_den) exact
# integer fractions (the CLAUDE.md exact-τ rule — float p·n misses the
# target rank at exact multiples).
_QH_QUANTILES = (("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p95", 19, 20))


@query(
    "agg_quantile_histogram",
    oracle=f"""
    WITH hist AS (
        SELECT l_returnflag, l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    cum AS (
        SELECT l_returnflag, v,
               SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
               SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
        FROM hist
    )
    SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n_rows,
           {", ".join(
               f"MIN(CASE WHEN cum >= ({num} * n + {den} - 1) // {den} "
               f"THEN v END) AS {name}"
               for name, num, den in _QH_QUANTILES
           )}
    FROM cum
    GROUP BY l_returnflag
    """,
    tier="P2",
)
def agg_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rank-based per-group quantiles computed from the value
    HISTOGRAM instead of a per-group sort — the scale-safe twin of
    ``agg_median_percentile`` (whose exact percentile() buffers every
    group's values in one task), and the same pattern the round-9
    per-lang gates register: aggregate the corpus to (group, value)
    counts — map-side combine, value-bounded cardinality (l_quantity
    has 50 distinct values, so each group's histogram is ≤ 50 rows no
    matter how many billion lineitems flow in) — then read quantiles
    off the cumulative counts at integer target ranks.

    Semantics: type-1 (lower/discrete) quantile — the smallest value
    whose cumulative count reaches ⌈p·n⌉ — which is exact and
    engine-agnostic where interpolating quantiles (percentile_cont)
    depend on float interpolation arithmetic.  Target ranks are
    integer arithmetic (⌈(a/b)·n⌉ = (a·n + b − 1) div b, the exact-τ
    rule).  Everything emitted is an exact column value or bigint —
    zero float arithmetic, zero rounding.

    At 100 TB: one linear shuffle to the histogram, a window over ≤ 50
    rows per group, a |groups|-row output.  percentile()'s
    sort-and-buffer needs memory per (group, values); this needs
    memory per (group, DISTINCT values) — the difference between a
    quantity column (50 values) and an unsorted terabyte.
    """
    li = load(spark, sf_dir, "lineitem")
    hist = li.groupBy("l_returnflag", F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = Window.partitionBy("l_returnflag").orderBy("v")
    wall = Window.partitionBy("l_returnflag")
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    qcols = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"({num} * n + {den - 1}) div {den}"),
                F.col("v"),
            )
        ).alias(name)
        for name, num, den in _QH_QUANTILES
    ]
    return cum.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n_rows"), *qcols
    )
