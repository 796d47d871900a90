"""Product-analytics operators over the events table (engine
extensions, SURVEY.md §2.12).

The reference is a telemetry app; funnel and cohort-retention are the
two query shapes every telemetry user builds on day one, so they are
first-class here.  Both are pure groupBy/join compositions — shuffles
only on user_id, partial aggregation everywhere, no windows over
unbounded frames and no driver-side state, so the plans hold at 100 TB
(user_id is high-cardinality ⇒ well-spread hash partitions; AQE
handles any residual skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powertrainstreaming_spark.functions.exprs import money_sum
from powertrainstreaming_spark.plans.registry import query
from powertrainstreaming_spark.sources.loaders import load


@query(
    "events_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS click_ts
        FROM events e JOIN s ON e.user_id = s.user_id AND e.ts >= s.signup_ts
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS purchase_ts
        FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.click_ts
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT '1_signup' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s
    UNION ALL
    SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
    UNION ALL
    SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p
    """,
    tier="P2",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel: signup → first click at-or-after the
    signup → first purchase at-or-after that click; one count per
    stage.

    Each stage is a filtered groupBy(user_id) min, joined to the prior
    stage on user_id — the per-user stage tables shrink monotonically,
    every join key is the same, and none of the per-stage tables is
    broadcast (they grow with user count).  Catalyst reuses the
    user_id hash partitioning across the chained joins.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )

    def stage(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return (
        stage(s, "1_signup")
        .unionAll(stage(c, "2_click"))
        .unionAll(stage(p, "3_purchase"))
    )


@query(
    "retention_cohort",
    oracle="""
    WITH first AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS INT)
               AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act a JOIN first f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tier="P2",
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: users bucketed by the week of
    their first event, counted in every later week they were active.

    act is pre-deduplicated to (user, week) so the final count(*) is a
    distinct-user count without a distinct aggregate; both inputs
    shuffle on user_id once and the final groupBy keys are
    low-cardinality (weeks).  Both engines' date_trunc('week') is
    Monday-start, and the offset division is exact (week-truncated
    timestamps differ by whole weeks).
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("act_week")
    ).distinct()
    return (
        act.join(first, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# (name, kind) — kind picks which stat slots apply; numeric stats go
# out as DOUBLE (timestamps via epoch-micros) and string min/max as
# VARCHAR, so no cross-engine float/timestamp *formatting* ever enters
# the hashed output.
_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for name, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"CAST(MIN({name}) AS DOUBLE)", f"CAST(MAX({name}) AS DOUBLE)"
        elif kind == "ts":
            mn = f"CAST(epoch_us(MIN({name})) AS DOUBLE)"
            mx = f"CAST(epoch_us(MAX({name})) AS DOUBLE)"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
        smn = f"MIN({name})" if kind == "str" else "CAST(NULL AS VARCHAR)"
        smx = f"MAX({name})" if kind == "str" else "CAST(NULL AS VARCHAR)"
        parts.append(
            f"SELECT '{name}' AS col_name,\n"
            f"       CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,\n"
            f"       CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct,\n"
            f"       {mn} AS min_num, {mx} AS max_num,\n"
            f"       {smn} AS min_str, {smx} AS max_str\n"
            f"FROM orders"
        )
    return "\nUNION ALL\n".join(parts)


@query("profile_columns", oracle=_profile_oracle(), tier="P2")
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-profiling summary of the orders table: per column
    null count, exact distinct count, and typed min/max (numeric stats
    as DOUBLE — timestamps via epoch-micros — string min/max as
    VARCHAR), emitted long-form, one row per column.

    All stats compute in a single global aggregate (the multi-distinct
    expands map-side; at 100 TB you'd swap COUNT(DISTINCT) for
    approx_count_distinct — see agg_approx_distinct for that sketch),
    then one explode fans the single row out to long form.  Reading
    every profiled column is the point of a profiler, so no pruning is
    expected here.
    """
    orders = load(spark, sf_dir, "orders")

    aggs, fields = [], []
    for name, kind in _PROFILE_COLS:
        col = F.col(name)
        aggs.append(
            F.sum(F.when(col.isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"{name}__nulls")
        )
        aggs.append(F.countDistinct(col).alias(f"{name}__distinct"))
        if kind == "num":
            mn, mx = F.min(col).cast("double"), F.max(col).cast("double")
        elif kind == "ts":
            mn = F.unix_micros(F.min(col)).cast("double")
            mx = F.unix_micros(F.max(col)).cast("double")
        else:
            mn = F.lit(None).cast("double")
            mx = F.lit(None).cast("double")
        smn = F.min(col) if kind == "str" else F.lit(None).cast("string")
        smx = F.max(col) if kind == "str" else F.lit(None).cast("string")
        aggs.append(mn.alias(f"{name}__min_num"))
        aggs.append(mx.alias(f"{name}__max_num"))
        aggs.append(smn.alias(f"{name}__min_str"))
        aggs.append(smx.alias(f"{name}__max_str"))
        fields.append(
            F.struct(
                F.lit(name).alias("col_name"),
                F.col(f"{name}__nulls").alias("n_nulls"),
                F.col(f"{name}__distinct").alias("n_distinct"),
                F.col(f"{name}__min_num").alias("min_num"),
                F.col(f"{name}__max_num").alias("max_num"),
                F.col(f"{name}__min_str").alias("min_str"),
                F.col(f"{name}__max_str").alias("max_str"),
            )
        )
    wide = orders.agg(*aggs)
    return wide.select(F.explode(F.array(*fields)).alias("p")).select("p.*")


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS from_state,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_state
        FROM events
    ),
    counts AS (
        SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE to_state IS NOT NULL
        GROUP BY from_state, to_state
    )
    SELECT from_state, to_state, n,
           CAST(n AS DOUBLE)
           / SUM(n) OVER (PARTITION BY from_state) AS p_transition
    FROM counts
    """,
    tier="P2",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the behavioral model
    behind next-action prediction, anomaly scoring (improbable
    transitions), and funnel-shape discovery.

    One lead() window keyed on user (ties broken by event_id, §5.3
    rule 3) produces the bigrams; the matrix is a |states|² aggregate,
    so the heavy shuffle is the per-user window and the normalization
    runs over the tiny counts table.  The probability is an exact
    bigint ratio — identical operands in both engines, so it stays
    UNROUNDED (exprs.py rule 2).
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).filter(F.col("to_state").isNotNull())
    counts = seq.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w_norm = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_norm)).alias(
            "p_transition"
        ),
    )


_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback


@query(
    "events_attribution_last_touch",
    oracle=f"""
    WITH marked AS (
        SELECT event_id, user_id, ts, event_type, value,
               max(CASE WHEN event_type = 'click'
                        THEN epoch_us(ts) END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS last_click_us
        FROM events
    )
    SELECT event_id AS purchase_event, user_id, ts AS purchase_ts, value,
           make_timestamp(last_click_us) AS attributed_click_ts,
           last_click_us IS NOT NULL
             AND epoch_us(ts) - last_click_us <= {_ATTR_WINDOW_US}
               AS attributed
    FROM marked
    WHERE event_type = 'purchase'
    """,
    tier="P2",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's
    most recent PRECEDING click within a 7-day lookback — the
    conversion-attribution join every growth/ads pipeline runs.

    Expressed as a single ordered window instead of a self-join: the
    running max of click timestamps over ROWS ... 1 PRECEDING gives
    the strictly-previous touch in one pass, so one user-keyed shuffle
    replaces the purchase x click as-of join (and unlike a range
    self-join, cost never multiplies when a user has many clicks).
    Timestamp comparison happens in exact epoch microseconds; ordering
    ties break on event_id in both engines (§5.3 rule 3).  At 100 TB
    the mixed stream windows by (user, month-chunk) with a carried
    last-click seed, same chunking move as the running windows.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click_us = F.max(
        F.when(F.col("event_type") == "click", F.unix_micros(F.col("ts")))
    ).over(w)
    marked = ev.withColumn("last_click_us", last_click_us)
    return marked.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "value",
        F.timestamp_micros(F.col("last_click_us")).alias("attributed_click_ts"),
        (
            F.col("last_click_us").isNotNull()
            & (
                (F.unix_micros(F.col("ts")) - F.col("last_click_us"))
                <= _ATTR_WINDOW_US
            )
        ).alias("attributed"),
    )


_SEQ_PATTERN = "s.*c.*p"  # signup, later a click, later a purchase


@query(
    "events_sequence_pattern",
    oracle=f"""
    WITH j AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS journey
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events, journey,
           regexp_matches(journey, '{_SEQ_PATTERN}') AS matched
    FROM j
    """,
    tier="P2",
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event journeys — the
    MATCH_RECOGNIZE shape expressed as regex-over-encoded-history:
    each user's events collapse (ordered by ts, event_id) into a
    string of event-type initials, and the pattern 's.*c.*p' asks
    "signup, then later a click, then later a purchase" — the same
    semantics as events_funnel's chained joins, in one aggregation
    plus a map-side regex instead of three self-joins.

    The two formulations trade differently at scale: the funnel's
    chained joins re-shuffle per stage but never materialize history;
    the journey string is one user_id shuffle total but carries
    per-user history (bounded by per-entity activity — the same
    per-key contract as sessionization).  Initials are unambiguous
    here ([MEASURED] click/error/purchase/signup/view); production
    corpora map types to single codepoints explicitly.  Both engines
    agg in identical (ts, event_id) order and RE2-class regex
    semantics agree on this pattern, so the full row hash matches.
    """
    ev = load(spark, sf_dir, "events")
    seq = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
    )
    journey = F.array_join(
        F.transform(seq, lambda s: F.substring(s.getField("event_type"), 1, 1)),
        "",
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            journey.alias("journey"),
        )
        .select(
            "user_id",
            "n_events",
            "journey",
            F.col("journey").rlike(_SEQ_PATTERN).alias("matched"),
        )
    )


@query(
    "events_rfm_segmentation",
    oracle="""
    WITH rfm AS (
        SELECT user_id,
               MAX(ts) AS last_seen,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                   AS n_purchases,
               CAST(SUM(CAST(value AS DECIMAL(18,6)))
                    FILTER (WHERE event_type = 'purchase') AS DOUBLE)
                   AS monetary
        FROM events GROUP BY user_id
    )
    SELECT user_id, last_seen, n_purchases, monetary,
           CAST(ntile(5) OVER (ORDER BY last_seen DESC NULLS LAST, user_id)
                AS INT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY n_purchases DESC NULLS LAST, user_id)
                AS INT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary DESC NULLS LAST, user_id)
                AS INT) AS m_score
    FROM rfm
    """,
    tier="P2",
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency (last event), frequency
    (purchase count), monetary (purchase value) per user, each scored
    into quintiles by ntile(5): the classic behavioral-segmentation
    query every telemetry/commerce shop runs.

    Determinism: every ntile ordering ends in user_id, so quintile
    boundaries cannot depend on shuffle order; monetary sums
    accumulate in DECIMAL.  Scale note: ntile needs a TOTAL order —
    one single-partition window over the per-user rollup (rows = user
    count, far smaller than events).  At 100 TB swap exact ntile for
    approx-quantile boundary scoring (percentile thresholds broadcast,
    map-only bucketing — agg_approx_quantile is the building block);
    the exact form here is the oracle-checkable contract.
    """
    ev = load(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    rfm = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count(F.when(is_p, 1)).alias("n_purchases"),
        money_sum(F.when(is_p, F.col("value"))).alias("monetary"),
    )
    def score(col):
        return F.ntile(5).over(
            Window.orderBy(F.col(col).desc_nulls_last(), F.col("user_id"))
        )
    return rfm.select(
        "user_id",
        "last_seen",
        "n_purchases",
        "monetary",
        score("last_seen").alias("r_score"),
        score("n_purchases").alias("f_score"),
        score("monetary").alias("m_score"),
    )


@query(
    "events_ab_test_lift",
    oracle="""
    WITH assign AS (
        SELECT user_id,
               user_id % 2 AS variant,
               MAX(CASE WHEN event_type = 'purchase' AND value > 95 THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT variant,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted,
               CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS conv_rate
        FROM assign GROUP BY variant
    )
    SELECT n_a, conv_a, rate_a, n_b, conv_b, rate_b,
           rate_b - rate_a AS lift,
           CASE WHEN pooled > 0 AND pooled < 1 THEN
               (rate_b - rate_a)
               / sqrt(pooled * (1 - pooled) * (1.0 / n_a + 1.0 / n_b))
           END AS z_stat
    FROM (
        SELECT a.n_users AS n_a, a.n_converted AS conv_a, a.conv_rate AS rate_a,
               b.n_users AS n_b, b.n_converted AS conv_b, b.conv_rate AS rate_b,
               CAST(a.n_converted + b.n_converted AS DOUBLE)
                   / (a.n_users + b.n_users) AS pooled
        FROM (SELECT * FROM arms WHERE variant = 0) a,
             (SELECT * FROM arms WHERE variant = 1) b
    )
    """,
    tier="P2",
)
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: deterministic 50/50 assignment by user
    id parity, per-arm conversion (a purchase over a value threshold),
    lift, and the two-proportion pooled z-statistic — the analysis
    every experimentation platform runs on event logs.  A degenerate
    arm regime (pooled conversion 0 or 1 → zero pooled variance)
    yields z_stat NULL via an explicit guard on both engines, so the
    operator is safe on arbitrary corpora, not just the fixture.

    Hash-keyed assignment (id parity here; a salted poly-hash in
    production) makes arms reproducible with no assignment table to
    join.  The plan collapses events → per-user conversion flags →
    two arm rows; the final single-row join of the two arms is
    driver-free and broadcast-trivial.  The z-stat is computed from
    exact integer counts through the IDENTICAL formula text on both
    engines — same IEEE operations in the same order, so the result
    is bit-exact and needs no rounding (exprs.py boundary rule).
    """
    ev = load(spark, sf_dir, "events")
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 95), 1
            ).otherwise(0)
        ).alias("converted")
    ).select((F.col("user_id") % 2).alias("variant"), "converted")
    arms = assign.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias("conv_rate"),
    )
    a = arms.filter(F.col("variant") == 0).select(
        F.col("n_users").alias("n_a"),
        F.col("n_converted").alias("conv_a"),
        F.col("conv_rate").alias("rate_a"),
    )
    b = arms.filter(F.col("variant") == 1).select(
        F.col("n_users").alias("n_b"),
        F.col("n_converted").alias("conv_b"),
        F.col("conv_rate").alias("rate_b"),
    )
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    lift = F.col("rate_b") - F.col("rate_a")
    # Degenerate-arm guard: if NO user converts (pooled = 0) or EVERY
    # user converts (pooled = 1), the pooled variance is 0 and the
    # z-statistic is undefined — emit NULL explicitly (identical CASE
    # on both engines) instead of relying on either engine's
    # divide-by-zero behavior, which differs (Spark → NULL, DuckDB →
    # ±inf for doubles).  Pinned by test_ab_test_degenerate_arm.
    z = F.when(
        (pooled > 0) & (pooled < 1),
        lift
        / F.sqrt(
            pooled
            * (1 - pooled)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        ),
    )
    return a.crossJoin(b).select(
        "n_a", "conv_a", "rate_a",
        "n_b", "conv_b", "rate_b",
        lift.alias("lift"),
        z.alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Shuffle-key skew diagnostics — the measurement behind every salting
# decision (cf. join_skew_salted, which applies the remedy this
# operator justifies)

_SKEW_TOPN = 20
_SKEW_SALT_RATIO = 2.0  # ratio-to-mean above which a key earns a salt flag


@query(
    "diag_key_skew",
    oracle=f"""
    WITH per_key AS (
        SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM per_key
    ),
    ranked AS (
        SELECT key, cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS INT)
                   AS rank,
               CAST(SUM(cnt) OVER (ORDER BY cnt DESC, key) AS BIGINT)
                   AS cume_cnt
        FROM per_key
    )
    SELECT rank, key, cnt,
           CAST(cnt AS DOUBLE) / total AS share,
           CAST(cnt * n_keys AS DOUBLE) / total AS ratio_to_mean,
           CAST(cume_cnt AS DOUBLE) / total AS cume_share,
           CAST(cnt * n_keys AS DOUBLE) / total > {_SKEW_SALT_RATIO}
               AS needs_salt
    FROM ranked, tot
    WHERE rank <= {_SKEW_TOPN}
    """,
    tier="P2",
)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report for lineitem.l_partkey: the top-20
    heaviest keys with count, corpus share, ratio-to-mean (the skew
    factor), cumulative share, and a needs_salt verdict (> 2x the mean
    key) — the diagnostic a pipeline runs BEFORE choosing between a
    plain shuffle join, AQE skew handling, and explicit salting
    (join_skew_salted implements the remedy; this measures whether it
    is warranted and with what fanout).

    Scale shape: ONE partial/final count aggregate over the fact
    (map-side combine makes the shuffle |distinct keys|-sized, not
    row-sized), a 1-row grand total broadcast back, and a global top-N
    over the per-key table.  The ranking window is over distinct KEYS,
    not rows — for a genuinely 100 TB fact the per-key table is still
    shuffle-sized, so the same plan would swap the row_number for
    topk_global's partial-top-N shape; at any scale the output is a
    fixed {_SKEW_TOPN} rows.  All ratios are identical-operand
    divisions of exact int64 counts — unrounded (both engines divide
    the same two integers).  Ties broken by key for a deterministic
    ranking; the boolean verdict compares identically-computed doubles
    to the same literal.
    """
    li = load(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = per_key.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("key"))
    ranked = (
        per_key.withColumn("rank", F.row_number().over(w).cast("int"))
        .withColumn(
            "cume_cnt",
            F.sum("cnt").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("bigint"),
        )
        .filter(F.col("rank") <= _SKEW_TOPN)
    )
    # exact int64 product cast ONCE, mirroring the oracle's cast order
    # (the product stays < 2^53 so the double is exact either way)
    ratio = (F.col("cnt") * F.col("n_keys")).cast("double") / F.col("total")
    return ranked.join(F.broadcast(totals)).select(
        "rank",
        "key",
        "cnt",
        (F.col("cnt").cast("double") / F.col("total")).alias("share"),
        ratio.alias("ratio_to_mean"),
        (F.col("cume_cnt").cast("double") / F.col("total")).alias(
            "cume_share"
        ),
        (ratio > F.lit(_SKEW_SALT_RATIO)).alias("needs_salt"),
    )
