"""Time-series operators over the events table (engine extensions,
SURVEY.md §2.12).

The reference is a telemetry engine; gap-filling a regularized series
and flagging rolling-window anomalies are the two time-series shapes
its users ask for beyond plain windowed aggregation.  Both are
compositions of built-in DataFrame ops — pre-aggregate first, then
window over the (small) regularized series — so the heavy input scan
stays a map-side partial aggregation and the window state is bounded
by the time range, not the row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powertrainstreaming_spark.functions.exprs import money_avg
from powertrainstreaming_spark.plans.registry import query
from powertrainstreaming_spark.sources.loaders import load


@query(
    "ts_gapfill_locf",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                   AS avg_value
        FROM events GROUP BY 1, 2
    ),
    spans AS (
        SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
        FROM hourly GROUP BY 1
    ),
    grid AS (
        SELECT s.event_type, g.bucket
        FROM spans s,
             LATERAL (SELECT unnest(generate_series(s.lo, s.hi,
                                                    INTERVAL 1 HOUR))
                      AS bucket) g
    )
    SELECT g.event_type, g.bucket,
           COALESCE(h.n_events, CAST(0 AS BIGINT)) AS n_events,
           last_value(h.avg_value IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.bucket) AS filled_value,
           h.n_events IS NULL AS is_gap
    FROM grid g LEFT JOIN hourly h USING (event_type, bucket)
    """,
    tier="P2",
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize each event_type's series to an hourly grid and fill
    gaps by last-observation-carried-forward (LOCF) of the hourly mean.

    Plan shape: partial/final hash agg to hourly buckets (the only
    pass over the raw events), a per-type min/max to bound the grid,
    ``sequence``+``explode`` to synthesize the grid rows, a left join
    back to the buckets, and one ordered window for the carry-forward.
    The grid is |types| x |hours| rows — tiny relative to the input at
    any scale, so the join and window cost nothing.  At 100 TB the
    LOCF window's partition key would be (event_type, day-chunk) with
    a per-chunk seed row to keep partitions bounded; the hourly
    pre-aggregation is unchanged.

    Mean is the exact decimal sum divided by the bigint count
    (exprs.py rule 3), carried forward UNROUNDED — both engines then
    window over bit-identical doubles.
    """
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "value",
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_avg("value").alias("avg_value"),
        )
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    filled = grid.join(hourly, ["event_type", "bucket"], "left")
    w = Window.partitionBy("event_type").orderBy("bucket")
    return filled.select(
        "event_type",
        "bucket",
        F.coalesce("n_events", F.lit(0).cast("bigint")).alias("n_events"),
        F.last("avg_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("n_events").isNull().alias("is_gap"),
    )


@query(
    "ts_anomaly_zscore",
    oracle="""
    SELECT event_id, event_type, ts, value,
           CASE WHEN n >= 30 AND s2 / n - (s / n) * (s / n) > 0
                THEN (value - s / n) / sqrt(s2 / n - (s / n) * (s / n))
           END AS zscore,
           COALESCE(
               CASE WHEN n >= 30 AND s2 / n - (s / n) * (s / n) > 0
                    THEN abs((value - s / n)
                             / sqrt(s2 / n - (s / n) * (s / n))) > 3.0
               END, FALSE) AS is_anomaly
    FROM (
        SELECT event_id, event_type, ts, value,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s,
               CAST(SUM(CAST(value * value AS DECIMAL(18,6))) OVER w
                    AS DOUBLE) AS s2
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
    )
    """,
    tier="P2",
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags: each event against the mean/std
    of the trailing 100-row frame within its event_type, flagged when
    |z| > 3 (null z until 30 observations or under zero variance).

    Mean and variance come from exact DECIMAL frame sums of value and
    value^2 (one window pass computes count/sum/sumsq together), so
    both engines derive z from bit-identical doubles — sqrt is IEEE
    correctly-rounded and therefore cross-engine exact, no rounding
    needed (exprs.py rule 2).  ``GREATEST``-style clamping is replaced
    by the ``var > 0`` predicate, identical in both dialects.

    Scale note: partitionBy(event_type) has only |types| partitions —
    the demonstration shape.  At 100 TB the partition key becomes
    (event_type, user_id) or (event_type, day) so frames parallelize;
    the frame arithmetic is identical either way.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w).cast("bigint")
    s = F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
    s2 = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(18,6)"))
        .over(w)
        .cast("double")
    )
    base = ev.select("event_id", "event_type", "ts", "value",
                     n.alias("n"), s.alias("s"), s2.alias("s2"))
    mean = F.col("s") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = F.when(
        (F.col("n") >= 30) & (var > 0),
        (F.col("value") - mean) / F.sqrt(var),
    )
    return base.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        z.alias("zscore"),
        F.coalesce(F.abs(z) > 3.0, F.lit(False)).alias("is_anomaly"),
    )


@query(
    "ts_corr_channels",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    paired AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.n AS x, b.n AS y
        FROM hourly a
        JOIN hourly b ON a.bucket = b.bucket AND a.event_type < b.event_type
    ),
    sums AS (
        SELECT type_a, type_b,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM paired GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_hours,
           round((n_hours * sxy - sx * sy) /
                 sqrt((n_hours * sxx - sx * sx) * (n_hours * syy - sy * sy)),
                 6) AS corr
    FROM sums
    """,
    tier="P2",
)
def ts_corr_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-channel correlation matrix: Pearson correlation of hourly
    event-rate series between every event-type pair (the telemetry
    question behind the reference — does channel A move with channel B?).

    Built for cross-engine exactness: the per-pair moments (Σx, Σy,
    Σxy, Σx², Σy², n) are EXACT BIGINT sums of counts, so the closed-
    form correlation is evaluated over bit-identical operands in both
    engines and needs only the final round — never corr()/stddev
    builtins, whose accumulation orders differ per engine.  Hours are
    paired by inner join: the correlation is over hours where both
    channels observed traffic.

    Scale: raw events collapse to (type, hour) partials map-side; the
    pair join and moment aggregation run over the REGULARIZED series
    (|types| × |hours| rows), so cost is bounded by the time range —
    at 100 TB the input scan dominates and everything after is noise.
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = hourly.select(
        F.col("event_type").alias("type_a"), "bucket", F.col("n").alias("x")
    )
    b = hourly.select(
        F.col("event_type").alias("type_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("n").alias("y"),
    )
    paired = a.join(
        b,
        (a.bucket == b.bucket_b) & (F.col("type_a") < F.col("type_b")),
    )
    sums = paired.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n_hours")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        "type_a", "type_b", "n_hours", F.round(corr, 6).alias("corr")
    )


@query(
    "ts_downsample_ohlc",
    oracle="""
    WITH ranked AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket, value,
               row_number() OVER w_asc AS rn_a,
               row_number() OVER w_desc AS rn_d
        FROM events
        WINDOW w_asc AS (PARTITION BY event_type, date_trunc('hour', ts)
                         ORDER BY ts, event_id),
               w_desc AS (PARTITION BY event_type, date_trunc('hour', ts)
                          ORDER BY ts DESC, event_id DESC)
    )
    SELECT event_type, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value
    FROM ranked
    GROUP BY event_type, bucket
    """,
    tier="P2",
)
def ts_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (channel, hour) the first, max, min, and
    last reading — the lossy-but-faithful compression every telemetry
    retention policy applies to old data.

    First/last are defined by (ts, event_id) — the unique tiebreak
    keeps the result partition-count-invariant (two readings in the
    same microsecond pick the lower event_id, in both engines).  The
    window and the aggregation share one (event_type, hour) shuffle;
    state per group is one row number, and the aggregation collapses
    each group to a single row — at 100 TB this is the standard
    pre-aggregation that makes year-scale dashboards interactive.
    """
    ev = load(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    w_asc = Window.partitionBy("event_type", bucket).orderBy("ts", "event_id")
    w_desc = Window.partitionBy("event_type", bucket).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "event_type",
        bucket.alias("bucket"),
        "value",
        F.row_number().over(w_asc).alias("rn_a"),
        F.row_number().over(w_desc).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_value"),
    )


_RUN_MIN_LEN = 3


@query(
    "win_gaps_islands",
    oracle=f"""
    WITH r AS (
        SELECT user_id, event_type, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
             - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
        FROM events
    )
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS run_len,
           CAST(MIN(event_id) AS BIGINT) AS first_event,
           CAST(MAX(event_id) AS BIGINT) AS last_event
    FROM r
    GROUP BY user_id, event_type, grp
    HAVING COUNT(*) >= {_RUN_MIN_LEN}
    """,
    tier="P2",
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive same-type events
    per user (the classic tabibito problem — uptime stretches, retry
    storms, repeated-failure bursts in telemetry).

    The two row_numbers differ by a constant within a run, so their
    difference is a stable island key — pure window algebra, no
    iterative loop.  Both windows hash-partition on user_id (the
    second adds event_type), so one shuffle keyed by user dominates;
    per-user state is a sort buffer, bounded by events-per-user, and
    skewed users are AQE's problem, not a correctness hazard.  Ordering
    ties on ts are broken by event_id in BOTH engines (determinism
    contract §5.3 rule 3).
    """
    ev = load(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = ev.withColumn(
        "grp", F.row_number().over(w_user) - F.row_number().over(w_type)
    )
    return (
        runs.groupBy("user_id", "event_type", "grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("run_len"),
            F.min("event_id").cast("bigint").alias("first_event"),
            F.max("event_id").cast("bigint").alias("last_event"),
        )
        .filter(F.col("run_len") >= _RUN_MIN_LEN)
        .drop("grp")
    )


@query(
    "ts_resample_interp",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                   AS avg_value
        FROM events GROUP BY 1, 2
    ),
    spans AS (
        SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
        FROM hourly GROUP BY 1
    ),
    grid AS (
        SELECT s.event_type, g.bucket
        FROM spans s,
             LATERAL (SELECT unnest(generate_series(s.lo, s.hi,
                                                    INTERVAL 1 HOUR))
                      AS bucket) g
    ),
    ctx AS (
        SELECT g.event_type, g.bucket,
               h.n_events, h.avg_value,
               last_value(h.avg_value IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN h.avg_value IS NOT NULL
                               THEN g.bucket END IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
               first_value(h.avg_value IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN h.avg_value IS NOT NULL
                                THEN g.bucket END IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
        FROM grid g LEFT JOIN hourly h USING (event_type, bucket)
    )
    SELECT event_type, bucket,
           COALESCE(n_events, CAST(0 AS BIGINT)) AS n_events,
           CASE WHEN n_events IS NOT NULL THEN avg_value
                ELSE pv + (nv - pv)
                     * (CAST(date_diff('second', pb, bucket) AS DOUBLE)
                        / CAST(date_diff('second', pb, nb) AS DOUBLE))
           END AS interp_value,
           n_events IS NULL AS is_gap
    FROM ctx
    """,
    tier="P2",
)
def ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-grid regularization with LINEAR interpolation across gaps
    — the companion to `ts_gapfill_locf` for signals where
    step-holding biases downstream features (rates, gradients).

    Same scan shape as LOCF: one partial/final agg over raw events,
    tiny synthesized grid, one left join, one ordered window pass that
    carries (prev value, prev bucket) forward and (next value, next
    bucket) backward with IGNORE NULLS frames.  Grid endpoints are
    observed buckets per type, so prev/next always exist and the
    interpolation denominator is never 0 (gap rows are strictly
    between two observations).

    Determinism: the hourly mean is the exact decimal sum ÷ bigint
    count; the interpolation fraction is a ratio of exact integer
    second-diffs; prev/next/fraction are then bit-identical doubles in
    both engines, so the blended value stays UNROUNDED per the
    identical-operand rule (exprs.py rule 2).
    """
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "value",
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_avg("value").alias("avg_value"),
        )
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    filled = grid.join(hourly, ["event_type", "bucket"], "left")
    w = Window.partitionBy("event_type").orderBy("bucket")
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    known_bucket = F.when(F.col("avg_value").isNotNull(), F.col("bucket"))
    ctx = filled.select(
        "event_type",
        "bucket",
        "n_events",
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(back).alias("pv"),
        F.last(known_bucket, ignorenulls=True).over(back).alias("pb"),
        F.first("avg_value", ignorenulls=True).over(fwd).alias("nv"),
        F.first(known_bucket, ignorenulls=True).over(fwd).alias("nb"),
    )
    frac = (
        (F.unix_timestamp("bucket") - F.unix_timestamp("pb")).cast("double")
        / (F.unix_timestamp("nb") - F.unix_timestamp("pb")).cast("double")
    )
    return ctx.select(
        "event_type",
        "bucket",
        F.coalesce("n_events", F.lit(0).cast("bigint")).alias("n_events"),
        F.when(F.col("n_events").isNotNull(), F.col("avg_value"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
        .alias("interp_value"),
        F.col("n_events").isNull().alias("is_gap"),
    )


_SLIDE_STEP_US = 900_000_000  # 15-minute hop, in microseconds
_SLIDE_SPAN = 4  # 4 hops = 1-hour trailing window


@query(
    "ts_sliding_distinct",
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts) // {_SLIDE_STEP_US}) * {_SLIDE_STEP_US}
                          + j * {_SLIDE_STEP_US}) AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events, LATERAL (SELECT unnest(range(1, {_SLIDE_SPAN} + 1)) AS j) h
    GROUP BY 1
    """,
    tier="P2",
)
def ts_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users over a sliding 1-hour window hopping every
    15 minutes — the overlap-window cardinality shape (active-user
    curves) that tumbling windows cannot express and HLL only
    approximates.

    Each event lands in exactly 4 trailing windows
    [end - 1h, end), so the plan is a bounded explode (x4, _SLIDE_SPAN)
    followed by one count-distinct agg keyed on window_end — never a
    range join of events against a window table, which at 100 TB would
    be a broadcast-nested-loop over every (event, window) pair.  The
    window-end arithmetic is pure integer microsecond math, identical
    in both engines; half-open [end-1h, end) means a tick exactly on a
    hop boundary belongs to one unambiguous window set.  At scale the
    expansion multiplies shuffle rows by span/hop — the knob a user
    tunes — while state per window stays one hash set per
    count-distinct group, evicted as each window closes.
    """
    ev = load(spark, sf_dir, "events")
    base_us = (
        F.expr(f"unix_micros(ts) div {_SLIDE_STEP_US}") * _SLIDE_STEP_US
    )
    hops = F.explode(F.sequence(F.lit(1), F.lit(_SLIDE_SPAN))).alias("j")
    return (
        ev.select(base_us.alias("base_us"), "user_id", hops)
        .select(
            F.timestamp_micros(
                F.col("base_us") + F.col("j").cast("bigint") * _SLIDE_STEP_US
            ).alias("window_end"),
            "user_id",
        )
        .groupBy("window_end")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_distinct("user_id").cast("bigint").alias("distinct_users"),
        )
    )


@query(
    "ts_linreg_trend",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               date_diff('hour', TIMESTAMP '2024-01-01',
                         date_trunc('hour', ts)) AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx
        FROM hourly GROUP BY 1
    )
    SELECT event_type, n_hours,
           (n_hours * sxy - sx * sy)
               / (n_hours * sxx - sx * sx) AS slope_per_hour,
           (sy - (n_hours * sxy - sx * sy)
                 / (n_hours * sxx - sx * sx) * sx)
               / n_hours AS intercept
    FROM sums
    WHERE n_hours >= 2
    """,
    tier="P2",
)
def ts_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel OLS trend: regress the hourly event rate on the
    hour index — is traffic on this channel growing, and how fast?
    (closed-form slope/intercept; the drift detector telemetry
    dashboards run per metric).

    Same exactness discipline as ts_corr_channels: x (hour index
    since 2024-01-01) and y (hourly count) are exact BIGINTs, the four
    moments are exact bigint sums, and the closed form is evaluated
    over bit-identical doubles in both engines — regr_slope()/avg()
    builtins are never used because their accumulation orders differ.
    The results stay UNROUNDED: identical operands through identical
    IEEE ops are bit-exact, and rounding identical-operand math only
    ADDS boundary-divergence risk (exprs.py rule 2).  Channels with a
    single observed hour are excluded in both dialects — one point
    fits no line, and the degenerate denominator would be an ANSI
    DIVIDE_BY_ZERO on the Spark side vs NULL in DuckDB.  Cost: raw
    events collapse to (type, hour) map-side; the regression runs
    over |types| rows of moments.
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "(unix_micros(date_trunc('hour', ts))"
            " - unix_micros(timestamp'2024-01-01')) div 3600000000"
        ).alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    sums = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n = F.col("n_hours")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return sums.filter(n >= 2).select(
        "event_type",
        "n_hours",
        slope.alias("slope_per_hour"),
        intercept.alias("intercept"),
    )


_EWMA_ALPHA = 0.5  # exactly representable in binary — multiplies are exact scalings


@query(
    "ts_ewma",
    oracle=f"""
    WITH s AS (
        SELECT user_id, list(value ORDER BY ts, event_id) AS vals
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           list_reduce(vals,
                       (acc, x) -> {_EWMA_ALPHA} * x
                                   + {1 - _EWMA_ALPHA} * acc) AS ewma_value,
           vals[-1] AS last_value
    FROM s
    """,
    tier="P2",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values —
    the telemetry smoothing primitive (EWMA state s_i = α·v_i +
    (1-α)·s_(i-1), s_0 = v_0, α = 0.5).

    The recurrence is inherently sequential per key, so it runs as a
    higher-order-function LEFT FOLD over the per-user value sequence:
    one groupBy shuffle collects each user's (ts, event_id, value)
    triples, array_sort orders them, and F.aggregate folds — all
    JVM-side codegen, no Python, no window re-shuffle.  Both engines
    fold the SAME operands in the SAME order with α exactly
    representable in binary, so the result is IEEE-bit-identical and
    the value hash needs no rounding (exprs.py boundary rule: only
    divergent float paths get rounded).

    100 TB: state is one double per key and the fold input is one
    user's history — bounded by per-entity activity, not corpus size
    (the same per-key-sequence contract as sessionization).  For
    unbounded single keys the production form is the streaming
    stateful variant (stream_stateful_running's shape) carrying the
    EWMA scalar as state; the batch fold here is its replay twin.
    """
    ev = load(spark, sf_dir, "events")
    seq = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
    )
    agg = ev.groupBy("user_id").agg(seq.alias("seq"))
    vals = F.transform(F.col("seq"), lambda s: s.getField("value"))
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(_EWMA_ALPHA) * x + F.lit(1 - _EWMA_ALPHA) * acc,
    )
    return agg.select(
        "user_id",
        F.size(vals).cast("bigint").alias("n_events"),
        ewma.alias("ewma_value"),
        F.element_at(vals, -1).alias("last_value"),
    )


@query(
    "ts_seasonal_profile",
    oracle="""
    WITH prof AS (
        SELECT event_type,
               CAST(hour(ts) AS INT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                   AS seasonal_mean
        FROM events GROUP BY 1, 2
    )
    SELECT p.event_type, p.hod, p.n_events, p.seasonal_mean,
           MAX(abs(e.value - p.seasonal_mean)) AS max_abs_residual
    FROM events e
    JOIN prof p ON p.event_type = e.event_type
               AND p.hod = CAST(hour(e.ts) AS INT)
    GROUP BY 1, 2, 3, 4
    """,
    tier="P2",
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive decomposition: per (channel, hour-of-day) mean —
    the daily seasonality profile a naive forecaster predicts with —
    plus the worst residual against that profile (the seasonal-
    adjusted anomaly bound, complementing ts_anomaly_zscore's rolling
    form with a calendar-keyed one).

    Two passes expressed as one plan: a partial+final agg to the
    |channels|x24-row profile, then a profile re-join keyed on
    (event_type, hod) — the profile side is bounded by the categorical
    domain (channels x 24) at ANY corpus size, so Catalyst/AQE
    broadcasts it and the residual pass stays map-only.  The mean
    divides a decimal sum by an exact count; each residual subtracts
    identical doubles on both engines — unrounded per the exprs.py
    boundary rule.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hod"), "value"
    )
    prof = ev.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_avg("value").alias("seasonal_mean"),
    )
    return (
        ev.join(prof, ["event_type", "hod"])
        .groupBy("event_type", "hod", "n_events", "seasonal_mean")
        .agg(
            F.max(F.abs(F.col("value") - F.col("seasonal_mean"))).alias(
                "max_abs_residual"
            )
        )
    )


# ---------------------------------------------------------------------------
# Level-shift changepoint candidates (rolling before/after contrast)

_SHIFT_W = 50  # rows on each side of the candidate point
_SHIFT_K = 3  # candidates reported per channel


@query(
    "ts_level_shift",
    oracle=f"""
    WITH contrast AS (
        SELECT event_type, event_id, ts,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                    PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN {_SHIFT_W} PRECEDING AND 1 PRECEDING
                ) AS DOUBLE) AS sum_before,
               COUNT(*) OVER (
                    PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN {_SHIFT_W} PRECEDING AND 1 PRECEDING
                ) AS n_before,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                    PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN CURRENT ROW AND {_SHIFT_W - 1} FOLLOWING
                ) AS DOUBLE) AS sum_after,
               COUNT(*) OVER (
                    PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN CURRENT ROW AND {_SHIFT_W - 1} FOLLOWING
                ) AS n_after
        FROM events
    ),
    full_frames AS (
        SELECT event_type, event_id, ts,
               sum_before / {_SHIFT_W} AS before_mean,
               sum_after / {_SHIFT_W} AS after_mean,
               sum_after / {_SHIFT_W} - sum_before / {_SHIFT_W} AS shift
        FROM contrast
        WHERE n_before = {_SHIFT_W} AND n_after = {_SHIFT_W}
    )
    SELECT event_type, event_id, ts, before_mean, after_mean, shift
    FROM (SELECT *, row_number() OVER (
                  PARTITION BY event_type
                  ORDER BY abs(shift) DESC, event_id) AS rn
          FROM full_frames)
    WHERE rn <= {_SHIFT_K}
    """,
    tier="P2",
)
def ts_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift changepoint candidates: for every point in each
    channel's (ts, event_id)-ordered series, contrast the mean of the
    50 values before against the 50 values from the point on, and
    report the top 3 largest |shift| per channel — the two-sample
    rolling contrast that finds where a telemetry level MOVED (the
    window-based form of changepoint scanning; the sequential CUSUM
    recursion is deliberately NOT used because its running max is
    order-recursive — inexpressible as a window function in either
    engine — while the contrast form is two plain window sums).

    Determinism: frame sums accumulate in DECIMAL(18,6) (exact, hence
    order-insensitive inside the frame — exprs.py rule 1), means and
    shift are then identical-operand double arithmetic, UNROUNDED;
    only full 50/50 frames qualify, so every operand set is
    identical in both engines; ranking orders by |shift| with
    event_id tiebreak.  Plan: two frame sums + one count over ONE
    window spec (single sort+shuffle per channel), then a top-k
    row_number — at 100 TB each channel's partition sorts once and
    everything else is frame-local state of at most 2·50 rows.

    OPERATING ENVELOPE (the per-channel sort ceiling, documented per
    the round-8 verdict): partitioning by channel caps parallelism at
    |channels| and pushes a whole channel's history through one task's
    sorter — fine for fleets of many channels with bounded per-channel
    history (the diagnostic's normal regime), a ceiling when one
    channel's series alone is huge.  The production mitigation is NOT
    a different algorithm but bounded framing: partition by
    (channel, time-bucket) with each bucket carrying a 2·W-row overlap
    from its predecessor (W = 50 here), so every full 50/50 contrast
    is computable inside one bucket and the sort is per-(channel, day)
    — the same shape segment/time-bucket framing the stream twin uses.
    Unlike corpus_quality_gate's threshold twin, the per-channel ORDER
    itself is intrinsic to the rolling contrast (the operator's answer
    is defined by adjacency), so a sort-free formulation does not
    exist; bounding the sorted unit is the whole fix.  Not registered
    as a twin: the op is a top-3 per-channel diagnostic, not a
    corpus-wide gate (docs/SCALE.md has the matching row).
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    before = w.rowsBetween(-_SHIFT_W, -1)
    after = w.rowsBetween(0, _SHIFT_W - 1)
    dec = F.col("value").cast("decimal(18,6)")
    contrast = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.sum(dec).over(before).cast("double").alias("sum_before"),
        F.count(F.lit(1)).over(before).alias("n_before"),
        F.sum(dec).over(after).cast("double").alias("sum_after"),
        F.count(F.lit(1)).over(after).alias("n_after"),
    ).filter(
        (F.col("n_before") == _SHIFT_W) & (F.col("n_after") == _SHIFT_W)
    )
    shifted = contrast.select(
        "event_type",
        "event_id",
        "ts",
        (F.col("sum_before") / _SHIFT_W).alias("before_mean"),
        (F.col("sum_after") / _SHIFT_W).alias("after_mean"),
        (
            F.col("sum_after") / _SHIFT_W - F.col("sum_before") / _SHIFT_W
        ).alias("shift"),
    )
    rank_w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("shift")).desc(), F.col("event_id")
    )
    return (
        shifted.withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= _SHIFT_K)
        .select(
            "event_type", "event_id", "ts", "before_mean", "after_mean", "shift"
        )
    )


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing (level + trend)

_HOLT_A = 0.5  # level smoothing (exactly representable in binary)
_HOLT_B = 0.5  # trend smoothing


@query(
    "ts_holt_winters",
    oracle=f"""
    WITH RECURSIVE seqd AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS i
        FROM events
    ),
    n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY user_id),
    hw AS (
        SELECT user_id, i, CAST(value AS DOUBLE) AS l,
               CAST(0.0 AS DOUBLE) AS b
        FROM seqd WHERE i = 1
        UNION ALL
        SELECT s.user_id, s.i,
               {_HOLT_A} * s.value + {1 - _HOLT_A} * (hw.l + hw.b),
               {_HOLT_B} * (({_HOLT_A} * s.value
                             + {1 - _HOLT_A} * (hw.l + hw.b)) - hw.l)
                   + {1 - _HOLT_B} * hw.b
        FROM hw JOIN seqd s ON s.user_id = hw.user_id AND s.i = hw.i + 1
    )
    SELECT hw.user_id, n.n_events, hw.l AS level, hw.b AS trend,
           hw.l + hw.b AS forecast_next
    FROM hw JOIN n ON hw.user_id = n.user_id
    WHERE hw.i = n.n_events
    """,
    tier="P2",
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per user: level + trend state
    (l_i = α·x_i + (1−α)(l_(i-1) + b_(i-1)); b_i = β(l_i −
    l_(i-1)) + (1−β)b_(i-1); init l = x_1, b = 0) and the
    one-step-ahead forecast l + b — the telemetry forecasting step up
    from ``ts_ewma`` when the series has drift (EWMA lags a trending
    signal by design; Holt tracks it).

    Same execution contract as the EWMA fold: one groupBy collects
    each user's ordered values, then a JVM higher-order LEFT FOLD over
    a (level, trend) STRUCT accumulator — sequential per key as the
    recurrence demands, state bounded per entity, zero Python.  Both
    engines evaluate the SAME operands in the SAME order with
    α = β = 0.5 exactly representable, so every output is
    IEEE-bit-identical and nothing is rounded (the new level appears
    twice inside the trend update — written out identically on both
    sides, so common-subexpression differences cannot change the
    arithmetic).  The lambda runs once per EVENT ROW grouped per user
    (corpus-linear, same envelope as ts_ewma) — not per pair.

    ORACLE TRAP [MEASURED round 8]: DuckDB 1.0's list_reduce with a
    STRUCT accumulator evaluates the result struct's fields
    sequentially INTO the accumulator — a later field that reads
    acc.l observes the new value just written by the 'l' field
    (probe: fold (acc,x)->(l: acc.l+x.l, b: acc.l*10) over [1,2,3]
    init (0,0) returns b=60, i.e. new_l*10, where a true left fold
    gives 30).  A two-variable recurrence therefore CANNOT be
    oracle'd as a DuckDB struct fold; this oracle replays the
    identical arithmetic as a RECURSIVE CTE stepping (user_id, i) —
    one documented-SQL row per recurrence step, same operand order,
    still bit-identical.
    """
    ev = load(spark, sf_dir, "events")
    seq = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
    )
    agg = ev.groupBy("user_id").agg(seq.alias("seq"))
    vals = F.transform(F.col("seq"), lambda s: s.getField("value"))
    a, b = float(_HOLT_A), float(_HOLT_B)

    def step(acc, x):
        new_l = a * x + (1 - a) * (
            acc.getField("l") + acc.getField("b")
        )
        new_b = (
            b
            * (
                (a * x + (1 - a) * (acc.getField("l") + acc.getField("b")))
                - acc.getField("l")
            )
            + (1 - b) * acc.getField("b")
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    init = F.struct(
        F.element_at(vals, 1).alias("l"), F.lit(0.0).alias("b")
    )
    tail = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))
    st = F.aggregate(tail, init, step)
    return agg.select(
        "user_id",
        F.size(vals).cast("bigint").alias("n_events"),
        st.getField("l").alias("level"),
        st.getField("b").alias("trend"),
        (st.getField("l") + st.getField("b")).alias("forecast_next"),
    )


_MAD_K = 5  # flag |bucket - median| > K * MAD (K=5 ≈ 3.4σ for normal data)


@query(
    "ts_mad_outliers",
    oracle=f"""
    WITH b AS (
        SELECT event_id, event_type, ts, value,
               CAST(floor(value * 100) AS BIGINT) AS bucket
        FROM events
    ),
    hist AS (
        SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM b GROUP BY event_type, bucket
    ),
    cum AS (
        SELECT event_type, bucket,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
                   AS cum,
               SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM hist
    ),
    med AS (
        SELECT event_type,
               MIN(CASE WHEN cum >= (n + 1) // 2 THEN bucket END) AS med
        FROM cum GROUP BY event_type
    ),
    dev_hist AS (
        SELECT h.event_type, abs(h.bucket - m.med) AS dev,
               CAST(SUM(h.cnt) AS BIGINT) AS cnt
        FROM hist h JOIN med m ON h.event_type = m.event_type
        GROUP BY h.event_type, abs(h.bucket - m.med)
    ),
    dev_cum AS (
        SELECT event_type, dev,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
               SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM dev_hist
    ),
    mad AS (
        SELECT event_type,
               MIN(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS mad
        FROM dev_cum GROUP BY event_type
    )
    SELECT b.event_id, b.event_type, b.ts, b.value,
           b.bucket, m.med AS med_bucket, d.mad AS mad_bucket
    FROM b
    JOIN med m ON b.event_type = m.event_type
    JOIN mad d ON b.event_type = d.event_type
    WHERE d.mad > 0 AND abs(b.bucket - m.med) > {_MAD_K} * d.mad
    """,
    tier="P2",
)
def ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-channel outliers via MEDIAN + MAD (median absolute
    deviation) — the distribution-robust complement to
    ``ts_anomaly_zscore`` (mean/std are themselves dragged by the
    outliers they're supposed to flag; median/MAD have a 50% breakdown
    point) — computed WITHOUT any per-channel sort, the third member
    of the round-9 histogram-quantile family.

    Quantization makes it exact at scale: value is floored to integer
    centi-buckets (floor(value·100) — floor of an IEEE multiply of
    identical doubles is bit-identical in both engines; NOT round(),
    whose HALF_UP-vs-binary divergence is the exprs.py boundary trap),
    and from the first (channel, bucket) histogram EVERYTHING else is
    integer arithmetic on histogram-sized data: the channel median is
    the rank-⌈n/2⌉ bucket off cumulative counts; the deviation
    histogram is a re-aggregation OF THE HISTOGRAM (|bucket − med| —
    never a second corpus pass); MAD is the rank-⌈n/2⌉ deviation; and
    the flag ``|bucket − med| > {_MAD_K}·MAD`` is an exact integer
    comparison.  Channels where MAD = 0 (over half the mass in one
    bucket) are excluded — no meaningful scale to flag against.

    Plan: one corpus aggregate to the value-bounded histogram (≤
    range/0.01 rows per channel — a fixed ceiling independent of row
    count), two windows OVER HISTOGRAMS, a |channels|-row broadcast of
    (med, mad), and one map-side corpus filter.  Zero float
    arithmetic after the bucket floor, zero rounding anywhere.
    """
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.floor(F.col("value") * 100).cast("bigint").alias("bucket"),
    )
    hist = b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )

    def _low_median(h: DataFrame, key: str, out: str) -> DataFrame:
        cum = h.withColumn(
            "cum",
            F.sum("cnt").over(Window.partitionBy("event_type").orderBy(key)),
        ).withColumn(
            "n", F.sum("cnt").over(Window.partitionBy("event_type"))
        )
        return cum.groupBy("event_type").agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col(key))
            ).alias(out)
        )

    med = _low_median(hist, "bucket", "med")
    dev_hist = (
        hist.join(F.broadcast(med), "event_type")
        .groupBy(
            "event_type", F.abs(F.col("bucket") - F.col("med")).alias("dev")
        )
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = _low_median(dev_hist, "dev", "mad")
    model = med.join(mad, "event_type").select(
        "event_type",
        F.col("med").alias("med_bucket"),
        F.col("mad").alias("mad_bucket"),
    )
    return (
        b.join(F.broadcast(model), "event_type")
        .filter(
            (F.col("mad_bucket") > 0)
            & (
                F.abs(F.col("bucket") - F.col("med_bucket"))
                > _MAD_K * F.col("mad_bucket")
            )
        )
        .select(
            "event_id",
            "event_type",
            "ts",
            "value",
            "bucket",
            "med_bucket",
            "mad_bucket",
        )
    )
