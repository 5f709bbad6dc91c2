"""Window/time-series queries (split from queries.py — registration side-effect module)."""
from ortholog_pipeline_spark.queries._shared import (  # noqa: F401
    DD,
    DataFrame,
    F,
    IT,
    RK,
    SparkSession,
    Window,
    _t,
    pd,
    register,
)

@register(
    "w_window_family",
    """
    WITH base AS (
      SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id,
           CAST(ROW_NUMBER()   OVER w AS BIGINT) AS rn,
           CAST(RANK()         OVER w AS BIGINT) AS rnk,
           CAST(NTILE(4)       OVER w AS BIGINT) AS quartile,
           ROUND(value - LAG(value, 1, 0.0)  OVER w, 6)       AS delta_prev,
           ROUND(CUME_DIST()   OVER w, 6)        AS cume,
           ROUND(SUM(value)    OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING), 6) AS running_total
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w_window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window family over one partitioned ordering: rank, ntile,
    lag-delta, cumulative distribution, running total — ONE shuffle for all six
    (same partition key + order, Catalyst collapses them into a single Window)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return base.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.col("value") - F.lag("value", 1, 0.0).over(w), 6).alias("delta_prev"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.sum("value").over(wr), 6).alias("running_total"),
    )


@register(
    "w_peak_concurrency",
    """
    WITH b AS (
      SELECT ts AS t, 1 AS delta, -1 AS dord, event_id FROM events
      UNION ALL
      SELECT ts + INTERVAL 60 SECOND, -1, 1, event_id FROM events
    ),
    r AS (
      SELECT t,
             SUM(delta) OVER (ORDER BY t, dord, event_id
                              ROWS UNBOUNDED PRECEDING) AS c
      FROM b
    )
    SELECT date_trunc('hour', t) AS hour, CAST(MAX(c) AS BIGINT) AS peak
    FROM r GROUP BY 1
    """,
)
def w_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of concurrently-open 60-second event intervals, per hour —
    the classic sweep line: ±1 boundary deltas, running sum, max per bucket.
    The oracle's `SUM() OVER (ORDER BY ...)` is a single-partition window; the
    Spark side instead uses `ranking.global_prefix_sum` (range partition →
    Arrow-batch local cumsum → broadcast prefix-of-totals), so concurrency
    over a 100 TB event log never funnels through one task. Starts sort before
    ends at the same instant (dord), making intervals closed at the left."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    starts = ev.select(
        F.col("ts").alias("t"),
        F.lit(1).alias("delta"),
        F.lit(-1).alias("dord"),
        "event_id",
    )
    ends = ev.select(
        (F.col("ts") + F.expr("INTERVAL 60 SECONDS")).alias("t"),
        F.lit(-1).alias("delta"),
        F.lit(1).alias("dord"),
        "event_id",
    )
    swept = RK.global_prefix_sum(
        starts.unionByName(ends), ["t", "dord", "event_id"], "delta", out_col="c"
    )
    return swept.groupBy(F.date_trunc("hour", "t").alias("hour")).agg(
        F.max("c").cast("long").alias("peak")
    )


@register(
    "w_sliding_range_frame",
    """
    WITH e AS (
      SELECT event_id, user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
             CAST(FLOOR(value * 1000) AS BIGINT) AS millis
      FROM events
    )
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_hour,
           CAST(SUM(millis) OVER w AS BIGINT) AS millis_trailing_hour
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
)
def w_sliding_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour activity (count + integer-millis sum) via a
    RANGE frame over epoch seconds, partitioned by user — the event-time
    sliding aggregate, batch form. Integer millis (floored identically in both
    engines — DuckDB's double→BIGINT cast ROUNDS while Spark's truncates, so
    the FLOOR is explicit) keep the windowed sum order-independent. RANGE mode
    includes order-value peers on both engines, so same-second ties are
    frame-stable without a unique tie-break."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("sec"),
        F.floor(F.col("value") * 1000).cast("long").alias("millis"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_hour"),
        F.sum("millis").over(w).alias("millis_trailing_hour"),
    )


@register(
    "w_ewma_grouped_map",
    """
    WITH e AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase' AND user_id % 8 = 0
    ),
    s AS (
      SELECT user_id, event_id, rn,
             SUM(value * POWER(0.9, -rn)) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS acc
      FROM e
    )
    SELECT user_id, event_id,
           ROUND(0.1 * POWER(0.9, rn) * acc / (1.0 - POWER(0.9, rn)), 4) AS ewma
    FROM s
    """,
)
def w_ewma_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user via ``applyInPandas`` —
    the grouped-map Pandas surface on a genuinely sequential recurrence
    (y_i = a*x_i + (1-a)*y_{i-1}, which no built-in window frame expresses).
    One shuffle on the group key; each group processed as a single Arrow
    batch. The oracle unrolls the recurrence algebraically (factored prefix
    sum with 0.9^-rn weights) — float drift between the recursive and the
    factored form is absorbed by the rounding."""
    ev = _t(spark, sf_dir, "events")
    src = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 8 == 0)
    ).select("user_id", "event_id", "ts", "value")

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        y = pdf["value"].ewm(alpha=0.1, adjust=True).mean()
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ewma": (y).round(4),
            }
        )

    return src.groupBy("user_id").applyInPandas(
        ewma, "user_id long, event_id long, ewma double"
    )


@register(
    "w_cumulative_distinct_users",
    """
    WITH fd AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1),
    nd AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new_users FROM fd GROUP BY 1),
    ad AS (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active FROM events GROUP BY 1)
    SELECT ad.day, COALESCE(nd.n_new_users, 0) AS n_new_users, ad.n_active,
           CAST(SUM(COALESCE(nd.n_new_users, 0)) OVER (ORDER BY ad.day) AS BIGINT) AS n_cum_users
    FROM ad LEFT JOIN nd ON ad.day = nd.day
    """,
)
def w_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the classic "distinct-to-date"
    metric that a naive per-day COUNT(DISTINCT ...) over expanding windows
    makes quadratic. Linear shape: each user collapses to their FIRST day (one
    user-keyed aggregation), daily first-appearance counts are the increments,
    and the running sum executes over the calendar-bounded day frame (≤ one
    row per day regardless of input size — the ORDER-only window is bounded by
    construction, not by data volume)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    fd = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    nd = fd.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    ad = ev.groupBy("day").agg(F.countDistinct("user_id").alias("n_active"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ad.join(nd, "day", "left")
        .withColumn("n_new_users", F.coalesce("n_new_users", F.lit(0)))
        .select(
            "day",
            "n_new_users",
            "n_active",
            F.sum("n_new_users").over(w).alias("n_cum_users"),
        )
    )


@register(
    "w_rate_limit_flags",
    """
    WITH e AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events
    ),
    fl AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                            RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) >= 3 AS flagged
      FROM e
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM fl GROUP BY user_id
    HAVING SUM(CASE WHEN flagged THEN 1 ELSE 0 END) > 0
    """,
)
def w_rate_limit_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rate limiting: an event is flagged when its user has
    ≥ 3 events inside the trailing 60 s — one partitioned RANGE-frame window
    over integer seconds, one user shuffle. Output: per user, total events
    and flagged events (users with any flag)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-59, Window.currentRow)
    )
    fl = ev.select(
        "user_id", (F.count(F.lit(1)).over(w) >= 3).cast("int").alias("flagged")
    )
    return (
        fl.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("flagged").cast("long").alias("n_flagged"),
        )
        .filter(F.col("n_flagged") > 0)
    )


@register(
    "w_time_weighted_avg",
    """
    WITH e AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
             CAST(ROUND(value * 100) AS BIGINT) AS value_cents
      FROM events WHERE event_type = 'view'
    ),
    seg AS (
      SELECT user_id, value_cents, sec,
             LEAD(sec) OVER (PARTITION BY user_id ORDER BY sec, value_cents) AS next_sec
      FROM e
    ),
    agg AS (
      SELECT user_id,
             CAST(SUM(value_cents * (next_sec - sec)) AS BIGINT) AS weighted_cents_secs,
             CAST(SUM(next_sec - sec) AS BIGINT) AS total_secs,
             CAST(COUNT(*) AS BIGINT) AS n_samples
      FROM seg WHERE next_sec IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, n_samples, total_secs,
           ROUND(CAST(weighted_cents_secs AS DOUBLE) / total_secs / 100.0, 6) AS twa_value
    FROM agg WHERE total_secs > 0
    """,
)
def w_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average for an IRREGULARLY sampled series (the correct
    mean for sensor/price/gauge data — arithmetic AVG over-weights bursts):
    each observation holds until the next one, so its weight is the holding
    duration. One LEAD over the (user, time) partition, then exact-integer
    sums (cents × seconds) with the single float division at the end — the
    same no-float-accumulation rule as the rest of the registry. Ties on the
    second are ordered by value for a total, engine-stable LEAD order."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("ts").cast("long").alias("sec"),
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("sec", "value_cents")
    seg = ev.withColumn("next_sec", F.lead("sec").over(w)).filter(
        F.col("next_sec").isNotNull()
    )
    agg = seg.groupBy("user_id").agg(
        F.sum(F.col("value_cents") * (F.col("next_sec") - F.col("sec"))).alias(
            "weighted_cents_secs"
        ),
        F.sum(F.col("next_sec") - F.col("sec")).alias("total_secs"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    return agg.filter(F.col("total_secs") > 0).select(
        "user_id",
        "n_samples",
        "total_secs",
        F.round(
            F.col("weighted_cents_secs").cast("double")
            / F.col("total_secs")
            / F.lit(100.0),
            6,
        ).alias("twa_value"),
    )


@register(
    "w_lag_features",
    """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, cents,
           LAG(cents, 1) OVER w AS lag1_cents,
           LAG(cents, 2) OVER w AS lag2_cents,
           sec - LAG(sec, 1) OVER w AS dt_sec,
           CAST(COALESCE(SUM(cents) OVER (PARTITION BY user_id ORDER BY sec, event_id
                         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS prev3_sum_cents
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    """,
)
def w_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-learning feature generation over an event series: per-user
    lag values, inter-event gap, and a trailing-3 sum that EXCLUDES the
    current row (the leakage-safe frame — `3 PRECEDING AND 1 PRECEDING`; an
    inclusive frame would leak the label row into its own feature). All
    features share one (user, time) partition+order, so Catalyst collapses
    them into a single Window exec — one shuffle. Exact integer cents/seconds
    throughout; ties on the second are broken by event_id for a total order."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("long").alias("sec"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    wf = w.rowsBetween(-3, -1)
    return ev.select(
        "user_id",
        "event_id",
        "cents",
        F.lag("cents", 1).over(w).alias("lag1_cents"),
        F.lag("cents", 2).over(w).alias("lag2_cents"),
        (F.col("sec") - F.lag("sec", 1).over(w)).alias("dt_sec"),
        F.coalesce(F.sum("cents").over(wf), F.lit(0)).cast("long").alias(
            "prev3_sum_cents"
        ),
    )


@register(
    "w_ohlc_bars",
    """
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 21600 AS bar,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000 + event_id AS seq,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_type, CAST(bar AS BIGINT) AS bar,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(arg_min(cents, seq) AS BIGINT) AS open_cents,
           CAST(MAX(cents) AS BIGINT) AS high_cents,
           CAST(MIN(cents) AS BIGINT) AS low_cents,
           CAST(arg_max(cents, seq) AS BIGINT) AS close_cents,
           CAST(SUM(cents) AS BIGINT) AS volume_cents
    FROM e GROUP BY event_type, bar
    """,
)
def w_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bar OHLC downsampling (the market-data/gauge resampling primitive):
    per type per 6-hour bar, open/high/low/close/volume. Open and close are
    min_by/max_by over a UNIQUE integer sequence key (second × 10⁵ + event_id)
    — with a non-unique key the picked row would be engine- and
    partition-order-dependent; with the composite key both engines' arg_min
    agree by construction. Everything is a single map-side-combinable
    aggregation: min_by/max_by partials merge associatively, so one shuffle on
    (type, bar) regardless of input size."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("ts").cast("long") / 21600).cast("long").alias("bar"),
        (F.col("ts").cast("long") * 100000 + F.col("event_id")).alias("seq"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return ev.groupBy("event_type", "bar").agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by("cents", "seq").cast("long").alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max_by("cents", "seq").cast("long").alias("close_cents"),
        F.sum("cents").alias("volume_cents"),
    )


@register(
    "w_activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
      FROM events
    ),
    isl AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, island,
             CAST(COUNT(*) AS BIGINT) AS len,
             CAST(MIN(day) AS BIGINT) AS start_day
      FROM isl GROUP BY user_id, island
    ),
    best AS (
      SELECT user_id, len, start_day,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY len DESC, start_day) AS rn
      FROM streaks
    )
    SELECT user_id, len AS longest_streak_days, start_day AS streak_start_epoch_day
    FROM best WHERE rn = 1
    """,
)
def w_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the gaps-and-islands
    pattern: on the distinct (user, day) grid, `day − row_number()` is
    constant exactly within a run of consecutive days, so one partitioned
    window turns streak detection into a plain groupBy. Ties between
    equal-length streaks break toward the earliest start for a defined pick.
    Both windows and both aggregations share the user_id partition key — one
    shuffle end to end (Catalyst reuses the exchange). Days are exact epoch
    integers; no timezone/date-function divergence can enter."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).distinct()
    wd = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn("island", F.col("day") - F.row_number().over(wd))
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day")
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("start_day")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak_days"),
            F.col("start_day").alias("streak_start_epoch_day"),
        )
    )


@register(
    "w_changepoint_cusum",
    """
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000 + event_id AS seq,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    pre AS (
      SELECT event_type, seq, cents,
             SUM(cents) OVER (PARTITION BY event_type ORDER BY seq
                              ROWS UNBOUNDED PRECEDING) AS prefix,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY seq) AS k
      FROM e
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total
      FROM e GROUP BY event_type
    ),
    dev AS (
      SELECT pre.event_type, pre.seq, pre.k,
             ABS(tot.n * pre.prefix - pre.k * tot.total) AS cusum_scaled
      FROM pre JOIN tot ON pre.event_type = tot.event_type
      WHERE pre.k < tot.n
    ),
    best AS (
      SELECT event_type, seq, k, cusum_scaled,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cusum_scaled DESC, seq) AS rn
      FROM dev
    )
    SELECT b.event_type, CAST(b.k AS BIGINT) AS changepoint_k,
           CAST(b.cusum_scaled AS BIGINT) AS cusum_scaled,
           ROUND(CAST(b.cusum_scaled AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n), 6)
             AS cusum_per_obs
    FROM best b JOIN tot t ON b.event_type = t.event_type
    WHERE b.rn = 1
    """,
)
def w_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per series: the split point k maximizing
    |CUSUM_k| = |Σ_{i<=k}(x_i − mean)| — where the mean-shift most likely
    occurred. Multiplying through by n keeps the statistic an EXACT integer
    (|n·prefix_k − k·total|), so the argmax is engine-stable with no float
    accumulation anywhere; the per-observation normalization divides once at
    the end. One partitioned prefix-sum window + a 5-row totals broadcast +
    an argmax window — the same two-shuffle shape as the EWMA/peak queries.
    Ties break toward the earliest position."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("ts").cast("long") * 100000 + F.col("event_id")).alias("seq"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wp = Window.partitionBy("event_type").orderBy("seq")
    pre = ev.select(
        "event_type",
        "seq",
        F.sum("cents").over(wp.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "prefix"
        ),
        F.row_number().over(wp).alias("k"),
    )
    tot = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    )
    dev = (
        pre.join(F.broadcast(tot), "event_type")
        .filter(F.col("k") < F.col("n"))
        .select(
            "event_type",
            "seq",
            "k",
            "n",
            F.abs(
                F.col("n") * F.col("prefix") - F.col("k") * F.col("total")
            ).alias("cusum_scaled"),
        )
    )
    wb = Window.partitionBy("event_type").orderBy(
        F.col("cusum_scaled").desc(), F.col("seq")
    )
    return (
        dev.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("k").cast("long").alias("changepoint_k"),
            F.col("cusum_scaled").cast("long").alias("cusum_scaled"),
            F.round(
                F.col("cusum_scaled").cast("double")
                / (F.col("n").cast("double") * F.col("n")),
                6,
            ).alias("cusum_per_obs"),
        )
    )


@register(
    "w_linear_interpolation",
    """
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      WHERE event_type = 'purchase' AND user_id % 7 = 0
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM d GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    g AS (
      SELECT g.user_id,
             CAST(g.day - DATE '1970-01-01' AS BIGINT) AS day,
             d.cents
      FROM grid g LEFT JOIN d ON g.user_id = d.user_id AND g.day = d.day
    ),
    ctx AS (
      SELECT user_id, day, cents,
             LAST_VALUE(cents IGNORE NULLS) OVER wp AS prev_v,
             LAST_VALUE(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
               OVER wp AS prev_d,
             FIRST_VALUE(cents IGNORE NULLS) OVER wf AS next_v,
             FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
               OVER wf AS next_d
      FROM g
      WINDOW wp AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day,
           CAST(cents IS NULL AS BOOLEAN) AS interpolated,
           ROUND(
             CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                  ELSE prev_v + CAST((next_v - prev_v) * (day - prev_d) AS DOUBLE)
                       / (next_d - prev_d)
             END / 100.0, 6) AS value_interp
    FROM ctx
    """,
)
def w_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a densified day grid (the time-series
    counterpart of forward fill — gauges/prices between observations): each
    missing day takes prev + (next−prev)·(t−t_prev)/(t_next−t_prev) between
    its last and next observed values. The two context windows (last/first
    IGNORE NULLS over opposing unbounded frames) and the grid explode all
    partition by user_id — one shuffle; the interpolation arithmetic is exact
    integers (cents × day offsets) until the single rounded division. Interior
    grids only (min..max per user), so next/prev always exist on missing
    rows."""
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 7 == 0))
        .select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("user_id", "day")
        .agg(F.max("cents").alias("cents"))
    )
    span = d.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    g = grid.join(d, ["user_id", "day"], "left").select(
        "user_id",
        F.datediff("day", F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
        "cents",
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    day_obs = F.when(F.col("cents").isNotNull(), F.col("day"))
    ctx = g.select(
        "user_id",
        "day",
        "cents",
        F.last("cents", ignorenulls=True).over(wp).alias("prev_v"),
        F.last(day_obs, ignorenulls=True).over(wp).alias("prev_d"),
        F.first("cents", ignorenulls=True).over(wf).alias("next_v"),
        F.first(day_obs, ignorenulls=True).over(wf).alias("next_d"),
    )
    interp = F.col("prev_v") + (
        (F.col("next_v") - F.col("prev_v")) * (F.col("day") - F.col("prev_d"))
    ).cast("double") / (F.col("next_d") - F.col("prev_d"))
    return ctx.select(
        "user_id",
        "day",
        F.col("cents").isNull().alias("interpolated"),
        F.round(
            F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
            .otherwise(interp)
            / 100.0,
            6,
        ).alias("value_interp"),
    )


@register(
    "w_acf_daily",
    """
    WITH daily AS (
      SELECT l_returnflag, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1, 2
    ),
    lagged AS (
      SELECT l_returnflag,
             cents / 100.0 AS x,
             LAG(cents, 1) OVER w / 100.0 AS x1,
             LAG(cents, 2) OVER w / 100.0 AS x2,
             LAG(cents, 3) OVER w / 100.0 AS x3
      FROM daily WINDOW w AS (PARTITION BY l_returnflag ORDER BY d)
    )
    SELECT l_returnflag,
           ROUND(CORR(x, x1), 6) AS acf1,
           ROUND(CORR(x, x2), 6) AS acf2,
           ROUND(CORR(x, x3), 6) AS acf3,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM lagged GROUP BY l_returnflag
    """,
)
def w_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1-3, per return
    flag — the seasonality screen run before choosing a forecasting model.
    Day-summing first collapses the fact table to |groups|·|days| rows, so
    the lag window and the corr aggregates run over thousands of points,
    not millions; daily totals are snapped to integer cents BEFORE the lag
    so both engines correlate bit-identical series. One shuffle for the
    daily rollup, one partitioned window, one 3-row reduce."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("l_returnflag").orderBy("d")
    lagged = daily.select(
        "l_returnflag",
        (F.col("cents") / 100.0).alias("x"),
        (F.lag("cents", 1).over(w) / 100.0).alias("x1"),
        (F.lag("cents", 2).over(w) / 100.0).alias("x2"),
        (F.lag("cents", 3).over(w) / 100.0).alias("x3"),
    )
    return lagged.groupBy("l_returnflag").agg(
        F.round(F.corr("x", "x1"), 6).alias("acf1"),
        F.round(F.corr("x", "x2"), 6).alias("acf2"),
        F.round(F.corr("x", "x3"), 6).alias("acf3"),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "w_rolling_corr",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(CASE WHEN l_returnflag = 'R'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 100)
                  AS BIGINT) / 100.0 AS rev_r,
             CAST(ROUND(SUM(CASE WHEN l_returnflag = 'A'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 100)
                  AS BIGINT) / 100.0 AS rev_a
      FROM lineitem GROUP BY 1
    ),
    rolled AS (
      SELECT d,
             CORR(rev_r, rev_a) OVER (ORDER BY d ROWS BETWEEN 29 PRECEDING
                                      AND CURRENT ROW) AS corr30,
             ROW_NUMBER() OVER (ORDER BY d) AS rn
      FROM daily
    )
    SELECT d, ROUND(corr30, 6) AS corr30
    FROM rolled WHERE rn >= 30 AND rn % 30 = 0
    """,
)
def w_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day rolling correlation between the returned-revenue and
    accepted-revenue daily series — 'are these streams moving together this
    month'. Both series come from ONE conditional rollup (no second scan,
    no join); the rolling frame is a rows-window over the daily spine.
    Output thinned to every 30th day (full windows only) to keep the
    contract bounded. The daily spine is a single time-ordered window —
    fine for |days| rows; at 100 TB of days-× -keys, partition the window
    by series key as w_acf_daily does."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        (
            F.round(F.sum(F.when(F.col("l_returnflag") == "R", rev).otherwise(0.0)) * 100)
            .cast("long")
            / 100.0
        ).alias("rev_r"),
        (
            F.round(F.sum(F.when(F.col("l_returnflag") == "A", rev).otherwise(0.0)) * 100)
            .cast("long")
            / 100.0
        ).alias("rev_a"),
    )
    w = Window.orderBy("d").rowsBetween(-29, 0)
    w_rn = Window.orderBy("d")
    rolled = daily.select(
        "d",
        F.corr("rev_r", "rev_a").over(w).alias("corr30"),
        F.row_number().over(w_rn).alias("rn"),
    )
    return rolled.filter((F.col("rn") >= 30) & (F.col("rn") % 30 == 0)).select(
        "d", F.round("corr30", 6).alias("corr30")
    )


@register(
    "w_forecast_baselines",
    """
    WITH daily AS (
      SELECT l_returnflag, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1, 2
    ),
    lagged AS (
      SELECT l_returnflag,
             cents,
             LAG(cents, 1) OVER w AS lag1,
             LAG(cents, 7) OVER w AS lag7
      FROM daily WINDOW w AS (PARTITION BY l_returnflag ORDER BY d)
    )
    SELECT l_returnflag,
           ROUND(AVG(ABS(cents - lag1)) / 100.0, 4) AS mae_naive1,
           ROUND(AVG(ABS(cents - lag7)) / 100.0, 4) AS mae_naive7,
           ROUND(AVG(ABS(cents - lag7) * 1.0) / AVG(ABS(cents - lag1) * 1.0), 6)
             AS seasonal_ratio,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM lagged WHERE lag7 IS NOT NULL
    GROUP BY l_returnflag
    """,
)
def w_forecast_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline benchmark per series: MAE of the naive-1 (carry
    yesterday) and seasonal-naive-7 (carry last week) forecasts over the
    daily revenue series, plus their ratio — the number every 'is the fancy
    model worth it' review starts from (a model that can't beat these is
    noise; the ratio also measures weekly seasonality strength: < 1 means
    weekly structure dominates). Daily totals in exact integer cents; the
    lag window restricts to rows where BOTH baselines are defined so the
    two MAEs average over the same days. One rollup + one partitioned
    window + one tiny reduce."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("l_returnflag").orderBy("d")
    lagged = daily.select(
        "l_returnflag",
        "cents",
        F.lag("cents", 1).over(w).alias("lag1"),
        F.lag("cents", 7).over(w).alias("lag7"),
    ).filter(F.col("lag7").isNotNull())
    e1 = F.abs(F.col("cents") - F.col("lag1"))
    e7 = F.abs(F.col("cents") - F.col("lag7"))
    return lagged.groupBy("l_returnflag").agg(
        F.round(F.avg(e1) / 100.0, 4).alias("mae_naive1"),
        F.round(F.avg(e7) / 100.0, 4).alias("mae_naive7"),
        F.round(F.avg(e7 * 1.0) / F.avg(e1 * 1.0), 6).alias("seasonal_ratio"),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "w_watermark_lateness",
    """
    WITH arrivals AS (
      SELECT event_type, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec,
             CAST(FLOOR(epoch(ts)) AS BIGINT)
               + CAST(('0x' || substr(md5('lat' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 600
               AS arrival_key
      FROM events
    ),
    marked AS (
      SELECT event_type, ts_sec,
             MAX(ts_sec) OVER (PARTITION BY event_type ORDER BY arrival_key, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS wm
      FROM arrivals
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN wm - ts_sec > 60 THEN 1 ELSE 0 END) AS BIGINT)
             AS late_over_60s,
           CAST(SUM(CASE WHEN wm - ts_sec > 300 THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_at_5min_watermark,
           CAST(COALESCE(MAX(wm - ts_sec), 0) AS BIGINT) AS max_lateness_s,
           ROUND(SUM(CASE WHEN wm - ts_sec > 300 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS drop_rate
    FROM marked GROUP BY event_type
    """,
)
def w_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-policy sizing: replay the stream in ARRIVAL order (the
    driver table is perfectly time-ordered, so arrival jitter of up to 10
    minutes is synthesized with the portable md5 coin — documented, since
    real feeds interleave) and measure, per key, how many events arrive
    later than the running max-event-time watermark by more than 60 s /
    300 s — i.e. exactly which events dropDuplicatesWithinWatermark or a
    5-minute withWatermark would discard. This is the batch query you run
    BEFORE picking a streaming watermark delay: the answer ('max observed
    lateness 9.9 min, 5-min policy drops 0.4%') is the policy decision.
    One partitioned running-max window in arrival order."""
    ev = _t(spark, sf_dir, "events")
    ts_sec = F.floor(F.col("ts").cast("double")).cast("long")
    arrivals = ev.select(
        "event_type",
        "event_id",
        ts_sec.alias("ts_sec"),
        (
            ts_sec
            + F.pmod(
                DD.hex_hash64(
                    F.concat(F.lit("lat"), F.col("event_id").cast("string"))
                ),
                F.lit(600),
            )
        ).alias("arrival_key"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("arrival_key", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = arrivals.select(
        "event_type", "ts_sec", F.max("ts_sec").over(w).alias("wm")
    )
    late = F.col("wm") - F.col("ts_sec")
    return marked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(late > 60, 1).otherwise(0)).alias("late_over_60s"),
        F.sum(F.when(late > 300, 1).otherwise(0)).alias(
            "dropped_at_5min_watermark"
        ),
        F.coalesce(F.max(late), F.lit(0)).cast("long").alias("max_lateness_s"),
        F.round(
            F.sum(F.when(late > 300, 1).otherwise(0)) * 1.0 / F.count(F.lit(1)), 6
        ).alias("drop_rate"),
    )


@register(
    "w_cohort_ltv",
    """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d
      FROM events GROUP BY user_id
    ),
    cohorts AS (
      SELECT user_id,
             DATE_DIFF('day', DATE '2024-01-01', first_d) // 7 AS cohort_week
      FROM firsts
    ),
    purchases AS (
      SELECT e.user_id, c.cohort_week,
             DATE_DIFF('day', DATE '2024-01-01', CAST(e.ts AS DATE)) // 7
               - c.cohort_week AS week_offset,
             CAST(ROUND(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN cohorts c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
    ),
    weekly AS (
      SELECT cohort_week, week_offset, SUM(cents) AS cents
      FROM purchases GROUP BY 1, 2
    ),
    cohort_sizes AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM cohorts GROUP BY 1
    ),
    cum AS (
      SELECT cohort_week, week_offset,
             SUM(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
                              ROWS UNBOUNDED PRECEDING) AS cum_cents
      FROM weekly
    )
    SELECT c.cohort_week, c.week_offset,
           ROUND(c.cum_cents / (s.n_users * 100.0), 4) AS ltv_per_user,
           s.n_users
    FROM cum c JOIN cohort_sizes s USING (cohort_week)
    """,
)
def w_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per signup cohort: users grouped by
    first-seen week, purchase revenue accumulated per week offset, divided
    by COHORT size (not active users — LTV denominators never shrink). The
    running sum is a partitioned window over the tiny (cohort, offset)
    matrix, never over raw events; exact integer cents until the final
    division. This is the retention-cohort shape with money on it — one
    first-touch aggregate, one join back, one matrix window."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d")
    )
    epoch = F.lit("2024-01-01").cast("date")
    cohorts = firsts.select(
        "user_id",
        F.floor(F.datediff(F.col("first_d"), epoch) / 7).alias("cohort_week"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .select(
            "cohort_week",
            (
                F.floor(F.datediff(F.col("ts").cast("date"), epoch) / 7)
                - F.col("cohort_week")
            ).alias("week_offset"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    weekly = purchases.groupBy("cohort_week", "week_offset").agg(
        F.sum("cents").alias("cents")
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = weekly.select(
        "cohort_week", "week_offset", F.sum("cents").over(w).alias("cum_cents")
    )
    return cum.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        F.round(F.col("cum_cents") / (F.col("n_users") * 100.0), 4).alias(
            "ltv_per_user"
        ),
        "n_users",
    )


@register(
    "w_throughput_profile",
    """
    WITH per_min AS (
      SELECT event_type, date_trunc('minute', ts) AS m,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cnt, m) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM per_min
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS active_minutes,
           CAST(MIN(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN cnt END)
                AS BIGINT) AS p50_per_min,
           CAST(MIN(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN cnt END)
                AS BIGINT) AS p95_per_min,
           CAST(MAX(cnt) AS BIGINT) AS max_per_min
    FROM ranked GROUP BY event_type
    """,
)
def w_throughput_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throughput profile per event type: p50 / p95 / max events-per-minute
    over the stream's active minutes — the numbers that size a consumer
    (provision for p95, alert above max). Percentiles are EXACT rank picks
    over the per-minute count distribution (ties broken by minute so the
    rank is total) — the minute rollup bounds the window input to
    |types|·|minutes| rows regardless of event volume."""
    ev = _t(spark, sf_dir, "events")
    per_min = ev.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("m")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("cnt", "m")
    wp = Window.partitionBy("event_type")
    ranked = per_min.select(
        "event_type",
        "cnt",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("active_minutes"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(0.5 * F.col("n")).cast("long"), F.col("cnt")
            )
        )
        .cast("long")
        .alias("p50_per_min"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(0.95 * F.col("n")).cast("long"),
                F.col("cnt"),
            )
        )
        .cast("long")
        .alias("p95_per_min"),
        F.max("cnt").alias("max_per_min"),
    )


@register(
    "w_anomaly_seasonal_adjusted",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             DATE_DIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) % 7
               AS dow,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1, 2
    ),
    dow_means AS (
      SELECT dow, AVG(cents) AS dow_mean FROM daily GROUP BY dow
    ),
    resid AS (
      SELECT d, daily.dow, cents, cents - dow_mean AS r
      FROM daily JOIN dow_means USING (dow)
    ),
    stats AS (
      SELECT AVG(r) AS mu, STDDEV_SAMP(r) AS sd FROM resid
    )
    SELECT d, CAST(dow AS BIGINT) AS dow,
           ROUND(cents / 100.0, 2) AS revenue,
           ROUND((r - mu) / sd, 4) AS z_seasonal
    FROM resid, stats
    WHERE ABS((r - mu) / sd) > 3
    """,
)
def w_anomaly_seasonal_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection: subtract each day-of-week's
    mean BEFORE the z-score, so a busy-but-normal Monday stops masking a
    genuinely anomalous Wednesday (the classic false-negative of the plain
    z-score a_anomaly_zscore computes). Day-of-week via epoch-day mod 7
    (engine-identical); residual mean/stddev broadcast from a 1-row
    aggregate; flags |z| > 3. Daily rollup bounds everything downstream to
    |days| rows."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_shipdate").cast("date").alias("d"),
        (
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            % 7
        ).alias("dow"),
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents")
    )
    dow_means = daily.groupBy("dow").agg(F.avg("cents").alias("dow_mean"))
    resid = daily.join(F.broadcast(dow_means), "dow").select(
        "d", "dow", "cents", (F.col("cents") - F.col("dow_mean")).alias("r")
    )
    stats = resid.agg(
        F.avg("r").alias("mu"), F.stddev_samp("r").alias("sd")
    )
    z = (F.col("r") - F.col("mu")) / F.col("sd")
    return (
        resid.crossJoin(F.broadcast(stats))
        .filter(F.abs(z) > 3)
        .select(
            "d",
            F.col("dow").cast("long").alias("dow"),
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            F.round(z, 4).alias("z_seasonal"),
        )
    )


@register(
    "w_xmr_control",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1
    ),
    mr AS (
      SELECT d, cents,
             ABS(cents - LAG(cents) OVER (ORDER BY d)) AS moving_range
      FROM daily
    ),
    lims AS (
      SELECT AVG(cents) AS xbar, AVG(moving_range) AS mrbar FROM mr
    )
    SELECT d, ROUND(cents / 100.0, 2) AS revenue,
           ROUND((xbar + 2.66 * mrbar) / 100.0, 2) AS ucl,
           ROUND((xbar - 2.66 * mrbar) / 100.0, 2) AS lcl,
           CASE WHEN cents > xbar + 2.66 * mrbar THEN 'ABOVE_UCL'
                ELSE 'BELOW_LCL' END AS signal
    FROM mr, lims
    WHERE cents > xbar + 2.66 * mrbar OR cents < xbar - 2.66 * mrbar
    """,
)
def w_xmr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals + moving range) control chart over daily revenue —
    Shewhart process control: limits at x̄ ± 2.66·MR̄ (the constant that
    converts mean moving range to 3σ), emitting only out-of-control days
    with their limits. Versus the z-score screens, XmR derives its sigma
    from CONSECUTIVE-day variation, so a slow trend widens nothing and
    still signals. One day rollup, one lag window over |days| rows, one
    broadcast 1-row limit computation."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("d")
    mr = daily.select(
        "d",
        "cents",
        F.abs(F.col("cents") - F.lag("cents").over(w)).alias("moving_range"),
    )
    lims = mr.agg(
        F.avg("cents").alias("xbar"), F.avg("moving_range").alias("mrbar")
    )
    ucl = F.col("xbar") + 2.66 * F.col("mrbar")
    lcl = F.col("xbar") - 2.66 * F.col("mrbar")
    return (
        mr.crossJoin(F.broadcast(lims))
        .filter((F.col("cents") > ucl) | (F.col("cents") < lcl))
        .select(
            "d",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            F.round(ucl / 100.0, 2).alias("ucl"),
            F.round(lcl / 100.0, 2).alias("lcl"),
            F.when(F.col("cents") > ucl, F.lit("ABOVE_UCL"))
            .otherwise(F.lit("BELOW_LCL"))
            .alias("signal"),
        )
    )


@register(
    "w_max_drawdown",
    """
    WITH daily AS (
      SELECT l_returnflag, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1, 2
    ),
    eq AS (
      SELECT l_returnflag, d,
             SUM(cents) OVER (PARTITION BY l_returnflag ORDER BY d
                              ROWS UNBOUNDED PRECEDING) AS equity
      FROM daily
    ),
    cum AS (
      SELECT l_returnflag, d, equity,
             MAX(equity) OVER (PARTITION BY l_returnflag ORDER BY d
                               ROWS UNBOUNDED PRECEDING) AS peak
      FROM eq
    ),
    dd AS (
      SELECT l_returnflag, d, equity, peak, peak - equity AS drawdown,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY peak - equity DESC, d) AS rn
      FROM cum
    )
    SELECT l_returnflag, d AS worst_day,
           ROUND(drawdown / 100.0, 2) AS max_drawdown,
           ROUND(peak / 100.0, 2) AS peak_equity,
           ROUND(drawdown * 1.0 / NULLIF(peak, 0), 6) AS drawdown_frac
    FROM dd WHERE rn = 1
    """,
)
def w_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series: the deepest peak-to-trough fall of the
    cumulative revenue curve, with the day it bottomed — the risk metric
    that summarizes 'how bad did it get' in one number. Running equity and
    running peak are TWO stacked cumulative windows over the SAME
    partition-and-order (one shuffle — Spark evaluates both frames in a
    single WindowExec pass); the argmax is rank-picked with a date
    tie-break. Exact integer cents throughout."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents")
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = daily.select(
        "l_returnflag",
        "d",
        F.sum("cents").over(w).alias("equity"),
    ).select(
        "l_returnflag",
        "d",
        "equity",
        F.max("equity").over(w).alias("peak"),
    )
    dd = cum.select(
        "l_returnflag",
        "d",
        "equity",
        "peak",
        (F.col("peak") - F.col("equity")).alias("drawdown"),
    )
    w_rn = Window.partitionBy("l_returnflag").orderBy(
        F.col("drawdown").desc(), "d"
    )
    return (
        dd.withColumn("rn", F.row_number().over(w_rn))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("d").alias("worst_day"),
            F.round(F.col("drawdown") / 100.0, 2).alias("max_drawdown"),
            F.round(F.col("peak") / 100.0, 2).alias("peak_equity"),
            F.round(
                F.col("drawdown") * 1.0 / F.nullif(F.col("peak"), F.lit(0)), 6
            ).alias("drawdown_frac"),
        )
    )


@register(
    "w_granger_screen",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS clicks,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS purchases
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT purchases * 1.0 AS y,
             LAG(purchases) OVER (ORDER BY d) * 1.0 AS x,
             LAG(clicks) OVER (ORDER BY d) * 1.0 AS z
      FROM daily
    ),
    pts AS (SELECT y, x, z FROM lagged WHERE x IS NOT NULL),
    m AS (
      SELECT COUNT(*) AS n, AVG(y) AS my, AVG(x) AS mx, AVG(z) AS mz,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(x * z) AS sxz,
             SUM(z * z) AS szz, SUM(z * y) AS szy, SUM(y * y) AS syy
      FROM pts
    ),
    c AS (
      SELECT n,
             sxx - n * mx * mx AS cxx, sxy - n * mx * my AS cxy,
             sxz - n * mx * mz AS cxz, szz - n * mz * mz AS czz,
             szy - n * mz * my AS czy, syy - n * my * my AS cyy
      FROM m
    )
    SELECT ROUND((cxy * cxy / cxx) / cyy, 6) AS r2_restricted,
           ROUND(((czz * cxy - cxz * czy) * cxy + (cxx * czy - cxz * cxy) * czy)
                 / ((cxx * czz - cxz * cxz) * cyy), 6) AS r2_full,
           ROUND((((czz * cxy - cxz * czy) * cxy
                   + (cxx * czy - cxz * cxy) * czy)
                  / (cxx * czz - cxz * cxz)
                  - cxy * cxy / cxx)
                 / (cyy - ((czz * cxy - cxz * czy) * cxy
                           + (cxx * czy - cxz * cxy) * czy)
                          / (cxx * czz - cxz * cxz))
                 * (n - 3), 4) AS f_stat,
           CAST(n AS BIGINT) AS n_days
    FROM c
    """,
)
def w_granger_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-causality screen: does yesterday's CLICK volume improve the
    prediction of today's PURCHASE volume beyond yesterday's purchases
    alone? Both the restricted (AR(1)) and full (AR(1)+exogenous lag)
    regressions are solved in CLOSED FORM from one pass of centered moment
    sums (the 2×2 normal equations by Cramer's rule — no iterative
    fitting, no driver-side linear algebra), and the F statistic prices
    the R² gain. The fold runs over the |days| rollup; at scale this is
    how you screen thousands of series pairs for lead-lag structure —
    one agg per pair, embarrassingly parallel."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "clicks"
        ),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "purchases"
        ),
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        (F.col("purchases") * 1.0).alias("y"),
        (F.lag("purchases").over(w) * 1.0).alias("x"),
        (F.lag("clicks").over(w) * 1.0).alias("z"),
    ).filter(F.col("x").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("my"),
        F.avg("x").alias("mx"),
        F.avg("z").alias("mz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("z") * F.col("y")).alias("szy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    c = m.select(
        "n",
        (F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx")).alias("cxx"),
        (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")).alias("cxy"),
        (F.col("sxz") - F.col("n") * F.col("mx") * F.col("mz")).alias("cxz"),
        (F.col("szz") - F.col("n") * F.col("mz") * F.col("mz")).alias("czz"),
        (F.col("szy") - F.col("n") * F.col("mz") * F.col("my")).alias("czy"),
        (F.col("syy") - F.col("n") * F.col("my") * F.col("my")).alias("cyy"),
    )
    det = F.col("cxx") * F.col("czz") - F.col("cxz") * F.col("cxz")
    ess_full = (
        (F.col("czz") * F.col("cxy") - F.col("cxz") * F.col("czy")) * F.col("cxy")
        + (F.col("cxx") * F.col("czy") - F.col("cxz") * F.col("cxy"))
        * F.col("czy")
    ) / det
    ess_restricted = F.col("cxy") * F.col("cxy") / F.col("cxx")
    return c.select(
        F.round(ess_restricted / F.col("cyy"), 6).alias("r2_restricted"),
        F.round(ess_full * det / (det * F.col("cyy")), 6).alias("r2_full"),
        F.round(
            (ess_full - ess_restricted)
            / (F.col("cyy") - ess_full)
            * (F.col("n") - 3),
            4,
        ).alias("f_stat"),
        F.col("n").cast("long").alias("n_days"),
    )


@register(
    "w_peak_detection",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1
    ),
    ctx AS (
      SELECT d, cents,
             LAG(cents) OVER (ORDER BY d) AS prv,
             LEAD(cents) OVER (ORDER BY d) AS nxt,
             AVG(cents) OVER () AS mu
      FROM daily
    )
    SELECT d, ROUND(cents / 100.0, 2) AS revenue,
           ROUND(cents / mu, 4) AS vs_mean
    FROM ctx
    WHERE prv IS NOT NULL AND nxt IS NOT NULL
      AND cents > prv AND cents > nxt
      AND cents * 10 > mu * 13
    """,
)
def w_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection with a prominence floor: days strictly above
    both neighbors AND 30% above the series mean (the floor is what
    separates peaks from noise wiggles — strict local maxima alone flag
    half the series). LAG/LEAD/mean from one ordered window pass over the
    |days| rollup; the prominence comparison is exact integer
    cross-multiplication (cents·10 > μ·13)."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("d")
    wa = Window.partitionBy()
    ctx = daily.select(
        "d",
        "cents",
        F.lag("cents").over(w).alias("prv"),
        F.lead("cents").over(w).alias("nxt"),
        F.avg("cents").over(wa).alias("mu"),
    )
    return ctx.filter(
        F.col("prv").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("cents") > F.col("prv"))
        & (F.col("cents") > F.col("nxt"))
        & (F.col("cents") * 10 > F.col("mu") * 13)
    ).select(
        "d",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.col("cents") / F.col("mu"), 4).alias("vs_mean"),
    )


@register(
    "w_p_chart",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_err
      FROM events GROUP BY 1
    ),
    pooled AS (
      SELECT SUM(n_err) * 1.0 / SUM(n) AS pbar FROM daily
    )
    SELECT d, n, n_err,
           ROUND(n_err * 1.0 / n, 6) AS p_obs,
           ROUND(pbar + 3 * SQRT(pbar * (1 - pbar) / n), 6) AS ucl,
           ROUND(GREATEST(0, pbar - 3 * SQRT(pbar * (1 - pbar) / n)), 6) AS lcl,
           CASE WHEN n_err * 1.0 / n > pbar + 3 * SQRT(pbar * (1 - pbar) / n)
                  OR n_err * 1.0 / n < pbar - 3 * SQRT(pbar * (1 - pbar) / n)
                THEN 'OUT_OF_CONTROL' ELSE 'IN_CONTROL' END AS signal
    FROM daily, pooled
    """,
)
def w_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p-chart (attribute control chart) for the daily error RATE: unlike
    the XmR individuals chart, the p-chart's limits vary PER DAY with the
    sample size (p̄ ± 3√(p̄(1−p̄)/nᵢ)) — a 2% error rate is an incident on
    a 10k-event day and noise on a 40-event day, and the chart knows the
    difference. Emits only out-of-control days with their day-specific
    limits. One rollup + one pooled-rate broadcast."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_err"
        ),
    )
    pooled = daily.agg(
        (F.sum("n_err") * 1.0 / F.sum("n")).alias("pbar")
    )
    j = daily.crossJoin(F.broadcast(pooled))
    se = F.sqrt(F.col("pbar") * (1 - F.col("pbar")) / F.col("n"))
    p_obs = F.col("n_err") * 1.0 / F.col("n")
    out_of_control = (p_obs > F.col("pbar") + 3 * se) | (
        p_obs < F.col("pbar") - 3 * se
    )
    return j.select(
        "d",
        "n",
        "n_err",
        F.round(p_obs, 6).alias("p_obs"),
        F.round(F.col("pbar") + 3 * se, 6).alias("ucl"),
        F.round(F.greatest(F.lit(0.0), F.col("pbar") - 3 * se), 6).alias("lcl"),
        F.when(out_of_control, F.lit("OUT_OF_CONTROL"))
        .otherwise(F.lit("IN_CONTROL"))
        .alias("signal"),
    )


@register(
    "w_interrupted_ts",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             DATE_DIFF('day', DATE '1998-01-01', CAST(l_shipdate AS DATE)) AS t,
             CASE WHEN CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
                  THEN 'post' ELSE 'pre' END AS seg,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               / 100.0 AS y
      FROM lineitem GROUP BY 1, 2, 3
    ),
    fits AS (
      SELECT seg, COUNT(*) AS n, SUM(t) AS sx, SUM(y) AS sy,
             SUM(t * CAST(t AS DOUBLE)) AS sxx, SUM(t * y) AS sxy
      FROM daily GROUP BY seg
    ),
    params AS (
      SELECT seg,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             (sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n
               AS intercept,
             CAST(n AS BIGINT) AS n_days
      FROM fits
    )
    SELECT ROUND(MAX(CASE WHEN seg = 'pre' THEN intercept END), 4)
             AS pre_level_at_t0,
           ROUND(MAX(CASE WHEN seg = 'post' THEN intercept END), 4)
             AS post_level_at_t0,
           ROUND(MAX(CASE WHEN seg = 'post' THEN intercept END)
                 - MAX(CASE WHEN seg = 'pre' THEN intercept END), 4)
             AS level_change,
           ROUND(MAX(CASE WHEN seg = 'pre' THEN slope END), 6) AS pre_slope,
           ROUND(MAX(CASE WHEN seg = 'post' THEN slope END), 6) AS post_slope,
           ROUND(MAX(CASE WHEN seg = 'post' THEN slope END)
                 - MAX(CASE WHEN seg = 'pre' THEN slope END), 6) AS slope_change
    FROM params
    """,
)
def w_interrupted_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series analysis around the 1998-01-01 boundary:
    fit each segment's level and trend by closed-form OLS with time
    CENTERED AT THE INTERVENTION (so both intercepts are the fitted value
    AT the boundary and their difference is the immediate level jump —
    uncentered intercepts would compare extrapolations to day zero of the
    epoch, a classic ITS bug), and report level change + slope change —
    the two causal quantities an ITS estimates. One rollup, one per-segment
    moment fold."""
    li = _t(spark, sf_dir, "lineitem")
    t0 = F.lit("1998-01-01").cast("date")
    daily = li.groupBy(
        F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        (
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
            ).cast("long")
            / 100.0
        ).alias("y")
    ).select(
        F.datediff(F.col("d"), t0).cast("double").alias("t"),
        F.when(F.col("d") >= t0, "post").otherwise("pre").alias("seg"),
        "y",
    )
    fits = daily.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("sxx"),
        F.sum(F.col("t") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    params = fits.select(
        "seg",
        slope.alias("slope"),
        ((F.col("sy") - F.col("sx") * slope) / F.col("n")).alias("intercept"),
    )
    pre_i = F.max(F.when(F.col("seg") == "pre", F.col("intercept")))
    post_i = F.max(F.when(F.col("seg") == "post", F.col("intercept")))
    pre_s = F.max(F.when(F.col("seg") == "pre", F.col("slope")))
    post_s = F.max(F.when(F.col("seg") == "post", F.col("slope")))
    return params.agg(
        F.round(pre_i, 4).alias("pre_level_at_t0"),
        F.round(post_i, 4).alias("post_level_at_t0"),
        F.round(post_i - pre_i, 4).alias("level_change"),
        F.round(pre_s, 6).alias("pre_slope"),
        F.round(post_s, 6).alias("post_slope"),
        F.round(post_s - pre_s, 6).alias("slope_change"),
    )


@register(
    "w_runs_test",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1
    ),
    med AS (
      SELECT cents AS m FROM (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, d) AS rn,
               COUNT(*) OVER () AS n
        FROM daily
      ) WHERE rn = (n + 1) // 2
    ),
    signed AS (
      SELECT d, CASE WHEN cents > med.m THEN 1 ELSE 0 END AS up
      FROM daily, med WHERE cents <> med.m
    ),
    runs AS (
      SELECT up,
             CASE WHEN LAG(up) OVER (ORDER BY d) IS NULL
                    OR LAG(up) OVER (ORDER BY d) <> up
                  THEN 1 ELSE 0 END AS new_run
      FROM signed
    ),
    agg AS (
      SELECT CAST(SUM(new_run) AS BIGINT) AS r,
             CAST(SUM(up) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(up) AS BIGINT) AS n2
      FROM runs
    )
    SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
           ROUND(1.0 + 2.0 * n1 * n2 / (n1 + n2), 4) AS expected_runs,
           ROUND((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                 / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 4) AS z,
           CASE WHEN ABS((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                 / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)))) > 1.96
                THEN 'NON_RANDOM' ELSE 'CONSISTENT_WITH_RANDOM' END AS verdict
    FROM agg
    """,
)
def w_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the above/below-median daily revenue
    sequence: too FEW runs means persistence (trending/regimes — ACF's
    finding, confirmed nonparametrically), too MANY means oscillation.
    The median split uses the exact rank-picked median (ties excluded, the
    standard treatment); runs count from one lag window; the z-score
    against E[R] = 1 + 2n₁n₂/n is closed-form. The randomness answer
    decides whether time-series machinery is even warranted for a
    series — the cheapest first question."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents")
    )
    w_n = Window.orderBy("cents", "d")
    wa = Window.partitionBy()
    med = (
        daily.select(
            "cents",
            F.row_number().over(w_n).alias("rn"),
            F.count(F.lit(1)).over(wa).alias("n"),
        )
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select(F.col("cents").alias("m"))
    )
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("m"))
        .select(
            "d", F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("up")
        )
    )
    w_d = Window.orderBy("d")
    runs = signed.select(
        "up",
        F.when(
            F.lag("up").over(w_d).isNull()
            | (F.lag("up").over(w_d) != F.col("up")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").alias("r"),
        F.sum("up").alias("n1"),
        (F.count(F.lit(1)) - F.sum("up")).alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    er = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    vr = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    z = (r - er) / F.sqrt(vr)
    return agg.select(
        r.alias("n_runs"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        F.round(er, 4).alias("expected_runs"),
        F.round(z, 4).alias("z"),
        F.when(F.abs(z) > 1.96, F.lit("NON_RANDOM"))
        .otherwise(F.lit("CONSISTENT_WITH_RANDOM"))
        .alias("verdict"),
    )


@register(
    "w_cooks_distance",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             DATE_DIFF('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) * 1.0
               AS t,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               / 100.0 AS y
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT COUNT(*) AS n, AVG(t) AS mt, AVG(y) AS my,
             SUM(t * t) - COUNT(*) * AVG(t) * AVG(t) AS sxx,
             SUM(t * y) - COUNT(*) * AVG(t) * AVG(y) AS sxy
      FROM daily
    ),
    fitted AS (
      SELECT d, t, y,
             my + (sxy / sxx) * (t - mt) AS yhat,
             1.0 / n + POWER(t - mt, 2) / sxx AS h,
             n, sxx, mt, my, sxy
      FROM daily, m
    ),
    mse AS (
      SELECT SUM(POWER(y - yhat, 2)) / (MAX(n) - 2) AS s2 FROM fitted
    ),
    cooks AS (
      SELECT d, y, yhat, h,
             POWER(y - yhat, 2) * h / (2 * s2 * POWER(1 - h, 2)) AS cook_d,
             4.0 / n AS threshold
      FROM fitted, mse
    )
    SELECT d, ROUND(y, 2) AS revenue, ROUND(yhat, 2) AS fitted,
           ROUND(cook_d, 6) AS cooks_d
    FROM cooks
    WHERE cook_d > 2 * threshold
    """,
)
def w_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance over the daily-revenue trend regression: per-point
    influence D = r²·h / (2σ̂²(1−h)²) with leverage h = 1/n + (t−t̄)²/Sxx —
    closed form for simple regression, so the whole diagnostic is two
    folds (moments, then MSE) and a map. Flags days at 8× the
    conventional 4/n cut: the points that are bending the trend line,
    which is a different question from 'is this day extreme' (a z-score
    outlier mid-sample has low leverage; a mild endpoint can dominate the
    slope). The regression-diagnostics companion to the fit queries."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        (
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
            ).cast("long")
            / 100.0
        ).alias("y")
    ).select(
        "d",
        F.datediff(F.col("d"), F.lit("1995-01-01").cast("date"))
        .cast("double")
        .alias("t"),
        "y",
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("t").alias("mt"),
        F.avg("y").alias("my"),
        (F.sum(F.col("t") * F.col("t")) - F.count(F.lit(1)) * F.avg("t") * F.avg("t")).alias(
            "sxx"
        ),
        (F.sum(F.col("t") * F.col("y")) - F.count(F.lit(1)) * F.avg("t") * F.avg("y")).alias(
            "sxy"
        ),
    )
    fitted = IT.round_checkpoint(daily.crossJoin(F.broadcast(m)).select(
        "d",
        "t",
        "y",
        (F.col("my") + (F.col("sxy") / F.col("sxx")) * (F.col("t") - F.col("mt"))).alias(
            "yhat"
        ),
        (1.0 / F.col("n") + F.pow(F.col("t") - F.col("mt"), 2) / F.col("sxx")).alias(
            "h"
        ),
        "n",
    ))
    mse = fitted.agg(
        (F.sum(F.pow(F.col("y") - F.col("yhat"), 2)) / (F.max("n") - 2)).alias(
            "s2"
        )
    )
    cooks = fitted.crossJoin(F.broadcast(mse)).select(
        "d",
        "y",
        "yhat",
        (
            F.pow(F.col("y") - F.col("yhat"), 2)
            * F.col("h")
            / (2 * F.col("s2") * F.pow(1 - F.col("h"), 2))
        ).alias("cook_d"),
        (4.0 / F.col("n")).alias("threshold"),
    )
    return cooks.filter(F.col("cook_d") > 2 * F.col("threshold")).select(
        "d",
        F.round("y", 2).alias("revenue"),
        F.round("yhat", 2).alias("fitted"),
        F.round("cook_d", 6).alias("cooks_d"),
    )


@register(
    "w_pacf",
    """
    WITH daily AS (
      SELECT l_returnflag, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1, 2
    ),
    lagged AS (
      SELECT l_returnflag,
             cents / 100.0 AS x,
             LAG(cents, 1) OVER w / 100.0 AS x1,
             LAG(cents, 2) OVER w / 100.0 AS x2
      FROM daily WINDOW w AS (PARTITION BY l_returnflag ORDER BY d)
    ),
    acf AS (
      SELECT l_returnflag,
             CORR(x, x1) AS r1, CORR(x, x2) AS r2,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM lagged GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND(r1, 6) AS pacf1,
           ROUND((r2 - r1 * r1) / (1 - r1 * r1), 6) AS pacf2,
           ROUND(r2, 6) AS acf2,
           n_days
    FROM acf
    """,
)
def w_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1-2 via Durbin-Levinson closed form
    (φ₁₁ = ρ₁; φ₂₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²)) — the AR-order selector: an
    AR(1) series shows φ₂₂ ≈ 0 even when ρ₂ is large (the raw ACF at lag
    2 of an AR(1) is ρ₁², which looks like structure but is just lag-1
    echoed — the exact confusion PACF exists to remove). Same daily
    rollup + lag window as w_acf_daily; the PACF conversion is row
    arithmetic on the 3-row ACF table."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("l_returnflag").orderBy("d")
    lagged = daily.select(
        "l_returnflag",
        (F.col("cents") / 100.0).alias("x"),
        (F.lag("cents", 1).over(w) / 100.0).alias("x1"),
        (F.lag("cents", 2).over(w) / 100.0).alias("x2"),
    )
    acf = lagged.groupBy("l_returnflag").agg(
        F.corr("x", "x1").alias("r1"),
        F.corr("x", "x2").alias("r2"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return acf.select(
        "l_returnflag",
        F.round("r1", 6).alias("pacf1"),
        F.round(
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (1 - F.col("r1") * F.col("r1")),
            6,
        ).alias("pacf2"),
        F.round("r2", 6).alias("acf2"),
        "n_days",
    )


@register(
    "w_spearman_daily",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS rev_cents,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT d,
             ROW_NUMBER() OVER (ORDER BY rev_cents, d) * 1.0 AS rx,
             ROW_NUMBER() OVER (ORDER BY n_lines, d) * 1.0 AS ry
      FROM daily
    )
    SELECT ROUND(CORR(rx, ry), 6) AS spearman_rho,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM ranked
    """,
)
def w_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily revenue and daily line count
    — Pearson on RANKS, so it measures monotone association and shrugs at
    outliers and nonlinear (but monotone) relationships that depress the
    raw Pearson. Ranks are total (date tie-break) over the |days|-bounded
    rollup; at 100 TB of raw rows the same statistic ranks via the
    distributed global-rank operator. Reading it against w_acf_daily's
    Pearson numbers is the outlier-sensitivity diagnostic."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("rev_cents"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    ranked = daily.select(
        (F.row_number().over(Window.orderBy("rev_cents", "d")) * 1.0).alias("rx"),
        (F.row_number().over(Window.orderBy("n_lines", "d")) * 1.0).alias("ry"),
    )
    return ranked.agg(
        F.round(F.corr("rx", "ry"), 6).alias("spearman_rho"),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "w_mann_kendall",
    """
    WITH monthly AS (
      SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS m,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN b.cents > a.cents THEN 1
                  WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
      FROM monthly a JOIN monthly b ON a.m < b.m
    ),
    agg AS (
      SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat,
             (SELECT COUNT(*) FROM monthly) AS n
      FROM pairs
    )
    SELECT s_stat, CAST(n AS BIGINT) AS n_periods,
           ROUND((s_stat - SIGN(s_stat))
                 / SQRT(n * (n - 1.0) * (2 * n + 5) / 18), 4) AS z,
           CASE WHEN ABS((s_stat - SIGN(s_stat))
                 / SQRT(n * (n - 1.0) * (2 * n + 5) / 18)) > 1.96
                THEN CASE WHEN s_stat > 0 THEN 'INCREASING' ELSE 'DECREASING' END
                ELSE 'NO_TREND' END AS verdict
    FROM agg
    """,
)
def w_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on monthly revenue: S = Σ sign(x_j − x_i)
    over all ordered period pairs — the nonparametric trend test that
    needs no linearity, no normality, and shrugs at outliers (one wild
    month changes S by at most n−1). The pair join is over the MONTHLY
    rollup (|months|² pairs — bounded by calendar, never by data volume);
    z uses the continuity-corrected normal approximation. The verdict
    pairs with the runs test: runs says 'is it random', MK says 'is the
    non-randomness a monotone trend'."""
    li = _t(spark, sf_dir, "lineitem")
    monthly = IT.round_checkpoint(li.groupBy(
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("m")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents")
    ))
    a = monthly.select(F.col("m").alias("ma"), F.col("cents").alias("ca"))
    b = monthly.select(F.col("m").alias("mb"), F.col("cents").alias("cb"))
    pairs = a.join(b, F.col("ma") < F.col("mb")).select(
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    n_df = monthly.agg(F.count(F.lit(1)).alias("n"))
    agg = pairs.agg(F.sum("sgn").alias("s_stat")).crossJoin(F.broadcast(n_df))
    var = F.col("n") * (F.col("n") - 1.0) * (2 * F.col("n") + 5) / 18
    z = (F.col("s_stat") - F.signum(F.col("s_stat"))) / F.sqrt(var)
    return agg.select(
        F.col("s_stat").cast("long").alias("s_stat"),
        F.col("n").cast("long").alias("n_periods"),
        F.round(z, 4).alias("z"),
        F.when(
            F.abs(z) > 1.96,
            F.when(F.col("s_stat") > 0, F.lit("INCREASING")).otherwise(
                F.lit("DECREASING")
            ),
        )
        .otherwise(F.lit("NO_TREND"))
        .alias("verdict"),
    )


@register(
    "w_pattern_vshape",
    """
    WITH daily AS (
      SELECT l_returnflag, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1, 2
    ),
    ctx AS (
      SELECT l_returnflag, d, cents,
             LAG(cents, 2) OVER w AS p2, LAG(cents, 1) OVER w AS p1,
             LEAD(cents, 1) OVER w AS f1, LEAD(cents, 2) OVER w AS f2
      FROM daily WINDOW w AS (PARTITION BY l_returnflag ORDER BY d)
    ),
    vs AS (
      SELECT l_returnflag, d, cents, p2, f2
      FROM ctx
      WHERE p2 > p1 AND p1 > cents AND cents < f1 AND f1 < f2
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_vshapes,
           ROUND(AVG((p2 - cents) / 100.0), 2) AS avg_drop_depth,
           ROUND(AVG((f2 - cents) / 100.0), 2) AS avg_recovery
    FROM vs GROUP BY l_returnflag
    """,
)
def w_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern matching (the MATCH_RECOGNIZE / Flink-CEP shape,
    expressed as a lag/lead kernel): V-shaped events — two strictly
    falling days into a trough followed by two strictly rising days — per
    series, with average depth and recovery. Fixed-length patterns over
    ordered sequences ARE window kernels: the five-point predicate runs
    in one partitioned window pass, no state machine and no self-joins;
    variable-length patterns are where applyInPandasWithState takes over
    (the rate limiter demonstrates that machinery). The count and depth
    are dip-buying / incident-recovery analytics."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("l_returnflag").orderBy("d")
    ctx = daily.select(
        "l_returnflag",
        "d",
        "cents",
        F.lag("cents", 2).over(w).alias("p2"),
        F.lag("cents", 1).over(w).alias("p1"),
        F.lead("cents", 1).over(w).alias("f1"),
        F.lead("cents", 2).over(w).alias("f2"),
    )
    vs = ctx.filter(
        (F.col("p2") > F.col("p1"))
        & (F.col("p1") > F.col("cents"))
        & (F.col("cents") < F.col("f1"))
        & (F.col("f1") < F.col("f2"))
    )
    return vs.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_vshapes"),
        F.round(F.avg((F.col("p2") - F.col("cents")) / 100.0), 2).alias(
            "avg_drop_depth"
        ),
        F.round(F.avg((F.col("f2") - F.col("cents")) / 100.0), 2).alias(
            "avg_recovery"
        ),
    )


@register(
    "w_component_beta",
    """
    WITH daily AS (
      SELECT l_returnflag, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               / 100.0 AS rev
      FROM lineitem GROUP BY 1, 2
    ),
    totals AS (
      SELECT d, SUM(rev) AS total FROM daily GROUP BY d
    )
    SELECT daily.l_returnflag,
           ROUND(COVAR_SAMP(daily.rev, totals.total)
                 / VAR_SAMP(totals.total), 6) AS beta,
           ROUND(CORR(daily.rev, totals.total), 6) AS corr_with_total,
           ROUND(AVG(daily.rev) / AVG(totals.total), 6) AS avg_share,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily JOIN totals ON daily.d = totals.d
    GROUP BY daily.l_returnflag
    """,
)
def w_component_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component beta: cov(component, total)/var(total) per revenue stream
    — how many dollars a component moves when the aggregate moves one
    (betas sum to 1 across components by construction, so they decompose
    aggregate volatility into ownership). A component whose beta exceeds
    its average share amplifies swings; one below dampens them — the
    portfolio lens applied to business lines. One day rollup, one
    day-keyed join to the totals, covariance folds per component."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        (
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
            ).cast("long")
            / 100.0
        ).alias("rev")
    )
    totals = daily.groupBy("d").agg(F.sum("rev").alias("total"))
    j = daily.join(totals, "d")
    return j.groupBy("l_returnflag").agg(
        F.round(
            F.covar_samp("rev", "total") / F.var_samp("total"), 6
        ).alias("beta"),
        F.round(F.corr("rev", "total"), 6).alias("corr_with_total"),
        F.round(F.avg("rev") / F.avg("total"), 6).alias("avg_share"),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "w_ljung_box",
    """
    WITH daily AS (
      SELECT l_returnflag, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1, 2
    ),
    lagged AS (
      SELECT l_returnflag, cents / 100.0 AS x,
             LAG(cents, 1) OVER w / 100.0 AS x1,
             LAG(cents, 2) OVER w / 100.0 AS x2,
             LAG(cents, 3) OVER w / 100.0 AS x3
      FROM daily WINDOW w AS (PARTITION BY l_returnflag ORDER BY d)
    ),
    acf AS (
      SELECT l_returnflag, CORR(x, x1) AS r1, CORR(x, x2) AS r2,
             CORR(x, x3) AS r3, CAST(COUNT(*) AS BIGINT) AS n
      FROM lagged GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND(n * (n + 2.0) * (r1 * r1 / (n - 1) + r2 * r2 / (n - 2)
                                  + r3 * r3 / (n - 3)), 4) AS q_stat,
           CASE WHEN n * (n + 2.0) * (r1 * r1 / (n - 1) + r2 * r2 / (n - 2)
                                      + r3 * r3 / (n - 3)) > 7.815
                THEN 'AUTOCORRELATED' ELSE 'WHITE' END AS verdict,
           n AS n_days
    FROM acf
    """,
)
def w_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (lags 1-3): Q = n(n+2)Σ ρ²ₖ/(n−k) against
    χ²(3) at 5% (7.815) — the joint 'is there ANY autocorrelation' test
    that individual ACF spikes can't give (three marginal ρ's each at 1.5σ
    jointly reject; Q aggregates the evidence), and the standard residual
    whiteness check after fitting any time-series model. Same
    rollup + lag + corr dataflow as w_acf_daily with one extra arithmetic
    row."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("l_returnflag").orderBy("d")
    lagged = daily.select(
        "l_returnflag",
        (F.col("cents") / 100.0).alias("x"),
        (F.lag("cents", 1).over(w) / 100.0).alias("x1"),
        (F.lag("cents", 2).over(w) / 100.0).alias("x2"),
        (F.lag("cents", 3).over(w) / 100.0).alias("x3"),
    )
    acf = lagged.groupBy("l_returnflag").agg(
        F.corr("x", "x1").alias("r1"),
        F.corr("x", "x2").alias("r2"),
        F.corr("x", "x3").alias("r3"),
        F.count(F.lit(1)).alias("n"),
    )
    q = (
        F.col("n")
        * (F.col("n") + 2.0)
        * (
            F.col("r1") * F.col("r1") / (F.col("n") - 1)
            + F.col("r2") * F.col("r2") / (F.col("n") - 2)
            + F.col("r3") * F.col("r3") / (F.col("n") - 3)
        )
    )
    return acf.select(
        "l_returnflag",
        F.round(q, 4).alias("q_stat"),
        F.when(q > 7.815, F.lit("AUTOCORRELATED"))
        .otherwise(F.lit("WHITE"))
        .alias("verdict"),
        F.col("n").alias("n_days"),
    )
