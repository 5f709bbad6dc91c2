"""Analytics/statistics queries (part 1/3) (split from queries.py — registration side-effect module)."""
from ortholog_pipeline_spark.queries._shared import (  # noqa: F401
    DD,
    DataFrame,
    F,
    IT,
    QC,
    RK,
    SK,
    SMP,
    SparkSession,
    Window,
    _BUCKET_SQL,
    _CM_D,
    _CM_W,
    _GRID_Q_SQL,
    _KMV_K,
    _KMV_NUM,
    _PROFILE_COLS,
    _global_rank,
    _t,
    register,
)

@register(
    "a_rollup_revenue",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT)       AS n_orders,
           ROUND(SUM(o_totalprice), 2)    AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def a_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals in ONE pass: detail, per-priority subtotal, and grand
    total via ROLLUP grouping sets — Spark expands these with a single shuffle
    (partial aggregation map-side per grouping set), vs three separate scans if
    written naively. gid disambiguates subtotal rows from genuine NULL keys."""
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "a_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6)  AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per event type (Spark `percentile`
    == DuckDB `quantile_cont`). Exact quantiles sort within the aggregate — at
    100 TB swap in approx_percentile (t-digest, mergeable map-side) and accept
    the documented error; this query pins the exact semantics."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "a_pivot_event_matrix",
    """
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS n_click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS n_view,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS n_signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS n_error
    FROM events GROUP BY user_id
    """,
)
def a_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User × event-type count matrix via pivot with EXPLICIT value list — the
    explicit list matters at scale: without it Spark runs an extra distinct scan
    to discover columns. One shuffle; counts become map-side partial aggs."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(f"n_{k}") for k in kinds],
    )


@register(
    "a_cube_shipping",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a_cube_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): detail + both one-dimension
    subtotals + grand total in a single shuffle (Spark expands the grouping
    sets map-side, so each input row fans out to 4 partial-agg rows — at scale
    prefer ROLLUP when the lattice isn't needed, since CUBE's fan-out is 2^n).
    gid disambiguates subtotal NULLs from genuine NULL keys."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "a_hll_distinct",
    """
    WITH h AS (
      SELECT l_returnflag,
             CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hash
      FROM lineitem
    ),
    b AS (
      SELECT l_returnflag, hash % 256 AS bucket,
             CASE WHEN hash // 256 = 0 THEN 53
                  ELSE 53 - length(bin(hash // 256)) END AS rho
      FROM h
    ),
    m AS (
      SELECT l_returnflag, bucket, MAX(rho) AS mj FROM b GROUP BY l_returnflag, bucket
    ),
    z AS (
      SELECT l_returnflag,
             SUM(CAST(1 AS BIGINT) << (52 - mj)) AS sum_present,
             CAST(COUNT(*) AS BIGINT) AS n_buckets
      FROM m GROUP BY l_returnflag
    ),
    e AS (
      SELECT l_returnflag,
             sum_present + (256 - n_buckets) * (CAST(1 AS BIGINT) << 52) AS sum_int
      FROM z
    )
    SELECT e.l_returnflag,
           ROUND(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
                 * CAST(65536.0 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
                 / CAST(sum_int AS DOUBLE), 4) AS hll_estimate,
           x.n_exact
    FROM e
    JOIN (SELECT l_returnflag, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact
          FROM lineitem GROUP BY l_returnflag) x USING (l_returnflag)
    """,
)
def a_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (m=256) distinct-orderkey estimate per returnflag,
    side-by-side with the exact count so the ~6.5% stderr is visible in the
    result. Unlike approx_count_distinct, every register bit is reproducible in
    any engine (md5 hash, integer bit-length rho, BIGINT harmonic sum) — the
    DuckDB oracle checks the ESTIMATE exactly, not approximately.

    Scale: the (group, bucket) register frame is the shuffle payload — ≤256
    rows per group regardless of input size, partial-agg max before the
    shuffle; store/union/re-max registers for cross-day mergeability. The exact
    countDistinct column is demo-only (it is the expensive side at 100 TB)."""
    li = _t(spark, sf_dir, "lineitem")
    est = SK.hll_distinct(li, "l_orderkey", ["l_returnflag"], m=256)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_exact")
    )
    return est.join(F.broadcast(exact), "l_returnflag")


@register(
    "a_histogram_equidepth",
    """
    WITH r AS (
      SELECT l_extendedprice,
             ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rnk,
             COUNT(*) OVER () AS n
      FROM lineitem
    )
    SELECT ((rnk - 1) * 10) // n AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi
    FROM r GROUP BY 1
    """,
)
def a_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bucket equal-frequency price histogram. The oracle uses the naive
    global ROW_NUMBER; the Spark side uses `ranking.global_rank` — range
    repartition + in-partition sort + Arrow-batch local indexing + prefix-sum
    offsets — so NO stage sees more than one partition's rows (the plan audit
    pins the absence of an unpartitioned window). Binning is exact integer
    arithmetic, `((rank-1)*B) div n`, so bin edges cannot float-drift."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return RK.equidepth_histogram(
        li,
        "l_extendedprice",
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        bins=10,
    )


@register(
    "a_heavy_hitters",
    """
    WITH t AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM t WHERE term <> ''
    GROUP BY term
    ORDER BY cnt DESC, term
    LIMIT 20
    """,
)
def a_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 most frequent corpus tokens. orderBy+limit compiles to
    TakeOrderedAndProject: each task keeps a 20-row heap and the driver merges
    heaps — no global sort, no single-partition window, safe at any corpus
    size (the groupBy(term) before it is the only real shuffle; map-side
    partial counts collapse the token stream first)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "term")
        .limit(20)
    )


@register(
    "a_profile_columns",
    " UNION ALL ".join(
        f"""
    SELECT '{c}' AS col_name,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           MIN(CAST({c} AS VARCHAR)) AS min_str,
           MAX(CAST({c} AS VARCHAR)) AS max_str
    FROM orders
    """
        for c in _PROFILE_COLS
    ),
)
def a_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile (null count, distinct count, lexicographic
    min/max) for four orders columns in ONE scan: 16 aggregates in a single
    agg row, unpivoted with stack(). String-cast min/max keeps the output
    schema uniform and engine-portable (long/date/varchar casts agree across
    engines; doubles deliberately excluded — float-to-string formatting does
    not). At 100 TB swap the exact countDistincts for `sketches.hll_registers`
    — same one-pass shape, mergeable across partitions."""
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(F.col(c).cast("string")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("string")).alias(f"mx_{c}"),
        ]
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', CAST(nn_{c} AS BIGINT), CAST(nd_{c} AS BIGINT), mn_{c}, mx_{c}"
        for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) "
        "AS (col_name, n_null, n_distinct, min_str, max_str)"
    )


@register(
    "a_quantile_grid",
    f"""
    WITH gg AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS g FROM events
    ),
    c AS (
      SELECT event_type, g, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM gg GROUP BY event_type, g
    ),
    cum AS (
      SELECT event_type, g,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY g) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM c
    )
    SELECT event_type,
           {_GRID_Q_SQL.format(p='0.50', alias='p50')},
           {_GRID_Q_SQL.format(p='0.95', alias='p95')},
           {_GRID_Q_SQL.format(p='0.99', alias='p99')}
    FROM cum GROUP BY event_type
    """,
)
def a_quantile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles on a fixed 0.01 value grid — the mergeable, deterministic
    scale path that `a_percentiles` (exact sort-based) cannot be at 100 TB.
    Value→grid-cell counts are an ordinary partial-agg groupBy; the cumulative
    walk runs over the GRID (≤ ~50k cells per group, bounded regardless of row
    count), so per-group state is grid-sized, mergeable across days like the
    HLL registers, and the answer is exact to grid resolution. All arithmetic
    integer or correctly-rounded — the DuckDB oracle matches bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("g"),
        )
        .groupBy("event_type", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wcum = Window.partitionBy("event_type").orderBy("g")
    wall = Window.partitionBy("event_type")
    cum = c.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(wall)
    )

    def q(p: float, alias: str):
        target = F.ceil(F.lit(p) * F.col("n"))
        return (
            F.min(F.when(F.col("cum") >= target, F.col("g"))).cast("double") / 100
        ).alias(alias)

    return cum.groupBy("event_type").agg(
        q(0.50, "p50"), q(0.95, "p95"), q(0.99, "p99")
    )


@register(
    "a_retention_cohorts",
    """
    WITH f AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS activity_week
      FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.activity_week) / 7 AS BIGINT)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY f.cohort_week, week_offset
    """,
)
def a_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by the week of their first
    event, counted once per (cohort_week, weeks-since-cohort) cell. Both week
    columns are Monday-truncated in both engines, so the day difference is an
    exact multiple of 7 and the /7 is exact in doubles. first-seen and the
    distinct activity grid are both user_id-keyed aggregates — one shuffle
    partitioning serves the whole plan; cells are bounded by weeks², not rows."""
    ev = _t(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    a = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("activity_week")
    ).distinct()
    return (
        a.join(f, "user_id")
        .select(
            "cohort_week",
            (F.datediff("activity_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@register(
    "a_validation_suite",
    """
    WITH o AS (
      SELECT ROUND(COUNT(o_custkey) / CAST(COUNT(*) AS DOUBLE), 6) AS m_comp,
             CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS DOUBLE) AS m_uniq,
             CAST(SUM(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 100000.0
                           THEN 1 ELSE 0 END) AS DOUBLE) AS m_price,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                           THEN 1 ELSE 0 END) AS DOUBLE) AS m_acc
      FROM orders
    ),
    l AS (
      SELECT CAST(SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
                           THEN 1 ELSE 0 END) AS DOUBLE) AS m_qty
      FROM lineitem
    ),
    r AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS m_ref
      FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    )
    SELECT * FROM (
      SELECT 'completeness:o_custkey' AS "check", m_comp AS metric,
             m_comp = 1.0 AS passed FROM o
      UNION ALL SELECT 'unique:o_orderkey', m_uniq, m_uniq = 0.0 FROM o
      UNION ALL SELECT 'range:o_totalprice', m_price, m_price = 0.0 FROM o
      UNION ALL SELECT 'accepted:o_orderstatus', m_acc, m_acc = 0.0 FROM o
      UNION ALL SELECT 'range:l_quantity', m_qty, m_qty = 0.0 FROM l
      UNION ALL SELECT 'referential:l_orderkey->o_orderkey', m_ref, m_ref = 0.0 FROM r
    ) ORDER BY "check"
    """,
)
def a_validation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: completeness/uniqueness/range/accepted
    checks compile into ONE conditional-agg scan per table (map-side partials,
    1-row shuffle) and referential integrity is a left-anti count — the shape a
    100 TB ingest validation runs before promoting a snapshot. The tall report
    is built plan-side (explode of the wide agg row), no driver collect."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    o_checks = QC.compile_checks(
        completeness=["o_custkey"],
        unique=["o_orderkey"],
        ranges=[("o_totalprice", 0.0, 100000.0)],
        accepted=[("o_orderstatus", ("O", "F", "P"))],
    )
    l_checks = QC.compile_checks(ranges=[("l_quantity", 1.0, 50.0)])
    return QC.validation_suite(
        [
            QC.single_pass_report(orders, o_checks),
            QC.single_pass_report(lineitem, l_checks),
            QC.referential_report(lineitem, orders, "l_orderkey", "o_orderkey"),
        ]
    )


@register(
    "a_anomaly_zscore",
    """
    WITH stats AS (
      SELECT event_type,
             AVG(value) AS mu,
             STDDEV_SAMP(value) AS sigma,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE s.sigma > 0 AND ABS((e.value - s.mu) / s.sigma) > 2.5
    """,
)
def a_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score anomaly flagging: one stats agg (map-side partials)
    broadcast back onto the stream — the monitoring shape for value outliers.
    Welford-free: mean/stddev from the built-in aggregates; only events beyond
    2.5 sigma survive. The z computation repeats identically in both engines;
    ties to the cut line are float-exact because mu/sigma derive from the same
    arithmetic."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    j = ev.join(F.broadcast(stats), "event_type").filter(
        (F.col("sigma") > 0)
        & (F.abs((F.col("value") - F.col("mu")) / F.col("sigma")) > 2.5)
    )
    return j.select(
        "event_id",
        "event_type",
        F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4).alias("z"),
    )


@register(
    "a_winsorize_normalize",
    """
    WITH b AS (
      SELECT c_nationkey,
             ROUND(quantile_cont(c_acctbal, 0.05), 6) AS p05,
             ROUND(quantile_cont(c_acctbal, 0.95), 6) AS p95
      FROM customer GROUP BY c_nationkey
    )
    SELECT c_custkey, c.c_nationkey,
           ROUND(LEAST(GREATEST(c_acctbal, p05), p95), 4) AS clipped,
           ROUND(CASE WHEN p95 = p05 THEN 0.5
                      ELSE (LEAST(GREATEST(c_acctbal, p05), p95) - p05)
                           / (p95 - p05) END, 6) AS norm
    FROM customer c JOIN b ON c.c_nationkey = b.c_nationkey
    """,
)
def a_winsorize_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorize (clip to p05/p95) + min-max normalize — the feature
    scaling every model-input pipeline runs. One exact-percentile agg per group
    (swap in approx_percentile at 100 TB), broadcast back onto the stream;
    clipping/normalizing is pure codegen arithmetic on the scan."""
    cust = _t(spark, sf_dir, "customer")
    b = cust.groupBy("c_nationkey").agg(
        F.round(F.expr("percentile(c_acctbal, 0.05)"), 6).alias("p05"),
        F.round(F.expr("percentile(c_acctbal, 0.95)"), 6).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("c_acctbal"), F.col("p05")), F.col("p95"))
    return cust.join(F.broadcast(b), "c_nationkey").select(
        "c_custkey",
        "c_nationkey",
        F.round(clipped, 4).alias("clipped"),
        F.round(
            F.when(F.col("p95") == F.col("p05"), F.lit(0.5)).otherwise(
                (clipped - F.col("p05")) / (F.col("p95") - F.col("p05"))
            ),
            6,
        ).alias("norm"),
    )


@register(
    "a_pareto_customers",
    """
    WITH r AS (
      SELECT o_custkey AS c_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY o_custkey
    ),
    c AS (
      SELECT c_custkey, rev_cents,
             SUM(rev_cents) OVER (
               ORDER BY rev_cents DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_cents,
             SUM(rev_cents) OVER () AS total_cents
      FROM r
    )
    SELECT c_custkey, rev_cents, CAST(cum_cents AS BIGINT) AS cum_cents
    FROM c WHERE cum_cents - rev_cents < 0.8 * total_cents
    """,
)
def a_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: the smallest prefix of customers (by revenue,
    descending) covering 80% of total revenue. The oracle's naive
    `SUM OVER (ORDER BY ...)` is a single-partition window; the engine runs
    the distributed two-phase prefix sum (`ranking.global_prefix_sum`:
    range-partition + Arrow local sums + broadcast offsets) over integer
    cents, so the cumulative pass scales. The 80% threshold check is exact
    integer x 0.8 arithmetic in both engines."""
    from ortholog_pipeline_spark.operators.ranking import global_prefix_sum

    orders = _t(spark, sf_dir, "orders")
    # consumed twice (total aggregate + prefix-sum pipeline) — checkpoint so the
    # orders scan+agg runs once
    r = IT.round_checkpoint(orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    ))
    # total FIRST: the collect materializes the checkpointed r, so every job
    # the prefix sum launches (range sampling, local sums, offsets) reads the
    # stored blocks instead of re-running the orders aggregation
    total = r.agg(F.sum("rev_cents")).collect()[0][0]
    # total order: revenue DESC then custkey — encode as (-rev, key) ascending
    r2 = r.withColumn("_negrev", -F.col("rev_cents"))
    # the input is ALREADY one groupBy smaller than orders (|customers| rows):
    # 8 range partitions amortize the per-partition Python-stage overhead at
    # this volume; the knob scales with |customers| on a real cluster
    cum = global_prefix_sum(
        r2, ["_negrev", "c_custkey"], "rev_cents", out_col="cum_cents",
        num_partitions=8,
    )
    return (
        cum.filter(
            (F.col("cum_cents") - F.col("rev_cents"))
            < F.lit(0.8) * F.lit(total)
        )
        .select("c_custkey", "rev_cents", "cum_cents")
    )


@register(
    "a_event_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type, next_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type)
                                 AS DOUBLE), 6) AS p
    FROM s WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def a_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    LEAD over the (user, time) window pairs consecutive events (one shuffle on
    user), then a count + per-source normalization. The transition matrix is
    event-type² small, so the normalizing window runs on a tiny frame."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    cnt = s.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("event_type")
    return cnt.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt).cast("double"), 6).alias("p"),
    )


@register(
    "a_ab_test_welch",
    f"""
    WITH assigned AS (
      SELECT CASE WHEN ({_BUCKET_SQL.format(key='user_id').replace("'s0'", "'ab'")})
                  < 500000 THEN 'A' ELSE 'B' END AS arm,
             value
      FROM events WHERE event_type = 'purchase'
    ),
    s AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             AVG(value) AS mu,
             VAR_SAMP(value) AS v
      FROM assigned GROUP BY arm
    )
    SELECT a.n AS n_a, b.n AS n_b,
           ROUND(a.mu, 6) AS mean_a, ROUND(b.mu, 6) AS mean_b,
           ROUND((a.mu - b.mu) / sqrt(a.v / a.n + b.v / b.n), 4) AS t_welch
    FROM s a, s b WHERE a.arm = 'A' AND b.arm = 'B'
    """,
)
def a_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: users hash into A/B arms (the same md5 coin as
    the sampling operators, so assignment is engine- and rerun-stable), then
    Welch's t over purchase values — one conditional aggregation, one 2-row
    self-join. The arm assignment being a pure hash expression is the point:
    no assignment table to join at 100 TB."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    arm = F.when(
        SMP.sample_bucket(F.col("user_id"), "ab") < SMP.BUCKETS // 2, "A"
    ).otherwise("B")
    s = (
        ev.select(arm.alias("arm"), "value")
        .groupBy("arm")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("mu"),
            F.var_samp("value").alias("v"),
        )
    )
    a = s.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("mu").alias("mu_a"), F.col("v").alias("v_a")
    )
    b = s.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("mu").alias("mu_b"), F.col("v").alias("v_b")
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        F.round("mu_a", 6).alias("mean_a"),
        F.round("mu_b", 6).alias("mean_b"),
        F.round(
            (F.col("mu_a") - F.col("mu_b"))
            / F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")),
            4,
        ).alias("t_welch"),
    )


@register(
    "a_countmin_freq",
    f"""
    WITH d AS (SELECT unnest([0, 1, 2, 3]) AS depth),
    h AS (
      SELECT depth,
             (CAST(('0x' || substr(md5('cm|' || CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT)
               >> (depth * 13)) % {_CM_W} AS slot
      FROM lineitem, d
    ),
    sk AS (SELECT depth, slot, CAST(COUNT(*) AS BIGINT) AS cnt FROM h GROUP BY depth, slot),
    ex AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_exact FROM lineitem GROUP BY 1
      ORDER BY n_exact DESC, l_partkey LIMIT 20
    ),
    pr AS (
      SELECT ex.l_partkey, ex.n_exact, d.depth,
             (CAST(('0x' || substr(md5('cm|' || CAST(ex.l_partkey AS VARCHAR)), 1, 15)) AS BIGINT)
               >> (d.depth * 13)) % {_CM_W} AS slot
      FROM ex, d
    )
    SELECT pr.l_partkey, pr.n_exact, MIN(sk.cnt) AS cm_estimate
    FROM pr JOIN sk USING (depth, slot)
    GROUP BY 1, 2
    """,
)
def a_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (w=8192, d=4) frequency estimates for the 20 hottest
    part keys, side-by-side with exact counts so the overestimate bias is
    visible. Every counter is md5-derived → the DuckDB oracle checks the
    ESTIMATES exactly, not approximately.

    Scale: the sketch shuffle is bounded by d·w counter rows per map partition
    (partial agg combines first) — frequency estimation over 100 TB moves ~128 KB
    per partition. Mergeable across days by summing counters. The exact top-20
    here is demo-only contrast (it is the expensive side at scale; a real
    deployment keeps the sketch + a heavy-hitters heap instead)."""
    li = _t(spark, sf_dir, "lineitem")
    sketch = SK.cm_sketch(li, "l_partkey", width=_CM_W, depth=_CM_D)
    # the 20-row exact-contrast frame feeds both the probe and the final join —
    # checkpoint so its full-table aggregation runs once, not twice
    top = IT.round_checkpoint(
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), "l_partkey")
        .limit(20)
    )
    est = SK.cm_estimate(sketch, top, "l_partkey", width=_CM_W, depth=_CM_D)
    return top.join(est, "l_partkey").select("l_partkey", "n_exact", "cm_estimate")


@register(
    "a_kmv_set_ops",
    f"""
    WITH g AS (
      SELECT DISTINCT year(o_orderdate) AS grp, o_custkey
      FROM orders WHERE year(o_orderdate) IN (1995, 1996)
    ),
    hd AS (
      SELECT DISTINCT grp,
             CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM g
    ),
    sk AS (
      SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM hd
      QUALIFY rn <= {_KMV_K}
    ),
    est AS (
      SELECT grp,
             CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE CAST({int(_KMV_NUM)} AS DOUBLE) / CAST(MAX(h) AS DOUBLE) END AS kmv_estimate
      FROM sk GROUP BY grp
    ),
    mg AS (SELECT h, COUNT(*) AS n_grps FROM sk GROUP BY h),
    tu AS (SELECT h, n_grps FROM mg ORDER BY h LIMIT {_KMV_K}),
    ua AS (
      SELECT MAX(h) AS h_k,
             CAST(SUM(CASE WHEN n_grps = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      FROM tu
    ),
    ex AS (
      SELECT CAST(COUNT(DISTINCT CASE WHEN grp = 1995 THEN o_custkey END) AS BIGINT) AS n_exact_1995,
             CAST(COUNT(DISTINCT CASE WHEN grp = 1996 THEN o_custkey END) AS BIGINT) AS n_exact_1996
      FROM g
    ),
    xi AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_intersect FROM (
        SELECT o_custkey FROM g GROUP BY o_custkey HAVING COUNT(*) = 2
      )
    )
    SELECT ROUND(e95.kmv_estimate, 4) AS est_1995,
           ROUND(e96.kmv_estimate, 4) AS est_1996,
           ex.n_exact_1995, ex.n_exact_1996,
           ROUND(ua.n_both / {_KMV_K}.0, 6) AS jaccard_est,
           ROUND((ua.n_both / {_KMV_K}.0) * (CAST({int(_KMV_NUM)} AS DOUBLE) / CAST(ua.h_k AS DOUBLE)), 4) AS intersect_est,
           xi.n_exact_intersect
    FROM (SELECT kmv_estimate FROM est WHERE grp = 1995) e95,
         (SELECT kmv_estimate FROM est WHERE grp = 1996) e96, ua, ex, xi
    """,
)
def a_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k, k=128) distinct sketches for the 1995 and 1996 customer
    sets, including what HLL cannot do: a set INTERSECTION estimate (Jaccard
    from the k smallest hashes of the merged sketch × the union estimate),
    with exact counts alongside. md5 hashing → the DuckDB oracle reproduces
    every sketch row and checks the estimates bit-for-bit.

    Scale: per-group state is k rows (the rank filter compiles to
    WindowGroupLimit — no full per-group sort output); merging sketches is a
    union + re-rank over 2k rows. The exact columns are demo-only contrast."""
    od = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate").isin(1995, 1996))
    grp = od.select(F.year("o_orderdate").alias("grp"), "o_custkey")
    sk = SK.kmv_sketch(grp, "o_custkey", ["grp"], k=_KMV_K)
    ests = SK.kmv_distinct_estimate(sk, ["grp"], k=_KMV_K)
    e95 = ests.filter(F.col("grp") == 1995).select(
        F.round("kmv_estimate", 4).alias("est_1995")
    )
    e96 = ests.filter(F.col("grp") == 1996).select(
        F.round("kmv_estimate", 4).alias("est_1996")
    )
    merged = sk.groupBy("h").agg(F.count(F.lit(1)).alias("n_grps"))
    ua = (
        merged.orderBy("h")
        .limit(_KMV_K)
        .agg(
            F.max("h").alias("h_k"),
            F.sum((F.col("n_grps") == 2).cast("long")).alias("n_both"),
        )
    )
    gd = grp.distinct()
    ex = gd.agg(
        F.countDistinct(
            F.when(F.col("grp") == 1995, F.col("o_custkey"))
        ).alias("n_exact_1995"),
        F.countDistinct(
            F.when(F.col("grp") == 1996, F.col("o_custkey"))
        ).alias("n_exact_1996"),
    )
    xi = (
        gd.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("ny"))
        .filter(F.col("ny") == 2)
        .agg(F.count(F.lit(1)).alias("n_exact_intersect"))
    )
    union_est = F.lit(_KMV_NUM) / F.col("h_k").cast("double")
    return (
        e95.crossJoin(e96)
        .crossJoin(ex)
        .crossJoin(ua)
        .crossJoin(xi)
        .select(
            "est_1995",
            "est_1996",
            "n_exact_1995",
            "n_exact_1996",
            F.round(F.col("n_both") / F.lit(float(_KMV_K)), 6).alias("jaccard_est"),
            F.round(
                (F.col("n_both") / F.lit(float(_KMV_K))) * union_est, 4
            ).alias("intersect_est"),
            "n_exact_intersect",
        )
    )


@register(
    "a_cm_join_size",
    f"""
    WITH d AS (SELECT unnest([0, 1, 2, 3]) AS depth),
    ho AS (
      SELECT depth,
             (CAST(('0x' || substr(md5('cm|' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
               >> (depth * 13)) % {_CM_W} AS slot
      FROM orders, d WHERE o_orderstatus = 'F'
    ),
    hl AS (
      SELECT depth,
             (CAST(('0x' || substr(md5('cm|' || CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
               >> (depth * 13)) % {_CM_W} AS slot
      FROM lineitem, d
    ),
    so AS (SELECT depth, slot, CAST(COUNT(*) AS BIGINT) AS cnt_o FROM ho GROUP BY depth, slot),
    sl AS (SELECT depth, slot, CAST(COUNT(*) AS BIGINT) AS cnt_l FROM hl GROUP BY depth, slot),
    prod AS (
      SELECT so.depth, CAST(SUM(cnt_o * cnt_l) AS BIGINT) AS est
      FROM so JOIN sl ON so.depth = sl.depth AND so.slot = sl.slot
      GROUP BY so.depth
    ),
    est AS (SELECT MIN(est) AS est_join_size FROM prod),
    ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    )
    SELECT est.est_join_size, ex.n_exact FROM est, ex
    """,
)
def a_cm_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from Count-Min sketches (the AMS/CM inner
    product): |A ⋈ B on key| ≈ min over depths of Σ_slot cntA·cntB. This is
    how a planner sizes a join WITHOUT running it — each side is sketched
    independently (possibly on different days), and the dot product runs over
    ≤ d·w counter rows. The exact join count is computed alongside so the
    (upward-biased) estimate is auditable; both are integers, so the DuckDB
    oracle checks the estimate exactly."""
    od = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    so = SK.cm_sketch(od, "o_orderkey", width=_CM_W, depth=_CM_D).withColumnRenamed(
        "cnt", "cnt_o"
    )
    sl = SK.cm_sketch(li, "l_orderkey", width=_CM_W, depth=_CM_D).withColumnRenamed(
        "cnt", "cnt_l"
    )
    est = (
        so.join(sl, ["depth", "slot"])
        .groupBy("depth")
        .agg(F.sum(F.col("cnt_o") * F.col("cnt_l")).alias("est"))
        .agg(F.min("est").alias("est_join_size"))
    )
    ex = (
        od.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return est.crossJoin(ex)


@register(
    "a_k_anonymity",
    """
    SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS group_size
    FROM customer GROUP BY 1, 2 HAVING COUNT(*) < 10
    """,
)
def a_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment) quasi-identifier:
    every equivalence class smaller than k=10 — the rows a release would have
    to suppress or generalize. One aggregation with map-side combine; the
    HAVING filter runs post-agg on the tiny group frame."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < 10)
    )


@register(
    "a_target_encoding",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (SELECT CAST(SUM(y) AS BIGINT) AS gk, CAST(COUNT(*) AS BIGINT) AS gn FROM j),
    s AS (
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(SUM(y) AS BIGINT) AS n_pos
      FROM j GROUP BY segment
    )
    SELECT segment, n_rows, n_pos,
           ROUND(CAST(gk AS DOUBLE) / gn, 6) AS prior,
           ROUND((n_pos + 50.0 * gk / gn) / (n_rows + 50.0), 6) AS encoded
    FROM s, g
    """,
)
def a_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding — the standard categorical-feature prep
    for tabular ML: per-category positive rate shrunk toward the global prior
    with additive smoothing m=50, so rare categories don't memorize their few
    labels. One fact-side aggregation after a broadcast dimension join; the
    1-row global prior broadcasts back. Every input to the two divisions is an
    exact integer and the expression tree is written identically in both
    engines, so the encoded values hash-match bit-for-bit."""
    od = _t(spark, sf_dir, "orders").select(
        "o_custkey", (F.col("o_orderstatus") == "F").cast("int").alias("y")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = od.join(
        F.broadcast(cust), od.o_custkey == cust.c_custkey
    ).select(F.col("c_mktsegment").alias("segment"), "y")
    g = j.agg(
        F.sum("y").cast("long").alias("gk"), F.count(F.lit(1)).alias("gn")
    )
    s = j.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("y").cast("long").alias("n_pos")
    )
    return s.crossJoin(F.broadcast(g)).select(
        "segment",
        "n_rows",
        "n_pos",
        F.round(F.col("gk").cast("double") / F.col("gn"), 6).alias("prior"),
        F.round(
            (F.col("n_pos") + F.lit(50.0) * F.col("gk") / F.col("gn"))
            / (F.col("n_rows") + F.lit(50.0)),
            6,
        ).alias("encoded"),
    )


@register(
    "a_drift_chi2",
    """
    WITH lab AS (
      SELECT event_type,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 'a' ELSE 'b' END AS period
      FROM events
    ),
    c AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM lab GROUP BY event_type
    ),
    cb AS (SELECT * FROM c WHERE na > 0),
    t AS (SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb,
                 CAST(COUNT(*) AS BIGINT) AS n_types FROM cb),
    arr AS (
      SELECT list({'event_type': event_type, 'na': na, 'nb': nb} ORDER BY event_type) AS xs FROM cb
    )
    SELECT ROUND(list_sum(list_transform(arr.xs, x ->
             ((x.nb - (t.tb * x.na / CAST(t.ta AS DOUBLE)))
              * (x.nb - (t.tb * x.na / CAST(t.ta AS DOUBLE))))
             / (t.tb * x.na / CAST(t.ta AS DOUBLE)))), 6) AS chi2,
           t.n_types - 1 AS dof, t.ta AS n_period_a, t.tb AS n_period_b
    FROM arr, t
    """,
)
def a_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift monitor: Pearson chi-square between the event-type
    distribution of the first half of the window and the second half —
    the release-gate statistic for "did the traffic mix shift". Counts
    aggregate distributedly (integers, order-free); the float fold runs ONCE
    over the event-type-ORDERED array of per-type counts, so the summation
    order is pinned and Spark/DuckDB produce the identical double (the same
    ordered-fold trick the EWMA oracle uses — never a float SUM() across
    partitions)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.to_date("ts") < F.lit("2024-01-16").cast("date"), "a")
        .otherwise("b")
        .alias("period"),
    )
    c = ev.groupBy("event_type").agg(
        F.sum((F.col("period") == "a").cast("int")).cast("long").alias("na"),
        F.sum((F.col("period") == "b").cast("int")).cast("long").alias("nb"),
    ).filter(F.col("na") > 0)  # chi2 defined only for baseline-present types
    t = c.agg(
        F.sum("na").alias("ta"),
        F.sum("nb").alias("tb"),
        F.count(F.lit(1)).alias("n_types"),
    )
    arr = c.agg(
        F.sort_array(F.collect_list(F.struct("event_type", "na", "nb"))).alias("xs")
    )
    e = lambda x: F.col("tb") * x["na"] / F.col("ta").cast("double")  # noqa: E731
    chi2 = F.aggregate(
        F.col("xs"),
        F.lit(0.0),
        lambda acc, x: acc + ((x["nb"] - e(x)) * (x["nb"] - e(x))) / e(x),
    )
    return arr.crossJoin(F.broadcast(t)).select(
        F.round(chi2, 6).alias("chi2"),
        (F.col("n_types") - 1).alias("dof"),
        F.col("ta").alias("n_period_a"),
        F.col("tb").alias("n_period_b"),
    )


@register(
    "a_grouped_linreg",
    """
    WITH e AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
             CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM e GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) AS slope_per_day,
           ROUND((CAST(sy AS DOUBLE) / n
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * (CAST(sx AS DOUBLE) / n)) / 100.0, 6) AS intercept,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
    FROM s
    """,
)
def a_grouped_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (is each event type's value trending?):
    slope, intercept, and R² of value against day index. The five sufficient
    statistics (Σx, Σy, Σxy, Σx², Σy²) accumulate as EXACT integers (day
    index × value cents), so the distributed partial aggregation is
    order-insensitive and the closed-form float math happens once per group on
    identical inputs in both engines — the same no-float-accumulation rule the
    whole registry follows. One map-side-combined shuffle on event_type; at
    100 TB this is the textbook mergeable-statistics aggregate (regr_slope et
    al. compute the same five sums internally, but float-accumulated)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = cov / varx
    return s.select(
        "event_type",
        "n",
        F.round(slope / 100.0, 6).alias("slope_per_day"),
        F.round(
            (F.col("sy").cast("double") / F.col("n")
             - slope * (F.col("sx").cast("double") / F.col("n"))) / 100.0,
            6,
        ).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


@register(
    "a_mad_outliers",
    """
    WITH e AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(cents, 0.5) AS med
      FROM e GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.cents, med.med, ABS(e.cents - med.med) AS dev
      FROM e JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT dev.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(dev.med) / 100.0, 6) AS median_value,
           ROUND(MIN(mad.mad) / 100.0, 6) AS mad_value,
           CAST(SUM(CASE WHEN dev.dev > 3 * 1.4826 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    """,
)
def a_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: a value is an
    outlier when |x - median| > 3 · 1.4826 · MAD (the Hampel filter; 1.4826
    scales MAD to sigma under normality). Two exact-median aggregations with a
    broadcast join of the 5-row group-median table between them; values are
    exact integer cents so both engines interpolate medians over identical
    inputs and the threshold comparison is on identical doubles. At 100 TB the
    exact medians swap for approx_percentile (mergeable t-digest) with the
    same dataflow — pinned here in the exact form so the swap is testable."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("med") / 100.0, 6).alias("median_value"),
            F.round(F.min("mad") / 100.0, 6).alias("mad_value"),
            F.sum(
                (F.col("dev") > F.lit(3) * F.lit(1.4826) * F.col("mad")).cast(
                    "int"
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@register(
    "a_decile_lift",
    """
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS score,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS responder
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT user_id, score, responder,
             NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
      FROM u
    ),
    agg AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(responder) AS BIGINT) AS n_responders
      FROM d GROUP BY decile
    ),
    tot AS (
      SELECT SUM(n_users) AS tu, SUM(n_responders) AS tr FROM agg
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_users, n_responders,
           ROUND(CAST(n_responders AS DOUBLE) / n_users, 6) AS response_rate,
           ROUND(CAST(n_responders * tot.tu AS DOUBLE)
                 / (CAST(n_users AS DOUBLE) * tot.tr), 6) AS lift
    FROM agg, tot
    """,
)
def a_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation lift/gains table: users ranked by score (total spend
    in exact cents), cut into deciles, each decile's response rate compared to
    the population rate. Lift computes from four exact integers
    (n_resp·total_users / n_users·total_resp) so no float accumulates. NTILE
    here is a single-partition window over the USER table — the already-
    aggregated model-scoring table, orders of magnitude smaller than events;
    for a 10^9-user table the distributed global-rank operator
    (ranking.global_rank, pinned by a_histogram_equidepth) replaces it."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("score"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("responder"),
    )
    d = u.select(
        "responder",
        F.ntile(10)
        .over(Window.orderBy(F.col("score").desc(), F.col("user_id")))
        .cast("long")
        .alias("decile"),
    )
    agg = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("responder").cast("long").alias("n_responders"),
    )
    tot = agg.agg(
        F.sum("n_users").alias("tu"), F.sum("n_responders").alias("tr")
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_users",
        "n_responders",
        F.round(F.col("n_responders").cast("double") / F.col("n_users"), 6).alias(
            "response_rate"
        ),
        F.round(
            (F.col("n_responders") * F.col("tu")).cast("double")
            / (F.col("n_users").cast("double") * F.col("tr")),
            6,
        ).alias("lift"),
    )


@register(
    "a_seasonality_dow",
    """
    WITH e AS (
      SELECT event_type,
             (CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 4) % 7 AS dow
      FROM events
    ),
    c AS (
      SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY event_type, dow
    ),
    t AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY event_type
    )
    SELECT c.event_type, CAST(c.dow AS BIGINT) AS dow, c.n,
           ROUND(CAST(c.n AS DOUBLE) / t.total, 6) AS share,
           ROUND(CAST(c.n * 7 AS DOUBLE) / t.total, 6) AS seasonal_index
    FROM c JOIN t ON c.event_type = t.event_type
    """,
)
def a_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type: share of the type's
    traffic on each weekday and the seasonal index (share x 7; 1.0 = flat).
    Weekday computes ARITHMETICALLY — (epoch_day + 4) mod 7, 0 = Sunday —
    instead of via each engine's dayofweek() (whose 0-vs-1 base and
    week-start conventions differ), so parity is by construction. Two
    map-side-combined integer aggregations and a 5-row broadcast join."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (
            (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) + 4) % 7
        )
        .cast("long")
        .alias("dow"),
    )
    c = ev.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("event_type").agg(F.sum("n").alias("total"))
    return c.join(F.broadcast(t), "event_type").select(
        "event_type",
        "dow",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        F.round((F.col("n") * 7).cast("double") / F.col("total"), 6).alias(
            "seasonal_index"
        ),
    )


@register(
    "a_gini_concentration",
    """
    WITH r AS (
      SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rk FROM r
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total,
             CAST(SUM(rk * cents) AS BIGINT) AS weighted
      FROM ranked
    )
    SELECT n AS n_customers, total AS total_cents,
           ROUND(CAST(2 * weighted - (n + 1) * total AS DOUBLE)
                 / (CAST(n AS DOUBLE) * total), 6) AS gini
    FROM s
    """,
)
def a_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the exact
    rank-weighted formula G = (2·Σ rank·y − (n+1)·Σy) / (n·Σy) over revenues
    sorted ascending. The global rank comes from the DISTRIBUTED rank operator
    (range-repartition + per-partition Arrow index + broadcast prefix offsets
    — ranking.py), never a single-partition ROW_NUMBER() OVER (): the oracle's
    naive window is the semantic spec, the Spark plan is the 100 TB shape (the
    same contrast a_histogram_equidepth pins). All accumulations are exact
    integers; the one float division happens on a single row."""
    orders = _t(spark, sf_dir, "orders")
    r = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    ranked = _global_rank(r, ["cents", "o_custkey"], rank_col="rk")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total"),
        F.sum(F.col("rk") * F.col("cents")).alias("weighted"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        F.round(
            (2 * F.col("weighted") - (F.col("n") + 1) * F.col("total")).cast("double")
            / (F.col("n").cast("double") * F.col("total")),
            6,
        ).alias("gini"),
    )


@register(
    "a_time_to_convert",
    """
    WITH su AS (
      SELECT user_id, MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS signup_sec
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    pu AS (
      SELECT e.user_id, MIN(CAST(FLOOR(epoch(e.ts)) AS BIGINT)) AS conv_sec
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(FLOOR(epoch(e.ts)) AS BIGINT) >= su.signup_sec
      GROUP BY e.user_id
    ),
    d AS (
      SELECT su.user_id, pu.conv_sec - su.signup_sec AS delta_sec
      FROM su LEFT JOIN pu ON su.user_id = pu.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_signup_users,
           CAST(COUNT(delta_sec) AS BIGINT) AS n_converted,
           ROUND(CAST(COUNT(delta_sec) AS DOUBLE) / COUNT(*), 6) AS conversion_rate,
           ROUND(quantile_cont(delta_sec, 0.25), 6) AS p25_sec,
           ROUND(quantile_cont(delta_sec, 0.5), 6)  AS p50_sec,
           ROUND(quantile_cont(delta_sec, 0.75), 6) AS p75_sec
    FROM d
    """,
)
def a_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion latency: per user, the gap between first
    signup and first subsequent purchase; reported as conversion rate plus
    exact latency quartiles. Both "first" reductions are MIN aggregates over
    integer seconds (order-free, partial-agg'd map-side); the signup table
    joins in as the small side. The exact quantiles sort within one aggregate
    — at 100 TB approx_percentile replaces them (mergeable), with this query
    pinning the exact target."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("long").alias("sec")
    )
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("sec").alias("signup_sec"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(su), "user_id")
        .filter(F.col("sec") >= F.col("signup_sec"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("conv_sec"))
    )
    d = su.join(pu, "user_id", "left").select(
        "user_id", (F.col("conv_sec") - F.col("signup_sec")).alias("delta_sec")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_signup_users"),
        F.count("delta_sec").alias("n_converted"),
        F.round(
            F.count("delta_sec").cast("double") / F.count(F.lit(1)), 6
        ).alias("conversion_rate"),
        F.round(F.expr("percentile(delta_sec, 0.25)"), 6).alias("p25_sec"),
        F.round(F.expr("percentile(delta_sec, 0.5)"), 6).alias("p50_sec"),
        F.round(F.expr("percentile(delta_sec, 0.75)"), 6).alias("p75_sec"),
    )


@register(
    "a_decayed_popularity",
    """
    WITH w AS (
      SELECT l_partkey,
             1000000 // GREATEST(1, 1 + (DATE '2002-01-01'
                              - CAST(l_shipdate AS DATE))) AS decay_w
      FROM lineitem
    ),
    s AS (
      SELECT l_partkey, CAST(SUM(decay_w) AS BIGINT) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_ships
      FROM w GROUP BY l_partkey
    ),
    r AS (
      SELECT l_partkey, score, n_ships,
             ROW_NUMBER() OVER (ORDER BY score DESC, l_partkey) AS rn
      FROM s
    )
    SELECT l_partkey, score, n_ships, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 20
    """,
)
def a_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted (hyperbolically decayed) item popularity: each
    shipment contributes 10⁶/(1+age_days), INTEGER-divided so the per-item
    score is an exact integer sum — the trending-items ranking that a float
    exp-decay would make engine- and order-dependent. One partial-agg shuffle
    on part key, then a heap-merged global top-20 (TakeOrderedAndProject with
    the part key as integer tiebreak — never a single-partition window)."""
    li = _t(spark, sf_dir, "lineitem")
    ref = F.lit("2002-01-01").cast("date")
    w = li.select(
        "l_partkey",
        F.floor(
            F.lit(1000000)
            / F.greatest(
                F.lit(1), 1 + F.datediff(ref, F.to_date("l_shipdate"))
            )
        )
        .cast("long")
        .alias("decay_w"),
    )
    s = w.groupBy("l_partkey").agg(
        F.sum("decay_w").alias("score"), F.count(F.lit(1)).alias("n_ships")
    )
    top = s.orderBy(F.col("score").desc(), F.col("l_partkey")).limit(20)
    return top.select(
        "l_partkey",
        "score",
        "n_ships",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("l_partkey")))
        .cast("long")
        .alias("rn"),
    )


@register(
    "a_prospect_nations",
    """
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    avg_pos AS (
      SELECT CAST(SUM(bal_cents) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM c WHERE bal_cents > 0
    ),
    prospects AS (
      SELECT c.c_custkey, c.c_nationkey, c.bal_cents
      FROM c, avg_pos
      WHERE c.bal_cents * avg_pos.n > avg_pos.total
        AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_prospects,
           CAST(SUM(bal_cents) AS BIGINT) AS total_bal_cents
    FROM prospects GROUP BY c_nationkey
    """,
)
def a_prospect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — wealthy customers who never ordered, by nation: the
    global scalar average becomes a 1-row broadcast, the above-average test
    cross-multiplies into exact integers (bal·n > Σbal — no float mean), and
    NOT EXISTS is a LEFT ANTI join on the order's customer key. The anti join
    probe side carries only distinct custkeys; everything aggregates
    map-side-combined on the 25-key nation dimension."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    orders = _t(spark, sf_dir, "orders")
    avg_pos = cust.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("total"), F.count(F.lit(1)).alias("n")
    )
    prospects = (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("bal_cents") * F.col("n") > F.col("total"))
        .join(
            orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
            "c_custkey",
            "left_anti",
        )
    )
    return prospects.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).alias("n_prospects"),
        F.sum("bal_cents").alias("total_bal_cents"),
    )


@register(
    "a_survival_curve",
    """
    WITH u AS (
      SELECT user_id,
             CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) AS BIGINT)
               AS lifetime_days
      FROM events GROUP BY user_id
    ),
    t AS (SELECT unnest([0, 1, 3, 7, 14, 21, 30]) AS horizon),
    s AS (
      SELECT CAST(t.horizon AS BIGINT) AS horizon_days,
             CAST(SUM(CASE WHEN u.lifetime_days >= t.horizon THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_surviving,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM u CROSS JOIN t GROUP BY t.horizon
    )
    SELECT horizon_days, n_surviving, n_users,
           ROUND(CAST(n_surviving AS DOUBLE) / n_users, 6) AS survival
    FROM s
    """,
)
def a_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime survival curve (the retention analyst's Kaplan-Meier
    without censoring): share of users whose observed lifetime — last minus
    first active day — reaches each horizon. One user-keyed min/max
    aggregation, then a 7-row horizon grid joined by broadcast; all counts
    exact integers, one division per output row. The per-user reduction is the
    only data-sized shuffle regardless of scale."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    u = ev.groupBy("user_id").agg(
        F.datediff(F.max("day"), F.min("day")).cast("long").alias("lifetime_days")
    )
    horizons = spark.createDataFrame(
        [(h,) for h in (0, 1, 3, 7, 14, 21, 30)], schema="horizon_days long"
    )
    s = u.crossJoin(F.broadcast(horizons)).groupBy("horizon_days").agg(
        F.sum((F.col("lifetime_days") >= F.col("horizon_days")).cast("int"))
        .cast("long")
        .alias("n_surviving"),
        F.count(F.lit(1)).alias("n_users"),
    )
    return s.select(
        "horizon_days",
        "n_surviving",
        "n_users",
        F.round(
            F.col("n_surviving").cast("double") / F.col("n_users"), 6
        ).alias("survival"),
    )


@register(
    "a_diversity_gini_simpson",
    """
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang
    ),
    s AS (
      SELECT source,
             CAST(SUM(n) AS BIGINT) AS total,
             CAST(SUM(n * n) AS BIGINT) AS sum_sq,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM c GROUP BY source
    )
    SELECT source, total, n_langs,
           ROUND(1.0 - CAST(sum_sq AS DOUBLE) / (CAST(total AS DOUBLE) * total), 6)
             AS gini_simpson,
           ROUND(CAST(total AS DOUBLE) * total / sum_sq, 6) AS effective_langs
    FROM s
    """,
)
def a_diversity_gini_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity per source: the Gini-Simpson index (probability two
    random documents differ in language, 1 − Σp²) and the effective number of
    languages (inverse Simpson) — the mixture-health metrics a pretraining
    curator tracks per data source. Deliberately NOT Shannon entropy: entropy
    needs ln(), whose last-ulp varies across libm builds, while Σn² is an
    exact integer and both indices are single correctly-rounded divisions —
    the registry's no-float-accumulation rule again. Two map-side-combined
    integer aggregations, no joins."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    s = c.groupBy("source").agg(
        F.sum("n").alias("total"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    tot_d = F.col("total").cast("double")
    return s.select(
        "source",
        "total",
        "n_langs",
        F.round(
            F.lit(1.0) - F.col("sum_sq").cast("double") / (tot_d * F.col("total")),
            6,
        ).alias("gini_simpson"),
        F.round(tot_d * F.col("total") / F.col("sum_sq"), 6).alias(
            "effective_langs"
        ),
    )


@register(
    "a_bitmap_retention",
    """
    WITH b AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS BIGINT)
               AS user_bitmap
      FROM events GROUP BY 1
    ),
    p AS (
      SELECT day, user_bitmap,
             LAG(user_bitmap) OVER (ORDER BY day) AS prev_bitmap
      FROM b
    )
    SELECT day,
           CAST(bit_count(user_bitmap) AS BIGINT) AS n_buckets_active,
           CAST(COALESCE(bit_count(user_bitmap & prev_bitmap), 0) AS BIGINT)
             AS n_buckets_retained,
           CAST(COALESCE(bit_count(user_bitmap & ~prev_bitmap),
                         bit_count(user_bitmap)) AS BIGINT) AS n_buckets_new
    FROM p
    """,
)
def a_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index day-over-day retention: each day folds its active users
    into a 63-bit bucket bitmap with BIT_OR (mergeable, map-side combined —
    the roaring-bitmap rollup technique; a real deployment shards users into
    many such words), then retention is a LAG + bitwise AND + POPCOUNT over
    the one-row-per-day frame — no user-level self-join at all. This is the
    constant-space restatement of cohort retention: at 100 TB the bitmap agg
    shuffles one long per (day, shard) instead of the full user list. The
    ORDER-only LAG runs over ≤ one row per day — calendar-bounded, not
    data-bounded."""
    ev = _t(spark, sf_dir, "events").select(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
        F.expr("shiftleft(cast(1 as bigint), cast(user_id % 63 as int))").alias(
            "bit"
        ),
    )
    b = ev.groupBy("day").agg(F.bit_or("bit").alias("user_bitmap"))
    w = Window.orderBy("day")
    p = b.withColumn("prev_bitmap", F.lag("user_bitmap").over(w))
    return p.select(
        "day",
        F.bit_count("user_bitmap").cast("long").alias("n_buckets_active"),
        F.coalesce(
            F.bit_count(F.col("user_bitmap").bitwiseAND(F.col("prev_bitmap"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_buckets_retained"),
        F.coalesce(
            F.bit_count(
                F.col("user_bitmap").bitwiseAND(F.bitwise_not("prev_bitmap"))
            ),
            F.bit_count("user_bitmap"),
        )
        .cast("long")
        .alias("n_buckets_new"),
    )


@register(
    "a_share_of_parent",
    """
    WITH rev AS (
      SELECT n.n_regionkey AS regionkey, c.c_nationkey AS nationkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS nation_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT CAST(regionkey AS BIGINT) AS regionkey,
           CAST(nationkey AS BIGINT) AS nationkey, nation_cents,
           CAST(SUM(nation_cents) OVER (PARTITION BY regionkey) AS BIGINT)
             AS region_cents,
           ROUND(CAST(nation_cents AS DOUBLE)
                 / SUM(nation_cents) OVER (PARTITION BY regionkey), 6)
             AS share_of_region
    FROM rev
    """,
)
def a_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent in a dimension hierarchy (nation revenue as a fraction
    of its region — the BI drill-down ratio): fact aggregation at the child
    grain, then the parent total as a window over the ALREADY-AGGREGATED
    25-row frame — never a second fact-table pass, never a self-join. Both
    dimensions broadcast; the integer cents make the window sum exact and the
    share one rounded division."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    j = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
    rev = j.groupBy(
        F.col("n_regionkey").cast("long").alias("regionkey"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "nation_cents"
        )
    )
    wr = Window.partitionBy("regionkey")
    region_total = F.sum("nation_cents").over(wr)
    return rev.select(
        "regionkey",
        "nationkey",
        "nation_cents",
        region_total.alias("region_cents"),
        F.round(F.col("nation_cents").cast("double") / region_total, 6).alias(
            "share_of_region"
        ),
    )


@register(
    "a_median_impute",
    """
    WITH e AS (
      SELECT event_type, event_id,
             CASE WHEN event_id % 97 = 0 THEN NULL
                  ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(cents, 0.5) AS med
      FROM e WHERE cents IS NOT NULL GROUP BY event_type
    ),
    imp AS (
      SELECT e.event_type,
             CASE WHEN e.cents IS NULL THEN 1 ELSE 0 END AS was_null,
             COALESCE(CAST(e.cents AS DOUBLE), med.med) AS imputed
      FROM e JOIN med ON e.event_type = med.event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(was_null) AS BIGINT) AS n_imputed,
           ROUND(MIN(CASE WHEN was_null = 1 THEN imputed END) / 100.0, 6)
             AS impute_value,
           CAST(SUM(CAST(imputed * 2 AS BIGINT)) AS BIGINT) AS checksum_half_cents
    FROM imp GROUP BY event_type
    """,
)
def a_median_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median missing-value imputation (the tabular-ML cleaning step):
    synthetic nulls (every 97th event) are filled with their group's exact
    median; output pins the imputed value, the imputation count, and an exact
    checksum over the imputed column. The checksum doubles the values first —
    medians of integer cents are exact multiples of 0.5, so 2·value is an
    integer and the sum is order-free (never sum raw doubles across
    partitions). Median table broadcasts back; at scale approx_percentile
    swaps in, same dataflow."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(
            F.round(F.col("value") * 100).cast("long")
        ).alias("cents"),
    )
    med = (
        ev.filter(F.col("cents").isNotNull())
        .groupBy("event_type")
        .agg(F.expr("percentile(cents, 0.5)").alias("med"))
    )
    imp = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.col("cents").isNull().cast("int").alias("was_null"),
        F.coalesce(F.col("cents").cast("double"), F.col("med")).alias("imputed"),
    )
    return imp.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("was_null").cast("long").alias("n_imputed"),
        F.round(
            F.min(F.when(F.col("was_null") == 1, F.col("imputed"))) / 100.0, 6
        ).alias("impute_value"),
        F.sum((F.col("imputed") * 2).cast("long")).alias("checksum_half_cents"),
    )


@register(
    "a_weighted_median",
    """
    WITH li AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(ROUND(l_quantity) AS BIGINT) AS wgt,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT l_returnflag, cents, wgt,
             SUM(wgt) OVER (PARTITION BY l_returnflag
                            ORDER BY cents, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS cumw,
             SUM(wgt) OVER (PARTITION BY l_returnflag) AS totw
      FROM li
    ),
    m AS (
      SELECT l_returnflag, cents, cumw, totw,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY cumw, cents) AS rn
      FROM c WHERE 2 * cumw >= totw
    )
    SELECT l_returnflag,
           ROUND(cents / 100.0, 6) AS weighted_median,
           CAST(totw AS BIGINT) AS total_weight
    FROM m WHERE rn = 1
    """,
)
def a_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median (price weighted by shipped quantity — 'the price
    at which half the volume moved', which the unweighted median misstates
    whenever cheap items ship in bulk): sort each group by value with a unique
    tie-break, prefix-sum the integer weights, and take the first row whose
    cumulative weight reaches half the total. Every comparison is exact
    integer arithmetic (2·cumw ≥ totw — no float division before the pick).
    Both window passes and the pick share one partition key = one shuffle; at
    100 TB the same statistic comes from the distributed-rank operator over
    (group, value) with per-partition weight offsets."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round("l_quantity").cast("long").alias("wgt"),
        "l_orderkey",
        "l_linenumber",
    )
    wo = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("l_returnflag")
    c = li.select(
        "l_returnflag",
        "cents",
        F.sum("wgt").over(wo).alias("cumw"),
        F.sum("wgt").over(wt).alias("totw"),
    ).filter(2 * F.col("cumw") >= F.col("totw"))
    wr = Window.partitionBy("l_returnflag").orderBy("cumw", "cents")
    return (
        c.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.round(F.col("cents") / 100.0, 6).alias("weighted_median"),
            F.col("totw").alias("total_weight"),
        )
    )


@register(
    "a_session_paths",
    """
    WITH e AS (
      SELECT user_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000 + event_id AS seq
      FROM events
    ),
    marked AS (
      SELECT user_id, event_type, seq,
             CASE WHEN sec - LAG(sec) OVER w > 1800 OR LAG(sec) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY seq)
    ),
    sess AS (
      SELECT user_id, event_type, seq,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY seq
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    ),
    numbered AS (
      SELECT user_id, sess_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sess_id ORDER BY seq) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, sess_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM numbered WHERE rn <= 3
      GROUP BY user_id, sess_id
    ),
    counted AS (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM paths GROUP BY path
    ),
    ranked AS (
      SELECT path, n_sessions,
             ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rn
      FROM counted
    )
    SELECT path, n_sessions, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 10
    """,
)
def a_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path analysis (the product-analytics 'top user journeys'
    report): sessionize by 30-minute gaps (the gaps-and-islands encoding that
    stream_session_window's oracle proves equivalent to the native operator),
    take each session's first three event types in time order, and rank the
    resulting paths by frequency. Path assembly is an ORDER-pinned string_agg
    over ≤ 3 rows per session; the unique seq key (sec×10⁵+event_id) makes
    the order total so both engines build identical strings. Global top-10 is
    heap-merged (TakeOrderedAndProject)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("sec"),
        (F.col("ts").cast("long") * 100000 + F.col("event_id")).alias("seq"),
    )
    w = Window.partitionBy("user_id").orderBy("seq")
    marked = ev.withColumn(
        "new_sess",
        F.when(
            (F.col("sec") - F.lag("sec").over(w) > 1800)
            | F.lag("sec").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "sess_id").orderBy("seq")
    numbered = sess.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") <= 3
    )
    paths = numbered.groupBy("user_id", "sess_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda r: r["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    top = counted.orderBy(F.col("n_sessions").desc(), "path").limit(10)
    return top.select(
        "path",
        "n_sessions",
        F.row_number()
        .over(Window.orderBy(F.col("n_sessions").desc(), "path"))
        .cast("long")
        .alias("rn"),
    )


@register(
    "a_promo_revenue",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1997-03-01' AND l_shipdate < DATE '1997-04-01'
    """,
)
def a_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — share of one month's revenue from promotional parts:
    a conditional aggregate over a broadcast dimension join. The month band
    pushes into the lineitem scan; part broadcasts; the CASE folds into the
    single partial-aggregate pass, so the whole query is one scan + one
    1-row reduce. Ratio rounded (FP summation order differs per engine)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "a_market_share",
    """
    WITH sales AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'AMERICA'
    )
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share
    FROM sales GROUP BY o_year
    """,
)
def a_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — NATION_5's yearly share of the AMERICA market. Two
    roles for the same dimension (customer nation restricts the market,
    supplier nation tags the share) = nation joined twice under different
    aliases, both broadcast. The share is a conditional-sum ratio per year —
    one wide shuffle (lineitem⋈orders) then a tiny group-by. Q8's LIKE-typed
    part filter is dropped (no matching column) — the join topology is the
    point."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    sales = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return sales.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(
                    0.0
                )
            )
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


@register(
    "a_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS rev_cents
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, ROUND(rev_cents / 100.0, 2) AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_cents = (SELECT MAX(rev_cents) FROM rev)
    """,
)
def a_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — the supplier(s) achieving the quarter's maximum
    revenue: aggregate per supplier, compare against a scalar-subquery max.
    The revenue view is computed ONCE and reused for both the max and the
    filter (Q15's stated intent); the 1-row max broadcasts back, so the
    'subquery' costs one extra reduce, not a recompute. Comparing exact
    integer cents makes the max-equality cross-engine stable where a float
    == would be a coin flip."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    rev = IT.round_checkpoint(
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
            )
            .cast("long")
            .alias("rev_cents")
        )
    )
    mx = rev.agg(F.max("rev_cents").alias("mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_cents") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_cents") / 100.0, 2).alias("total_revenue"),
        )
    )


@register(
    "a_brand_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def a_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — distinct-supplier counts per (brand, type, size)
    excluding a blacklist (negative-balance suppliers stand in for Q16's
    complaint suppliers). NOT IN compiles to a broadcast LEFT ANTI join (the
    blacklist is verified non-null, so anti-join and NOT IN agree); the
    three part predicates push into the broadcast build side so the fact
    probe only keeps qualifying partkeys. COUNT(DISTINCT) expands to the
    standard two-phase distinct aggregate — keys are (group, suppkey), no
    global distinct bottleneck."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "a_auc_rank",
    """
    WITH scored AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS score,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    per_score AS (
      SELECT score, CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
      FROM scored GROUP BY score
    ),
    cum AS (
      SELECT n_pos, n_neg,
             SUM(n_neg) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) - n_neg
               AS neg_below
      FROM per_score
    )
    SELECT ROUND(SUM(n_pos * (neg_below + 0.5 * n_neg))
                 / ((SELECT SUM(n_pos) FROM per_score)
                    * (SELECT SUM(n_neg) FROM per_score)), 6) AS auc,
           CAST((SELECT SUM(n_pos) FROM per_score) AS BIGINT) AS n_pos,
           CAST((SELECT SUM(n_neg) FROM per_score) AS BIGINT) AS n_neg
    FROM cum
    """,
)
def a_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC via the rank-sum identity: AUC =
    P(score⁺ > score⁻) + ½P(=), computed from per-DISTINCT-SCORE class
    counts and a cumulative negative count — never a per-row global sort.
    The cumulative window runs over distinct scores (bounded: |unique
    scores|, not |rows|); at 100 TB with a continuous scorer, quantize
    scores to fixed bins first (the formula is unchanged) or feed the
    per-score frame through the range-partitioned prefix-sum operator —
    either keeps the reduction out of a single partition. Label = class
    ≥ 5 on the embeddings table's stored labels, score = dim 0."""
    emb = _t(spark, sf_dir, "embeddings").select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    per_score = emb.groupBy("score").agg(
        F.sum("y").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_score.withColumn(
        "neg_below", F.sum("n_neg").over(w) - F.col("n_neg")
    )
    return cum.agg(
        F.round(
            F.sum(F.col("n_pos") * (F.col("neg_below") + 0.5 * F.col("n_neg")))
            / (F.sum("n_pos") * F.sum("n_neg")),
            6,
        ).alias("auc"),
        F.sum("n_pos").alias("n_pos"),
        F.sum("n_neg").alias("n_neg"),
    )


@register(
    "a_ndcg_at_k",
    """
    WITH ranked AS (
      SELECT source,
             CAST(n_chars % 4 AS DOUBLE) AS rel,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5('rk' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                        doc_id) AS pos,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars % 4 DESC, doc_id) AS ideal_pos
      FROM documents
    )
    SELECT source,
           ROUND(SUM(CASE WHEN pos <= 10
                          THEN (POWER(2, rel) - 1) / LOG2(pos + 1.0) ELSE 0 END)
                 / SUM(CASE WHEN ideal_pos <= 10
                            THEN (POWER(2, rel) - 1) / LOG2(ideal_pos + 1.0)
                            ELSE 0 END), 6) AS ndcg10
    FROM ranked GROUP BY source
    """,
)
def a_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per query group (source = the query, a portable-hash ordering
    = the retrieval scorer under test, n_chars mod 4 = the graded relevance
    judgment): DCG over the scorer's top-10 divided by the ideal DCG over
    the same group's best-possible ordering. Both rankings come from ONE
    window shuffle on the group key (two orderings over the same partition);
    groups are independent, so at 100 TB this is embarrassingly parallel per
    query — the classic search-eval reduction with no driver loop."""
    docs = _t(spark, sf_dir, "documents")
    score = DD.hex_hash64(F.concat(F.lit("rk"), F.col("doc_id").cast("string")))
    rel = (F.col("n_chars") % 4).cast("double")
    w_scored = Window.partitionBy("source").orderBy(score.asc(), "doc_id")
    w_ideal = Window.partitionBy("source").orderBy(
        (F.col("n_chars") % 4).desc(), "doc_id"
    )
    ranked = docs.select(
        "source",
        rel.alias("rel"),
        F.row_number().over(w_scored).alias("pos"),
        F.row_number().over(w_ideal).alias("ideal_pos"),
    )
    gain = F.pow(F.lit(2.0), F.col("rel")) - 1
    return ranked.groupBy("source").agg(
        F.round(
            F.sum(
                F.when(F.col("pos") <= 10, gain / F.log2(F.col("pos") + 1.0)).otherwise(
                    0.0
                )
            )
            / F.sum(
                F.when(
                    F.col("ideal_pos") <= 10,
                    gain / F.log2(F.col("ideal_pos") + 1.0),
                ).otherwise(0.0)
            ),
            6,
        ).alias("ndcg10")
    )


@register(
    "a_calibration_bins",
    """
    WITH scored AS (
      SELECT LEAST(value / 500.0, 0.999999) AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    )
    SELECT CAST(FLOOR(p * 10) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(p), 6) AS mean_pred,
           ROUND(AVG(y), 6) AS frac_pos,
           ROUND(AVG((p - y) * (p - y)), 6) AS brier
    FROM scored GROUP BY 1
    """,
)
def a_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration/reliability curve: bucket predicted probabilities (the
    event value rescaled to [0,1) stands in for a model score) into fixed
    deciles and compare mean prediction vs observed positive rate, plus the
    per-bin Brier contribution. Fixed-width bins — NOT data-dependent
    quantiles — so the binning needs no global sort, is identical on any
    engine, and the whole query is one map + one 10-row aggregate."""
    ev = _t(spark, sf_dir, "events").select(
        F.least(F.col("value") / 500.0, F.lit(0.999999)).alias("p"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    return ev.groupBy(
        F.floor(F.col("p") * 10).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p"), 6).alias("mean_pred"),
        F.round(F.avg("y"), 6).alias("frac_pos"),
        F.round(F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))), 6).alias(
            "brier"
        ),
    )


@register(
    "a_psi_drift",
    """
    WITH binned AS (
      SELECT LEAST(9, CAST(FLOOR(o_totalprice / 50000) AS BIGINT)) AS bin,
             CASE WHEN EXTRACT(year FROM o_orderdate) = 1996 THEN 1 ELSE 0 END AS is_ref,
             CASE WHEN EXTRACT(year FROM o_orderdate) = 2000 THEN 1 ELSE 0 END AS is_cur
      FROM orders
      WHERE EXTRACT(year FROM o_orderdate) IN (1996, 2000)
    ),
    per_bin AS (
      SELECT bin, CAST(SUM(is_ref) AS BIGINT) AS n_ref,
             CAST(SUM(is_cur) AS BIGINT) AS n_cur
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM per_bin)
    SELECT ROUND(SUM(((n_cur + 0.5) / (t_cur + 5.0) - (n_ref + 0.5) / (t_ref + 5.0))
                     * LN(((n_cur + 0.5) / (t_cur + 5.0))
                          / ((n_ref + 0.5) / (t_ref + 5.0)))), 6) AS psi,
           CAST(MAX(t_ref) AS BIGINT) AS n_ref_total,
           CAST(MAX(t_cur) AS BIGINT) AS n_cur_total
    FROM per_bin, tot
    """,
)
def a_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference period (1996) and a
    current period (2000) of the order-value distribution — the standard
    'did the feature drift' gate before a model retrain. Fixed-width bins
    with +0.5 Laplace smoothing (an empty bin would make the log blow up;
    smoothing keeps PSI defined and engine-identical). Both periods are
    counted in ONE conditional-aggregate pass over the pruned scan, then a
    10-row reduce — no second read of the fact table."""
    orders = _t(spark, sf_dir, "orders").select(
        F.least(F.lit(9), F.floor(F.col("o_totalprice") / 50000))
        .cast("long")
        .alias("bin"),
        F.year("o_orderdate").alias("yr"),
    ).filter(F.col("yr").isin(1996, 2000))
    per_bin = orders.groupBy("bin").agg(
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("yr") == 2000, 1).otherwise(0)).alias("n_cur"),
    )
    tot = per_bin.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    j = per_bin.crossJoin(F.broadcast(tot))
    p_cur = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 5.0)
    p_ref = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 5.0)
    return j.agg(
        F.round(F.sum((p_cur - p_ref) * F.log(p_cur / p_ref)), 6).alias("psi"),
        F.max("t_ref").cast("long").alias("n_ref_total"),
        F.max("t_cur").cast("long").alias("n_cur_total"),
    )


@register(
    "a_mutual_information",
    """
    WITH xy AS (
      SELECT c_mktsegment AS x, r_name AS y, CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT x, y, n_xy,
             SUM(n_xy) OVER (PARTITION BY x) AS n_x,
             SUM(n_xy) OVER (PARTITION BY y) AS n_y,
             SUM(n_xy) OVER () AS n
      FROM xy
    )
    SELECT ROUND(SUM((n_xy * 1.0 / n) * LN(n_xy * 1.0 * n / (n_x * n_y))), 6) AS mi_nats,
           ROUND(SUM((n_xy * 1.0 / n) * LN(n_xy * 1.0 * n / (n_x * n_y)))
                 / SQRT((SELECT -SUM((n_x * 1.0 / n) * LN(n_x * 1.0 / n))
                         FROM (SELECT DISTINCT x, n_x, n FROM m))
                        * (SELECT -SUM((n_y * 1.0 / n) * LN(n_y * 1.0 / n))
                           FROM (SELECT DISTINCT y, n_y, n FROM m))), 6) AS nmi,
           CAST(MAX(n) AS BIGINT) AS n
    FROM m
    """,
)
def a_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (and its sqrt-normalized form) between market
    segment and customer region — the feature-selection screen for
    categorical pairs. The contingency table is the only fact-sized
    aggregate; marginals come from windows OVER THE CONTINGENCY TABLE
    (|x|·|y| rows, trivially small), never from re-scanning the input. NMI
    divides by √(H(x)·H(y)) computed from the same marginals. Everything
    downstream of the first group-by is bounded by category cardinality."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    xy = (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("c_mktsegment").alias("x"), F.col("r_name").alias("y"))
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    m = IT.round_checkpoint(xy.select(
        "x",
        "y",
        "n_xy",
        F.sum("n_xy").over(Window.partitionBy("x")).alias("n_x"),
        F.sum("n_xy").over(Window.partitionBy("y")).alias("n_y"),
        F.sum("n_xy").over(Window.partitionBy()).alias("n"),
    ))
    mi = F.sum(
        (F.col("n_xy") * 1.0 / F.col("n"))
        * F.log(F.col("n_xy") * 1.0 * F.col("n") / (F.col("n_x") * F.col("n_y")))
    )
    hx_df = (
        m.select("x", "n_x", "n")
        .distinct()
        .agg(
            (-F.sum((F.col("n_x") * 1.0 / F.col("n")) * F.log(F.col("n_x") * 1.0 / F.col("n"))))
            .alias("hx")
        )
    )
    hy_df = (
        m.select("y", "n_y", "n")
        .distinct()
        .agg(
            (-F.sum((F.col("n_y") * 1.0 / F.col("n")) * F.log(F.col("n_y") * 1.0 / F.col("n"))))
            .alias("hy")
        )
    )
    return (
        m.agg(mi.alias("mi_raw"), F.max("n").cast("long").alias("n"))
        .crossJoin(F.broadcast(hx_df))
        .crossJoin(F.broadcast(hy_df))
        .select(
            F.round(F.col("mi_raw"), 6).alias("mi_nats"),
            F.round(F.col("mi_raw") / F.sqrt(F.col("hx") * F.col("hy")), 6).alias(
                "nmi"
            ),
            "n",
        )
    )


@register(
    "a_cramers_v",
    """
    WITH xy AS (
      SELECT event_type AS x,
             DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS y,
             CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT x, y, n_xy,
             SUM(n_xy) OVER (PARTITION BY x) AS n_x,
             SUM(n_xy) OVER (PARTITION BY y) AS n_y,
             SUM(n_xy) OVER () AS n
      FROM xy
    ),
    chi AS (
      SELECT SUM(POWER(n_xy - n_x * n_y * 1.0 / n, 2) / (n_x * n_y * 1.0 / n))
               AS chi2,
             MAX(n) AS n,
             COUNT(DISTINCT x) AS r, COUNT(DISTINCT y) AS c
      FROM m
    )
    SELECT ROUND(chi2, 4) AS chi2,
           ROUND(SQRT(chi2 / (n * LEAST(r - 1, c - 1))), 6) AS cramers_v,
           CAST(n AS BIGINT) AS n
    FROM chi
    """,
)
def a_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between event type and day-of-week — 'is usage
    behavior weekday-dependent' as a single effect-size number. Day-of-week
    comes from epoch-day mod 7 (DATE_DIFF from a fixed epoch), not the
    engines' 1-vs-0-indexed DAYOFWEEK builtins, so both engines bucket
    identically. Same contingency-then-windows shape as the MI query: one
    fact aggregate, then all χ² arithmetic over the 35-cell table."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("x"),
        (F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) % 7)
        .alias("y"),
    )
    xy = ev.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_xy"))
    m = xy.select(
        "x",
        "y",
        "n_xy",
        F.sum("n_xy").over(Window.partitionBy("x")).alias("n_x"),
        F.sum("n_xy").over(Window.partitionBy("y")).alias("n_y"),
        F.sum("n_xy").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("n_x") * F.col("n_y") * 1.0 / F.col("n")
    chi = m.agg(
        F.sum(F.pow(F.col("n_xy") - e, 2) / e).alias("chi2"),
        F.max("n").alias("n"),
        F.countDistinct("x").alias("r"),
        F.countDistinct("y").alias("c"),
    )
    return chi.select(
        F.round("chi2", 4).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))),
            6,
        ).alias("cramers_v"),
        F.col("n").cast("long").alias("n"),
    )
