"""Sampling, splits and streaming-variant queries (split from queries.py — registration side-effect module)."""
from ortholog_pipeline_spark.queries._shared import (  # noqa: F401
    DD,
    DataFrame,
    F,
    IT,
    SMP,
    SparkSession,
    TXT,
    Window,
    _BUCKET_SQL,
    _POIS24,
    _TOKS_SQL,
    _pois24_sql,
    _t,
    register,
)

@register(
    "stream_tumbling_window",
    """
    SELECT DATE_TRUNC('day', ts) AS window_day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2)     AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch equivalent of the engine's streaming tumbling-window aggregation
    (ortholog_pipeline_spark.streaming) — same plan foreachBatch would run."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("window_day"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "stream_session_window",
    """
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS s_idx
      FROM marked
    )

    SELECT user_id,
           MIN(ts)                        AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE   AS session_end,
           CAST(COUNT(*) AS BIGINT)       AS n_events,
           ROUND(SUM(value), 2)           AS sum_value
    FROM sess GROUP BY user_id, s_idx
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's native session_window (merge events
    closer than 30 min; window end = last event + gap). The DuckDB oracle is the
    classic gaps-and-islands encoding — lag to mark session starts, running sum
    to number them — proving the native operator's semantics exactly. The same
    groupBy runs unchanged on a stream (streaming/windows.py session variant)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "sample_train_holdout",
    f"""
    SELECT doc_id,
           CASE WHEN {_BUCKET_SQL.format(key='doc_id')} < {SMP.BUCKETS // 10}
                THEN 'holdout' ELSE 'train' END AS split
    FROM documents
    """,
)
def sample_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash train/holdout labels: partitioning- and engine-independent
    (md5 bucket), so a document can never migrate between splits across reruns.
    Map-side only — no shuffle, streams unchanged."""
    docs = _t(spark, sf_dir, "documents")
    return SMP.train_holdout_split(docs, "doc_id", holdout_fraction=0.1).select(
        "doc_id", "split"
    )


@register(
    "sample_stratified_exact",
    f"""
    WITH b AS (
      SELECT o_orderkey, o_orderpriority,
             {_BUCKET_SQL.format(key='o_orderkey')} AS bucket
      FROM orders
    ),
    r AS (
      SELECT o_orderkey, o_orderpriority,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY bucket, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM b
    )
    SELECT o_orderkey, o_orderpriority FROM r WHERE rn <= CEIL(n * 0.1)
    """,
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10% quota per order priority, selected by deterministic hash order
    — ceil(n·f) rows per stratum on any partitioning (one window shuffle)."""
    orders = _t(spark, sf_dir, "orders")
    return SMP.stratified_exact_sample(
        orders, ["o_orderpriority"], "o_orderkey", 0.1
    ).select("o_orderkey", "o_orderpriority")


@register(
    "sample_reservoir_per_key",
    f"""
    WITH b AS (
      SELECT doc_id, lang, source,
             {_BUCKET_SQL.format(key='doc_id')} AS bucket
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY bucket, doc_id) AS rn
      FROM b
    )
    SELECT doc_id, lang, source FROM r WHERE rn <= 7
    """,
)
def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 7 documents per (lang, source) cell, drawn by content-hash order
    — the deterministic equivalent of a per-key reservoir sample (the hash
    order is a uniform permutation of each key's rows, so the kept set has the
    reservoir distribution, minus the rerun instability). One window shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return SMP.reservoir_per_key(docs, ["lang", "source"], "doc_id", 7).select(
        "doc_id", "lang", "source"
    )


@register(
    "sample_weighted_topk",
    f"""
    WITH p AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             ROUND(
               ln((({_BUCKET_SQL.format(key='doc_id').replace("'s0'", "'w0'")}) + 1)
                  / 1000000.0)
               / GREATEST(CAST(n_chars AS DOUBLE), 1.0), 6) + 0.0 AS prio
      FROM documents
    )
    SELECT doc_id, n_chars, prio FROM p ORDER BY prio DESC, doc_id LIMIT 50
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling: md5-uniform u, priority ln(u)/w
    (w = n_chars), global top-50 via orderBy+limit — executed as
    TakeOrderedAndProject (per-partition heaps, k-row driver merge), never a
    single-partition global sort. Longer documents are proportionally more
    likely to be drawn: the token-budget-weighted corpus draw."""
    docs = _t(spark, sf_dir, "documents")
    out = SMP.weighted_sample_topk(
        docs, "doc_id", F.col("n_chars"), k=50, salt="w0"
    )
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("_prio").alias("prio"),
    )


@register(
    "stream_sliding_window",
    """
    WITH e AS (
      SELECT user_id, ts FROM events WHERE user_id % 4 = 0
    ),
    w AS (
      SELECT user_id,
             make_timestamp(
               CAST(FLOOR(epoch(ts) / 900) * 900 AS BIGINT) * 1000000
               - i * 900 * 1000000
             ) AS window_start
      FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
    )
    SELECT window_start, user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM w GROUP BY window_start, user_id
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 sliding (hop) windows: 1-hour windows every 15 minutes — each event
    lands in 4 windows (Spark expands hops plan-side; one shuffle on the
    window+user key). Same code runs streaming with a watermark
    (`streaming.windows.sliding_counts`); the oracle reproduces the epoch-
    aligned hop expansion arithmetically."""
    from ortholog_pipeline_spark.streaming.windows import sliding_counts

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 4 == 0)
    return sliding_counts(ev, "1 hour", "15 minutes")


@register(
    "sample_kfold",
    r"""
    WITH f AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS fold,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    sp AS (SELECT fp, COUNT(DISTINCT fold) AS nf FROM f GROUP BY fp)
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_docs
    FROM f JOIN sp USING (fp)
    GROUP BY fold
    """,
)
def sample_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation fold assignment + leakage audit: 5 hash-disjoint folds
    (same content-hash contract as the samplers — rerun-, partitioning- and
    engine-stable), and per fold the count of documents whose exact-dup
    fingerprint also appears in ANOTHER fold — the train/eval contamination
    that random per-row folding silently creates. One fingerprint shuffle +
    one broadcast-back join."""
    from ortholog_pipeline_spark.functions.text import fingerprint

    docs = SMP.kfold_assign(_t(spark, sf_dir, "documents"), "doc_id", k=5)
    f = docs.select("doc_id", "n_chars", "fold", fingerprint("text").alias("fp"))
    spread = f.groupBy("fp").agg(F.countDistinct("fold").alias("nf"))
    return (
        f.join(spread, "fp")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum((F.col("nf") > 1).cast("long")).alias("n_leaky_docs"),
        )
    )


@register(
    "sample_domain_mixture",
    rf"""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens,
             CAST(substr(source, 4) AS INT) AS idx
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM s)
    SELECT source, n_docs, n_tokens,
           ROUND(CAST(idx + 1 AS DOUBLE) / 210.0, 6) AS target_share,
           ROUND(CAST(idx + 1 AS DOUBLE) * total_tokens / 210.0 / n_tokens, 6) AS sampling_weight
    FROM s, t
    """,
)
def sample_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing (the data-mixing step of corpus assembly):
    given a target share per source (here a deterministic ramp standing in for
    a tuned mixture table), compute each source's token mass and the sampling
    weight target_share / current_share that a weighted sampler would apply to
    hit the mixture. One aggregation + a broadcast of the 1-row total — the
    weights themselves are a map-side formula, identical in any engine (single
    integer-fed divisions in a fixed order)."""
    docs = _t(spark, sf_dir, "documents")
    s = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(TXT.tokens("text"))).alias("n_tokens"),
        )
        .withColumn("idx", F.substring("source", 4, 10).cast("int"))
    )
    total = s.agg(F.sum("n_tokens").alias("total_tokens"))
    return s.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round((F.col("idx") + 1).cast("double") / F.lit(210.0), 6).alias(
            "target_share"
        ),
        F.round(
            (F.col("idx") + 1).cast("double")
            * F.col("total_tokens")
            / F.lit(210.0)
            / F.col("n_tokens"),
            6,
        ).alias("sampling_weight"),
    )


@register(
    "stream_windowed_topk",
    """
    WITH c AS (
      SELECT date_trunc('day', ts) AS window_day, user_id,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT window_day, user_id, n,
             ROW_NUMBER() OVER (PARTITION BY window_day
                                ORDER BY n DESC, user_id) AS rn
      FROM c
    )
    SELECT window_day, user_id, n, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 3
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k (per-day heaviest users) — the batch plan foreachBatch
    runs for a streaming leaderboard: tumbling-window count aggregation, then
    a rank window PARTITIONED BY THE TIME WINDOW (each day ranks
    independently — bounded state per window, evictable on watermark; a
    global rank here would be unbounded streaming state). Counts are exact;
    ties break by user id. The WindowGroupLimit optimization keeps only k
    rows per window through the rank's sort."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("window_day"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    wr = Window.partitionBy("window_day").orderBy(F.col("n").desc(), "user_id")
    return (
        c.withColumn("rn", F.row_number().over(wr).cast("long"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "sample_poisson_bootstrap",
    f"""
    WITH g AS (SELECT unnest(generate_series(0, 7)) AS g),
    j AS (SELECT unnest(generate_series(0, 4)) AS j),
    hashed AS (
      SELECT g.g, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             md5('bs' || CAST(g.g AS VARCHAR) || '_' || CAST(o_orderkey AS VARCHAR)) AS h
      FROM orders, g
    ),
    w AS (
      SELECT hashed.g * 5 + j.j AS b, cents,
             {_pois24_sql("CAST(('0x' || substr(h, j.j * 6 + 1, 6)) AS BIGINT)")} AS wt
      FROM hashed, j
    ),
    means AS (
      SELECT b, SUM(wt * cents) * 1.0 / SUM(wt) / 100.0 AS m
      FROM w GROUP BY b HAVING SUM(wt) > 0
    ),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn,
             COUNT(*) OVER () AS nb
      FROM means
    )
    SELECT ROUND((SELECT AVG(o_totalprice) FROM orders), 6) AS point_mean,
           ROUND(MIN(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
           ROUND(MIN(CASE WHEN rn = nb - 1 THEN m END), 6) AS ci_hi,
           CAST(MAX(nb) AS BIGINT) AS n_replicates
    FROM ranked
    """,
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for the mean order value — THE bootstrap that
    scales: instead of resampling n rows with replacement (which needs a
    global index), every row draws an independent Poisson(1) weight per
    replicate, so the whole procedure is a map-side explode (40 replicates)
    + one weighted aggregate per replicate. Weights come from the portable
    md5 coin through the Poisson inverse CDF (a 7-arm CASE on an exact
    2^24-scale threshold table), and FIVE replicate draws are sliced out of
    each md5 (6 hex chars = one 24-bit uniform apiece) — the hash count is
    n·B/5, the same one-hash-many-draws trick the Count-Min build uses.
    The md5 is computed in a projection BETWEEN the two explodes, so it is
    evaluated once per (row, hash-group), never per final slice
    (CollapseProject does not cross a Generate). Replicate means use exact
    integer cents·weight sums; the CI is the 2nd/39th order statistic
    (~95%). At 100 TB the explode factor is the only cost knob —
    replicates stream through partial aggregation with no extra shuffle."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    hashed = orders.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("g"),
        F.col("o_orderkey"),
    ).select(
        "cents",
        "g",
        F.md5(
            F.concat(
                F.lit("bs"),
                F.col("g").cast("string"),
                F.lit("_"),
                F.col("o_orderkey").cast("string"),
            )
        ).alias("h"),
    )
    u = F.conv(
        F.substring(F.col("h"), F.col("j") * 6 + 1, F.lit(6)), 16, 10
    ).cast("long")
    reps = hashed.select(
        "cents",
        "g",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("j"),
    ).select(
        (F.col("g") * 5 + F.col("j")).alias("b"),
        "cents",
        F.coalesce(
            *[F.when(u < t, F.lit(k)) for k, t in enumerate(_POIS24)],
            F.lit(6),
        )
        .cast("long")
        .alias("wt"),
    )
    means = (
        reps.groupBy("b")
        .agg(
            (F.sum(F.col("wt") * F.col("cents")) * 1.0 / F.sum("wt") / 100.0).alias(
                "m"
            ),
            F.sum("wt").alias("tw"),
        )
        .filter(F.col("tw") > 0)
    )
    w_rn = Window.orderBy("m")
    ranked = means.select(
        "m",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    point = _t(spark, sf_dir, "orders").agg(
        F.round(F.avg("o_totalprice"), 6).alias("point_mean")
    )
    ci = ranked.agg(
        F.round(F.min(F.when(F.col("rn") == 2, F.col("m"))), 6).alias("ci_lo"),
        F.round(
            F.min(F.when(F.col("rn") == F.col("nb") - 1, F.col("m"))), 6
        ).alias("ci_hi"),
        F.max("nb").cast("long").alias("n_replicates"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "point_mean", "ci_lo", "ci_hi", "n_replicates"
    )


@register(
    "sample_class_weights",
    """
    WITH per_class AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label
    ),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS k FROM per_class)
    SELECT label, n,
           ROUND(total * 1.0 / (k * n), 6) AS balanced_weight,
           ROUND((1 - POWER(0.99, n)) / (1 - 0.99), 6) AS effective_n,
           ROUND((1 - 0.99) / (1 - POWER(0.99, n)), 6) AS cb_weight
    FROM per_class, tot
    """,
)
def sample_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance weighting table for a skewed label column: inverse-
    frequency weights (total/K·n) and the class-balanced 'effective number
    of samples' weights ((1−β)/(1−βⁿ), β=0.99 — Cui et al.'s correction
    that stops tiny classes from being over-boosted). One group-by plus a
    broadcast 1-row total; the output is the weight table a training job
    broadcasts back onto the corpus, so computing it is O(|classes|) after
    the count."""
    emb = _t(spark, sf_dir, "embeddings")
    per_class = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tot = per_class.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("k")
    )
    beta = F.lit(0.99)
    return per_class.crossJoin(F.broadcast(tot)).select(
        "label",
        "n",
        F.round(F.col("total") * 1.0 / (F.col("k") * F.col("n")), 6).alias(
            "balanced_weight"
        ),
        F.round((1 - F.pow(beta, F.col("n"))) / (1 - beta), 6).alias("effective_n"),
        F.round((1 - beta) / (1 - F.pow(beta, F.col("n"))), 6).alias("cb_weight"),
    )


@register(
    "sample_negative_sampling",
    """
    WITH pool AS (
      SELECT p_partkey FROM (
        SELECT p_partkey,
               ROW_NUMBER() OVER (
                 ORDER BY CAST(('0x' || substr(md5('pool' || CAST(p_partkey AS VARCHAR)), 1, 15)) AS BIGINT),
                          p_partkey) AS rn
        FROM part
      ) WHERE rn <= 100
    ),
    interactions AS (
      SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    active AS (
      SELECT user_id FROM interactions GROUP BY user_id HAVING COUNT(*) >= 5
    ),
    candidates AS (
      SELECT a.user_id, pool.p_partkey AS item_id
      FROM active a CROSS JOIN pool
    ),
    negatives AS (
      SELECT c.user_id, c.item_id FROM candidates c
      ANTI JOIN interactions i
        ON c.user_id = i.user_id AND c.item_id = i.item_id
    ),
    ranked AS (
      SELECT user_id, item_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY CAST(('0x' || substr(md5('neg' || CAST(user_id AS VARCHAR) || '_' || CAST(item_id AS VARCHAR)), 1, 15)) AS BIGINT),
                        item_id) AS rn
      FROM negatives
    )
    SELECT user_id, item_id, CAST(rn AS BIGINT) AS neg_rank
    FROM ranked WHERE rn <= 5
    """,
)
def sample_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender / contrastive
    training: 5 items per active user drawn from a 100-item hash-selected
    candidate pool, minus everything the user actually interacted with
    (the anti-join is what makes them NEGATIVES — uniform random sampling
    without it poisons ~p% of labels). The pool bound is the scale lever:
    users × pool is the only fanout (users × catalog would be quadratic),
    the pool broadcasts, and both the pool pick and the per-user draw ride
    the portable md5 order so every engine and every rerun emits the
    identical training set."""
    part = _t(spark, sf_dir, "part")
    w_pool = Window.orderBy(
        DD.hex_hash64(
            F.concat(F.lit("pool"), F.col("p_partkey").cast("string"))
        ).asc(),
        "p_partkey",
    )
    pool = (
        part.select("p_partkey")
        .withColumn("rn", F.row_number().over(w_pool))
        .filter(F.col("rn") <= 100)
        .select("p_partkey")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    interactions = IT.round_checkpoint(
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .distinct()
    )
    active = (
        interactions.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .select("user_id")
    )
    candidates = active.crossJoin(
        F.broadcast(pool.select(F.col("p_partkey").alias("item_id")))
    )
    negatives = candidates.join(interactions, ["user_id", "item_id"], "left_anti")
    w_neg = Window.partitionBy("user_id").orderBy(
        DD.hex_hash64(
            F.concat(
                F.lit("neg"),
                F.col("user_id").cast("string"),
                F.lit("_"),
                F.col("item_id").cast("string"),
            )
        ).asc(),
        "item_id",
    )
    return (
        negatives.withColumn("rn", F.row_number().over(w_neg))
        .filter(F.col("rn") <= 5)
        .select("user_id", "item_id", F.col("rn").cast("long").alias("neg_rank"))
    )


@register(
    "sample_neyman_allocation",
    """
    WITH strata AS (
      SELECT c_mktsegment AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             STDDEV_SAMP(c_acctbal) AS s_h
      FROM customer GROUP BY c_mktsegment
    ),
    tot AS (SELECT SUM(n_h * s_h) AS denom, SUM(n_h) AS n_total FROM strata)
    SELECT stratum, n_h,
           ROUND(s_h, 4) AS stddev,
           CAST(ROUND(1000.0 * n_h * s_h / denom) AS BIGINT) AS neyman_n,
           CAST(ROUND(1000.0 * n_h / n_total) AS BIGINT) AS proportional_n,
           ROUND((n_h * s_h / denom) / (n_h * 1.0 / n_total), 4)
             AS allocation_ratio
    FROM strata, tot
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample design for a 1000-row budget:
    allocate n_h ∝ N_h·σ_h — high-variance strata get MORE than their
    population share (the allocation_ratio column says how much more),
    which minimizes the estimator variance at fixed cost versus the
    proportional allocation shown alongside. This is the design step that
    feeds sample_stratified_exact with per-stratum quotas; one group-by
    for sizes and stddevs, one broadcast total."""
    cust = _t(spark, sf_dir, "customer")
    strata = cust.groupBy(F.col("c_mktsegment").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.stddev_samp("c_acctbal").alias("s_h"),
    )
    tot = strata.agg(
        F.sum(F.col("n_h") * F.col("s_h")).alias("denom"),
        F.sum("n_h").alias("n_total"),
    )
    return strata.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_h",
        F.round("s_h", 4).alias("stddev"),
        F.round(1000.0 * F.col("n_h") * F.col("s_h") / F.col("denom"))
        .cast("long")
        .alias("neyman_n"),
        F.round(1000.0 * F.col("n_h") / F.col("n_total"))
        .cast("long")
        .alias("proportional_n"),
        F.round(
            (F.col("n_h") * F.col("s_h") / F.col("denom"))
            / (F.col("n_h") * 1.0 / F.col("n_total")),
            4,
        ).alias("allocation_ratio"),
    )


@register(
    "sample_mixture_rebalance",
    """
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_before
      FROM documents GROUP BY lang
    ),
    mn AS (SELECT MIN(n_before) AS min_n FROM c),
    r AS (
      SELECT lang, n_before,
             (1000000 * (SELECT min_n FROM mn)) // n_before AS rate_ppm
      FROM c
    ),
    k AS (
      SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_after
      FROM documents d JOIN r USING (lang)
      WHERE CAST(('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1000000 < r.rate_ppm
      GROUP BY d.lang
    )
    SELECT r.lang, r.n_before,
           CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_after,
           CAST(r.rate_ppm AS BIGINT) AS rate_ppm
    FROM r LEFT JOIN k USING (lang)
    """,
)
def sample_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing, MATERIALIZED — the pretraining-corpus step
    that downsamples over-represented domains (here: languages, en is ~3.4x
    fr in the corpus) to a uniform mixture, capped at the smallest domain's
    mass. Complements `sample_domain_mixture` (which only computes the target
    weights) and `sample_stratified_exact` (exact per-stratum quotas via a
    per-stratum window sort): this is the rate-based Bernoulli form that
    needs NO per-stratum sort — the right trade at corpus scale, where a
    ±sqrt(n) count wobble is free and a per-domain global sort is not.
    Acceptance rate per domain is exact integer parts-per-million
    (1e6 * min_count DIV count), and each row flips the shared portable md5
    coin against it, so membership is deterministic and reproducible across
    engines and reruns — the property a 100 TB corpus rebuild needs (no rng
    state, no seed shipping; the coin is the row's own identity). Plan shape:
    one groupBy for domain counts, a 1-row min broadcast, a broadcast rates
    join back to the fact scan (map-side filter, no second shuffle), one
    counting groupBy."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    cnts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    mn = cnts.agg(F.min("n_before").alias("min_n"))
    rates = cnts.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n_before",
        F.expr("(1000000 * min_n) DIV n_before").alias("rate_ppm"),
    )
    coin = F.pmod(
        DD.hex_hash64(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))),
        F.lit(1000000),
    )
    kept = (
        d.join(F.broadcast(rates.select("lang", "rate_ppm")), "lang")
        .filter(coin < F.col("rate_ppm"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            "n_before",
            F.coalesce(F.col("n_after"), F.lit(0)).cast("long").alias("n_after"),
            F.col("rate_ppm").cast("long").alias("rate_ppm"),
        )
    )
