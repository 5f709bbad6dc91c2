"""Analytics/statistics queries (part 2/3) (split from queries.py — registration side-effect module)."""
from ortholog_pipeline_spark.queries._shared import (  # noqa: F401
    DD,
    DataFrame,
    F,
    IT,
    SparkSession,
    Window,
    _SIG_CTES,
    _t,
    register,
)

@register(
    "a_ks_test",
    """
    WITH vals AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN EXTRACT(year FROM o_orderdate) = 1996 THEN 1 ELSE 0 END AS g1,
             CASE WHEN EXTRACT(year FROM o_orderdate) = 2000 THEN 1 ELSE 0 END AS g2
      FROM orders WHERE EXTRACT(year FROM o_orderdate) IN (1996, 2000)
    ),
    per_val AS (
      SELECT cents, CAST(SUM(g1) AS BIGINT) AS n1, CAST(SUM(g2) AS BIGINT) AS n2
      FROM vals GROUP BY cents
    ),
    cum AS (
      SELECT SUM(n1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS c1,
             SUM(n2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS c2,
             SUM(n1) OVER () AS t1, SUM(n2) OVER () AS t2,
             cents
      FROM per_val
    ),
    d AS (
      SELECT cents, ABS(c1 * t2 - c2 * t1) AS dnum, t1, t2,
             ROW_NUMBER() OVER (ORDER BY ABS(c1 * t2 - c2 * t1) DESC, cents) AS rn
      FROM cum
    )
    SELECT ROUND(dnum * 1.0 / (t1 * t2), 6) AS ks_d,
           ROUND(cents / 100.0, 2) AS at_value,
           CAST(t1 AS BIGINT) AS n_ref, CAST(t2 AS BIGINT) AS n_cur
    FROM d WHERE rn = 1
    """,
)
def a_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the 1996 and 2000
    order-value distributions — the nonparametric drift test that sees
    shape changes PSI's 10 coarse bins blur out. D = max |F₁−F₂| evaluated
    at every distinct value; the comparison is exact integer cross-products
    (c1·t2 − c2·t1 — no float CDFs until the final division), so the argmax
    and the statistic are engine-identical. Both empirical CDFs come from
    ONE conditional aggregate + one cumulative window over distinct values;
    at 100 TB, quantize values to fixed cents-bins first and the window
    stays bounded."""
    orders = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.year("o_orderdate").alias("yr"),
    ).filter(F.col("yr").isin(1996, 2000))
    per_val = orders.groupBy("cents").agg(
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("yr") == 2000, 1).otherwise(0)).alias("n2"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wa = Window.partitionBy()
    cum = per_val.select(
        "cents",
        F.sum("n1").over(w).alias("c1"),
        F.sum("n2").over(w).alias("c2"),
        F.sum("n1").over(wa).alias("t1"),
        F.sum("n2").over(wa).alias("t2"),
    )
    dnum = F.abs(F.col("c1") * F.col("t2") - F.col("c2") * F.col("t1"))
    best = (
        cum.withColumn("dnum", dnum)
        .orderBy(F.col("dnum").desc(), "cents")
        .limit(1)
    )
    return best.select(
        F.round(F.col("dnum") * 1.0 / (F.col("t1") * F.col("t2")), 6).alias("ks_d"),
        F.round(F.col("cents") / 100.0, 2).alias("at_value"),
        F.col("t1").cast("long").alias("n_ref"),
        F.col("t2").cast("long").alias("n_cur"),
    )


@register(
    "a_feature_hashing",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('fh' || tok), 1, 15)) AS BIGINT) % 16 AS dim
      FROM toks
    ),
    per_doc AS (
      SELECT doc_id, dim, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM hashed GROUP BY doc_id, dim
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(cnt) AS BIGINT) AS total_count,
           CAST(MAX(cnt) AS BIGINT) AS max_per_doc
    FROM per_doc GROUP BY dim
    """,
)
def a_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-trick vectorization (the fixed-width bag-of-words every linear
    baseline trains on): each token hashes to one of 16 dimensions via the
    portable md5 hash — no vocabulary build, no dictionary broadcast, no
    OOV problem, which is exactly why the trick survives at 100 TB where a
    vocab join would need its own pipeline. Per-(doc, dim) counts collapse
    map-side; the contract output is the per-dimension load profile (the
    collision diagnostic you check before picking the width)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("tok"),
    )
    hashed = toks.select(
        "doc_id",
        F.pmod(DD.hex_hash64(F.concat(F.lit("fh"), F.col("tok"))), F.lit(16)).alias(
            "dim"
        ),
    )
    per_doc = hashed.groupBy("doc_id", "dim").agg(F.count(F.lit(1)).alias("cnt"))
    return per_doc.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("cnt").alias("total_count"),
        F.max("cnt").alias("max_per_doc"),
    )


@register(
    "a_benford_law",
    """
    WITH digits AS (
      SELECT CAST(FLOOR(o_totalprice
                        / POWER(10, FLOOR(LOG10(o_totalprice)))) AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    counts AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT d AS digit, n,
           ROUND(n * 1.0 / total, 6) AS observed_share,
           ROUND(LOG10(1 + 1.0 / d), 6) AS benford_share,
           ROUND(POWER(n * 1.0 / total - LOG10(1 + 1.0 / d), 2)
                 / LOG10(1 + 1.0 / d) * total, 4) AS chi2_term
    FROM counts, tot
    """,
)
def a_benford_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order values — the forensic screen
    for fabricated or truncated numeric feeds (synthetic uniform data fails
    it loudly, which is itself the point of the check). First digit via
    value/10^⌊log10⌋ — pure arithmetic, no string cast; one 9-row aggregate
    plus a broadcast total, with each digit's χ² contribution alongside the
    observed-vs-expected shares."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = orders.select(
        F.floor(
            F.col("o_totalprice")
            / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
        )
        .cast("long")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    share = F.col("n") * 1.0 / F.col("total")
    benford = F.log10(1 + 1.0 / F.col("d"))
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("digit"),
        "n",
        F.round(share, 6).alias("observed_share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(F.pow(share - benford, 2) / benford * F.col("total"), 4).alias(
            "chi2_term"
        ),
    )


@register(
    "a_entropy_columns",
    """
    WITH vals AS (
      SELECT 'event_type' AS col_name, event_type AS v FROM events
      UNION ALL
      SELECT 'doc_lang', lang FROM documents
      UNION ALL
      SELECT 'doc_source', source FROM documents
      UNION ALL
      SELECT 'order_priority', o_orderpriority FROM orders
    ),
    counts AS (
      SELECT col_name, v, CAST(COUNT(*) AS BIGINT) AS n
      FROM vals GROUP BY col_name, v
    ),
    tot AS (
      SELECT col_name, SUM(n) AS total, COUNT(*) AS k
      FROM counts GROUP BY col_name
    )
    SELECT c.col_name,
           CAST(MAX(t.k) AS BIGINT) AS n_distinct,
           ROUND(-SUM((c.n * 1.0 / t.total) * LN(c.n * 1.0 / t.total)), 6)
             AS entropy_nats,
           ROUND(-SUM((c.n * 1.0 / t.total) * LN(c.n * 1.0 / t.total))
                 / CASE WHEN MAX(t.k) > 1 THEN LN(MAX(t.k)) ELSE 1 END, 6)
             AS normalized_entropy
    FROM counts c JOIN tot t ON c.col_name = t.col_name
    GROUP BY c.col_name
    """,
)
def a_entropy_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per categorical column across THREE tables in one
    unioned pass — the feature-informativeness / near-constant-column
    screen a profiler runs before training. Each leg is a pruned
    single-column scan; value counts collapse map-side; entropy and its
    log(k)-normalized form come from the tiny per-column count tables.
    Adding a column = adding a union leg, not a new job."""
    ev = _t(spark, sf_dir, "events").select(
        F.lit("event_type").alias("col_name"), F.col("event_type").alias("v")
    )
    dl = _t(spark, sf_dir, "documents").select(
        F.lit("doc_lang").alias("col_name"), F.col("lang").alias("v")
    )
    ds = _t(spark, sf_dir, "documents").select(
        F.lit("doc_source").alias("col_name"), F.col("source").alias("v")
    )
    op = _t(spark, sf_dir, "orders").select(
        F.lit("order_priority").alias("col_name"),
        F.col("o_orderpriority").alias("v"),
    )
    vals = ev.unionByName(dl).unionByName(ds).unionByName(op)
    counts = vals.groupBy("col_name", "v").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("col_name").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("k")
    )
    p = F.col("n") * 1.0 / F.col("total")
    ent = -F.sum(p * F.log(p))
    return (
        counts.join(tot, "col_name")
        .groupBy("col_name")
        .agg(
            F.max("k").cast("long").alias("n_distinct"),
            F.round(ent, 6).alias("entropy_nats"),
            F.round(
                ent
                / F.when(F.max("k") > 1, F.log(F.max("k").cast("double"))).otherwise(
                    F.lit(1.0)
                ),
                6,
            ).alias("normalized_entropy"),
        )
    )


@register(
    "a_l_diversity",
    """
    WITH qi AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket
      FROM customer
    ),
    groups AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS group_size,
             CAST(COUNT(DISTINCT bal_bucket) AS BIGINT) AS l_distinct
      FROM qi GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment, CAST(c_nationkey AS INT) AS c_nationkey,
           group_size, l_distinct
    FROM groups WHERE l_distinct < 6
    """,
)
def a_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's stronger sibling: a
    quasi-identifier group is unsafe not just when it's SMALL but when its
    SENSITIVE attribute (account-balance bucket) takes too few distinct
    values, because membership then discloses the value itself. Flags
    (segment, nation) groups with < 3 distinct balance buckets. One
    two-phase distinct aggregate on the QI key — the same shape as
    a_k_anonymity, so the two audits share a shuffle when run together."""
    cust = _t(spark, sf_dir, "customer")
    qi = cust.select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    )
    return (
        qi.groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct("bal_bucket").alias("l_distinct"),
        )
        .filter(F.col("l_distinct") < 6)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").cast("int").alias("c_nationkey"),
            "group_size",
            "l_distinct",
        )
    )


@register(
    "a_moments_skew_kurtosis",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(l_extendedprice) AS s1,
             SUM(l_extendedprice * l_extendedprice) AS s2,
             SUM(l_extendedprice * l_extendedprice * l_extendedprice) AS s3,
             SUM(l_extendedprice * l_extendedprice * l_extendedprice
                 * l_extendedprice) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(s1 / n, 4) AS mean,
           ROUND((s2 / n) - POWER(s1 / n, 2), 4) AS variance,
           ROUND(((s3 / n) - 3 * (s1 / n) * (s2 / n) + 2 * POWER(s1 / n, 3))
                 / POWER((s2 / n) - POWER(s1 / n, 2), 1.5), 6) AS skewness,
           ROUND(((s4 / n) - 4 * (s1 / n) * (s3 / n)
                  + 6 * POWER(s1 / n, 2) * (s2 / n) - 3 * POWER(s1 / n, 4))
                 / POWER((s2 / n) - POWER(s1 / n, 2), 2) - 3, 6) AS excess_kurtosis
    FROM s
    """,
)
def a_moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per group from raw power sums S₁..S₄ —
    the MERGEABLE formulation: power sums are plain additions, so partial
    aggregates combine across partitions, days, or incremental batches with
    no reprocessing (the same algebraic-merge property s_incremental_agg
    exploits); central moments expand from them in closed form at the end.
    One scan, one |groups|-row reduce. The textbook two-pass 'subtract the
    mean first' version needs the mean before the pass — this one doesn't,
    at the cost of the (documented, benign at double precision for these
    magnitudes) cancellation in the expansion."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    m = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - m * m
    m3 = F.col("s3") / F.col("n") - 3 * m * (F.col("s2") / F.col("n")) + 2 * F.pow(m, 3)
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * m * (F.col("s3") / F.col("n"))
        + 6 * F.pow(m, 2) * (F.col("s2") / F.col("n"))
        - 3 * F.pow(m, 4)
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(m, 4).alias("mean"),
        F.round(m2, 4).alias("variance"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        F.round(m4 / F.pow(m2, 2) - 3, 6).alias("excess_kurtosis"),
    )


@register(
    "a_dau_mau_stickiness",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             date_trunc('month', CAST(ts AS DATE)) AS mth,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2
    ),
    monthly AS (
      SELECT date_trunc('month', CAST(ts AS DATE)) AS mth,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY 1
    )
    SELECT CAST(daily.mth AS DATE) AS month,
           ROUND(AVG(dau), 4) AS avg_dau,
           CAST(MAX(mau) AS BIGINT) AS mau,
           ROUND(AVG(dau) / MAX(mau), 6) AS stickiness,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily JOIN monthly ON daily.mth = monthly.mth
    GROUP BY daily.mth
    """,
)
def a_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month — the engagement ratio product
    teams live on. Two distinct-count aggregates at different granularities
    over the SAME scan shape (day-level and month-level user distincts),
    joined on the month; avg-DAU/MAU is the stickiness. COUNT(DISTINCT) is
    the two-phase expansion both times — keys are (period, user), so no
    global-distinct bottleneck; at 100 TB swap the month-level distinct
    for the HLL sketch (a_hll_distinct) and the query shape is unchanged."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("d"),
        F.date_trunc("month", F.col("ts").cast("date")).cast("date").alias("mth"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    monthly = ev.groupBy(
        F.date_trunc("month", F.col("ts").cast("date")).cast("date").alias("mth")
    ).agg(F.countDistinct("user_id").alias("mau"))
    return (
        daily.join(monthly, "mth")
        .groupBy(F.col("mth").alias("month"))
        .agg(
            F.round(F.avg("dau"), 4).alias("avg_dau"),
            F.max("mau").alias("mau"),
            F.round(F.avg("dau") / F.max("mau"), 6).alias("stickiness"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


@register(
    "a_rfm_segments",
    """
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    rfm AS (
      SELECT o_custkey,
             DATE_DIFF('day', MAX(CAST(o_orderdate AS DATE)), mx.maxd) AS recency_d,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS monetary_cents
      FROM orders, mx GROUP BY o_custkey, mx.maxd
    ),
    scored AS (
      SELECT o_custkey,
             CASE WHEN recency_d <= 90 THEN 5 WHEN recency_d <= 180 THEN 4
                  WHEN recency_d <= 365 THEN 3 WHEN recency_d <= 730 THEN 2
                  ELSE 1 END AS r_score,
             CASE WHEN frequency >= 20 THEN 5 WHEN frequency >= 10 THEN 4
                  WHEN frequency >= 5 THEN 3 WHEN frequency >= 2 THEN 2
                  ELSE 1 END AS f_score,
             CASE WHEN monetary_cents >= 400000000 THEN 5
                  WHEN monetary_cents >= 200000000 THEN 4
                  WHEN monetary_cents >= 100000000 THEN 3
                  WHEN monetary_cents >= 50000000 THEN 2
                  ELSE 1 END AS m_score,
             monetary_cents
      FROM rfm
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           -- exact half-up integer mean in cents: AVG(BIGINT) is a float whose
           -- summation order differs between engines, and ROUND(double, 2)
           -- halfway semantics differ too (diverged at sf0.1 segment sizes)
           CAST((2 * SUM(monetary_cents) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS avg_monetary_cents
    FROM scored GROUP BY 1, 2, 3
    """,
)
def a_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with FIXED
    score boundaries — deliberately not data-dependent quintiles, so the
    segmentation needs no global sort, is stable across engines and reruns,
    and segment definitions survive incremental refresh (quintile-based RFM
    re-labels everyone whenever the distribution moves — the operational
    argument for fixed bands). One per-customer aggregate (recency against
    the broadcast max date, counts, exact-cents spend), a CASE ladder, and
    a 125-cell rollup."""
    orders = _t(spark, sf_dir, "orders")
    mx = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    rfm = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "maxd")
        .agg(
            F.datediff(
                F.col("maxd"), F.max(F.col("o_orderdate").cast("date"))
            ).alias("recency_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice") * 100).cast("long").alias(
                "monetary_cents"
            ),
        )
    )
    r = (
        F.when(F.col("recency_d") <= 90, 5)
        .when(F.col("recency_d") <= 180, 4)
        .when(F.col("recency_d") <= 365, 3)
        .when(F.col("recency_d") <= 730, 2)
        .otherwise(1)
    )
    f_ = (
        F.when(F.col("frequency") >= 20, 5)
        .when(F.col("frequency") >= 10, 4)
        .when(F.col("frequency") >= 5, 3)
        .when(F.col("frequency") >= 2, 2)
        .otherwise(1)
    )
    m = (
        F.when(F.col("monetary_cents") >= 400000000, 5)
        .when(F.col("monetary_cents") >= 200000000, 4)
        .when(F.col("monetary_cents") >= 100000000, 3)
        .when(F.col("monetary_cents") >= 50000000, 2)
        .otherwise(1)
    )
    return (
        rfm.select(
            r.alias("r_score"),
            f_.alias("f_score"),
            m.alias("m_score"),
            "monetary_cents",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").alias("_s"),
        )
        # exact half-up integer mean in cents (see the oracle comment): the
        # numerator stays < 2^53 so the one double division is exact
        .select(
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            (
                (
                    (2 * F.col("_s") + F.col("n_customers"))
                    - F.pmod(
                        2 * F.col("_s") + F.col("n_customers"),
                        2 * F.col("n_customers"),
                    )
                )
                / (2 * F.col("n_customers"))
            )
            .cast("long")
            .alias("avg_monetary_cents"),
        )
    )


@register(
    "a_srm_check",
    """
    WITH assigned AS (
      SELECT CASE WHEN CAST(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    counts AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n FROM assigned GROUP BY arm
    ),
    tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT ROUND(SUM(POWER(n - total / 2.0, 2) / (total / 2.0)), 6) AS chi2,
           CAST(MAX(CASE WHEN arm = 'control' THEN n END) AS BIGINT) AS n_control,
           CAST(MAX(CASE WHEN arm = 'treatment' THEN n END) AS BIGINT) AS n_treatment,
           CASE WHEN SUM(POWER(n - total / 2.0, 2) / (total / 2.0)) > 3.841
                THEN 'SRM_SUSPECTED' ELSE 'OK' END AS verdict
    FROM counts, tot
    """,
)
def a_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for the hash-assigned experiment arms —
    the FIRST validity gate on any A/B readout (a significant SRM means
    the assignment or logging is broken and every downstream p-value is
    garbage). χ² of observed arm counts against the designed 50/50 split,
    with the 3.841 (df=1, α=0.05) verdict inline. Uses the same md5
    assignment coin as a_ab_test_welch, so this query IS that experiment's
    hygiene check. One distinct + one 2-row aggregate."""
    ev = _t(spark, sf_dir, "events")
    arm = F.when(
        F.pmod(
            DD.hex_hash64(F.concat(F.lit("ab"), F.col("user_id").cast("string"))),
            F.lit(2),
        )
        == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    counts = (
        ev.select("user_id")
        .distinct()
        .select(arm.alias("arm"))
        .groupBy("arm")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    j = counts.crossJoin(F.broadcast(tot))
    chi2 = F.sum(
        F.pow(F.col("n") - F.col("total") / 2.0, 2) / (F.col("total") / 2.0)
    )
    return j.agg(
        F.round(chi2, 6).alias("chi2"),
        F.max(F.when(F.col("arm") == "control", F.col("n")))
        .cast("long")
        .alias("n_control"),
        F.max(F.when(F.col("arm") == "treatment", F.col("n")))
        .cast("long")
        .alias("n_treatment"),
        F.when(chi2 > 3.841, F.lit("SRM_SUSPECTED"))
        .otherwise(F.lit("OK"))
        .alias("verdict"),
    )


@register(
    "a_zipf_exponent",
    """
    WITH tf AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
            FROM documents)
      GROUP BY tok
    ),
    top AS (
      SELECT tok, freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rnk
      FROM tf
      ORDER BY freq DESC, tok LIMIT 200
    ),
    pts AS (SELECT LN(rnk) AS x, LN(freq) AS y FROM top),
    m AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts
    )
    SELECT ROUND(-(n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_exponent,
           ROUND((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n, 4)
             AS log_c,
           CAST(n AS BIGINT) AS n_points
    FROM m
    """,
)
def a_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: OLS slope of log-frequency against
    log-rank over the top-200 terms (natural text sits near s≈1; heavily
    templated or synthetic corpora drift far from it — a one-number
    corpus-authenticity signal). The rank comes from a global top-200
    (TakeOrderedAndProject — heap-merged, no global sort), the regression
    from closed-form moment sums over 200 points. Word counts are the only
    fact-sized pass."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = tf.orderBy(F.col("freq").desc(), "tok").limit(200)
    w = Window.orderBy(F.col("freq").desc(), "tok")
    pts = top.withColumn("rnk", F.row_number().over(w)).select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.round(-slope, 4).alias("zipf_exponent"),
        F.round((F.col("sy") - F.col("sx") * slope) / F.col("n"), 4).alias(
            "log_c"
        ),
        F.col("n").cast("long").alias("n_points"),
    )


@register(
    "a_fair_share_waterfill",
    """
    WITH demand AS (
      SELECT n_name AS tenant,
             CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS d
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    ),
    cap AS (SELECT CAST(SUM(d) * 6 // 10 AS BIGINT) AS c FROM demand),
    ordered AS (
      SELECT tenant, d,
             ROW_NUMBER() OVER (ORDER BY d, tenant) AS i,
             COUNT(*) OVER () AS n,
             SUM(d) OVER (ORDER BY d, tenant ROWS UNBOUNDED PRECEDING) - d
               AS cum_below
      FROM demand
    ),
    flagged AS (
      SELECT o.*, cap.c,
             CASE WHEN cum_below + d * (n - i + 1) <= cap.c THEN 1 ELSE 0 END
               AS fully_served
      FROM ordered o, cap
    ),
    lvl AS (
      SELECT (c - cum_below) * 1.0 / (n - i + 1) AS level
      FROM flagged WHERE fully_served = 0
      ORDER BY i LIMIT 1
    )
    SELECT tenant,
           ROUND(d / 100.0, 2) AS demand,
           ROUND(CASE WHEN fully_served = 1 THEN d
                      ELSE (SELECT level FROM lvl) END / 100.0, 2) AS allocation,
           ROUND(CASE WHEN fully_served = 1 THEN 1.0
                      ELSE (SELECT level FROM lvl) / d END, 6) AS fill_ratio
    FROM flagged
    """,
)
def a_fair_share_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair-share allocation (progressive waterfill): divide a
    capacity budget (60% of total demand) among tenants so that small
    demands are fully served and the rest share the remaining level
    equally — the allocation rule behind fair schedulers, rate limiters,
    and quota systems. The closed-form: sort by demand, a tenant is fully
    served iff its demand fits under the water line given everything
    smaller is served (cum_below + d·(remaining) ≤ C); the first
    infeasible rank determines the level. One |tenants|-row window chain
    (bounded by tenant cardinality, not data volume) after the per-tenant
    demand aggregate — exact integer cents up to the final level division."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    demand = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("tenant"))
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("d"))
    )
    cap = demand.agg(
        F.floor(F.sum("d") * 6 / 10).cast("long").alias("c")
    )
    w_ord = Window.orderBy("d", "tenant")
    wa = Window.partitionBy()
    ordered = demand.select(
        "tenant",
        "d",
        F.row_number().over(w_ord).alias("i"),
        F.count(F.lit(1)).over(wa).alias("n"),
        (
            F.sum("d").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
            - F.col("d")
        ).alias("cum_below"),
    )
    flagged = IT.round_checkpoint(ordered.crossJoin(F.broadcast(cap)).withColumn(
        "fully_served",
        F.when(
            F.col("cum_below") + F.col("d") * (F.col("n") - F.col("i") + 1)
            <= F.col("c"),
            1,
        ).otherwise(0),
    ))
    lvl = (
        flagged.filter(F.col("fully_served") == 0)
        .orderBy("i")
        .limit(1)
        .select(
            (
                (F.col("c") - F.col("cum_below"))
                * 1.0
                / (F.col("n") - F.col("i") + 1)
            ).alias("level")
        )
        # Collapse to EXACTLY one row (NULL level when every tenant is fully
        # served) so the join below mirrors DuckDB's scalar subquery, which
        # yields NULL — not zero rows — on an empty lvl.  A bare crossJoin
        # with an empty frame would silently return an empty result.
        .agg(F.min("level").alias("level"))
    )
    return flagged.crossJoin(F.broadcast(lvl)).select(
        "tenant",
        F.round(F.col("d") / 100.0, 2).alias("demand"),
        F.round(
            F.when(F.col("fully_served") == 1, F.col("d")).otherwise(
                F.col("level")
            )
            / 100.0,
            2,
        ).alias("allocation"),
        F.round(
            F.when(F.col("fully_served") == 1, F.lit(1.0)).otherwise(
                F.col("level") / F.col("d")
            ),
            6,
        ).alias("fill_ratio"),
    )


@register(
    "a_source_overlap_matrix",
    """
    WITH hashed AS (
      SELECT DISTINCT source,
             CASE WHEN doc_id % 25 = 0
                  THEN md5('syndicated' || CAST(doc_id % 10 AS VARCHAR))
                  ELSE md5(text) END AS th
      FROM documents
    ),
    pairs AS (
      SELECT a.source AS source_1, b.source AS source_2,
             CAST(COUNT(*) AS BIGINT) AS n_shared_texts
      FROM hashed a JOIN hashed b ON a.th = b.th AND a.source < b.source
      GROUP BY 1, 2
    ),
    per_src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_texts FROM hashed GROUP BY 1
    )
    SELECT p.source_1, p.source_2, p.n_shared_texts,
           ROUND(p.n_shared_texts * 1.0
                 / LEAST(s1.n_texts, s2.n_texts), 6) AS overlap_coeff
    FROM pairs p
    JOIN per_src s1 ON p.source_1 = s1.source
    JOIN per_src s2 ON p.source_2 = s2.source
    """,
)
def a_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source redundancy matrix: for every source pair, how many
    IDENTICAL documents (by content hash; syndication planted — see code
    comment) both carry, normalized by the
    smaller source's size (the Szymkiewicz–Simpson overlap coefficient) —
    the first question when merging crawl feeds: 'which feeds are mostly
    re-serving each other?'. Distinct (source, hash) first collapses
    within-source dups so the pair join counts texts, not copies; the join
    is keyed on the content hash (never a source×source product)."""
    docs = _t(spark, sf_dir, "documents")
    # the synthetic corpus has no cross-source exact dups, so syndicated
    # content is PLANTED: every 25th doc maps to one of 10 shared
    # fingerprints (same planted-defect pattern as emb_norm_outliers)
    th = F.when(
        F.col("doc_id") % 25 == 0,
        F.md5(F.concat(F.lit("syndicated"), (F.col("doc_id") % 10).cast("string"))),
    ).otherwise(F.md5("text"))
    hashed = IT.round_checkpoint(docs.select("source", th.alias("th")).distinct())
    a = hashed.select(F.col("source").alias("source_1"), "th")
    b = hashed.select(F.col("source").alias("source_2"), "th")
    pairs = (
        a.join(b, "th")
        .filter(F.col("source_1") < F.col("source_2"))
        .groupBy("source_1", "source_2")
        .agg(F.count(F.lit(1)).alias("n_shared_texts"))
    )
    per_src = hashed.groupBy("source").agg(F.count(F.lit(1)).alias("n_texts"))
    s1 = per_src.select(F.col("source").alias("source_1"), F.col("n_texts").alias("n1"))
    s2 = per_src.select(F.col("source").alias("source_2"), F.col("n_texts").alias("n2"))
    return (
        pairs.join(F.broadcast(s1), "source_1")
        .join(F.broadcast(s2), "source_2")
        .select(
            "source_1",
            "source_2",
            "n_shared_texts",
            F.round(
                F.col("n_shared_texts") * 1.0 / F.least(F.col("n1"), F.col("n2")),
                6,
            ).alias("overlap_coeff"),
        )
    )


@register(
    "a_dp_noisy_counts",
    """
    WITH counts AS (
      SELECT o_orderpriority AS bucket, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM orders GROUP BY 1
    ),
    noised AS (
      SELECT bucket, true_n,
             (CAST(('0x' || substr(md5('dp' || bucket), 1, 6)) AS BIGINT) + 0.5)
               / 16777216.0 AS u
      FROM counts
    )
    SELECT bucket,
           CAST(true_n + ROUND(
             -1.0 * (CASE WHEN u >= 0.5 THEN 1 ELSE -1 END)
             * LN(1 - 2 * ABS(u - 0.5))) AS BIGINT) AS noisy_n,
           ROUND(-1.0 * (CASE WHEN u >= 0.5 THEN 1 ELSE -1 END)
                 * LN(1 - 2 * ABS(u - 0.5)), 4) AS noise_drawn,
           1.0 AS epsilon
    FROM noised
    """,
)
def a_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy count release (ε = 1, sensitivity 1 →
    scale b = 1): each group's count is perturbed by Laplace noise drawn
    through the inverse CDF −b·sgn(u−½)·ln(1−2|u−½|). The uniform here is
    the PORTABLE md5 coin — which makes the release reproducible for the
    oracle but is NOT cryptographic randomness; a production DP release
    swaps in a secure RNG and this query is the mechanism's dataflow
    (per-group noise is map-side over the aggregated counts, so the DP
    step costs nothing at any scale). The +0.5/2²⁴ offset keeps u strictly
    inside (0,1) so the log never sees zero."""
    orders = _t(spark, sf_dir, "orders")
    counts = orders.groupBy(F.col("o_orderpriority").alias("bucket")).agg(
        F.count(F.lit(1)).alias("true_n")
    )
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dp"), F.col("bucket"))), 1, 6), 16, 10)
        .cast("long")
        + 0.5
    ) / 16777216.0
    sgn = F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise = -1.0 * sgn * F.log(1 - 2 * F.abs(u - 0.5))
    return counts.select(
        "bucket",
        (F.col("true_n") + F.round(noise)).cast("long").alias("noisy_n"),
        F.round(noise, 4).alias("noise_drawn"),
        F.lit(1.0).alias("epsilon"),
    )


@register(
    "a_variant_shred",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
)
def a_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured aggregation through Spark 4's VARIANT type:
    parse_json ONCE into the binary variant encoding, then typed
    variant_get extraction — the engine-native path that replaces
    per-access string re-parsing (get_json_object re-tokenizes the JSON on
    every call; variant parses once and shreds). Same dataflow as
    c_json_props but on the modern type; at scale the parse cost is paid
    once per row and the extraction is a cheap binary probe."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "bigint")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "a_seasonality_strength",
    """
    WITH daily AS (
      SELECT l_returnflag,
             CAST(l_shipdate AS DATE) AS d,
             DATE_DIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) % 7
               AS dow,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1, 2, 3
    ),
    dow_means AS (
      SELECT l_returnflag, dow, AVG(cents) AS dm
      FROM daily GROUP BY 1, 2
    ),
    resid AS (
      SELECT daily.l_returnflag, cents, cents - dm AS r
      FROM daily JOIN dow_means
        ON daily.l_returnflag = dow_means.l_returnflag
       AND daily.dow = dow_means.dow
    )
    SELECT l_returnflag,
           ROUND(1 - VAR_SAMP(r) / VAR_SAMP(cents), 6) AS seasonal_strength,
           ROUND(SQRT(VAR_SAMP(cents)) / 100.0, 2) AS daily_sd,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM resid GROUP BY l_returnflag
    """,
)
def a_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength per series: the fraction of daily-revenue
    variance explained by the day-of-week profile (1 − Var(residual)/
    Var(raw) — the STL-style strength statistic without the iterative
    decomposition). Near 0 = no weekly structure (don't bother with
    seasonal models), near 1 = the week IS the signal. Complements
    w_forecast_baselines' ratio with a variance-based view; all inputs
    integer cents, variances over the |days|-bounded rollup."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
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
    dow_means = daily.groupBy("l_returnflag", "dow").agg(
        F.avg("cents").alias("dm")
    )
    resid = daily.join(F.broadcast(dow_means), ["l_returnflag", "dow"]).select(
        "l_returnflag", "cents", (F.col("cents") - F.col("dm")).alias("r")
    )
    return resid.groupBy("l_returnflag").agg(
        F.round(1 - F.var_samp("r") / F.var_samp("cents"), 6).alias(
            "seasonal_strength"
        ),
        F.round(F.sqrt(F.var_samp("cents")) / 100.0, 2).alias("daily_sd"),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "a_lsh_param_planner",
    f"""
    WITH {_SIG_CTES},
    configs AS (SELECT unnest([2, 4, 8]) AS n_bands),
    banded_all AS (
      SELECT c.n_bands, doc_id, b,
             md5(array_to_string(
               list_transform(
                 sig[b * (16 // c.n_bands) + 1 : b * (16 // c.n_bands) + (16 // c.n_bands)],
                 v -> v::VARCHAR), ',')) AS band_key
      FROM sig, configs c, generate_series(0, 7) g(b)
      WHERE b < c.n_bands
    ),
    buckets AS (
      SELECT n_bands, b, band_key, CAST(COUNT(*) AS BIGINT) AS n
      FROM banded_all GROUP BY 1, 2, 3
    )
    SELECT n_bands,
           CAST(16 // n_bands AS BIGINT) AS rows_per_band,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS est_candidate_pairs,
           CAST(MAX(n) AS BIGINT) AS largest_bucket,
           ROUND(POWER(0.5, CAST(16 // n_bands AS DOUBLE)) * n_bands, 6)
             AS approx_recall_at_j05
    FROM buckets GROUP BY n_bands
    """,
)
def a_lsh_param_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter planning FROM THE DATA, before running the dedup: for
    band counts {{2, 4, 8}} over the same 16-hash MinHash signatures,
    estimate the candidate-pair workload (Σ n·(n−1)/2 over bucket
    histograms — the exact number of pairs the band join would emit), the
    largest bucket (the skew hazard), and the first-order recall bound
    b·(J^r) at J = 0.5. More bands = more candidates AND more recall; this
    query prices that trade on the actual corpus so the dedup run is
    configured, not guessed. Signatures are computed once; each config
    reuses them — the planner costs one signature pass plus bucket
    counting, never a pair join."""
    docs = _t(spark, sf_dir, "documents")
    # r10: signatures from the Arrow-batched producer (value-identical to the
    # higher-order-function expression path it replaced — see
    # operators/dedup._mh_h31_sig_udf, measured 4.1x on this stage)
    sig = IT.round_checkpoint(
        DD.shingle_sig_frame(docs, "text", "doc_id", 16)
        .select("doc_id", "sig")
    )
    outs = []
    for n_bands in (2, 4, 8):
        r = 16 // n_bands
        banded = sig.select(
            "doc_id",
            F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("b"),
            "sig",
        ).select(
            "doc_id",
            "b",
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(F.col("sig"), F.col("b") * r + 1, r),
                        lambda v: v.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_key"),
        )
        buckets = banded.groupBy("b", "band_key").agg(
            F.count(F.lit(1)).alias("n")
        )
        outs.append(
            buckets.agg(
                F.lit(n_bands).cast("long").alias("n_bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.sum(
                    (F.col("n") * (F.col("n") - 1) - F.pmod(F.col("n") * (F.col("n") - 1), F.lit(2))) / 2
                )
                .cast("long")
                .alias("est_candidate_pairs"),
                F.max("n").alias("largest_bucket"),
                F.round(F.pow(F.lit(0.5), F.lit(float(r))) * n_bands, 6).alias(
                    "approx_recall_at_j05"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "a_growth_accounting",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk
      FROM events
    ),
    marked AS (
      SELECT user_id, wk,
             MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
             LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
      FROM uw
    ),
    maxwk AS (SELECT MAX(wk) AS mw FROM uw),
    states AS (
      SELECT wk,
             CAST(SUM(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
             CAST(SUM(CASE WHEN wk > first_wk AND (prev_wk IS NULL OR prev_wk < wk - 1)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM marked GROUP BY wk
    ),
    churn AS (
      SELECT m.wk + 1 AS wk, CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM marked m, maxwk
      WHERE (m.next_wk IS NULL OR m.next_wk > m.wk + 1) AND m.wk + 1 <= maxwk.mw
      GROUP BY m.wk + 1
    )
    SELECT s.wk AS week, s.n_new, s.n_retained, s.n_resurrected,
           COALESCE(c.n_churned, 0) AS n_churned
    FROM states s LEFT JOIN churn c ON s.wk = c.wk
    """,
)
def a_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the new / retained / resurrected / churned weekly
    ledger every growth team reports): collapse events to distinct
    (user, week), then ONE user-partitioned window pass derives first
    week, previous active week, and next active week — new is
    first-appearance, retained is consecutive, resurrected is a gap
    return, and churn at week w+1 is 'active at w, silent at w+1'
    (credited to the week the user went missing, capped at the observed
    horizon). The identity new + retained + resurrected = WAU holds by
    construction — the self-audit every growth ledger should ship with."""
    ev = _t(spark, sf_dir, "events")
    epoch = F.lit("2024-01-01").cast("date")
    uw = ev.select(
        "user_id",
        F.floor(F.datediff(F.col("ts").cast("date"), epoch) / 7).alias("wk"),
    ).distinct()
    w_u = Window.partitionBy("user_id")
    w_o = Window.partitionBy("user_id").orderBy("wk")
    marked = IT.round_checkpoint(uw.select(
        "user_id",
        "wk",
        F.min("wk").over(w_u).alias("first_wk"),
        F.lag("wk").over(w_o).alias("prev_wk"),
        F.lead("wk").over(w_o).alias("next_wk"),
    ))
    maxwk = marked.agg(F.max("wk").alias("mw"))
    states = marked.groupBy("wk").agg(
        F.sum(F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0)).alias(
            "n_new"
        ),
        F.sum(F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0)).alias(
            "n_retained"
        ),
        F.sum(
            F.when(
                (F.col("wk") > F.col("first_wk"))
                & (
                    F.col("prev_wk").isNull()
                    | (F.col("prev_wk") < F.col("wk") - 1)
                ),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
    )
    churn = (
        marked.crossJoin(F.broadcast(maxwk))
        .filter(
            (F.col("next_wk").isNull() | (F.col("next_wk") > F.col("wk") + 1))
            & (F.col("wk") + 1 <= F.col("mw"))
        )
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        states.join(churn, "wk", "left_outer")
        .select(
            F.col("wk").alias("week"),
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0)).alias("n_churned"),
        )
    )


@register(
    "a_theil_index",
    """
    WITH cust AS (
      SELECT c_custkey, n_name,
             CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY c_custkey, n_name
    ),
    tot AS (SELECT AVG(cents) AS mu, COUNT(*) AS n FROM cust),
    grp AS (
      SELECT n_name, AVG(cents) AS mu_g, COUNT(*) AS n_g FROM cust GROUP BY n_name
    ),
    within AS (
      SELECT c.n_name,
             SUM((c.cents / t.mu) * LN(c.cents / g.mu_g)) / t.n AS tw_g
      FROM cust c JOIN grp g ON c.n_name = g.n_name, tot t
      GROUP BY c.n_name, t.n
    ),
    between_g AS (
      SELECT SUM((g.n_g * g.mu_g / (t.n * t.mu)) * LN(g.mu_g / t.mu)) AS tb
      FROM grp g, tot t
    )
    SELECT ROUND((SELECT SUM(tw_g) FROM within) + (SELECT tb FROM between_g), 6)
             AS theil_total,
           ROUND((SELECT SUM(tw_g) FROM within), 6) AS theil_within,
           ROUND((SELECT tb FROM between_g), 6) AS theil_between,
           ROUND((SELECT tb FROM between_g)
                 / ((SELECT SUM(tw_g) FROM within) + (SELECT tb FROM between_g)), 6)
             AS between_share
    """,
)
def a_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer spend, DECOMPOSED into
    within-nation and between-nation components — the property Gini lacks
    and the reason Theil is the inequality measure for grouped data: the
    two components sum EXACTLY to the total, so 'how much inequality is
    geography' is a division, not a model. Per-customer spend in integer
    cents; one customer aggregate, one |nations| group table, logs only in
    the final fold. between_share is the headline number."""
    orders = _t(spark, sf_dir, "orders")
    cust_d = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    cust = IT.round_checkpoint(
        orders.join(F.broadcast(cust_d), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "n_name")
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    )
    tot = cust.agg(F.avg("cents").alias("mu"), F.count(F.lit(1)).alias("n"))
    grp = cust.groupBy("n_name").agg(
        F.avg("cents").alias("mu_g"), F.count(F.lit(1)).alias("n_g")
    )
    within = (
        cust.join(F.broadcast(grp), "n_name")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("cents") / F.col("mu"))
                * F.log(F.col("cents") / F.col("mu_g"))
            ).alias("num"),
            F.max("n").alias("n"),
        )
        .select((F.col("num") / F.col("n")).alias("tw"))
    )
    between = (
        grp.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("n_g") * F.col("mu_g") / (F.col("n") * F.col("mu")))
                * F.log(F.col("mu_g") / F.col("mu"))
            ).alias("tb")
        )
    )
    return (
        within.crossJoin(F.broadcast(between))
        .select(
            F.round(F.col("tw") + F.col("tb"), 6).alias("theil_total"),
            F.round(F.col("tw"), 6).alias("theil_within"),
            F.round(F.col("tb"), 6).alias("theil_between"),
            F.round(F.col("tb") / (F.col("tw") + F.col("tb")), 6).alias(
                "between_share"
            ),
        )
    )


@register(
    "a_market_hhi",
    """
    WITH rev AS (
      SELECT r_name, n_name,
             CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    ),
    tot AS (SELECT r_name, SUM(cents) AS total FROM rev GROUP BY r_name)
    SELECT rev.r_name,
           ROUND(SUM(POWER(10000.0 * cents / total, 2)) / 10000.0, 2) AS hhi,
           CAST(COUNT(*) AS BIGINT) AS n_players,
           ROUND(MAX(cents * 100.0 / total), 4) AS top_share_pct
    FROM rev JOIN tot ON rev.r_name = tot.r_name
    GROUP BY rev.r_name
    """,
)
def a_market_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index per regional market (Σ of
    squared percentage shares — the antitrust screen: < 1500 competitive,
    > 2500 concentrated), with player count and the leader's share. Joins
    Gini (rank-based) and Theil (entropy-based) to complete the
    concentration-measure family; HHI is the one regulators quote. Two
    broadcast-dim joins, one share fold over the |region|×|nation| table."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    )
    tot = rev.groupBy("r_name").agg(F.sum("cents").alias("total"))
    return (
        rev.join(F.broadcast(tot), "r_name")
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.pow(10000.0 * F.col("cents") / F.col("total"), 2)) / 10000.0,
                2,
            ).alias("hhi"),
            F.count(F.lit(1)).alias("n_players"),
            F.round(F.max(F.col("cents") * 100.0 / F.col("total")), 4).alias(
                "top_share_pct"
            ),
        )
    )


@register(
    "a_seasonal_decompose",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             DATE_DIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) % 7
               AS dow,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1, 2
    ),
    trended AS (
      SELECT d, dow, cents,
             AVG(cents) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS trend,
             ROW_NUMBER() OVER (ORDER BY d) AS rn,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    interior AS (
      SELECT * FROM trended WHERE rn > 3 AND rn <= n - 3
    ),
    seasonal AS (
      SELECT dow, AVG(cents - trend) AS s FROM interior GROUP BY dow
    )
    SELECT i.d, CAST(i.dow AS BIGINT) AS dow,
           ROUND(i.cents / 100.0, 2) AS observed,
           ROUND(i.trend / 100.0, 2) AS trend,
           ROUND(s.s / 100.0, 2) AS seasonal,
           ROUND((i.cents - i.trend - s.s) / 100.0, 2) AS residual
    FROM interior i JOIN seasonal s ON i.dow = s.dow
    WHERE i.rn % 100 = 0
    """,
)
def a_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily revenue series:
    trend = centered 7-day moving average, seasonal = day-of-week mean of
    the detrended interior (edges where the centered window is truncated
    are excluded — the textbook rule, and the cross-engine rule: partial
    frames would average different implicit windows), residual = the
    rest. observed = trend + seasonal + residual holds exactly by
    construction. Output thinned to every 100th day; all component math
    on the |days|-bounded rollup."""
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
    w_ma = Window.orderBy("d").rowsBetween(-3, 3)
    w_rn = Window.orderBy("d")
    wa = Window.partitionBy()
    trended = daily.select(
        "d",
        "dow",
        "cents",
        F.avg("cents").over(w_ma).alias("trend"),
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    interior = IT.round_checkpoint(trended.filter(
        (F.col("rn") > 3) & (F.col("rn") <= F.col("n") - 3)
    ))
    seasonal = interior.groupBy("dow").agg(
        F.avg(F.col("cents") - F.col("trend")).alias("s")
    )
    return (
        interior.join(F.broadcast(seasonal), "dow")
        .filter(F.col("rn") % 100 == 0)
        .select(
            "d",
            F.col("dow").cast("long").alias("dow"),
            F.round(F.col("cents") / 100.0, 2).alias("observed"),
            F.round(F.col("trend") / 100.0, 2).alias("trend"),
            F.round(F.col("s") / 100.0, 2).alias("seasonal"),
            F.round(
                (F.col("cents") - F.col("trend") - F.col("s")) / 100.0, 2
            ).alias("residual"),
        )
    )


@register(
    "a_price_index",
    """
    WITH yearly AS (
      SELECT l_partkey,
             EXTRACT(year FROM l_shipdate) AS yr,
             SUM(l_extendedprice) / SUM(l_quantity) AS price,
             SUM(l_quantity) AS qty
      FROM lineitem
      WHERE EXTRACT(year FROM l_shipdate) IN (1996, 2000)
        AND l_quantity > 0
      GROUP BY 1, 2
    ),
    matched AS (
      SELECT b.l_partkey, b.price AS p0, b.qty AS q0, c.price AS p1, c.qty AS q1
      FROM (SELECT * FROM yearly WHERE yr = 1996) b
      JOIN (SELECT * FROM yearly WHERE yr = 2000) c USING (l_partkey)
    )
    SELECT ROUND(SUM(p1 * q0) / SUM(p0 * q0), 6) AS laspeyres,
           ROUND(SUM(p1 * q1) / SUM(p0 * q1), 6) AS paasche,
           ROUND(SQRT((SUM(p1 * q0) / SUM(p0 * q0))
                      * (SUM(p1 * q1) / SUM(p0 * q1))), 6) AS fisher,
           CAST(COUNT(*) AS BIGINT) AS n_matched_parts
    FROM matched
    """,
)
def a_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price indices between a base year (1996) and a current year (2000)
    over the matched part basket: Laspeyres (base-quantity weights — what
    CPI uses), Paasche (current weights), and their geometric mean (the
    Fisher ideal index, which cancels the two substitution biases). Unit
    prices are revenue/quantity per (part, year); only parts traded in
    BOTH years enter (the matched-model rule). One pruned scan, one
    self-join on the part key, one 1-row fold."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(1996, 2000) & (F.col("l_quantity") > 0)
    )
    yearly = li.groupBy(
        "l_partkey", F.year("l_shipdate").alias("yr")
    ).agg(
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("price"),
        F.sum("l_quantity").alias("qty"),
    )
    base = yearly.filter(F.col("yr") == 1996).select(
        "l_partkey", F.col("price").alias("p0"), F.col("qty").alias("q0")
    )
    cur = yearly.filter(F.col("yr") == 2000).select(
        "l_partkey", F.col("price").alias("p1"), F.col("qty").alias("q1")
    )
    matched = base.join(cur, "l_partkey")
    lasp = F.sum(F.col("p1") * F.col("q0")) / F.sum(F.col("p0") * F.col("q0"))
    paas = F.sum(F.col("p1") * F.col("q1")) / F.sum(F.col("p0") * F.col("q1"))
    return matched.agg(
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
        F.count(F.lit(1)).alias("n_matched_parts"),
    )


@register(
    "a_abc_xyz_classes",
    """
    WITH per_part AS (
      SELECT l_partkey,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS cents,
             STDDEV_SAMP(l_quantity) / NULLIF(AVG(l_quantity), 0) AS cv
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, cents, cv,
             SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_cents,
             SUM(cents) OVER () AS total_cents
      FROM per_part
    ),
    classed AS (
      SELECT CASE WHEN cum_cents * 10 <= total_cents * 8 THEN 'A'
                  WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
                  ELSE 'C' END AS abc,
             CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz,
             cents
      FROM ranked
    )
    SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(cents) / 100.0, 2) AS revenue
    FROM classed GROUP BY abc, xyz
    """,
)
def a_abc_xyz_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ classification matrix — the inventory-planning segmentation:
    ABC by cumulative revenue share (A = first 80%, B = to 95%, C = tail,
    via an integer-cents running sum in revenue-desc order) crossed with
    XYZ by demand variability (coefficient of variation of quantities:
    X stable < 0.5, Y < 1.0, Z erratic). AZ cells (high value, erratic)
    are the planner's problem children. The cumulative window runs over
    |parts| rows; all class boundaries compare exact integers
    (cum·10 ≤ total·8, never a float share). At 100 TB the running sum
    swaps to the distributed prefix-sum operator — same classes."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("long")
        .alias("cents"),
        (
            F.stddev_samp("l_quantity")
            / F.nullif(F.avg("l_quantity"), F.lit(0))
        ).alias("cv"),
    )
    w_cum = Window.orderBy(F.col("cents").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wa = Window.partitionBy()
    ranked = per_part.select(
        "cents",
        "cv",
        F.sum("cents").over(w_cum).alias("cum_cents"),
        F.sum("cents").over(wa).alias("total_cents"),
    )
    abc = (
        F.when(F.col("cum_cents") * 10 <= F.col("total_cents") * 8, "A")
        .when(F.col("cum_cents") * 100 <= F.col("total_cents") * 95, "B")
        .otherwise("C")
    )
    xyz = (
        F.when(F.col("cv") < 0.5, "X").when(F.col("cv") < 1.0, "Y").otherwise("Z")
    )
    return (
        ranked.select(abc.alias("abc"), xyz.alias("xyz"), "cents")
        .groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
        )
    )


@register(
    "a_bounce_rate",
    """
    WITH e AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000 + event_id AS seq
      FROM events
    ),
    marked AS (
      SELECT user_id, seq,
             CASE WHEN sec - LAG(sec) OVER w > 1800 OR LAG(sec) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY seq)
    ),
    sess AS (
      SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY seq
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    ),
    sizes AS (
      SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, sess_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS bounce_rate,
           ROUND(AVG(n_events), 4) AS avg_session_depth
    FROM sizes
    """,
)
def a_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate and session depth: sessionize by 30-minute gaps (the
    SAME gaps-and-islands encoding the session-path and stream-session
    queries use — one definition of 'session' across the engine), then
    count single-event sessions. One user-partitioned window chain, one
    per-session count, one 1-row fold."""
    ev = _t(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    e = ev.select(
        "user_id",
        sec.alias("sec"),
        (sec * 100000 + F.col("event_id")).alias("seq"),
    )
    w = Window.partitionBy("user_id").orderBy("seq")
    marked = e.select(
        "user_id",
        "seq",
        F.when(
            (F.col("sec") - F.lag("sec").over(w) > 1800)
            | F.lag("sec").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    w_cum = Window.partitionBy("user_id").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = marked.select(
        "user_id", F.sum("new_sess").over(w_cum).alias("sess_id")
    )
    sizes = sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)) * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
        F.round(F.avg("n_events"), 4).alias("avg_session_depth"),
    )


@register(
    "a_capture_recapture",
    """
    WITH s1 AS (
      SELECT doc_id FROM documents
      WHERE CAST(('0x' || substr(md5('cap1' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 30
    ),
    s2 AS (
      SELECT doc_id FROM documents
      WHERE CAST(('0x' || substr(md5('cap2' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 30
    ),
    m AS (SELECT COUNT(*) AS n_both FROM s1 JOIN s2 USING (doc_id))
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_sample1,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_sample2,
           CAST(n_both AS BIGINT) AS n_recaptured,
           CAST(FLOOR((((SELECT COUNT(*) FROM s1) + 1) * ((SELECT COUNT(*) FROM s2) + 1))::DOUBLE
                / (n_both + 1)) AS BIGINT) - 1 AS chapman_estimate,
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS true_population
    FROM m
    """,
)
def a_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Lincoln-Petersen with the Chapman correction)
    population estimation: two INDEPENDENT 30% hash samples of the corpus,
    and the overlap rate estimates the total — N̂ = (n₁+1)(n₂+1)/(m+1) − 1.
    The production use: estimating the size of a population you can only
    sample (distinct URLs behind a crawl frontier, true dedup-cluster
    counts) without enumerating it; here the true count sits alongside as
    the self-audit. Independence comes from distinct hash salts — the same
    portable coin, two different draws. Two pruned scans + one key join."""
    docs = _t(spark, sf_dir, "documents")

    def sample(salt):
        return docs.filter(
            F.pmod(
                DD.hex_hash64(
                    F.concat(F.lit(salt), F.col("doc_id").cast("string"))
                ),
                F.lit(100),
            )
            < 30
        ).select("doc_id")

    s1, s2 = sample("cap1"), sample("cap2")
    n1 = s1.agg(F.count(F.lit(1)).alias("n_sample1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n_sample2"))
    m = s1.join(s2, "doc_id").agg(F.count(F.lit(1)).alias("n_recaptured"))
    tot = docs.agg(F.count(F.lit(1)).alias("true_population"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_sample1",
            "n_sample2",
            "n_recaptured",
            # FLOOR before the cast on BOTH sides: Spark cast(double->long)
            # truncates while DuckDB CAST rounds; the quotient is almost never
            # integral, so without the snap the engines diverge whenever the
            # fraction is >= .5 (module-docstring determinism rule).
            (
                F.floor(
                    (F.col("n_sample1") + 1)
                    * (F.col("n_sample2") + 1)
                    / (F.col("n_recaptured") + 1)
                ).cast("long")
                - 1
            ).alias("chapman_estimate"),
            "true_population",
        )
    )


@register(
    "a_user_feature_vector",
    """
    WITH base AS (
      SELECT user_id, event_type, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(ts AS DATE) AS d
      FROM events
    ),
    mx AS (SELECT MAX(ts) AS max_ts FROM base),
    feats AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT d) AS BIGINT) AS n_active_days,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases,
             ROUND(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
                   / 100.0, 2) AS total_spend,
             ROUND(SUM(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0 END)
                   / COUNT(*), 6) AS purchase_rate,
             CAST(DATE_DIFF('second', MAX(ts), mx.max_ts) AS BIGINT)
               AS recency_s,
             CAST(DATE_DIFF('second', MIN(ts), MAX(ts)) AS BIGINT)
               AS tenure_s,
             ROUND(SUM(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0 END)
                   / COUNT(*), 6) AS error_rate
      FROM base, mx GROUP BY user_id, mx.max_ts
    )
    SELECT * FROM feats WHERE user_id % 50 = 0
    """,
)
def a_user_feature_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store assembly: eight behavioral features per user (volume,
    breadth, monetization, recency, tenure, error exposure) computed in
    ONE conditional-aggregate pass over the event log — the pattern that
    matters at 100 TB: N features from one shuffle, not N jobs (every
    CASE folds into the same partial aggregate; the global max-timestamp
    anchor broadcasts). Output thinned to every 50th user for the
    contract; the unthinned frame is what a training job would join
    against labels."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("ts").cast("date").alias("d"),
    )
    mx = base.agg(F.max("ts").alias("max_ts"))
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    feats = (
        base.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("d").alias("n_active_days"),
            F.sum(is_p).alias("n_purchases"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0))
                / 100.0,
                2,
            ).alias("total_spend"),
            F.round(F.sum(is_p * F.lit(1.0)) / F.count(F.lit(1)), 6).alias(
                "purchase_rate"
            ),
            (
                F.max(F.col("max_ts").cast("long"))
                - F.max(F.col("ts").cast("long"))
            ).alias("recency_s"),
            (
                F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))
            ).alias("tenure_s"),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "error", F.lit(1.0)).otherwise(0)
                )
                / F.count(F.lit(1)),
                6,
            ).alias("error_rate"),
        )
    )
    return feats.filter(F.col("user_id") % 50 == 0).select(
        "user_id",
        "n_events",
        "n_active_days",
        "n_purchases",
        "total_spend",
        "purchase_rate",
        "recency_s",
        "tenure_s",
        "error_rate",
    )


@register(
    "a_skyline_pareto_front",
    """
    WITH pts AS (
      SELECT p_partkey,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size
      FROM part
    ),
    scanned AS (
      SELECT p_partkey, price_cents, size,
             MAX(size) OVER (ORDER BY price_cents, p_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_size_cheaper
      FROM pts
    )
    SELECT p_partkey, ROUND(price_cents / 100.0, 2) AS price, size
    FROM scanned
    WHERE best_size_cheaper IS NULL OR size > best_size_cheaper
    """,
)
def a_skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front query (minimize price, maximize size): a part
    is on the front iff nothing is both cheaper and at-least-as-large.
    The naive formulation is a quadratic NOT EXISTS self-join; the
    sort-scan identity replaces it — order by price and a point survives
    iff its size beats the running max over everything STRICTLY cheaper
    (the 1-PRECEDING frame; the p_partkey tie-break makes equal-price
    points compare against earlier ids only, a total deterministic rule).
    One window over |parts|; at 100 TB, range-partition by price and
    carry per-partition max prefixes — the same two-phase shape as the
    distributed prefix sum."""
    part = _t(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    w = Window.orderBy("price_cents", "p_partkey").rowsBetween(
        Window.unboundedPreceding, -1
    )
    scanned = pts.select(
        "p_partkey",
        "price_cents",
        "size",
        F.max("size").over(w).alias("best_size_cheaper"),
    )
    return scanned.filter(
        F.col("best_size_cheaper").isNull()
        | (F.col("size") > F.col("best_size_cheaper"))
    ).select(
        "p_partkey",
        F.round(F.col("price_cents") / 100.0, 2).alias("price"),
        "size",
    )


@register(
    "a_simpsons_paradox",
    """
    WITH pts AS (
      SELECT l_returnflag AS grp, l_discount AS x, l_quantity AS y
      FROM lineitem
    ),
    overall AS (SELECT CORR(x, y) AS r_all FROM pts),
    per_grp AS (
      SELECT grp, CORR(x, y) AS r_g, CAST(COUNT(*) AS BIGINT) AS n
      FROM pts GROUP BY grp
    )
    SELECT g.grp, ROUND(g.r_g, 6) AS group_corr,
           ROUND(o.r_all, 6) AS overall_corr, g.n,
           CASE WHEN SIGN(g.r_g) <> SIGN(o.r_all) AND ABS(g.r_g) > 0.01
                THEN 'SIGN_FLIP' ELSE 'CONSISTENT' END AS verdict
    FROM per_grp g, overall o
    """,
)
def a_simpsons_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: the discount→quantity correlation computed
    overall AND within each group, flagging groups whose sign flips
    against the aggregate (the aggregation artifact that turns 'discounts
    increase volume' into the opposite once you condition on the right
    stratum — the reason no observational metric ships without a
    stratified readout). One scan feeds both correlation passes; the
    per-group and overall folds share the same moments machinery."""
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_discount").alias("x"),
        F.col("l_quantity").alias("y"),
    )
    overall = pts.agg(F.corr("x", "y").alias("r_all"))
    per_grp = pts.groupBy("grp").agg(
        F.corr("x", "y").alias("r_g"), F.count(F.lit(1)).alias("n")
    )
    return per_grp.crossJoin(F.broadcast(overall)).select(
        "grp",
        F.round("r_g", 6).alias("group_corr"),
        F.round("r_all", 6).alias("overall_corr"),
        "n",
        F.when(
            (F.signum("r_g") != F.signum("r_all")) & (F.abs("r_g") > 0.01),
            F.lit("SIGN_FLIP"),
        )
        .otherwise(F.lit("CONSISTENT"))
        .alias("verdict"),
    )


@register(
    "a_catalog_coverage",
    """
    WITH interactions AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM lineitem GROUP BY l_partkey
    ),
    catalog AS (
      SELECT p.p_partkey, COALESCE(i.n_inter, 0) AS n_inter
      FROM part p LEFT JOIN interactions i ON p.p_partkey = i.l_partkey
    ),
    ranked AS (
      SELECT n_inter,
             ROW_NUMBER() OVER (ORDER BY n_inter DESC, p_partkey) AS rnk,
             COUNT(*) OVER () AS n_items,
             SUM(n_inter) OVER () AS total
      FROM catalog
    )
    SELECT CAST(MAX(n_items) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN n_inter = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dead_items,
           ROUND(SUM(CASE WHEN n_inter = 0 THEN 1.0 ELSE 0 END) / MAX(n_items), 6)
             AS dead_share,
           CAST(SUM(CASE WHEN n_inter < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cold_items,
           ROUND(SUM(CASE WHEN rnk * 10 <= n_items THEN n_inter ELSE 0 END) * 1.0
                 / MAX(total), 6) AS top_decile_share
    FROM ranked
    """,
)
def a_catalog_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog coverage health: dead items (zero interactions — only
    visible through the LEFT join against the full catalog; aggregating
    interactions alone can't see them), cold items (< 5), and the
    top-decile demand share (how head-heavy the catalog is). The trio
    drives assortment pruning and cold-start strategy. One interaction
    aggregate, one outer join to the catalog dimension, one rank window
    over |items|."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    inter = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_inter"))
    catalog = part.select("p_partkey").join(
        inter, part["p_partkey"] == inter["l_partkey"], "left_outer"
    ).select(
        "p_partkey", F.coalesce(F.col("n_inter"), F.lit(0)).alias("n_inter")
    )
    w_r = Window.orderBy(F.col("n_inter").desc(), "p_partkey")
    wa = Window.partitionBy()
    ranked = catalog.select(
        "n_inter",
        F.row_number().over(w_r).alias("rnk"),
        F.count(F.lit(1)).over(wa).alias("n_items"),
        F.sum("n_inter").over(wa).alias("total"),
    )
    return ranked.agg(
        F.max("n_items").cast("long").alias("n_items"),
        F.sum(F.when(F.col("n_inter") == 0, 1).otherwise(0)).alias(
            "n_dead_items"
        ),
        F.round(
            F.sum(F.when(F.col("n_inter") == 0, F.lit(1.0)).otherwise(0))
            / F.max("n_items"),
            6,
        ).alias("dead_share"),
        F.sum(F.when(F.col("n_inter") < 5, 1).otherwise(0)).alias(
            "n_cold_items"
        ),
        F.round(
            F.sum(
                F.when(
                    F.col("rnk") * 10 <= F.col("n_items"), F.col("n_inter")
                ).otherwise(0)
            )
            * 1.0
            / F.max("total"),
            6,
        ).alias("top_decile_share"),
    )


@register(
    "a_f1_threshold",
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
      SELECT score,
             SUM(n_pos) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)
               AS tp,
             SUM(n_neg) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)
               AS fp,
             SUM(n_pos) OVER () AS total_pos
      FROM per_score
    ),
    f1s AS (
      SELECT score, tp, fp, total_pos - tp AS fn,
             2.0 * tp / (2.0 * tp + fp + (total_pos - tp)) AS f1,
             ROW_NUMBER() OVER (
               ORDER BY CAST(ROUND(2.0 * tp / (2.0 * tp + fp + (total_pos - tp))
                                   * 1000000) AS BIGINT) DESC,
                        score) AS rn
      FROM cum
    )
    SELECT ROUND(score, 6) AS best_threshold,
           ROUND(f1, 6) AS best_f1,
           ROUND(tp * 1.0 / (tp + fp), 6) AS precision_at_best,
           ROUND(tp * 1.0 / (tp + fn), 6) AS recall_at_best,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn
    FROM f1s WHERE rn = 1
    """,
)
def a_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal decision threshold: sweep EVERY distinct score as a
    candidate cut (predict positive above it), compute TP/FP/FN from one
    descending cumulative pass, and pick the max-F1 operating point — the
    companion to a_auc_rank (AUC says how good the scorer is; this says
    where to CUT it). The sweep costs one window over distinct scores
    (bounded like the AUC query, with the same quantize-at-scale note);
    ranking snaps F1 to integer micro-units with a score tie-break so the
    chosen threshold is engine-identical."""
    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    per_score = scored.groupBy("score").agg(
        F.sum("y").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"),
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wa = Window.partitionBy()
    cum = per_score.select(
        "score",
        F.sum("n_pos").over(w).alias("tp"),
        F.sum("n_neg").over(w).alias("fp"),
        F.sum("n_pos").over(wa).alias("total_pos"),
    )
    fn = F.col("total_pos") - F.col("tp")
    f1 = 2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + fn)
    w_rn = Window.orderBy(
        F.round(f1 * 1000000).cast("long").desc(), F.col("score")
    )
    return (
        cum.withColumn("f1", f1)
        .withColumn("rn", F.row_number().over(w_rn))
        .filter(F.col("rn") == 1)
        .select(
            F.round("score", 6).alias("best_threshold"),
            F.round("f1", 6).alias("best_f1"),
            F.round(F.col("tp") * 1.0 / (F.col("tp") + F.col("fp")), 6).alias(
                "precision_at_best"
            ),
            F.round(F.col("tp") * 1.0 / (F.col("tp") + fn), 6).alias(
                "recall_at_best"
            ),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            fn.cast("long").alias("fn"),
        )
    )


@register(
    "a_retention_halflife",
    """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             DATE_DIFF('day', f.first_d, CAST(e.ts AS DATE)) // 7 AS offset_w
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    ),
    cohort_n AS (SELECT COUNT(*) AS n0 FROM firsts),
    curve AS (
      SELECT offset_w, COUNT(*) * 1.0 / n0 AS retention
      FROM activity, cohort_n
      WHERE offset_w >= 1
      GROUP BY offset_w, n0
    ),
    pts AS (SELECT offset_w * 1.0 AS x, LN(retention) AS y FROM curve),
    m AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts
    )
    SELECT ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6)
             AS decay_slope,
           ROUND(LN(2) / NULLIF(ABS((n * sxy - sx * sy)
                                    / NULLIF(n * sxx - sx * sx, 0)), 0), 4)
             AS halflife_weeks,
           CAST(n AS BIGINT) AS n_points
    FROM m
    """,
)
def a_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: fit ln(retention) against week offset by
    closed-form OLS and convert the decay slope to a half-life — the one
    number that compares retention across products ('weeks until half the
    cohort is gone') and feeds LTV extrapolation beyond the observed
    window. Week-0 is excluded (it's 1.0 by definition and biases the
    fit). First-touch aggregate, distinct (user, offset), a |weeks|-row
    curve, a 1-row moment fold."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("first_d")) / 7
            ).alias("offset_w"),
        )
        .distinct()
    )
    n0 = firsts.agg(F.count(F.lit(1)).alias("n0"))
    curve = (
        activity.filter(F.col("offset_w") >= 1)
        .groupBy("offset_w")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .crossJoin(F.broadcast(n0))
        .select(
            (F.col("offset_w") * 1.0).alias("x"),
            F.log(F.col("n_active") * 1.0 / F.col("n0")).alias("y"),
        )
    )
    m = curve.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # NULLIF guards: a 1-point curve (tiny corpora) has zero x-variance and
    # a defined fit does not exist -- both engines return NULL, not an error
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    return m.select(
        F.round(slope, 6).alias("decay_slope"),
        F.round(
            F.log(F.lit(2.0)) / F.nullif(F.abs(slope), F.lit(0.0)), 4
        ).alias("halflife_weeks"),
        F.col("n").cast("long").alias("n_points"),
    )


@register(
    "a_james_stein_means",
    """
    WITH grp AS (
      SELECT n_name, AVG(o_totalprice) AS xbar,
             CAST(COUNT(*) AS BIGINT) AS n,
             VAR_SAMP(o_totalprice) AS v
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    ),
    g AS (
      SELECT AVG(xbar) AS grand, COUNT(*) AS k,
             SUM(POWER(xbar - (SELECT AVG(xbar) FROM grp), 2)) AS ss_between,
             AVG(v / n) AS avg_se2
      FROM grp
    )
    SELECT n_name,
           ROUND(xbar, 4) AS raw_mean,
           ROUND(grand + (1 - LEAST(1.0, (k - 3) * avg_se2 / ss_between))
                         * (xbar - grand), 4) AS shrunk_mean,
           ROUND(LEAST(1.0, (k - 3) * avg_se2 / ss_between), 6) AS shrink_factor,
           n
    FROM grp, g
    """,
)
def a_james_stein_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """James-Stein (empirical-Bayes) shrinkage of per-nation mean order
    values toward the grand mean: the shrink factor (k−3)·SE²/SS_between
    is estimated FROM the data — groups whose spread looks like pure noise
    get pulled almost entirely to the pool, well-separated groups keep
    their means. This dominates the raw group means in total squared error
    whenever k > 3 (Stein's paradox) and is the principled version of the
    ad-hoc smoothing a_target_encoding applies. One group aggregate + a
    1-row pooled estimate broadcast back."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    grp = IT.round_checkpoint(
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.avg("o_totalprice").alias("xbar"),
            F.count(F.lit(1)).alias("n"),
            F.var_samp("o_totalprice").alias("v"),
        )
    )
    grand_df = grp.agg(F.avg("xbar").alias("grand"))
    g = (
        grp.crossJoin(F.broadcast(grand_df))
        .agg(
            F.max("grand").alias("grand"),
            F.count(F.lit(1)).alias("k"),
            F.sum(F.pow(F.col("xbar") - F.col("grand"), 2)).alias("ss_between"),
            F.avg(F.col("v") / F.col("n")).alias("avg_se2"),
        )
    )
    shrink = F.least(
        F.lit(1.0),
        (F.col("k") - 3) * F.col("avg_se2") / F.col("ss_between"),
    )
    return grp.crossJoin(F.broadcast(g)).select(
        "n_name",
        F.round("xbar", 4).alias("raw_mean"),
        F.round(
            F.col("grand") + (1 - shrink) * (F.col("xbar") - F.col("grand")), 4
        ).alias("shrunk_mean"),
        F.round(shrink, 6).alias("shrink_factor"),
        "n",
    )


@register(
    "a_hill_tail_index",
    """
    WITH top AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders ORDER BY cents DESC, o_orderkey LIMIT 201
    ),
    ranked AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents DESC) AS rn,
             MIN(cents) OVER () AS x_k
      FROM top
    )
    SELECT ROUND(1.0 / (SUM(LN(cents * 1.0 / x_k)) / 200), 4) AS hill_alpha,
           ROUND(SUM(LN(cents * 1.0 / x_k)) / 200, 6) AS mean_log_excess,
           ROUND(MAX(x_k) / 100.0, 2) AS threshold_value,
           CAST(200 AS BIGINT) AS k_order_stats
    FROM ranked WHERE rn <= 200
    """,
)
def a_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the heavy-tail index α over the top-200 order
    statistics: α̂ = 1 / mean(ln(x_i / x_{k+1})) — the standard diagnostic
    for 'does this distribution even HAVE a usable mean/variance'
    (α ≤ 2 ⇒ infinite variance: percentile-based planning only; α large ⇒
    thin tail: averages are safe). The top-(k+1) comes from a heap-merged
    global top (TakeOrderedAndProject with an integer-cents key), so the
    estimator reads k+1 rows regardless of table size."""
    orders = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    top = orders.orderBy(F.col("cents").desc(), "o_orderkey").limit(201)
    wa = Window.partitionBy()
    ranked = top.select(
        "cents",
        F.row_number().over(Window.orderBy(F.col("cents").desc(), "o_orderkey")).alias("rn"),
        F.min("cents").over(wa).alias("x_k"),
    )
    kept = ranked.filter(F.col("rn") <= 200)
    mean_log = F.sum(F.log(F.col("cents") * 1.0 / F.col("x_k"))) / 200
    return kept.agg(
        F.round(1.0 / mean_log, 4).alias("hill_alpha"),
        F.round(mean_log, 6).alias("mean_log_excess"),
        F.round(F.max("x_k") / 100.0, 2).alias("threshold_value"),
        F.lit(200).cast("long").alias("k_order_stats"),
    )


@register(
    "a_fd_discovery",
    """
    WITH cands AS (
      SELECT 'o_custkey->priority' AS fd, CAST(o_custkey AS VARCHAR) AS lhs,
             o_orderpriority AS rhs FROM orders
      UNION ALL
      SELECT 'o_orderkey->status', CAST(o_orderkey AS VARCHAR), o_orderstatus
      FROM orders
      UNION ALL
      SELECT 'custkey->mktsegment', CAST(c_custkey AS VARCHAR), c_mktsegment
      FROM customer
      UNION ALL
      SELECT 'nationkey->mktsegment', CAST(c_nationkey AS VARCHAR), c_mktsegment
      FROM customer
    ),
    groups AS (
      SELECT fd, lhs, CAST(COUNT(DISTINCT rhs) AS BIGINT) AS n_rhs
      FROM cands GROUP BY fd, lhs
    )
    SELECT fd,
           CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           ROUND(1.0 - SUM(CASE WHEN n_rhs > 1 THEN 1.0 ELSE 0 END) / COUNT(*), 6)
             AS fd_strength,
           CASE WHEN SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 THEN 'EXACT_FD'
                WHEN SUM(CASE WHEN n_rhs > 1 THEN 1.0 ELSE 0 END) / COUNT(*) < 0.05
                THEN 'APPROX_FD' ELSE 'NO_FD' END AS verdict
    FROM groups GROUP BY fd
    """,
)
def a_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery (the Metanome/profiling primitive
    behind key detection, normalization advice, and dirty-data triage):
    for each candidate X→Y, count X-groups whose Y is not unique —
    zero violators = exact FD (a key or derivable column), a small
    violation rate = approximate FD (usually dirty data worth repairing),
    otherwise no dependency. Four candidates checked in ONE unioned pass
    (each leg is a pruned 2-column scan); per-candidate work is a
    two-phase distinct aggregate keyed on (fd, lhs) — adding candidates
    adds union legs, not jobs."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    legs = [
        orders.select(
            F.lit("o_custkey->priority").alias("fd"),
            F.col("o_custkey").cast("string").alias("lhs"),
            F.col("o_orderpriority").alias("rhs"),
        ),
        orders.select(
            F.lit("o_orderkey->status").alias("fd"),
            F.col("o_orderkey").cast("string").alias("lhs"),
            F.col("o_orderstatus").alias("rhs"),
        ),
        cust.select(
            F.lit("custkey->mktsegment").alias("fd"),
            F.col("c_custkey").cast("string").alias("lhs"),
            F.col("c_mktsegment").alias("rhs"),
        ),
        cust.select(
            F.lit("nationkey->mktsegment").alias("fd"),
            F.col("c_nationkey").cast("string").alias("lhs"),
            F.col("c_mktsegment").alias("rhs"),
        ),
    ]
    cands = legs[0]
    for leg in legs[1:]:
        cands = cands.unionByName(leg)
    groups = cands.groupBy("fd", "lhs").agg(
        F.countDistinct("rhs").alias("n_rhs")
    )
    viol = F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
    viol_f = F.sum(F.when(F.col("n_rhs") > 1, F.lit(1.0)).otherwise(0))
    return groups.groupBy("fd").agg(
        F.count(F.lit(1)).alias("n_lhs_groups"),
        viol.alias("n_violating_groups"),
        F.round(1.0 - viol_f / F.count(F.lit(1)), 6).alias("fd_strength"),
        F.when(viol == 0, F.lit("EXACT_FD"))
        .when(viol_f / F.count(F.lit(1)) < 0.05, F.lit("APPROX_FD"))
        .otherwise(F.lit("NO_FD"))
        .alias("verdict"),
    )


@register(
    "a_ind_discovery",
    """
    WITH checks AS (
      SELECT 'lineitem.orderkey<=orders' AS ind,
             (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS n_lhs,
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT l_orderkey FROM lineitem
             ) l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey) AS n_orphans
      UNION ALL
      SELECT 'lineitem.partkey<=part',
             (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT l_partkey FROM lineitem
             ) l ANTI JOIN part p ON l.l_partkey = p.p_partkey)
      UNION ALL
      SELECT 'orders.custkey<=customer',
             (SELECT COUNT(DISTINCT o_custkey) FROM orders),
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT o_custkey FROM orders
             ) o ANTI JOIN customer c ON o.o_custkey = c.c_custkey)
      UNION ALL
      SELECT 'lineitem.suppkey<=nation(neg)',
             (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT l_suppkey FROM lineitem
             ) l ANTI JOIN nation n ON l.l_suppkey = n.n_nationkey)
    )
    SELECT ind, CAST(n_lhs AS BIGINT) AS n_lhs_distinct,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           ROUND(1.0 - n_orphans * 1.0 / n_lhs, 6) AS containment,
           CASE WHEN n_orphans = 0 THEN 'FK_CANDIDATE'
                WHEN n_orphans * 20 < n_lhs THEN 'APPROX_IND'
                ELSE 'NOT_CONTAINED' END AS verdict
    FROM checks
    """,
)
def a_ind_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency discovery — the foreign-key detector that pairs
    with a_fd_discovery to recover a schema's join graph from data alone:
    for each candidate X ⊆ Y, count distinct X values with no match in Y
    (an anti-join over the DISTINCT left side — never the raw fact table).
    Zero orphans = FK candidate; a small orphan rate usually means
    referential rot worth a cleanup job; the deliberately-wrong fourth
    candidate (suppkey vs nationkey) shows the negative verdict. Each
    check is distinct + anti-join + count; checks are independent and
    union into one result."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")

    def check(name, lhs, rhs):
        d = IT.round_checkpoint(lhs.distinct())
        n_lhs = d.agg(F.count(F.lit(1)).alias("n_lhs"))
        orphans = d.join(
            rhs, d[d.columns[0]] == rhs[rhs.columns[0]], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        return (
            n_lhs.crossJoin(F.broadcast(orphans))
            .select(
                F.lit(name).alias("ind"),
                F.col("n_lhs").alias("n_lhs_distinct"),
                "n_orphans",
                F.round(1.0 - F.col("n_orphans") * 1.0 / F.col("n_lhs"), 6).alias(
                    "containment"
                ),
                F.when(F.col("n_orphans") == 0, F.lit("FK_CANDIDATE"))
                .when(
                    F.col("n_orphans") * 20 < F.col("n_lhs"), F.lit("APPROX_IND")
                )
                .otherwise(F.lit("NOT_CONTAINED"))
                .alias("verdict"),
            )
        )

    out = check(
        "lineitem.orderkey<=orders",
        li.select("l_orderkey"),
        orders.select("o_orderkey"),
    )
    for args in [
        ("lineitem.partkey<=part", li.select("l_partkey"), part.select("p_partkey")),
        (
            "orders.custkey<=customer",
            orders.select("o_custkey"),
            cust.select("c_custkey"),
        ),
        (
            "lineitem.suppkey<=nation(neg)",
            li.select("l_suppkey"),
            nation.select("n_nationkey"),
        ),
    ]:
        out = out.unionByName(check(*args))
    return out


@register(
    "a_ucc_discovery",
    """
    WITH checks AS (
      SELECT 'orders(o_orderkey)' AS ucc,
             (SELECT COUNT(*) FROM orders) AS n_rows,
             (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS n_distinct
      UNION ALL
      SELECT 'customer(c_name)',
             (SELECT COUNT(*) FROM customer),
             (SELECT COUNT(DISTINCT c_name) FROM customer)
      UNION ALL
      SELECT 'lineitem(l_orderkey)',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)
      UNION ALL
      SELECT 'lineitem(l_orderkey,l_linenumber)',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
    )
    SELECT ucc, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_rows - n_distinct AS BIGINT) AS n_duplicated,
           CASE WHEN n_rows = n_distinct THEN 'KEY'
                WHEN (n_rows - n_distinct) * 100 < n_rows THEN 'NEAR_KEY'
                ELSE 'NOT_KEY' END AS verdict
    FROM checks
    """,
)
def a_ucc_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique-column-combination (candidate-key) discovery — the third leg
    of the profiling trio with a_fd_discovery and a_ind_discovery (keys,
    dependencies, and join edges together recover a schema from raw
    parquet): a combination is a KEY iff distinct count equals row count.
    The single-column lineitem check fails (6 lines per order) while the
    (orderkey, linenumber) pair passes — exactly the compound-key shape
    profilers must try after singles fail. Each check is one
    count-distinct aggregate; near-keys (< 1% duplicated) are flagged
    separately because they're usually a dirty key, not a non-key."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")

    def check(name, df, cols):
        n_rows = df.agg(F.count(F.lit(1)).alias("n_rows"))
        n_dist = df.select(*cols).distinct().agg(
            F.count(F.lit(1)).alias("n_distinct")
        )
        return n_rows.crossJoin(F.broadcast(n_dist)).select(
            F.lit(name).alias("ucc"),
            "n_rows",
            "n_distinct",
            (F.col("n_rows") - F.col("n_distinct")).alias("n_duplicated"),
            F.when(F.col("n_rows") == F.col("n_distinct"), F.lit("KEY"))
            .when(
                (F.col("n_rows") - F.col("n_distinct")) * 100 < F.col("n_rows"),
                F.lit("NEAR_KEY"),
            )
            .otherwise(F.lit("NOT_KEY"))
            .alias("verdict"),
        )

    out = check("orders(o_orderkey)", orders, ["o_orderkey"])
    for args in [
        ("customer(c_name)", cust, ["c_name"]),
        ("lineitem(l_orderkey)", li, ["l_orderkey"]),
        (
            "lineitem(l_orderkey,l_linenumber)",
            li,
            ["l_orderkey", "l_linenumber"],
        ),
    ]:
        out = out.unionByName(check(*args))
    return out
