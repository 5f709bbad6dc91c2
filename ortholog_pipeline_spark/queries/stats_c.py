"""Analytics/statistics queries (part 3/3) (split from queries.py — registration side-effect module)."""
from ortholog_pipeline_spark.queries._shared import (  # noqa: F401
    DD,
    DataFrame,
    F,
    IT,
    SparkSession,
    Window,
    _POIS24,
    _pois24_sql,
    _t,
    register,
)

@register(
    "a_od_discovery",
    """
    WITH c1 AS (
      SELECT 'lineitem: qty->extprice within part' AS od,
             l_partkey AS grp,
             l_quantity AS x, l_extendedprice AS y,
             l_orderkey * 10 + l_linenumber AS tie
      FROM lineitem
    ),
    c2 AS (
      SELECT 'orders: orderdate->orderkey global' AS od,
             CAST(0 AS BIGINT) AS grp,
             CAST(epoch(o_orderdate) AS DOUBLE) AS x,
             CAST(o_orderkey AS DOUBLE) AS y,
             o_orderkey AS tie
      FROM orders
    ),
    cands AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2),
    lagged AS (
      SELECT od, grp, y,
             LAG(y) OVER (PARTITION BY od, grp ORDER BY x, tie) AS prev_y
      FROM cands
    )
    SELECT od,
           CAST(COUNT(*) AS BIGINT) AS n_pairs_checked,
           CAST(SUM(CASE WHEN prev_y IS NOT NULL AND y < prev_y
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           ROUND(1.0 - SUM(CASE WHEN prev_y IS NOT NULL AND y < prev_y
                                THEN 1.0 ELSE 0 END)
                 / NULLIF(SUM(CASE WHEN prev_y IS NOT NULL THEN 1 ELSE 0 END), 0), 6)
             AS od_strength,
           CASE WHEN SUM(CASE WHEN prev_y IS NOT NULL AND y < prev_y
                              THEN 1 ELSE 0 END) = 0 THEN 'EXACT_OD'
                ELSE 'NOT_OD' END AS verdict
    FROM lagged GROUP BY od
    """,
)
def a_od_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-dependency discovery — the fourth profiling class after keys
    (UCC), dependencies (FD), and join edges (IND): does sorting by X also
    sort Y? Checked by ONE lag window per candidate over (group, X-order):
    any adjacent descent in Y is a violation (adjacent checks are
    sufficient — a sorted sequence is exactly one with no adjacent
    inversion). Within-part quantity→extended-price holds (price is
    quantity-linear per part: an exact OD the optimizer could exploit for
    interesting orders); global orderdate→orderkey is the
    'are ids time-ordered' check every incremental pipeline wants to know
    about its source."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    c1 = li.select(
        F.lit("lineitem: qty->extprice within part").alias("od"),
        F.col("l_partkey").alias("grp"),
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tie"),
    )
    c2 = orders.select(
        F.lit("orders: orderdate->orderkey global").alias("od"),
        F.lit(0).cast("long").alias("grp"),
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).cast("double").alias("x"),
        F.col("o_orderkey").cast("double").alias("y"),
        F.col("o_orderkey").alias("tie"),
    )
    cands = c1.unionByName(c2)
    w = Window.partitionBy("od", "grp").orderBy("x", "tie")
    lagged = cands.select(
        "od", "y", F.lag("y").over(w).alias("prev_y")
    )
    viol = F.sum(
        F.when(F.col("prev_y").isNotNull() & (F.col("y") < F.col("prev_y")), 1)
        .otherwise(0)
    )
    checked = F.sum(F.when(F.col("prev_y").isNotNull(), 1).otherwise(0))
    return lagged.groupBy("od").agg(
        F.count(F.lit(1)).alias("n_pairs_checked"),
        viol.alias("n_violations"),
        F.round(
            1.0
            - F.sum(
                F.when(
                    F.col("prev_y").isNotNull() & (F.col("y") < F.col("prev_y")),
                    F.lit(1.0),
                ).otherwise(0)
            )
            / F.nullif(checked.cast("double"), F.lit(0.0)),
            6,
        ).alias("od_strength"),
        F.when(viol == 0, F.lit("EXACT_OD"))
        .otherwise(F.lit("NOT_OD"))
        .alias("verdict"),
    )


@register(
    "a_variance_ratio_test",
    """
    WITH halves AS (
      SELECT CASE WHEN EXTRACT(year FROM o_orderdate) <= 1997
                  THEN 'early' ELSE 'late' END AS half,
             o_totalprice AS x
      FROM orders
    ),
    stats AS (
      SELECT half, VAR_SAMP(x) AS v, CAST(COUNT(*) AS BIGINT) AS n,
             AVG(x) AS m
      FROM halves GROUP BY half
    )
    SELECT ROUND(MAX(CASE WHEN half = 'late' THEN v END)
                 / MAX(CASE WHEN half = 'early' THEN v END), 6) AS var_ratio,
           ROUND(MAX(CASE WHEN half = 'late' THEN m END)
                 - MAX(CASE WHEN half = 'early' THEN m END), 4) AS mean_shift,
           CAST(MAX(CASE WHEN half = 'early' THEN n END) AS BIGINT) AS n_early,
           CAST(MAX(CASE WHEN half = 'late' THEN n END) AS BIGINT) AS n_late,
           CASE WHEN MAX(CASE WHEN half = 'late' THEN v END)
                     / MAX(CASE WHEN half = 'early' THEN v END)
                     BETWEEN 1.0 / 1.5 AND 1.5
                THEN 'STABLE' ELSE 'VARIANCE_DRIFT' END AS verdict
    FROM stats
    """,
)
def a_variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-ratio (F-style) drift test between the early and late
    halves of the order history — the drift dimension the rest of the
    family misses: PSI and KS see distribution shape, Welch sees the mean,
    but a variance DOUBLING with a stable mean (volatility regime change)
    passes all three at low power and breaks every fixed-width model
    downstream. Both halves' moments come from ONE conditional aggregate;
    the 1.5x band is the practical flag (exact F critical values need a
    CDF no engine ships portably — at n in the thousands the band is far
    outside any plausible null)."""
    orders = _t(spark, sf_dir, "orders")
    halves = orders.select(
        F.when(F.year("o_orderdate") <= 1997, "early").otherwise("late").alias(
            "half"
        ),
        F.col("o_totalprice").alias("x"),
    )
    stats = halves.groupBy("half").agg(
        F.var_samp("x").alias("v"),
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("m"),
    )
    late_v = F.max(F.when(F.col("half") == "late", F.col("v")))
    early_v = F.max(F.when(F.col("half") == "early", F.col("v")))
    ratio = late_v / early_v
    return stats.agg(
        F.round(ratio, 6).alias("var_ratio"),
        F.round(
            F.max(F.when(F.col("half") == "late", F.col("m")))
            - F.max(F.when(F.col("half") == "early", F.col("m"))),
            4,
        ).alias("mean_shift"),
        F.max(F.when(F.col("half") == "early", F.col("n")))
        .cast("long")
        .alias("n_early"),
        F.max(F.when(F.col("half") == "late", F.col("n")))
        .cast("long")
        .alias("n_late"),
        F.when((ratio >= 1.0 / 1.5) & (ratio <= 1.5), F.lit("STABLE"))
        .otherwise(F.lit("VARIANCE_DRIFT"))
        .alias("verdict"),
    )


@register(
    "a_price_volume_mix",
    """
    WITH yearly AS (
      SELECT l_partkey, EXTRACT(year FROM l_shipdate) AS yr,
             SUM(l_extendedprice) / SUM(l_quantity) AS price,
             SUM(l_quantity) AS qty,
             SUM(l_extendedprice) AS rev
      FROM lineitem
      WHERE EXTRACT(year FROM l_shipdate) IN (1996, 2000) AND l_quantity > 0
      GROUP BY 1, 2
    ),
    matched AS (
      SELECT b.l_partkey, b.price AS p0, b.qty AS q0, c.price AS p1, c.qty AS q1
      FROM (SELECT * FROM yearly WHERE yr = 1996) b
      JOIN (SELECT * FROM yearly WHERE yr = 2000) c USING (l_partkey)
    )
    SELECT ROUND(SUM(p1 * q1 - p0 * q0), 2) AS total_change,
           ROUND(SUM((q1 - q0) * p0), 2) AS volume_effect,
           ROUND(SUM((p1 - p0) * q0), 2) AS price_effect,
           ROUND(SUM((p1 - p0) * (q1 - q0)), 2) AS mix_effect,
           CAST(COUNT(*) AS BIGINT) AS n_matched_parts
    FROM matched
    """,
)
def a_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue bridge: the change in matched-part revenue between two years
    decomposed into volume (Δq at old prices), price (Δp at old volumes),
    and the joint/mix cross term — volume + price + mix = total EXACTLY
    (the additivity every FP&A bridge must satisfy; it's checked by
    construction here because the three terms are an algebraic identity).
    Same matched-basket frame as the price-index query, one decomposition
    fold. This is 'why did revenue move' as a query, not a spreadsheet."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(1996, 2000) & (F.col("l_quantity") > 0)
    )
    yearly = li.groupBy("l_partkey", F.year("l_shipdate").alias("yr")).agg(
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
    return matched.agg(
        F.round(
            F.sum(F.col("p1") * F.col("q1") - F.col("p0") * F.col("q0")), 2
        ).alias("total_change"),
        F.round(F.sum((F.col("q1") - F.col("q0")) * F.col("p0")), 2).alias(
            "volume_effect"
        ),
        F.round(F.sum((F.col("p1") - F.col("p0")) * F.col("q0")), 2).alias(
            "price_effect"
        ),
        F.round(
            F.sum((F.col("p1") - F.col("p0")) * (F.col("q1") - F.col("q0"))), 2
        ).alias("mix_effect"),
        F.count(F.lit(1)).alias("n_matched_parts"),
    )


@register(
    "a_segment_migration",
    """
    WITH spend AS (
      SELECT o_custkey,
             CASE WHEN EXTRACT(year FROM o_orderdate) <= 1997 THEN 'early'
                  ELSE 'late' END AS period,
             CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    classed AS (
      SELECT o_custkey, period,
             CASE WHEN cents >= 200000000 THEN 'high'
                  WHEN cents >= 50000000 THEN 'mid'
                  ELSE 'low' END AS seg
      FROM spend
    ),
    wide AS (
      SELECT COALESCE(e.o_custkey, l.o_custkey) AS custkey,
             COALESCE(e.seg, 'none') AS seg_early,
             COALESCE(l.seg, 'none') AS seg_late
      FROM (SELECT * FROM classed WHERE period = 'early') e
      FULL OUTER JOIN (SELECT * FROM classed WHERE period = 'late') l
        ON e.o_custkey = l.o_custkey
    )
    SELECT seg_early, seg_late, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM wide GROUP BY seg_early, seg_late
    """,
)
def a_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment migration matrix: customers classified into fixed spend
    bands in an early and a late period, cross-tabulated — who upgraded,
    who lapsed ('none' = absent that period, which only a FULL OUTER join
    can say; an inner join silently drops exactly the churn and
    acquisition cells the matrix exists to show). Fixed band boundaries
    (not quantiles) so the classes mean the same thing in both periods.
    One conditional aggregate, one self full-outer on the customer key,
    one 16-cell count."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy(
        "o_custkey",
        F.when(F.year("o_orderdate") <= 1997, "early").otherwise("late").alias(
            "period"
        ),
    ).agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    seg = (
        F.when(F.col("cents") >= 200000000, "high")
        .when(F.col("cents") >= 50000000, "mid")
        .otherwise("low")
    )
    classed = spend.select("o_custkey", "period", seg.alias("seg"))
    early = classed.filter(F.col("period") == "early").select(
        F.col("o_custkey").alias("ck_e"), F.col("seg").alias("seg_early")
    )
    late = classed.filter(F.col("period") == "late").select(
        F.col("o_custkey").alias("ck_l"), F.col("seg").alias("seg_late")
    )
    wide = early.join(
        late, early["ck_e"] == late["ck_l"], "full_outer"
    ).select(
        F.coalesce(F.col("seg_early"), F.lit("none")).alias("seg_early"),
        F.coalesce(F.col("seg_late"), F.lit("none")).alias("seg_late"),
    )
    return wide.groupBy("seg_early", "seg_late").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "a_association_rules",
    """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey % 200 AS item
      FROM lineitem
    ),
    n_baskets AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS nb FROM baskets),
    item_n AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM baskets GROUP BY item),
    pair_n AS (
      SELECT a.item AS x, b.item AS y, CAST(COUNT(*) AS BIGINT) AS nxy
      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item <> b.item
      GROUP BY a.item, b.item
    ),
    rules AS (
      SELECT p.x, p.y, p.nxy, ix.n AS nx, iy.n AS ny, nb.nb,
             p.nxy * 1.0 / ix.n AS confidence,
             p.nxy * 1.0 / nb.nb AS support,
             (p.nxy * 1.0 / nb.nb) - (ix.n * 1.0 / nb.nb) * (iy.n * 1.0 / nb.nb)
               AS leverage
      FROM pair_n p
      JOIN item_n ix ON p.x = ix.item JOIN item_n iy ON p.y = iy.item, n_baskets nb
      WHERE p.nxy >= 10
    ),
    ranked AS (
      SELECT x, y, nxy, confidence, support, leverage,
             ROW_NUMBER() OVER (
               ORDER BY CAST(ROUND(confidence * 1000000) AS BIGINT) DESC, x, y)
               AS rn
      FROM rules
    )
    SELECT x AS antecedent, y AS consequent, nxy AS n_cobaskets,
           ROUND(confidence, 6) AS confidence,
           ROUND(support, 6) AS support,
           ROUND(leverage, 6) AS leverage
    FROM ranked WHERE rn <= 15
    """,
)
def a_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules X→Y with the full metric set — support
    (how often), CONFIDENCE (P(Y|X): the direction lift can't express —
    lift is symmetric, confidence is not, and 'diapers→beer' ≠
    'beer→diapers' is the whole point), and leverage (co-occurrence above
    independence). Basket-bounded pair join (the j_cooccurrence_lift
    shape), a support floor before ranking (confidence on 3 baskets is
    noise), top-15 by integer-snapped confidence."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = IT.round_checkpoint(li.select(
        F.col("l_orderkey").alias("basket"),
        (F.col("l_partkey") % 200).alias("item"),
    ).distinct())
    nb = baskets.agg(F.countDistinct("basket").alias("nb"))
    item_n = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a = baskets.select("basket", F.col("item").alias("x"))
    b = baskets.select("basket", F.col("item").alias("y"))
    pair_n = (
        a.join(b, "basket")
        .filter(F.col("x") != F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("nxy"))
        .filter(F.col("nxy") >= 10)
    )
    ix = item_n.select(F.col("item").alias("x"), F.col("n").alias("nx"))
    iy = item_n.select(F.col("item").alias("y"), F.col("n").alias("ny"))
    rules = (
        pair_n.join(F.broadcast(ix), "x")
        .join(F.broadcast(iy), "y")
        .crossJoin(F.broadcast(nb))
        .select(
            "x",
            "y",
            "nxy",
            (F.col("nxy") * 1.0 / F.col("nx")).alias("confidence"),
            (F.col("nxy") * 1.0 / F.col("nb")).alias("support"),
            (
                F.col("nxy") * 1.0 / F.col("nb")
                - (F.col("nx") * 1.0 / F.col("nb"))
                * (F.col("ny") * 1.0 / F.col("nb"))
            ).alias("leverage"),
        )
    )
    w = Window.orderBy(
        F.round(F.col("confidence") * 1000000).cast("long").desc(), "x", "y"
    )
    return (
        rules.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .select(
            F.col("x").alias("antecedent"),
            F.col("y").alias("consequent"),
            F.col("nxy").alias("n_cobaskets"),
            F.round("confidence", 6).alias("confidence"),
            F.round("support", 6).alias("support"),
            F.round("leverage", 6).alias("leverage"),
        )
    )


@register(
    "a_budget_knapsack",
    """
    WITH items AS (
      SELECT p_partkey,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS value_cents,
             CAST(p_size AS BIGINT) AS cost,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) * 1000 / p_size
               AS density_milli
      FROM part WHERE p_size > 0
    ),
    budget AS (SELECT CAST(FLOOR(SUM(cost) / 4.0) AS BIGINT) AS b FROM items),
    ranked AS (
      SELECT p_partkey, value_cents, cost, density_milli,
             SUM(cost) OVER (ORDER BY density_milli DESC, p_partkey
                             ROWS UNBOUNDED PRECEDING) AS cum_cost
      FROM items
    ),
    taken AS (
      SELECT r.* FROM ranked r, budget WHERE r.cum_cost <= budget.b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_selected,
           ROUND(SUM(value_cents) / 100.0, 2) AS total_value,
           CAST(SUM(cost) AS BIGINT) AS total_cost,
           CAST((SELECT b FROM budget) AS BIGINT) AS budget,
           CAST(MIN(density_milli) AS BIGINT) AS marginal_density_milli
    FROM taken
    """,
)
def a_budget_knapsack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted selection as a greedy density knapsack: rank items by
    value/cost density (exact integer milli-units), take the prefix that
    fits 25% of total cost. Greedy-by-density is OPTIMAL for the
    fractional relaxation and the standard scalable heuristic for the 0/1
    case (the gap is at most one item); its dataflow is exactly the
    cumulative-prefix shape used by shard packing and ABC classes — a
    running-sum window over the ranked frame, distributed via the
    range-partitioned prefix sum at scale. The marginal density is the
    shadow price: what the next unit of budget would buy."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") > 0)
    items = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("value_cents"),
        F.col("p_size").cast("long").alias("cost"),
        (
            F.round(F.col("p_retailprice") * 100).cast("long")
            * 1000
            / F.col("p_size")
        ).alias("density_milli"),
    )
    budget = items.agg(
        F.floor(F.sum("cost") / 4.0).cast("long").alias("b")
    )
    w = Window.orderBy(F.col("density_milli").desc(), "p_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = items.select(
        "p_partkey",
        "value_cents",
        "cost",
        "density_milli",
        F.sum("cost").over(w).alias("cum_cost"),
    )
    taken = ranked.crossJoin(F.broadcast(budget)).filter(
        F.col("cum_cost") <= F.col("b")
    )
    return taken.agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.round(F.sum("value_cents") / 100.0, 2).alias("total_value"),
        F.sum("cost").alias("total_cost"),
        F.max("b").alias("budget"),
        F.min("density_milli").cast("long").alias("marginal_density_milli"),
    )


@register(
    "a_newsvendor_quantile",
    """
    WITH weekly AS (
      SELECT l_returnflag,
             DATE_DIFF('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) // 7
               AS wk,
             CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS demand
      FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
      SELECT l_returnflag, demand,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY demand, wk) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM weekly
    )
    SELECT l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n_weeks,
           CAST(MIN(CASE WHEN rn = CAST(CEIL(0.8 * n) AS BIGINT)
                         THEN demand END) AS BIGINT) AS order_up_to_q80,
           CAST(MIN(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                         THEN demand END) AS BIGINT) AS median_demand,
           ROUND(MIN(CASE WHEN rn = CAST(CEIL(0.8 * n) AS BIGINT)
                          THEN demand END) * 1.0
                 / MIN(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                            THEN demand END), 4) AS safety_multiplier
    FROM ranked GROUP BY l_returnflag
    """,
)
def a_newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking level: with underage cost 4x overage, the
    critical fractile is 0.8 — the optimal order-up-to level is the 80th
    percentile of weekly demand, NOT a mean-plus-buffer (the newsvendor
    result: the optimal policy is a demand QUANTILE, which is why quantile
    machinery matters to operations). Exact rank-picked q80 and median
    per series; the safety multiplier (q80/median) is the interpretable
    'how much above typical' knob planners sanity-check."""
    li = _t(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_returnflag",
        F.floor(
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1995-01-01").cast("date")
            )
            / 7
        ).alias("wk"),
    ).agg(F.round(F.sum("l_quantity")).cast("long").alias("demand"))
    w = Window.partitionBy("l_returnflag").orderBy("demand", "wk")
    wp = Window.partitionBy("l_returnflag")
    ranked = weekly.select(
        "l_returnflag",
        "demand",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    q80 = F.min(
        F.when(F.col("rn") == F.ceil(0.8 * F.col("n")).cast("long"), F.col("demand"))
    )
    q50 = F.min(
        F.when(F.col("rn") == F.ceil(0.5 * F.col("n")).cast("long"), F.col("demand"))
    )
    return ranked.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n_weeks"),
        q80.cast("long").alias("order_up_to_q80"),
        q50.cast("long").alias("median_demand"),
        F.round(q80 * 1.0 / q50, 4).alias("safety_multiplier"),
    )


@register(
    "a_ab_proportions_z",
    """
    WITH users AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm,
             MAX(CASE WHEN event_type = 'purchase' AND value > 360
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS k
      FROM users GROUP BY arm
    ),
    wide AS (
      SELECT MAX(CASE WHEN arm = 'control' THEN n END) AS n1,
             MAX(CASE WHEN arm = 'control' THEN k END) AS k1,
             MAX(CASE WHEN arm = 'treatment' THEN n END) AS n2,
             MAX(CASE WHEN arm = 'treatment' THEN k END) AS k2
      FROM cells
    )
    SELECT ROUND(k1 * 1.0 / n1, 6) AS p_control,
           ROUND(k2 * 1.0 / n2, 6) AS p_treatment,
           ROUND((k2 * 1.0 / n2 - k1 * 1.0 / n1)
                 / NULLIF(SQRT(((k1 + k2) * 1.0 / (n1 + n2))
                               * (1 - (k1 + k2) * 1.0 / (n1 + n2))
                               * (1.0 / n1 + 1.0 / n2)), 0), 4) AS z,
           ROUND((k2 * 1.0 / n2) / NULLIF(k1 * 1.0 / n1, 0), 6) AS risk_ratio,
           ROUND((k2 * 1.0 * (n1 - k1))
                 / NULLIF(k1 * 1.0 * (n2 - k2), 0), 6) AS odds_ratio,
           CAST(n1 AS BIGINT) AS n_control, CAST(n2 AS BIGINT) AS n_treatment
    FROM wide
    """,
)
def a_ab_proportions_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion experiment readout on USER-level conversion (did the
    user purchase at all — the binarization that fixes the
    heavy-user-dominance bias of event-level rates; the bar is a
    high-value purchase, value > 360, because EVERY user in this dense
    synthetic stream purchases at least once): pooled-variance z,
    plus the two effect sizes each audience wants — risk ratio
    (product/medical framing: 'treatment converts 1.1x as often') and
    odds ratio (the logistic-regression-compatible one). Same md5 arm
    coin as a_ab_test_welch and a_srm_check, so the three queries read
    the SAME experiment: mean effect, validity, and conversion effect."""
    ev = _t(spark, sf_dir, "events")
    arm = F.when(
        F.pmod(
            DD.hex_hash64(F.concat(F.lit("ab"), F.col("user_id").cast("string"))),
            F.lit(2),
        )
        == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 360), 1
            ).otherwise(0)
        ).alias("converted")
    ).select(arm.alias("arm"), "converted")
    cells = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("k")
    )
    wide = cells.agg(
        F.max(F.when(F.col("arm") == "control", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == "control", F.col("k"))).alias("k1"),
        F.max(F.when(F.col("arm") == "treatment", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("arm") == "treatment", F.col("k"))).alias("k2"),
    )
    p1 = F.col("k1") * 1.0 / F.col("n1")
    p2 = F.col("k2") * 1.0 / F.col("n2")
    pp = (F.col("k1") + F.col("k2")) * 1.0 / (F.col("n1") + F.col("n2"))
    z = (p2 - p1) / F.nullif(
        F.sqrt(pp * (1 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))),
        F.lit(0.0),
    )
    return wide.select(
        F.round(p1, 6).alias("p_control"),
        F.round(p2, 6).alias("p_treatment"),
        F.round(z, 4).alias("z"),
        F.round(p2 / F.nullif(p1, F.lit(0.0)), 6).alias("risk_ratio"),
        F.round(
            (F.col("k2") * 1.0 * (F.col("n1") - F.col("k1")))
            / F.nullif(
                F.col("k1") * 1.0 * (F.col("n2") - F.col("k2")), F.lit(0.0)
            ),
            6,
        ).alias("odds_ratio"),
        F.col("n1").cast("long").alias("n_control"),
        F.col("n2").cast("long").alias("n_treatment"),
    )


@register(
    "a_process_capability",
    """
    WITH s AS (
      SELECT AVG(o_totalprice) AS mu, STDDEV_SAMP(o_totalprice) AS sd,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders
    )
    SELECT ROUND(mu, 4) AS mean,
           ROUND(sd, 4) AS stddev,
           ROUND((450000.0 - 50000.0) / (6 * sd), 6) AS cp,
           ROUND(LEAST(450000.0 - mu, mu - 50000.0) / (3 * sd), 6) AS cpk,
           ROUND((mu - 250000.0) / sd, 6) AS centering_z,
           n
    FROM s
    """,
)
def a_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process capability indices against spec limits [50k, 450k]: Cp
    (spread capability — could the process fit the specs if centered) and
    Cpk (actual capability — penalized by off-centering; Cpk ≪ Cp means
    'fix the mean, not the variance', the triage decision these two
    numbers exist to make). Pairs with the control charts: charts detect
    CHANGE, capability judges the steady state against requirements. One
    1-row moment aggregate."""
    orders = _t(spark, sf_dir, "orders")
    s = orders.agg(
        F.avg("o_totalprice").alias("mu"),
        F.stddev_samp("o_totalprice").alias("sd"),
        F.count(F.lit(1)).alias("n"),
    )
    usl, lsl = 450000.0, 50000.0
    return s.select(
        F.round("mu", 4).alias("mean"),
        F.round("sd", 4).alias("stddev"),
        F.round((usl - lsl) / (6 * F.col("sd")), 6).alias("cp"),
        F.round(
            F.least(usl - F.col("mu"), F.col("mu") - lsl) / (3 * F.col("sd")), 6
        ).alias("cpk"),
        F.round((F.col("mu") - (usl + lsl) / 2) / F.col("sd"), 6).alias(
            "centering_z"
        ),
        "n",
    )


@register(
    "a_pr_auc",
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
             SUM(n_pos) OVER w AS tp,
             SUM(n_neg) OVER w AS fp,
             SUM(n_pos) OVER () AS total_pos
      FROM per_score
      WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)
    ),
    steps AS (
      SELECT (tp - COALESCE(LAG(tp) OVER (ORDER BY score DESC), 0)) * 1.0
               / total_pos AS d_recall,
             tp * 1.0 / (tp + fp) AS prec,
             total_pos
      FROM cum
    )
    SELECT ROUND(SUM(d_recall * prec), 6) AS average_precision,
           ROUND(MAX(total_pos) * 1.0
                 / (SELECT COUNT(*) FROM scored), 6) AS positive_base_rate,
           CAST(MAX(total_pos) AS BIGINT) AS n_pos
    FROM steps
    """,
)
def a_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve by the
    standard step interpolation AP = Σ Δrecall·precision) — the ranking
    metric that matters when positives are rare: ROC-AUC barely moves
    when false positives grow against a huge negative class, AP collapses
    (compare against the base rate shown alongside — AP ≈ base rate means
    the scorer is useless). Same per-distinct-score cumulative frame as
    a_auc_rank and a_f1_threshold: the three metrics share one dataflow,
    one bounded window."""
    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    n_all_df = scored.agg(F.count(F.lit(1)).alias("n_all"))
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
    w_lag = Window.orderBy(F.col("score").desc())
    steps = cum.select(
        (
            (F.col("tp") - F.coalesce(F.lag("tp").over(w_lag), F.lit(0)))
            * 1.0
            / F.col("total_pos")
        ).alias("d_recall"),
        (F.col("tp") * 1.0 / (F.col("tp") + F.col("fp"))).alias("prec"),
        "total_pos",
    )
    return (
        steps.agg(
            F.round(F.sum(F.col("d_recall") * F.col("prec")), 6).alias(
                "average_precision"
            ),
            F.max("total_pos").cast("long").alias("n_pos"),
        )
        .crossJoin(F.broadcast(n_all_df))
        .select(
            "average_precision",
            F.round(F.col("n_pos") * 1.0 / F.col("n_all"), 6).alias(
                "positive_base_rate"
            ),
            "n_pos",
        )
    )


@register(
    "a_jarque_bera",
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
    ),
    m AS (
      SELECT l_returnflag, n, s1 / n AS mu,
             (s2 / n) - POWER(s1 / n, 2) AS m2,
             (s3 / n) - 3 * (s1 / n) * (s2 / n) + 2 * POWER(s1 / n, 3) AS m3,
             (s4 / n) - 4 * (s1 / n) * (s3 / n)
               + 6 * POWER(s1 / n, 2) * (s2 / n) - 3 * POWER(s1 / n, 4) AS m4
      FROM s
    )
    SELECT l_returnflag, n,
           ROUND(m3 / POWER(m2, 1.5), 6) AS skewness,
           ROUND(m4 / POWER(m2, 2) - 3, 6) AS excess_kurtosis,
           ROUND(n / 6.0 * (POWER(m3 / POWER(m2, 1.5), 2)
                            + POWER(m4 / POWER(m2, 2) - 3, 2) / 4), 2) AS jb_stat,
           CASE WHEN n / 6.0 * (POWER(m3 / POWER(m2, 1.5), 2)
                                + POWER(m4 / POWER(m2, 2) - 3, 2) / 4) > 5.991
                THEN 'REJECT_NORMALITY' ELSE 'CONSISTENT_WITH_NORMAL' END
             AS verdict
    FROM m
    """,
)
def a_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per group — JB = n/6·(S² + K²/4) from the
    SAME mergeable power sums a_moments_skew_kurtosis computes (the test is
    free once the moments exist — one more arithmetic row, zero extra
    passes), against the χ²(2) 5% critical value 5.991. The answer decides
    whether z-scores and t-intervals downstream are even meaningful for a
    column; uniform-ish synthetic prices reject loudly, which is correct."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = F.col("s3") / F.col("n") - 3 * mu * (F.col("s2") / F.col("n")) + 2 * F.pow(mu, 3)
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mu * (F.col("s3") / F.col("n"))
        + 6 * F.pow(mu, 2) * (F.col("s2") / F.col("n"))
        - 3 * F.pow(mu, 4)
    )
    skew = m3 / F.pow(m2, 1.5)
    kurt = m4 / F.pow(m2, 2) - 3
    jb = F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(kurt, 2) / 4)
    return s.select(
        "l_returnflag",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(jb, 2).alias("jb_stat"),
        F.when(jb > 5.991, F.lit("REJECT_NORMALITY"))
        .otherwise(F.lit("CONSISTENT_WITH_NORMAL"))
        .alias("verdict"),
    )


@register(
    "a_bowley_skewness",
    """
    WITH ranked AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    qs AS (
      SELECT l_returnflag,
             MIN(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN cents END)
               AS q1,
             MIN(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN cents END)
               AS q2,
             MIN(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT) THEN cents END)
               AS q3
      FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND(q1 / 100.0, 2) AS q1, ROUND(q2 / 100.0, 2) AS median,
           ROUND(q3 / 100.0, 2) AS q3,
           ROUND((q1 + q3 - 2.0 * q2) / NULLIF(q3 - q1, 0), 6)
             AS bowley_skewness
    FROM qs
    """,
)
def a_bowley_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness — (Q₁ + Q₃ − 2·median)/(Q₃ − Q₁): the
    robust skewness that one wild outlier cannot move (the moment-based
    skewness in a_moments_skew_kurtosis is cubed-deviation-weighted, so a
    single extreme row can own it; Bowley sees only quartile POSITIONS).
    Disagreement between the two skewness measures is itself the
    diagnostic: it means the tails, not the body, carry the asymmetry.
    Exact rank-picked integer-cents quartiles per group, one partitioned
    window."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wp = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    def q(p):
        return F.min(
            F.when(
                F.col("rn") == F.ceil(p * F.col("n")).cast("long"), F.col("cents")
            )
        )
    qs = ranked.groupBy("l_returnflag").agg(
        q(0.25).alias("q1"), q(0.50).alias("q2"), q(0.75).alias("q3")
    )
    return qs.select(
        "l_returnflag",
        F.round(F.col("q1") / 100.0, 2).alias("q1"),
        F.round(F.col("q2") / 100.0, 2).alias("median"),
        F.round(F.col("q3") / 100.0, 2).alias("q3"),
        F.round(
            (F.col("q1") + F.col("q3") - 2.0 * F.col("q2"))
            / F.nullif((F.col("q3") - F.col("q1")).cast("double"), F.lit(0.0)),
            6,
        ).alias("bowley_skewness"),
    )


@register(
    "a_fd_histogram",
    """
    WITH ranked AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM orders
    ),
    qs AS (
      SELECT MIN(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN cents END)
               AS q1,
             MIN(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT) THEN cents END)
               AS q3,
             MAX(n) AS n,
             MIN(CASE WHEN rn = 1 THEN cents END) AS lo,
             MIN(CASE WHEN rn = n THEN cents END) AS hi
      FROM ranked
    ),
    width AS (
      SELECT CAST(GREATEST(1, ROUND(2.0 * (q3 - q1) / POWER(n, 1.0 / 3)))
                  AS BIGINT) AS w,
             lo, hi, n
      FROM qs
    )
    SELECT CAST(w AS BIGINT) AS fd_bin_width_cents,
           CAST(FLOOR((hi - lo) * 1.0 / w) + 1 AS BIGINT) AS n_bins,
           ROUND(lo / 100.0, 2) AS min_value,
           ROUND(hi / 100.0, 2) AS max_value,
           CAST(n AS BIGINT) AS n_rows
    FROM width
    """,
)
def a_fd_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freedman-Diaconis histogram sizing: bin width 2·IQR/n^⅓ — the
    statistically-grounded answer to 'how many bins', robust to outliers
    because it uses the IQR, not the range (Sturges under-bins big data;
    range-based rules explode on one extreme value). The output is the
    binning SPEC (width, count, bounds) that a_histogram_equidepth-style
    builders consume; computing the spec costs one rank window over
    distinct values and a 1-row fold. Integer-cents quartiles keep the
    width engine-identical."""
    orders = _t(spark, sf_dir, "orders")
    w_r = Window.orderBy("o_totalprice", "o_orderkey")
    wa = Window.partitionBy()
    ranked = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.row_number().over(w_r).alias("rn"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    qs = ranked.agg(
        F.min(
            F.when(F.col("rn") == F.ceil(0.25 * F.col("n")).cast("long"), F.col("cents"))
        ).alias("q1"),
        F.min(
            F.when(F.col("rn") == F.ceil(0.75 * F.col("n")).cast("long"), F.col("cents"))
        ).alias("q3"),
        F.max("n").alias("n"),
        F.min(F.when(F.col("rn") == 1, F.col("cents"))).alias("lo"),
        F.min(F.when(F.col("rn") == F.col("n"), F.col("cents"))).alias("hi"),
    )
    w_col = F.greatest(
        F.lit(1),
        F.round(2.0 * (F.col("q3") - F.col("q1")) / F.pow(F.col("n"), 1.0 / 3)),
    ).cast("long")
    return qs.select(
        w_col.alias("fd_bin_width_cents"),
        (F.floor((F.col("hi") - F.col("lo")) * 1.0 / w_col) + 1).cast("long").alias("n_bins"),
        F.round(F.col("lo") / 100.0, 2).alias("min_value"),
        F.round(F.col("hi") / 100.0, 2).alias("max_value"),
        F.col("n").cast("long").alias("n_rows"),
    )


@register(
    "a_effect_size_cohens_d",
    """
    WITH users AS (
      SELECT CASE WHEN CAST(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm,
             SUM(value) AS total_value
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, AVG(total_value) AS m,
             VAR_SAMP(total_value) AS v
      FROM users GROUP BY arm
    ),
    wide AS (
      SELECT MAX(CASE WHEN arm = 'control' THEN n END) AS n1,
             MAX(CASE WHEN arm = 'control' THEN m END) AS m1,
             MAX(CASE WHEN arm = 'control' THEN v END) AS v1,
             MAX(CASE WHEN arm = 'treatment' THEN n END) AS n2,
             MAX(CASE WHEN arm = 'treatment' THEN m END) AS m2,
             MAX(CASE WHEN arm = 'treatment' THEN v END) AS v2
      FROM s
    )
    SELECT ROUND((m2 - m1) / SQRT(((n1 - 1) * v1 + (n2 - 1) * v2)
                                  / (n1 + n2 - 2)), 6) AS cohens_d,
           ROUND((m2 - m1) / SQRT(((n1 - 1) * v1 + (n2 - 1) * v2)
                                  / (n1 + n2 - 2))
                 * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g,
           ROUND(m2 - m1, 4) AS raw_difference,
           CAST(n1 AS BIGINT) AS n_control, CAST(n2 AS BIGINT) AS n_treatment
    FROM wide
    """,
)
def a_effect_size_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size for the hash-assigned experiment: Cohen's d
    (mean difference in pooled-SD units — the number that survives across
    metrics and experiments where raw differences and p-values don't) and
    Hedges' g (the small-sample bias correction). Completes the experiment
    triptych: a_ab_test_welch says IS there an effect, a_srm_check says
    can you trust the assignment, this says HOW BIG in portable units.
    One per-user aggregate + a 2-row moment fold."""
    ev = _t(spark, sf_dir, "events")
    arm = F.when(
        F.pmod(
            DD.hex_hash64(F.concat(F.lit("ab"), F.col("user_id").cast("string"))),
            F.lit(2),
        )
        == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    users = ev.groupBy("user_id").agg(F.sum("value").alias("total_value")).select(
        arm.alias("arm"), "total_value"
    )
    s = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("total_value").alias("m"),
        F.var_samp("total_value").alias("v"),
    )
    wide = s.agg(
        F.max(F.when(F.col("arm") == "control", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == "control", F.col("m"))).alias("m1"),
        F.max(F.when(F.col("arm") == "control", F.col("v"))).alias("v1"),
        F.max(F.when(F.col("arm") == "treatment", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("arm") == "treatment", F.col("m"))).alias("m2"),
        F.max(F.when(F.col("arm") == "treatment", F.col("v"))).alias("v2"),
    )
    pooled_sd = F.sqrt(
        ((F.col("n1") - 1) * F.col("v1") + (F.col("n2") - 1) * F.col("v2"))
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = (F.col("m2") - F.col("m1")) / pooled_sd
    return wide.select(
        F.round(d, 6).alias("cohens_d"),
        F.round(
            d * (1 - 3.0 / (4 * (F.col("n1") + F.col("n2")) - 9)), 6
        ).alias("hedges_g"),
        F.round(F.col("m2") - F.col("m1"), 4).alias("raw_difference"),
        F.col("n1").cast("long").alias("n_control"),
        F.col("n2").cast("long").alias("n_treatment"),
    )


@register(
    "a_quantile_normalization",
    """
    WITH vals AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
               AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM documents
    ),
    pooled AS (
      SELECT n_chars AS pooled_val,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS prk,
             COUNT(*) OVER () AS n_all
      FROM documents
    ),
    mapped AS (
      SELECT v.source, v.n_chars AS raw_val, p.pooled_val
      FROM vals v JOIN pooled p
        ON p.prk = CAST(CEIL(v.rk * 1.0 / v.n_src * p.n_all) AS BIGINT)
    )
    SELECT source,
           ROUND(AVG(raw_val), 4) AS mean_before,
           ROUND(AVG(pooled_val), 4) AS mean_after,
           ROUND(STDDEV_SAMP(raw_val), 4) AS sd_before,
           ROUND(STDDEV_SAMP(pooled_val), 4) AS sd_after,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM mapped GROUP BY source
    """,
)
def a_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document lengths onto the
    pooled distribution — the batch-effect correction (from microarray
    genomics, equally at home fixing per-crawler length biases): each
    value is replaced by the POOLED value at its within-source quantile,
    so after mapping every source has (near-)identical marginal moments —
    which the before/after mean/sd columns exhibit directly. The mapping
    is a rank-to-rank equi-join (within-source rank rescaled to a pooled
    rank), windows partitioned by source plus one pooled total-order
    rank over the |docs| frame."""
    docs = _t(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_src_n = Window.partitionBy("source")
    vals = docs.select(
        "source",
        F.col("n_chars").alias("raw_val"),
        F.row_number().over(w_src).alias("rk"),
        F.count(F.lit(1)).over(w_src_n).alias("n_src"),
    )
    w_all = Window.orderBy("n_chars", "doc_id")
    wa = Window.partitionBy()
    pooled = docs.select(
        F.col("n_chars").alias("pooled_val"),
        F.row_number().over(w_all).alias("prk"),
        F.count(F.lit(1)).over(wa).alias("n_all"),
    )
    mapped = vals.join(
        pooled,
        pooled["prk"]
        == F.ceil(vals["rk"] * 1.0 / vals["n_src"] * pooled["n_all"]).cast(
            "long"
        ),
    )
    return mapped.groupBy("source").agg(
        F.round(F.avg("raw_val"), 4).alias("mean_before"),
        F.round(F.avg("pooled_val"), 4).alias("mean_after"),
        F.round(F.stddev_samp("raw_val"), 4).alias("sd_before"),
        F.round(F.stddev_samp("pooled_val"), 4).alias("sd_after"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "a_psm_matching",
    """
    WITH users AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS treated,
             CAST(COUNT(*) AS BIGINT) AS activity,
             SUM(value) AS outcome
      FROM events GROUP BY user_id
    ),
    ordered AS (
      SELECT *,
             last_value(CASE WHEN treated = 0 THEN outcome END IGNORE NULLS)
               OVER (ORDER BY activity, user_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_ctrl_outcome,
             last_value(CASE WHEN treated = 0 THEN activity END IGNORE NULLS)
               OVER (ORDER BY activity, user_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_ctrl_activity
      FROM users
    ),
    matched AS (
      SELECT user_id, activity, outcome,
             prev_ctrl_outcome, prev_ctrl_activity
      FROM ordered
      WHERE treated = 1 AND prev_ctrl_activity IS NOT NULL
        AND ABS(activity - prev_ctrl_activity) <= 5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matched_pairs,
           ROUND(AVG(outcome - prev_ctrl_outcome), 4) AS att_estimate,
           ROUND(AVG(ABS(activity - prev_ctrl_activity)), 4)
             AS mean_caliper_gap,
           CAST((SELECT SUM(treated) FROM users) AS BIGINT) AS n_treated
    FROM matched
    """,
)
def a_psm_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor matching on a confounder (activity level) with a
    caliper — the observational-causal workhorse: each treated user is
    paired with the nearest-preceding control in confounder order (an
    IGNORE NULLS lag over the interleaved sorted frame — matching as ONE
    window pass, no pairwise distance join), pairs outside the ±5 caliper
    are discarded, and the ATT estimate is the mean matched outcome
    difference. The caliper-gap column audits match quality (a tight
    caliper with few pairs beats a loose one with bias). Sorted-merge
    matching is the scalable form: no n² candidate generation at any
    size."""
    ev = _t(spark, sf_dir, "events")
    treated = F.when(
        F.pmod(
            DD.hex_hash64(F.concat(F.lit("ab"), F.col("user_id").cast("string"))),
            F.lit(2),
        )
        == 0,
        0,
    ).otherwise(1)
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("activity"),
        F.sum("value").alias("outcome"),
    ).select("user_id", treated.alias("treated"), "activity", "outcome")
    # lag-ignore-nulls = last(ignorenulls) over an end-exclusive frame
    w = Window.orderBy("activity", "user_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ordered = users.select(
        "*",
        F.last(
            F.when(F.col("treated") == 0, F.col("outcome")), ignorenulls=True
        )
        .over(w)
        .alias("prev_ctrl_outcome"),
        F.last(
            F.when(F.col("treated") == 0, F.col("activity")), ignorenulls=True
        )
        .over(w)
        .alias("prev_ctrl_activity"),
    )
    matched = ordered.filter(
        (F.col("treated") == 1)
        & F.col("prev_ctrl_activity").isNotNull()
        & (F.abs(F.col("activity") - F.col("prev_ctrl_activity")) <= 5)
    )
    n_treated = users.agg(F.sum("treated").alias("n_treated"))
    return (
        matched.agg(
            F.count(F.lit(1)).alias("n_matched_pairs"),
            F.round(F.avg(F.col("outcome") - F.col("prev_ctrl_outcome")), 4).alias(
                "att_estimate"
            ),
            F.round(
                F.avg(F.abs(F.col("activity") - F.col("prev_ctrl_activity"))), 4
            ).alias("mean_caliper_gap"),
        )
        .crossJoin(F.broadcast(n_treated))
        .select(
            "n_matched_pairs",
            "att_estimate",
            "mean_caliper_gap",
            F.col("n_treated").cast("long").alias("n_treated"),
        )
    )


@register(
    "a_diff_in_diff",
    """
    WITH cells AS (
      SELECT CASE WHEN CAST(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 'pre'
                  ELSE 'post' END AS period,
             AVG(value) AS mean_value,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT ROUND(MAX(CASE WHEN arm = 'treatment' AND period = 'post'
                          THEN mean_value END)
                 - MAX(CASE WHEN arm = 'treatment' AND period = 'pre'
                            THEN mean_value END)
                 - (MAX(CASE WHEN arm = 'control' AND period = 'post'
                             THEN mean_value END)
                    - MAX(CASE WHEN arm = 'control' AND period = 'pre'
                               THEN mean_value END)), 6) AS did_estimate,
           ROUND(MAX(CASE WHEN arm = 'treatment' AND period = 'pre'
                          THEN mean_value END)
                 - MAX(CASE WHEN arm = 'control' AND period = 'pre'
                            THEN mean_value END), 6) AS pre_period_gap,
           CAST(SUM(n) AS BIGINT) AS n_events
    FROM cells
    """,
)
def a_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: (treatment post − pre) − (control post −
    pre) — the design that removes BOTH the stable group difference and
    the common time trend, which neither a post-only comparison nor a
    pre/post within one group can do. The pre-period gap is reported
    alongside as the parallel-trends sanity check (a large gap with no
    trend data is the estimator's known blind spot). One 4-cell
    conditional aggregate — the entire causal design is a pivot."""
    ev = _t(spark, sf_dir, "events")
    arm = F.when(
        F.pmod(
            DD.hex_hash64(F.concat(F.lit("ab"), F.col("user_id").cast("string"))),
            F.lit(2),
        )
        == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    period = F.when(
        F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"), "pre"
    ).otherwise("post")
    cells = ev.select(arm.alias("arm"), period.alias("period"), "value").groupBy(
        "arm", "period"
    ).agg(F.avg("value").alias("mean_value"), F.count(F.lit(1)).alias("n"))

    def cell(a, p):
        return F.max(
            F.when(
                (F.col("arm") == a) & (F.col("period") == p), F.col("mean_value")
            )
        )

    return cells.agg(
        F.round(
            cell("treatment", "post")
            - cell("treatment", "pre")
            - (cell("control", "post") - cell("control", "pre")),
            6,
        ).alias("did_estimate"),
        F.round(cell("treatment", "pre") - cell("control", "pre"), 6).alias(
            "pre_period_gap"
        ),
        F.sum("n").alias("n_events"),
    )


@register(
    "a_mann_whitney",
    """
    WITH vals AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN EXTRACT(year FROM o_orderdate) = 1996 THEN 1 ELSE 0 END
               AS g1
      FROM orders WHERE EXTRACT(year FROM o_orderdate) IN (1996, 2000)
    ),
    per_val AS (
      SELECT cents, CAST(SUM(g1) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(g1) AS BIGINT) AS n2
      FROM vals GROUP BY cents
    ),
    cum AS (
      SELECT n1, n2,
             SUM(n2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) - n2
               AS n2_below
      FROM per_val
    ),
    agg AS (
      SELECT CAST(SUM(n1 * (2 * n2_below + n2)) AS BIGINT) AS u2,
             SUM(n1) AS t1, SUM(n2) AS t2
      FROM cum
    )
    SELECT CAST(u2 // 2 AS BIGINT) AS u_stat,
           ROUND(u2 / (2.0 * t1 * t2), 6) AS common_language_effect,
           ROUND((u2 / 2.0 - t1 * t2 / 2.0)
                 / SQRT(t1 * t2 * (t1 + t2 + 1) / 12.0), 4) AS z,
           CAST(t1 AS BIGINT) AS n_1996, CAST(t2 AS BIGINT) AS n_2000
    FROM agg
    """,
)
def a_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test between the 1996 and 2000 order-value
    samples — the nonparametric 'did the distribution shift' test whose
    statistic IS tie-aware AUC scaled by n₁·n₂ (the same
    per-distinct-value cumulative dataflow as a_auc_rank, reused verbatim),
    with U/(n₁n₂) reported as the common-language effect size (probability
    a random 1996 order exceeds a random 2000 one). Completes the
    two-sample family: Welch (means), variance-ratio (spread), KS (shape),
    MW (stochastic dominance). z uses the normal approximation; tie
    correction is negligible at integer-cents granularity and documented
    as omitted."""
    orders = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.year("o_orderdate").alias("yr"),
    ).filter(F.col("yr").isin(1996, 2000))
    per_val = orders.groupBy("cents").agg(
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("yr") == 2000, 1).otherwise(0)).alias("n2"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_val.select(
        "n1",
        "n2",
        (F.sum("n2").over(w) - F.col("n2")).alias("n2_below"),
    )
    # 2U is an exact integer (U itself is half-integral under cross-sample
    # ties, and Spark's double->long cast truncates where DuckDB's rounds):
    # sum 2U = n1*(2*n2_below + n2) in pure int64 and floor-halve on both
    # engines so no float ever reaches a cast.
    agg = cum.agg(
        F.sum(
            F.col("n1") * (2 * F.col("n2_below") + F.col("n2"))
        ).cast("long").alias("u2"),
        F.sum("n1").alias("t1"),
        F.sum("n2").alias("t2"),
    )
    z = (F.col("u2") / 2.0 - F.col("t1") * F.col("t2") / 2.0) / F.sqrt(
        F.col("t1") * F.col("t2") * (F.col("t1") + F.col("t2") + 1) / 12.0
    )
    return agg.select(
        F.floor(F.col("u2") / 2).cast("long").alias("u_stat"),
        F.round(F.col("u2") / (2.0 * F.col("t1") * F.col("t2")), 6).alias(
            "common_language_effect"
        ),
        F.round(z, 4).alias("z"),
        F.col("t1").cast("long").alias("n_1996"),
        F.col("t2").cast("long").alias("n_2000"),
    )


@register(
    "a_ab_bootstrap_ci",
    f"""
    WITH users AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS treated,
             CAST(ROUND(SUM(value) * 100) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    ),
    g AS (SELECT unnest(generate_series(0, 7)) AS g),
    j AS (SELECT unnest(generate_series(0, 4)) AS j),
    hashed AS (
      SELECT u.user_id, u.treated, u.cents, g.g,
             md5('bs' || CAST(g.g AS VARCHAR) || '_' || CAST(u.user_id AS VARCHAR)) AS h
      FROM users u, g
    ),
    weighted AS (
      SELECT hashed.g * 5 + j.j AS b, treated, cents,
             {_pois24_sql("CAST(('0x' || substr(h, j.j * 6 + 1, 6)) AS BIGINT)")} AS wt
      FROM hashed, j
    ),
    reps AS (
      SELECT b,
             SUM(CASE WHEN treated = 1 THEN wt * cents ELSE 0 END) * 1.0
               / NULLIF(SUM(CASE WHEN treated = 1 THEN wt ELSE 0 END), 0)
             - SUM(CASE WHEN treated = 0 THEN wt * cents ELSE 0 END) * 1.0
               / NULLIF(SUM(CASE WHEN treated = 0 THEN wt ELSE 0 END), 0)
               AS diff_cents
      FROM weighted GROUP BY b
    ),
    ranked AS (
      SELECT diff_cents, ROW_NUMBER() OVER (ORDER BY diff_cents) AS rn,
             COUNT(*) OVER () AS nb
      FROM reps WHERE diff_cents IS NOT NULL
    ),
    point AS (
      SELECT AVG(CASE WHEN treated = 1 THEN cents END)
             - AVG(CASE WHEN treated = 0 THEN cents END) AS d
      FROM users
    )
    SELECT ROUND((SELECT d FROM point) / 100.0, 4) AS point_diff,
           ROUND(MIN(CASE WHEN rn = 2 THEN diff_cents END) / 100.0, 4) AS ci_lo,
           ROUND(MIN(CASE WHEN rn = nb - 1 THEN diff_cents END) / 100.0, 4)
             AS ci_hi,
           CAST(MAX(nb) AS BIGINT) AS n_replicates
    FROM ranked
    """,
)
def a_ab_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval on the experiment EFFECT (the
    treatment−control mean difference) — the interval a z-statistic alone
    doesn't give and the one stakeholders actually ask for ('how big could
    it plausibly be'). Per replicate, BOTH arms are reweighted with
    independent Poisson(1) draws and the mean difference recomputed; the
    CI is the 2nd/39th order statistic of 40 replicate differences. Same
    one-md5-five-draws derivation as sample_poisson_bootstrap, applied at
    the USER grain (resampling users, not events — resampling events
    would shatter the within-user correlation and understate the CI).
    Exact integer cents·weight sums until the final divisions."""
    ev = _t(spark, sf_dir, "events")
    treated = F.when(
        F.pmod(
            DD.hex_hash64(F.concat(F.lit("ab"), F.col("user_id").cast("string"))),
            F.lit(2),
        )
        == 0,
        0,
    ).otherwise(1)
    users = IT.round_checkpoint(ev.groupBy("user_id").agg(
        F.round(F.sum("value") * 100).cast("long").alias("cents")
    ).select("user_id", treated.alias("treated"), "cents"))
    hashed = users.select(
        "user_id",
        "treated",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("g"),
    ).select(
        "treated",
        "cents",
        "g",
        F.md5(
            F.concat(
                F.lit("bs"),
                F.col("g").cast("string"),
                F.lit("_"),
                F.col("user_id").cast("string"),
            )
        ).alias("h"),
    )
    u = F.conv(
        F.substring(F.col("h"), F.col("j") * 6 + 1, F.lit(6)), 16, 10
    ).cast("long")
    weighted = hashed.select(
        "treated",
        "cents",
        "g",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("j"),
    ).select(
        (F.col("g") * 5 + F.col("j")).alias("b"),
        "treated",
        "cents",
        F.coalesce(
            *[F.when(u < t, F.lit(k)) for k, t in enumerate(_POIS24)], F.lit(6)
        )
        .cast("long")
        .alias("wt"),
    )
    t_sum = F.sum(
        F.when(F.col("treated") == 1, F.col("wt") * F.col("cents")).otherwise(0)
    )
    t_w = F.sum(F.when(F.col("treated") == 1, F.col("wt")).otherwise(0))
    c_sum = F.sum(
        F.when(F.col("treated") == 0, F.col("wt") * F.col("cents")).otherwise(0)
    )
    c_w = F.sum(F.when(F.col("treated") == 0, F.col("wt")).otherwise(0))
    reps = weighted.groupBy("b").agg(
        (
            t_sum * 1.0 / F.nullif(t_w.cast("double"), F.lit(0.0))
            - c_sum * 1.0 / F.nullif(c_w.cast("double"), F.lit(0.0))
        ).alias("diff_cents")
    ).filter(F.col("diff_cents").isNotNull())
    w_rn = Window.orderBy("diff_cents")
    wa = Window.partitionBy()
    ranked = reps.select(
        "diff_cents",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(wa).alias("nb"),
    )
    point = users.agg(
        (
            F.avg(F.when(F.col("treated") == 1, F.col("cents")))
            - F.avg(F.when(F.col("treated") == 0, F.col("cents")))
        ).alias("d")
    )
    ci = ranked.agg(
        F.round(
            F.min(F.when(F.col("rn") == 2, F.col("diff_cents"))) / 100.0, 4
        ).alias("ci_lo"),
        F.round(
            F.min(F.when(F.col("rn") == F.col("nb") - 1, F.col("diff_cents")))
            / 100.0,
            4,
        ).alias("ci_hi"),
        F.max("nb").cast("long").alias("n_replicates"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        F.round(F.col("d") / 100.0, 4).alias("point_diff"),
        "ci_lo",
        "ci_hi",
        "n_replicates",
    )


@register(
    "a_transition_entropy",
    """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000 + event_id)
               AS nxt
      FROM events
    ),
    trans AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    m AS (
      SELECT cur, nxt, n,
             SUM(n) OVER (PARTITION BY cur) AS n_cur,
             SUM(n) OVER () AS total
      FROM trans
    )
    SELECT ROUND(-SUM((n * 1.0 / total) * LN(n * 1.0 / n_cur)), 6)
             AS conditional_entropy_nats,
           ROUND(EXP(-SUM((n * 1.0 / total) * LN(n * 1.0 / n_cur))), 4)
             AS perplexity,
           ROUND(-SUM((n * 1.0 / total) * LN(n * 1.0 / n_cur))
                 / LN((SELECT COUNT(DISTINCT nxt) FROM trans)), 6)
             AS normalized_h,
           CAST(MAX(total) AS BIGINT) AS n_transitions
    FROM m
    """,
)
def a_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next | current) of the event sequence — how
    predictable the next action is given the current one, with its
    perplexity (the effective branching factor: e^H ≈ 5 means knowing the
    current event tells you nothing about which of the 5 comes next;
    near 1 means scripted flows). The normalized form divides by ln|types|
    so it's comparable across products. One LEAD window over the unique
    per-user sequence key, then arithmetic over the 25-cell transition
    table — Markov transitions (a_event_transitions) summarized to the
    single number that says whether the matrix is worth modeling."""
    ev = _t(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    w = Window.partitionBy("user_id").orderBy(
        (sec * 100000 + F.col("event_id")).asc()
    )
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trans = IT.round_checkpoint(
        seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    )
    m = trans.select(
        "cur",
        "nxt",
        "n",
        F.sum("n").over(Window.partitionBy("cur")).alias("n_cur"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    n_types = trans.agg(F.countDistinct("nxt").alias("k"))
    h = -F.sum(
        (F.col("n") * 1.0 / F.col("total"))
        * F.log(F.col("n") * 1.0 / F.col("n_cur"))
    )
    return (
        m.agg(
            h.alias("h"),
            F.max("total").alias("total"),
        )
        .crossJoin(F.broadcast(n_types))
        .select(
            F.round(F.col("h"), 6).alias("conditional_entropy_nats"),
            F.round(F.exp(F.col("h")), 4).alias("perplexity"),
            F.round(
                F.col("h") / F.log(F.col("k").cast("double")), 6
            ).alias("normalized_h"),
            F.col("total").cast("long").alias("n_transitions"),
        )
    )


@register(
    "a_cohens_kappa",
    f"""
    WITH rated AS (
      SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS rater_a,
             {{pred}} AS rater_b
      FROM (
        SELECT lang,
               len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                   t -> list_contains({{stops}}, t))) AS s,
               len(regexp_extract_all(lower(text), '[a-z]+')) AS n
        FROM documents
      )
    ),
    cells AS (
      SELECT rater_a, rater_b, CAST(COUNT(*) AS BIGINT) AS n
      FROM rated GROUP BY 1, 2
    ),
    m AS (
      SELECT rater_a, rater_b, n,
             SUM(n) OVER (PARTITION BY rater_a) AS n_a,
             SUM(n) OVER (PARTITION BY rater_b) AS n_b,
             SUM(n) OVER () AS total
      FROM cells
    ),
    agree AS (
      SELECT SUM(CASE WHEN rater_a = rater_b THEN n ELSE 0 END) * 1.0
               / MAX(total) AS po,
             MAX(total) AS total
      FROM m
    ),
    marg_a AS (
      SELECT rater_a AS cls, SUM(n) * 1.0 AS na, MAX(tt) AS total
      FROM (SELECT rater_a, n, SUM(n) OVER () AS tt FROM cells) GROUP BY rater_a
    ),
    marg_b AS (
      SELECT rater_b AS cls, SUM(n) * 1.0 AS nb FROM cells GROUP BY rater_b
    ),
    expected AS (
      SELECT SUM(ma.na * mb.nb / (ma.total * ma.total)) AS pe
      FROM marg_a ma JOIN marg_b mb ON ma.cls = mb.cls
    )
    SELECT ROUND(agree.po, 6) AS observed_agreement,
           ROUND(expected.pe, 6) AS expected_agreement,
           ROUND((agree.po - expected.pe) / (1 - expected.pe), 6) AS kappa,
           CAST(agree.total AS BIGINT) AS n_items
    FROM agree, expected
    """.format(
        pred="CASE WHEN s * 5 >= n THEN 'en' ELSE 'other' END",
        stops="['the','a','of','and','to','in','is','it','that','for']",
    ),
)
def a_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two 'raters' — the stored language label vs a
    stopword-density classifier — the agreement statistic that CORRECTS
    FOR CHANCE (raw percent agreement flatters any pair of raters who
    both favor the majority class; kappa subtracts the agreement their
    marginals would produce at random). The chance term Σ pₐ(c)·p_b(c)
    comes from the contingency marginals; everything reduces from the
    |classes|² cell table. This is the annotation-quality gate every
    labeling pipeline runs before trusting human or model labels."""
    docs = _t(spark, sf_dir, "documents")
    stops = F.array(
        *[
            F.lit(x)
            for x in ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
        ]
    )
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
    s = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    n = F.size(toks)
    rated = docs.select(
        F.when(F.col("lang") == "en", F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("rater_a"),
        F.when(s * 5 >= n, F.lit("en")).otherwise(F.lit("other")).alias(
            "rater_b"
        ),
    )
    cells = rated.groupBy("rater_a", "rater_b").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = IT.round_checkpoint(cells.select(
        "rater_a",
        "rater_b",
        "n",
        F.sum("n").over(Window.partitionBy("rater_a")).alias("n_a"),
        F.sum("n").over(Window.partitionBy("rater_b")).alias("n_b"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    ))
    agree = m.agg(
        (
            F.sum(
                F.when(F.col("rater_a") == F.col("rater_b"), F.col("n")).otherwise(
                    0
                )
            )
            * 1.0
            / F.max("total")
        ).alias("po"),
        F.max("total").alias("total"),
    )
    tot = cells.agg(F.sum("n").alias("tt"))
    marg_a = cells.groupBy(F.col("rater_a").alias("cls")).agg(
        F.sum("n").alias("na")
    )
    marg_b = cells.groupBy(F.col("rater_b").alias("cls")).agg(
        F.sum("n").alias("nb")
    )
    expected = (
        marg_a.join(marg_b, "cls")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("na") * F.col("nb") * 1.0 / (F.col("tt") * F.col("tt"))
            ).alias("pe")
        )
    )
    return agree.crossJoin(F.broadcast(expected)).select(
        F.round("po", 6).alias("observed_agreement"),
        F.round("pe", 6).alias("expected_agreement"),
        F.round((F.col("po") - F.col("pe")) / (1 - F.col("pe")), 6).alias(
            "kappa"
        ),
        F.col("total").cast("long").alias("n_items"),
    )


@register(
    "a_evt_return_level",
    """
    WITH monthly_max AS (
      SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS m,
             MAX(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS mx
      FROM lineitem GROUP BY 1
    ),
    fit AS (
      SELECT AVG(mx) AS mean_max, STDDEV_SAMP(mx) AS sd_max,
             CAST(COUNT(*) AS BIGINT) AS n_blocks
      FROM monthly_max
    )
    SELECT ROUND(mean_max, 2) AS mean_block_max,
           ROUND(sd_max * SQRT(6) / PI(), 4) AS gumbel_beta,
           ROUND(mean_max - 0.5772156649 * sd_max * SQRT(6) / PI(), 2)
             AS gumbel_mu,
           ROUND(mean_max - 0.5772156649 * sd_max * SQRT(6) / PI()
                 - sd_max * SQRT(6) / PI() * LN(-LN(1 - 1.0 / 120)), 2)
             AS return_level_120mo,
           n_blocks
    FROM fit
    """,
)
def a_evt_return_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis by block maxima: monthly maxima of line
    revenue fit to a Gumbel distribution by the method of moments
    (β = σ√6/π, μ = x̄ − γβ with Euler-Mascheroni γ), then inverted for
    the 120-month RETURN LEVEL — 'the largest line we should expect once
    a decade', the number capacity planning and risk limits actually need
    (means and percentiles of the body say nothing about it; EVT's whole
    point is that maxima have their own distribution). Block maxima are a
    per-month MAX — one rollup, one moment fold, closed-form inversion."""
    li = _t(spark, sf_dir, "lineitem")
    monthly_max = li.groupBy(
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("m")
    ).agg(
        (F.max(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0).alias(
            "mx"
        )
    )
    fit = monthly_max.agg(
        F.avg("mx").alias("mean_max"),
        F.stddev_samp("mx").alias("sd_max"),
        F.count(F.lit(1)).alias("n_blocks"),
    )
    import math

    beta = F.col("sd_max") * math.sqrt(6) / math.pi
    gamma = 0.5772156649
    mu = F.col("mean_max") - gamma * beta
    rl = mu - beta * F.log(-F.log(F.lit(1 - 1.0 / 120)))
    return fit.select(
        F.round("mean_max", 2).alias("mean_block_max"),
        F.round(beta, 4).alias("gumbel_beta"),
        F.round(mu, 2).alias("gumbel_mu"),
        F.round(rl, 2).alias("return_level_120mo"),
        F.col("n_blocks").cast("long").alias("n_blocks"),
    )


@register(
    "a_frequency_spectrum",
    """
    WITH tf AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
            FROM documents)
      GROUP BY tok
    ),
    spectrum AS (
      SELECT LEAST(freq, 6) AS k, CAST(COUNT(*) AS BIGINT) AS v_k
      FROM tf GROUP BY 1
    ),
    tot AS (SELECT SUM(v_k) AS v FROM spectrum)
    SELECT CAST(k AS BIGINT) AS freq_class,
           v_k AS n_types,
           ROUND(v_k * 1.0 / tot.v, 6) AS type_share
    FROM spectrum, tot
    """,
)
def a_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-frequency spectrum V(k) — how many types occur exactly k times
    (k capped at 6+, the LNRE convention): the input to Good-Turing
    smoothing (V(1)/N is the unseen-mass estimate), to vocabulary-growth
    extrapolation, and the generalization of the hapax ratio to the whole
    low-frequency tail. One term-frequency aggregate then a 6-row
    histogram of the vocabulary table."""
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
    spectrum = tf.groupBy(
        F.least(F.col("freq"), F.lit(6)).alias("k")
    ).agg(F.count(F.lit(1)).alias("v_k"))
    tot = spectrum.agg(F.sum("v_k").alias("v"))
    return spectrum.crossJoin(F.broadcast(tot)).select(
        F.col("k").cast("long").alias("freq_class"),
        F.col("v_k").alias("n_types"),
        F.round(F.col("v_k") * 1.0 / F.col("v"), 6).alias("type_share"),
    )


@register(
    "a_cuped_adjustment",
    """
    WITH users AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS treated,
             SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN value ELSE 0 END) AS pre,
             SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                      THEN value ELSE 0 END) AS post
      FROM events GROUP BY user_id
    ),
    theta AS (
      SELECT COVAR_SAMP(pre, post) / VAR_SAMP(pre) AS th,
             AVG(pre) AS mean_pre
      FROM users
    ),
    adj AS (
      SELECT treated, post,
             post - th * (pre - mean_pre) AS post_adj
      FROM users, theta
    )
    SELECT ROUND(AVG(CASE WHEN treated = 1 THEN post END)
                 - AVG(CASE WHEN treated = 0 THEN post END), 4) AS raw_effect,
           ROUND(AVG(CASE WHEN treated = 1 THEN post_adj END)
                 - AVG(CASE WHEN treated = 0 THEN post_adj END), 4)
             AS cuped_effect,
           ROUND(VAR_SAMP(post_adj) / VAR_SAMP(post), 6)
             AS variance_ratio,
           ROUND(1 - VAR_SAMP(post_adj) / VAR_SAMP(post), 6)
             AS variance_reduction
    FROM adj
    """,
)
def a_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): adjust each
    user's experiment-period outcome by θ·(pre − mean_pre) with
    θ = cov(pre, post)/var(pre) — the regression adjustment that removes
    the variance explained by pre-period behavior, shrinking the
    estimator's variance by corr² (the variance_reduction column) WITHOUT
    biasing the effect (pre-period data is independent of assignment by
    construction). The single highest-leverage trick in modern
    experimentation — days of runtime saved for one covariance. One user
    aggregate, one 1-row θ broadcast, one adjusted fold."""
    ev = _t(spark, sf_dir, "events")
    treated = F.when(
        F.pmod(
            DD.hex_hash64(F.concat(F.lit("ab"), F.col("user_id").cast("string"))),
            F.lit(2),
        )
        == 0,
        0,
    ).otherwise(1)
    cutoff = F.lit("2024-01-16").cast("date")
    users = IT.round_checkpoint(ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts").cast("date") < cutoff, F.col("value")).otherwise(0.0)
        ).alias("pre"),
        F.sum(
            F.when(F.col("ts").cast("date") >= cutoff, F.col("value")).otherwise(
                0.0
            )
        ).alias("post"),
    ).select("user_id", treated.alias("treated"), "pre", "post"))
    theta = users.agg(
        (F.covar_samp("pre", "post") / F.var_samp("pre")).alias("th"),
        F.avg("pre").alias("mean_pre"),
    )
    adj = users.crossJoin(F.broadcast(theta)).select(
        "treated",
        "post",
        (
            F.col("post") - F.col("th") * (F.col("pre") - F.col("mean_pre"))
        ).alias("post_adj"),
    )
    t_avg = lambda c: F.avg(F.when(F.col("treated") == 1, F.col(c)))  # noqa: E731
    c_avg = lambda c: F.avg(F.when(F.col("treated") == 0, F.col(c)))  # noqa: E731
    return adj.agg(
        F.round(t_avg("post") - c_avg("post"), 4).alias("raw_effect"),
        F.round(t_avg("post_adj") - c_avg("post_adj"), 4).alias("cuped_effect"),
        F.round(F.var_samp("post_adj") / F.var_samp("post"), 6).alias(
            "variance_ratio"
        ),
        F.round(1 - F.var_samp("post_adj") / F.var_samp("post"), 6).alias(
            "variance_reduction"
        ),
    )


@register(
    "a_sprt_check",
    """
    WITH users AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS treated,
             MAX(CASE WHEN event_type = 'purchase' AND value > 360
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    rates AS (
      SELECT SUM(CASE WHEN treated = 0 THEN converted ELSE 0 END) * 1.0
               / SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS p0,
             CAST(SUM(CASE WHEN treated = 1 THEN converted ELSE 0 END) AS BIGINT)
               AS k_t,
             CAST(SUM(treated) AS BIGINT) AS n_t
      FROM users
    ),
    clamped AS (
      SELECT k_t, n_t, GREATEST(0.001, LEAST(0.99, p0)) AS p0 FROM rates
    ),
    llr AS (
      SELECT k_t, n_t, p0, LEAST(0.999, p0 * 1.25) AS p1,
             k_t * LN(LEAST(0.999, p0 * 1.25) / p0)
             + (n_t - k_t) * LN((1 - LEAST(0.999, p0 * 1.25)) / (1 - p0))
               AS log_lr
      FROM clamped
    )
    SELECT ROUND(log_lr, 4) AS log_likelihood_ratio,
           ROUND(LN(0.2 / 0.95), 4) AS lower_boundary,
           ROUND(LN(0.8 / 0.05), 4) AS upper_boundary,
           CASE WHEN log_lr >= LN(0.8 / 0.05) THEN 'ACCEPT_H1_LIFT'
                WHEN log_lr <= LN(0.2 / 0.95) THEN 'ACCEPT_H0_NO_LIFT'
                ELSE 'CONTINUE_SAMPLING' END AS decision,
           ROUND(p0, 6) AS control_rate, k_t AS treatment_conversions,
           n_t AS treatment_n
    FROM llr
    """,
)
def a_sprt_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT readout for the conversion experiment: the cumulative
    log-likelihood ratio of H₁ (25% relative lift) vs H₀ (control rate)
    over the treatment arm's Bernoulli outcomes, against the
    α=0.05/β=0.2 decision boundaries ln(β/(1−α)) and ln((1−β)/α).
    Sequential testing is how experiments STOP EARLY without p-hacking —
    the boundaries are valid at every interim look, unlike a repeatedly
    peeked z-test. The LLR is one conditional aggregate; on a stream this
    exact query runs per micro-batch and the decision column is the
    stopping rule."""
    ev = _t(spark, sf_dir, "events")
    treated = F.when(
        F.pmod(
            DD.hex_hash64(F.concat(F.lit("ab"), F.col("user_id").cast("string"))),
            F.lit(2),
        )
        == 0,
        0,
    ).otherwise(1)
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 360), 1
            ).otherwise(0)
        ).alias("converted")
    ).select(treated.alias("treated"), "converted")
    rates = users.agg(
        (
            F.sum(F.when(F.col("treated") == 0, F.col("converted")).otherwise(0))
            * 1.0
            / F.sum(F.when(F.col("treated") == 0, 1).otherwise(0))
        ).alias("p0_raw"),
        F.sum(
            F.when(F.col("treated") == 1, F.col("converted")).otherwise(0)
        ).alias("k_t"),
        F.sum("treated").alias("n_t"),
    ).select(
        # clamp the control rate away from {0, 1}: a degenerate rate makes
        # the likelihood ratio undefined (ln 0) -- standard SPRT smoothing
        F.greatest(F.lit(0.001), F.least(F.lit(0.99), F.col("p0_raw"))).alias(
            "p0"
        ),
        "k_t",
        "n_t",
    )
    import math

    p1 = F.least(F.lit(0.999), F.col("p0") * 1.25)
    llr = F.col("k_t") * F.log(p1 / F.col("p0")) + (
        F.col("n_t") - F.col("k_t")
    ) * F.log((1 - p1) / (1 - F.col("p0")))
    lo = math.log(0.2 / 0.95)
    hi = math.log(0.8 / 0.05)
    return rates.select(
        F.round(llr, 4).alias("log_likelihood_ratio"),
        F.round(F.lit(lo), 4).alias("lower_boundary"),
        F.round(F.lit(hi), 4).alias("upper_boundary"),
        F.when(llr >= hi, F.lit("ACCEPT_H1_LIFT"))
        .when(llr <= lo, F.lit("ACCEPT_H0_NO_LIFT"))
        .otherwise(F.lit("CONTINUE_SAMPLING"))
        .alias("decision"),
        F.round("p0", 6).alias("control_rate"),
        F.col("k_t").cast("long").alias("treatment_conversions"),
        F.col("n_t").cast("long").alias("treatment_n"),
    )


@register(
    "a_beta_binomial_shrinkage",
    """
    WITH seg AS (
      SELECT c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
    ),
    moments AS (
      SELECT AVG(k * 1.0 / n) AS mu,
             GREATEST(VAR_SAMP(k * 1.0 / n), 0.0000001) AS v
      FROM seg
    ),
    prior AS (
      SELECT mu, v,
             GREATEST(0.1, mu * (mu * (1 - mu) / v - 1)) AS alpha,
             GREATEST(0.1, (1 - mu) * (mu * (1 - mu) / v - 1)) AS beta
      FROM moments
    )
    SELECT segment, n, k,
           ROUND(k * 1.0 / n, 6) AS raw_rate,
           ROUND((k + alpha) / (n + alpha + beta), 6) AS shrunk_rate,
           ROUND(alpha, 4) AS prior_alpha, ROUND(beta, 4) AS prior_beta
    FROM seg, prior
    """,
)
def a_beta_binomial_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial empirical-Bayes shrinkage of per-segment urgent-order
    rates (the 'batting average' estimator): fit a Beta prior to the
    observed rate spread by method of moments (α+β is the prior's
    pseudo-count strength — the data itself decides how much to trust
    small segments), then posterior-mean each rate as (k+α)/(n+α+β).
    James-Stein (a_james_stein_means) is this idea for Gaussian means;
    the beta-binomial version is the right one for RATES because its
    shrinkage respects [0,1]. One join-aggregate, one 1-row moment fit
    broadcast back."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    seg = IT.round_checkpoint(
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("k"),
        )
    )
    moments = seg.agg(
        F.avg(F.col("k") * 1.0 / F.col("n")).alias("mu"),
        F.greatest(
            F.var_samp(F.col("k") * 1.0 / F.col("n")), F.lit(0.0000001)
        ).alias("v"),
    )
    strength = F.col("mu") * (1 - F.col("mu")) / F.col("v") - 1
    prior = moments.select(
        F.greatest(F.lit(0.1), F.col("mu") * strength).alias("alpha"),
        F.greatest(F.lit(0.1), (1 - F.col("mu")) * strength).alias("beta"),
    )
    return seg.crossJoin(F.broadcast(prior)).select(
        "segment",
        "n",
        "k",
        F.round(F.col("k") * 1.0 / F.col("n"), 6).alias("raw_rate"),
        F.round(
            (F.col("k") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta")),
            6,
        ).alias("shrunk_rate"),
        F.round("alpha", 4).alias("prior_alpha"),
        F.round("beta", 4).alias("prior_beta"),
    )


@register(
    "a_cronbach_alpha",
    """
    WITH items AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 1.0 AS i1,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) * 1.0 AS i2,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 1.0 AS i3,
             SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) * 1.0 AS i4
      FROM events GROUP BY user_id
    )
    SELECT ROUND(4.0 / 3.0 * (1 - (VAR_SAMP(i1) + VAR_SAMP(i2)
                                    + VAR_SAMP(i3) + VAR_SAMP(i4))
                              / VAR_SAMP(i1 + i2 + i3 + i4)), 6)
             AS cronbach_alpha,
           ROUND(VAR_SAMP(i1 + i2 + i3 + i4), 4) AS total_variance,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM items
    """,
)
def a_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over a 4-item engagement 'scale' (per-user click /
    view / purchase / signup counts): α = k/(k−1)·(1 − Σσᵢ²/σ_total²) —
    internal-consistency reliability, near 1 when the items move together
    (a coherent construct worth averaging into one engagement score),
    near 0 when summing them is numerology. The psychometrics gate that
    applies equally to composite KPIs and multi-signal quality scores.
    One per-user pivot aggregate, one variance fold."""
    ev = _t(spark, sf_dir, "events")

    def item(t):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)) * 1.0

    items = ev.groupBy("user_id").agg(
        item("click").alias("i1"),
        item("view").alias("i2"),
        item("purchase").alias("i3"),
        item("signup").alias("i4"),
    )
    total = F.col("i1") + F.col("i2") + F.col("i3") + F.col("i4")
    return items.select("i1", "i2", "i3", "i4", total.alias("tot")).agg(
        F.round(
            4.0
            / 3.0
            * (
                1
                - (
                    F.var_samp("i1")
                    + F.var_samp("i2")
                    + F.var_samp("i3")
                    + F.var_samp("i4")
                )
                / F.var_samp("tot")
            ),
            6,
        ).alias("cronbach_alpha"),
        F.round(F.var_samp("tot"), 4).alias("total_variance"),
        F.count(F.lit(1)).alias("n_users"),
    )


@register(
    "a_wilson_ci",
    """
    WITH users AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' AND value > 360
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(SUM(converted) AS BIGINT) AS k,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM users
    )
    SELECT ROUND(k * 1.0 / n, 6) AS rate,
           ROUND((k * 1.0 / n + 1.9208 / n
                  - 1.96 * SQRT((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) + 0.0 AS wilson_lo,
           ROUND((k * 1.0 / n + 1.9208 / n
                  + 1.96 * SQRT((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_hi,
           k AS conversions, n AS n_users
    FROM s
    """,
)
def a_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval for the conversion rate — the proportion CI
    that behaves at the edges where the naive Wald interval
    p̂ ± 1.96√(p̂(1−p̂)/n) fails (Wald collapses to width zero at p̂ ∈ {0,1}
    and routinely escapes [0,1]; Wilson never does, which is why it's the
    default in every serious A/B tool). Closed form with z = 1.96
    (z² = 3.8416 folded into the constants); one per-user collapse and a
    1-row fold."""
    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 360), 1
            ).otherwise(0)
        ).alias("converted")
    )
    s = users.agg(
        F.sum("converted").alias("k"), F.count(F.lit(1)).alias("n")
    )
    p = F.col("k") * 1.0 / F.col("n")
    z2 = 3.8416
    center = p + z2 / (2 * F.col("n"))
    half = 1.96 * F.sqrt(
        p * (1 - p) / F.col("n") + z2 / (4 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    return s.select(
        F.round(p, 6).alias("rate"),
        # + 0.0 canonicalizes IEEE negative zero (DuckDB rounds the exact-0
        # lower bound to -0.0, Spark to 0.0 -- observed hash mismatch)
        (F.round((center - half) / denom, 6) + 0.0).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
        F.col("k").cast("long").alias("conversions"),
        F.col("n").cast("long").alias("n_users"),
    )


@register(
    "a_mcc_at_threshold",
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
             SUM(n_pos) OVER w AS tp, SUM(n_neg) OVER w AS fp,
             SUM(n_pos) OVER () AS p, SUM(n_neg) OVER () AS neg
      FROM per_score
      WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)
    ),
    best AS (
      SELECT tp, fp, p - tp AS fn, neg - fp AS tn
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          ORDER BY CAST(ROUND(2.0 * tp / (2.0 * tp + fp + (p - tp)) * 1000000)
                        AS BIGINT) DESC, score) AS rn
        FROM cum
      ) WHERE rn = 1
    )
    SELECT ROUND((tp * tn - fp * fn)
                 / SQRT((tp + fp) * 1.0 * (tp + fn) * (tn + fp) * (tn + fn)), 6)
             AS mcc,
           ROUND(0.5 * (tp * 1.0 / (tp + fn) + tn * 1.0 / (tn + fp)), 6)
             AS balanced_accuracy,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn
    FROM best
    """,
)
def a_mcc_at_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient and balanced accuracy at the
    max-F1 operating point (the same sweep as a_f1_threshold): MCC is the
    2×2 metric that uses ALL FOUR cells — a classifier predicting the
    majority class gets F1 and accuracy credit but MCC ≈ 0, which is why
    reviewers increasingly demand it; balanced accuracy is the
    class-prior-free companion. Same bounded per-distinct-score
    cumulative dataflow, one more arithmetic row at the selected cut."""
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
        F.sum("n_pos").over(wa).alias("p"),
        F.sum("n_neg").over(wa).alias("neg"),
    )
    f1 = 2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + (F.col("p") - F.col("tp")))
    w_rn = Window.orderBy(
        F.round(f1 * 1000000).cast("long").desc(), F.col("score")
    )
    best = (
        cum.withColumn("rn", F.row_number().over(w_rn))
        .filter(F.col("rn") == 1)
        .select(
            "tp",
            "fp",
            (F.col("p") - F.col("tp")).alias("fn"),
            (F.col("neg") - F.col("fp")).alias("tn"),
        )
    )
    mcc = (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")) / F.sqrt(
        (F.col("tp") + F.col("fp"))
        * 1.0
        * (F.col("tp") + F.col("fn"))
        * (F.col("tn") + F.col("fp"))
        * (F.col("tn") + F.col("fn"))
    )
    bacc = 0.5 * (
        F.col("tp") * 1.0 / (F.col("tp") + F.col("fn"))
        + F.col("tn") * 1.0 / (F.col("tn") + F.col("fp"))
    )
    return best.select(
        F.round(mcc, 6).alias("mcc"),
        F.round(bacc, 6).alias("balanced_accuracy"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
    )


@register(
    "a_permutation_test",
    """
    WITH users AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS treated,
             CAST(ROUND(SUM(value) * 100) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    ),
    observed AS (
      SELECT AVG(CASE WHEN treated = 1 THEN cents END)
             - AVG(CASE WHEN treated = 0 THEN cents END) AS d_obs
      FROM users
    ),
    perms AS (SELECT unnest(generate_series(1, 40)) AS b),
    relabeled AS (
      SELECT perms.b, u.cents,
             CASE WHEN CAST(('0x' || substr(md5('pm' || CAST(perms.b AS VARCHAR) || '_' || CAST(u.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS fake_arm
      FROM users u, perms
    ),
    null_dist AS (
      SELECT b,
             AVG(CASE WHEN fake_arm = 1 THEN cents END)
             - AVG(CASE WHEN fake_arm = 0 THEN cents END) AS d_null
      FROM relabeled GROUP BY b
    )
    SELECT ROUND((SELECT d_obs FROM observed) / 100.0, 4) AS observed_diff,
           CAST(SUM(CASE WHEN ABS(d_null) >= ABS((SELECT d_obs FROM observed))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_as_extreme,
           ROUND((SUM(CASE WHEN ABS(d_null) >= ABS((SELECT d_obs FROM observed))
                           THEN 1 ELSE 0 END) + 1.0) / (COUNT(*) + 1), 4)
             AS permutation_p,
           CAST(COUNT(*) AS BIGINT) AS n_permutations
    FROM null_dist
    """,
)
def a_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the experiment effect: 40 hash-derived random
    RELABELINGS of users into fake arms build the null distribution of the
    mean difference, and the p-value is the (add-one-smoothed) fraction of
    null draws at least as extreme as the observed difference — the
    inference that needs NO normality, NO variance formula, and is exact
    under the sharp null (the same exchangeability the real assignment
    had). Completes the resampling family: bootstrap gives the CI
    (a_ab_bootstrap_ci), permutation gives the p-value, both on the same
    portable md5 draws. One user collapse, a 40x relabel explode with
    map-side combine, a 40-row fold."""
    ev = _t(spark, sf_dir, "events")
    treated = F.when(
        F.pmod(
            DD.hex_hash64(F.concat(F.lit("ab"), F.col("user_id").cast("string"))),
            F.lit(2),
        )
        == 0,
        0,
    ).otherwise(1)
    users = IT.round_checkpoint(ev.groupBy("user_id").agg(
        F.round(F.sum("value") * 100).cast("long").alias("cents")
    ).select("user_id", treated.alias("treated"), "cents"))
    observed = users.agg(
        (
            F.avg(F.when(F.col("treated") == 1, F.col("cents")))
            - F.avg(F.when(F.col("treated") == 0, F.col("cents")))
        ).alias("d_obs")
    )
    relabeled = users.select(
        "cents",
        "user_id",
        F.explode(F.sequence(F.lit(1), F.lit(40))).alias("b"),
    ).select(
        "b",
        "cents",
        F.when(
            F.pmod(
                DD.hex_hash64(
                    F.concat(
                        F.lit("pm"),
                        F.col("b").cast("string"),
                        F.lit("_"),
                        F.col("user_id").cast("string"),
                    )
                ),
                F.lit(2),
            )
            == 0,
            0,
        )
        .otherwise(1)
        .alias("fake_arm"),
    )
    null_dist = relabeled.groupBy("b").agg(
        (
            F.avg(F.when(F.col("fake_arm") == 1, F.col("cents")))
            - F.avg(F.when(F.col("fake_arm") == 0, F.col("cents")))
        ).alias("d_null")
    )
    j = null_dist.crossJoin(F.broadcast(observed))
    extreme = F.sum(
        F.when(F.abs(F.col("d_null")) >= F.abs(F.col("d_obs")), 1).otherwise(0)
    )
    return j.agg(
        F.round(F.max("d_obs") / 100.0, 4).alias("observed_diff"),
        extreme.alias("n_as_extreme"),
        F.round((extreme + 1.0) / (F.count(F.lit(1)) + 1), 4).alias(
            "permutation_p"
        ),
        F.count(F.lit(1)).alias("n_permutations"),
    )
