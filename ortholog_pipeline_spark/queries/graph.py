"""Graph + entity-resolution queries (split from queries.py — registration side-effect module)."""
from ortholog_pipeline_spark.queries._shared import (  # noqa: F401
    CCop,
    DD,
    DataFrame,
    F,
    G,
    IT,
    SparkSession,
    Window,
    _PAGERANK_EDGES_SQL,
    _PAGERANK_ITER_SQL,
    _t,
    register,
)

@register(
    "g_pagerank_fixedpoint",
    f"""
    WITH edges AS ({_PAGERANK_EDGES_SQL}),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
    {_PAGERANK_ITER_SQL.format(k=1, p=0)},
    {_PAGERANK_ITER_SQL.format(k=2, p=1)},
    {_PAGERANK_ITER_SQL.format(k=3, p=2)}
    SELECT node, r AS rank_scaled FROM r3
    """,
)
def g_pagerank_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the customer→supplier purchase graph in
    scaled BIGINT fixed-point (operators/graph.py): integer contributions sum
    order-independently, so the trajectory is bit-reproducible on any cluster
    layout and in the (3×-unrolled-CTE) DuckDB oracle — the property the float
    formulation cannot have. Dangling supplier nodes leak mass (documented
    standard simplification)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return G.pagerank_fixed_point(edges, iters=3)


@register(
    "g_triangle_count",
    """
    WITH e AS (
      SELECT DISTINCT LEAST(l_orderkey % 20000, l_partkey % 20000) AS u,
             GREATEST(l_orderkey % 20000, l_partkey % 20000) AS v
      FROM lineitem
      WHERE l_orderkey % 20000 != l_partkey % 20000
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges
    FROM e e1
    JOIN e e2 ON e1.v = e2.u
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the (order mod, part mod) projection graph: edges
    canonicalized u < v, then the standard two-hop self-join (e1.v = e2.u)
    closed by a third edge — each triangle counted exactly once via the
    ordering u < v < w that canonicalization induces. Shuffle cost is the
    open-wedge count (sum of deg^2); at 100 TB the standard mitigation is
    degree-ordered orientation, which this canonical u < v form already is."""
    li = _t(spark, sf_dir, "lineitem")
    a = (F.col("l_orderkey") % 20000).alias("a")
    b = (F.col("l_partkey") % 20000).alias("b")
    e = IT.round_checkpoint(
        li.select(a, b)
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .dropDuplicates()
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    n_edges = e.count()
    return tri.agg(
        F.count("*").alias("n_triangles"),
        F.lit(n_edges).cast("long").alias("n_edges"),
    )


@register(
    "er_entity_clusters",
    """
    WITH RECURSIVE pairs AS (
      SELECT LEAST(a.c_custkey, b.c_custkey) AS u, GREATEST(a.c_custkey, b.c_custkey) AS v
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
       AND levenshtein(a.c_name, b.c_name) = 1
    ),
    sym AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach(a, b) AS (
      SELECT u, u FROM sym
      UNION
      SELECT r.a, s.v FROM reach r JOIN sym s ON s.u = r.b
    ),
    comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a)
    SELECT component AS cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM comp GROUP BY component
    """,
)
def er_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: candidate pairs from the FastSS
    deletion-neighborhood join (never all-pairs — |s|+1 variants per distinct
    name, one equi-join on the variant key) with the blocking key (nation)
    composed INTO the variant join key — candidates never form across blocks,
    so the join and the levenshtein verify shrink by the block selectivity
    (25x here: 262.5k global pairs -> 10.4k blocked ones) — then transitively
    merged with the same large-star/small-star connected-components used for
    near-dup clustering. Output: one row per merged entity with its
    representative (min key) and member count. The DuckDB oracle reproduces
    the closure over the identical levenshtein=1 pair set with a recursive
    CTE."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    pairs = DD.editdist1_join(cust, "c_name", block_cols=["c_nationkey"])
    m1 = cust.select(
        F.col("c_name").alias("s1"),
        F.col("c_custkey").alias("k1"),
        F.col("c_nationkey").alias("c_nationkey"),
    )
    m2 = cust.select(
        F.col("c_name").alias("s2"),
        F.col("c_custkey").alias("k2"),
        F.col("c_nationkey").alias("c_nationkey"),
    )
    edges = (
        pairs.join(m1, ["s1", "c_nationkey"])
        .join(m2, ["s2", "c_nationkey"])
        .select(
            F.least("k1", "k2").alias("id_1"),
            F.greatest("k1", "k2").alias("id_2"),
        )
    )
    comp = CCop.connected_components(edges)
    return comp.groupBy(F.col("component").alias("cluster_rep")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


@register(
    "g_bfs_distance",
    """
    WITH e0 AS (
      SELECT DISTINCT LEAST(l_orderkey % 20000, l_partkey % 20000) AS u,
             GREATEST(l_orderkey % 20000, l_partkey % 20000) AS v
      FROM lineitem
      WHERE l_orderkey % 20000 != l_partkey % 20000
    ),
    e AS (
      SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
    ),
    d0 AS (
      SELECT CAST(x AS BIGINT) AS node, CAST(0 AS BIGINT) AS d
      FROM (SELECT unnest([0, 1, 2]) AS x)
    ),
    d1 AS (
      SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM (
        SELECT node, d FROM d0
        UNION ALL
        SELECT e.v AS node, d0.d + 1 FROM d0 JOIN e ON d0.node = e.u
      ) GROUP BY node
    ),
    d2 AS (
      SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM (
        SELECT node, d FROM d1
        UNION ALL
        SELECT e.v AS node, d1.d + 1 FROM d1 JOIN e ON d1.node = e.u
      ) GROUP BY node
    ),
    d3 AS (
      SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM (
        SELECT node, d FROM d2
        UNION ALL
        SELECT e.v AS node, d2.d + 1 FROM d2 JOIN e ON d2.node = e.u
      ) GROUP BY node
    )
    SELECT d AS hops, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM d3 GROUP BY d
    """,
)
def g_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (3 hops) over the hashed co-purchase graph — the
    frontier-expansion primitive behind reachability, influence radius, and
    taint propagation. The loop is UNROLLED as three expand-then-min rounds;
    each round is one equi-join on the edge key plus a min-reduce groupBy, the
    exact dataflow GraphX/Pregel runs per superstep — and min-reducing BETWEEN
    rounds keeps the frontier a set (never materializing the path explosion a
    naive recursive expansion creates; the oracle mirrors the same
    level-synchronous rounds). At 100 TB both sides of every round hash on the
    node key, so pre-bucketing the edge table by u makes all three joins
    shuffle-free on the edge side; summarized per hop count to keep the
    contract output bounded."""
    li = _t(spark, sf_dir, "lineitem")
    e0 = (
        li.select(
            F.least(
                F.col("l_orderkey") % 20000, F.col("l_partkey") % 20000
            ).alias("u"),
            F.greatest(
                F.col("l_orderkey") % 20000, F.col("l_partkey") % 20000
            ).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    # lazy round_checkpoint (r10, guide §2.4/§5; r11: config-gated reliable
    # variant — see operators/iterate.round_checkpoint for the
    # fault-tolerance tradeoff): every round's plan would otherwise
    # re-derive e (lineitem scan + distinct shuffle) — 3 rounds + the final
    # action paid it 4x. One materialization of the narrow (long, long) edge
    # list serves all rounds. Measured at sf0.1
    # (interleaved best-of-3, identical output): 4.08 s -> 3.34 s.
    )
    e = IT.round_checkpoint(e)
    dist = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], schema="node long, d long"
    )
    for _ in range(3):
        expanded = (
            dist.join(e, dist["node"] == e["u"])
            .select(F.col("v").alias("node"), (F.col("d") + 1).alias("d"))
        )
        dist = IT.round_checkpoint(
            dist.unionByName(expanded).groupBy("node").agg(F.min("d").alias("d"))
        )
    return dist.groupBy(F.col("d").alias("hops")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


@register(
    "g_degree_distribution",
    """
    WITH e0 AS (
      SELECT DISTINCT LEAST(l_orderkey % 20000, l_partkey % 20000) AS u,
             GREATEST(l_orderkey % 20000, l_partkey % 20000) AS v
      FROM lineitem
      WHERE l_orderkey % 20000 != l_partkey % 20000
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0
      ) GROUP BY node
    )
    SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(degree) AS BIGINT) AS min_degree,
           CAST(MAX(degree) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1
    """,
)
def g_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph in log₂ buckets — the
    power-law diagnostic that decides whether a graph workload needs skew
    treatment (a heavy-tailed bucket histogram means the top vertices must be
    salted or vertex-cut). floor(log₂ d) computes EXACTLY as
    length(bin(d)) − 1 — integer bit-length, no floating log whose ulp could
    flip a bucket boundary. Two integer aggregations (degree count, bucket
    histogram), both map-side combined."""
    li = _t(spark, sf_dir, "lineitem")
    e0 = (
        li.select(
            F.least(
                F.col("l_orderkey") % 20000, F.col("l_partkey") % 20000
            ).alias("u"),
            F.greatest(
                F.col("l_orderkey") % 20000, F.col("l_partkey") % 20000
            ).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = e0.select(F.col("u").alias("node")).unionByName(
        e0.select(F.col("v").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy(
        (F.length(F.bin("degree")) - 1).cast("long").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
    )


@register(
    "g_kcore_peel",
    """
    WITH e0 AS (
      SELECT DISTINCT LEAST(l_orderkey % 2000, l_partkey % 2000) AS u,
             GREATEST(l_orderkey % 2000, l_partkey % 2000) AS v
      FROM lineitem
      WHERE l_orderkey % 2000 != l_partkey % 2000
    ),
    r0 AS (SELECT u, v FROM e0),
    d1 AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM r0 UNION ALL SELECT v FROM r0
      ) GROUP BY node HAVING COUNT(*) >= 60
    ),
    r1 AS (
      SELECT r0.u, r0.v FROM r0
      JOIN d1 a ON r0.u = a.node JOIN d1 b ON r0.v = b.node
    ),
    d2 AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM r1 UNION ALL SELECT v FROM r1
      ) GROUP BY node HAVING COUNT(*) >= 60
    ),
    r2 AS (
      SELECT r1.u, r1.v FROM r1
      JOIN d2 a ON r1.u = a.node JOIN d2 b ON r1.v = b.node
    ),
    d3 AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM r2 UNION ALL SELECT v FROM r2
      ) GROUP BY node HAVING COUNT(*) >= 60
    ),
    r3 AS (
      SELECT r2.u, r2.v FROM r2
      JOIN d3 a ON r2.u = a.node JOIN d3 b ON r2.v = b.node
    ),
    dd AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM r3 UNION ALL SELECT v FROM r3
      ) GROUP BY node
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
           CAST((SELECT COUNT(*) FROM r3) AS BIGINT) AS n_core_edges,
           CAST(COALESCE(MIN(deg), 0) AS BIGINT) AS min_core_degree,
           CAST(COALESCE(MAX(deg), 0) AS BIGINT) AS max_core_degree
    FROM dd
    """,
)
def g_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (3 unrolled rounds, k=60):
    repeatedly drop vertices with degree < k and restrict edges to survivors —
    the dense-subgraph extraction used for community seeds and spam/bot rings.
    Each round is one degree aggregation + two semi-join-shaped edge filters
    keyed on the node — the level-synchronous shape again, every round's
    shuffle on the same key (AQE coalesces the shrinking frames). Fixed-round
    unrolling mirrors production jobs (run to a round budget, not to
    convergence); summary pins the surviving core's size and degree bounds."""
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            F.least(
                F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000
            ).alias("u"),
            F.greatest(
                F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000
            ).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # lazy round_checkpoint per round (r10, guide §2.4/§5; r11:
        # config-gated reliable variant — see operators/iterate
        # .round_checkpoint for the executor-loss/dynamic-allocation
        # tradeoff): each peel round's degree aggregate AND its two semi-joins
        # re-enter the edge frame, so the unrolled lineage multiplies ~5x per
        # round — the final single-action plan carried 564 Exchange / 750 scan
        # operators (22.9k plan lines) and NONE were deduped at plan time (AQE
        # builds stages per exchange subtree; the duplicated degree subtrees
        # are sibling broadcasts inside one stage, which stage reuse cannot
        # collapse). Truncating lineage at the round boundary makes every
        # round O(1) plan depth — the same bound components.py documents — and
        # the materialized frame is the SHRINKING edge list (narrow (long,
        # long) rows), exactly what a 100 TB peel wants between rounds.
        # Measured at sf0.1 (interleaved best-of-3, identical output): 10.05 s
        # -> 2.71 s. (The r2 note that a persist() here was a 7x regression
        # measured CACHING the frame while keeping full lineage in every
        # consumer's plan — localCheckpoint replaces the lineage, which is the
        # part that was quadratic.)
    )
    edges = IT.round_checkpoint(edges)
    k = 60
    for i in range(3):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionByName(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("node")
        )
        # the degree frame is bounded by the node space (<= 2000 rows by
        # construction), so BOTH semi-joins broadcast it -- the edge frame
        # never shuffles during peeling; at 100 TB with an unbounded node
        # space the survivor set after round 1 is still the small side.
        edges = edges.join(
            F.broadcast(deg.withColumnRenamed("node", "u")), "u", "left_semi"
        ).join(F.broadcast(deg.withColumnRenamed("node", "v")), "v", "left_semi")
        if i < 2:
            # no checkpoint after the FINAL round: the last round's subtree is
            # O(1) deep already (its inputs are checkpointed), and keeping it
            # in the returned plan leaves the semi-join shape visible to the
            # plan-audit tests; measured equal-or-faster than checkpointing it
            edges = IT.round_checkpoint(edges)
    dd = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("ne"))
    return dd.agg(
        F.count(F.lit(1)).alias("n_core_nodes"),
        F.coalesce(F.min("deg"), F.lit(0)).cast("long").alias("min_core_degree"),
        F.coalesce(F.max("deg"), F.lit(0)).cast("long").alias("max_core_degree"),
    ).crossJoin(F.broadcast(n_edges)).select(
        "n_core_nodes",
        F.col("ne").alias("n_core_edges"),
        "min_core_degree",
        "max_core_degree",
    )


@register(
    "g_label_propagation",
    """
    WITH e0 AS (
      SELECT DISTINCT LEAST(l_orderkey % 2000, l_partkey % 2000) AS u,
             GREATEST(l_orderkey % 2000, l_partkey % 2000) AS v
      FROM lineitem
      WHERE l_orderkey % 2000 != l_partkey % 2000
        AND (l_orderkey * 31 + l_partkey) % 13 = 0
    ),
    e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    l0 AS (SELECT DISTINCT u AS node, u AS lab FROM e),
    v1 AS (
      SELECT e.u AS node, l.lab, COUNT(*) AS cnt FROM e
      JOIN l0 l ON e.v = l.node GROUP BY e.u, l.lab
    ),
    l1 AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, lab) AS rn
        FROM v1) WHERE rn = 1
    ),
    v2 AS (
      SELECT e.u AS node, l.lab, COUNT(*) AS cnt FROM e
      JOIN l1 l ON e.v = l.node GROUP BY e.u, l.lab
    ),
    l2 AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, lab) AS rn
        FROM v2) WHERE rn = 1
    ),
    v3 AS (
      SELECT e.u AS node, l.lab, COUNT(*) AS cnt FROM e
      JOIN l2 l ON e.v = l.node GROUP BY e.u, l.lab
    ),
    l3 AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, lab) AS rn
        FROM v3) WHERE rn = 1
    ),
    comm AS (
      SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS size
      FROM l3 GROUP BY lab
    ),
    ranked AS (
      SELECT community, size,
             ROW_NUMBER() OVER (ORDER BY size DESC, community) AS rn
      FROM comm
    )
    SELECT community, size, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 10
    """,
)
def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection, 3 synchronous rounds: every
    node adopts the most frequent label among its neighbors (ties to the
    smallest label — the tie-break is what makes synchronous LPA
    deterministic; textbook LPA's random tie-break can't be oracled or
    reproduced across engines). Each round = one join on the node key + one
    (node,label) count + one per-node argmax window — three shuffles per
    round, all on the same key, so bucketing the edge list by node makes
    rounds co-partitioned at scale. Edges are hash-thinned so communities
    don't collapse into one giant component before round 3. Top-10
    communities by size."""
    li = _t(spark, sf_dir, "lineitem")
    e0 = (
        li.filter((F.col("l_orderkey") * 31 + F.col("l_partkey")) % 13 == 0)
        .select(
            F.least(F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000).alias(
                "u"
            ),
            F.greatest(
                F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000
            ).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    # lazy round_checkpoint (r10; r11 config-gated reliable variant — see
    # operators/iterate.round_checkpoint): e re-enters every vote round
    # AND the labels init — same per-round re-derivation as g_bfs_distance;
    # one materialization serves all. Measured at sf0.1: 2.76 s -> 2.45 s,
    # identical output.
    )
    e = IT.round_checkpoint(e)
    labels = e.select(F.col("u").alias("node")).distinct().withColumn(
        "lab", F.col("node")
    )
    for _ in range(3):
        votes = (
            e.join(labels, e["v"] == labels["node"])
            .groupBy(F.col("u").alias("nd"), "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("nd").orderBy(F.col("cnt").desc(), F.col("lab"))
        labels = IT.round_checkpoint(
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("nd").alias("node"), "lab")
        )
    comm = labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).alias("size")
    )
    top = comm.orderBy(F.col("size").desc(), "community").limit(10)
    w_rn = Window.orderBy(F.col("size").desc(), "community")
    return top.withColumn("rn", F.row_number().over(w_rn).cast("long"))


@register(
    "g_link_prediction",
    """
    WITH e0 AS (
      SELECT DISTINCT LEAST(l_orderkey % 1000, l_partkey % 1000) AS u,
             GREATEST(l_orderkey % 1000, l_partkey % 1000) AS v
      FROM lineitem
      WHERE l_orderkey % 1000 != l_partkey % 1000
        AND (l_orderkey * 31 + l_partkey) % 11 = 0
    ),
    adj AS (SELECT u AS node, v AS nbr FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
    cn AS (
      SELECT a.node AS x, b.node AS y, CAST(COUNT(*) AS BIGINT) AS common
      FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
      GROUP BY a.node, b.node
    ),
    cand AS (
      SELECT cn.x, cn.y, cn.common FROM cn
      ANTI JOIN e0 ON cn.x = e0.u AND cn.y = e0.v
    ),
    scored AS (
      SELECT cand.x, cand.y, cand.common,
             ROUND(cand.common * 1.0 / (dx.d + dy.d - cand.common), 6) AS jaccard
      FROM cand JOIN deg dx ON cand.x = dx.node JOIN deg dy ON cand.y = dy.node
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY common DESC, x, y) AS rn FROM scored
    )
    SELECT x, y, common, jaccard FROM ranked WHERE rn <= 20
    """,
)
def g_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction: for every NON-adjacent pair sharing
    ≥1 neighbor, count shared neighbors and the neighborhood Jaccard; top-20
    candidate links. The pair enumeration is the wedge self-join (adj ⋈ adj
    on the shared neighbor) — its cost is Σ deg², which is why the edge
    space is hash-thinned here and why, at 100 TB, the standard guard is a
    degree cap (drop hub wedges) or DIMSUM-style sampling BEFORE the join;
    the thinning predicate stands in for that cap. Existing edges leave via
    an anti-join on the canonical (min,max) pair; ranking is by integer
    common-count with pair tie-break."""
    li = _t(spark, sf_dir, "lineitem")
    e0 = IT.round_checkpoint(
        li.filter((F.col("l_orderkey") * 31 + F.col("l_partkey")) % 11 == 0)
        .select(
            F.least(F.col("l_orderkey") % 1000, F.col("l_partkey") % 1000).alias(
                "u"
            ),
            F.greatest(
                F.col("l_orderkey") % 1000, F.col("l_partkey") % 1000
            ).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = e0.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
        e0.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    a = adj.select(F.col("node").alias("x"), "nbr")
    b = adj.select(F.col("node").alias("y"), "nbr")
    cn = (
        a.join(b, ["nbr"])
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = cn.join(
        e0,
        (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
        "left_anti",
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    scored = (
        cand.join(dx, "x")
        .join(dy, "y")
        .select(
            "x",
            "y",
            "common",
            F.round(
                F.col("common") * 1.0 / (F.col("dx") + F.col("dy") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.col("common").desc(), "x", "y").limit(20).select(
        "x", "y", "common", "jaccard"
    )


@register(
    "g_neighbor_sampling",
    """
    WITH e0 AS (
      SELECT DISTINCT LEAST(l_orderkey % 2000, l_partkey % 2000) AS u,
             GREATEST(l_orderkey % 2000, l_partkey % 2000) AS v
      FROM lineitem
      WHERE l_orderkey % 2000 != l_partkey % 2000
    ),
    e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    h1 AS (
      SELECT u AS seed, v FROM (
        SELECT u, v,
               ROW_NUMBER() OVER (
                 PARTITION BY u
                 ORDER BY CAST(('0x' || substr(md5('ns' || CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)), 1, 15)) AS BIGINT), v
               ) AS rn
        FROM e WHERE u < 50
      ) WHERE rn <= 3
    ),
    h2 AS (
      SELECT DISTINCT h1.seed, s.w FROM h1
      JOIN (
        SELECT u, v AS w FROM (
          SELECT u, v,
                 ROW_NUMBER() OVER (
                   PARTITION BY u
                   ORDER BY CAST(('0x' || substr(md5('ns' || CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)), 1, 15)) AS BIGINT), v
                 ) AS rn
          FROM e
        ) WHERE rn <= 2
      ) s ON h1.v = s.u
    )
    SELECT seed,
           CAST((SELECT COUNT(*) FROM h1 i WHERE i.seed = o.seed) AS BIGINT) AS n_hop1,
           CAST(COUNT(*) AS BIGINT) AS n_hop2
    FROM h2 o GROUP BY seed
    """,
)
def g_neighbor_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style minibatch neighbor sampling: fanout 3 at hop 1, 2 at
    hop 2, per seed node. The sample is a HASH-ordered row_number per source
    node — deterministic across engines, reruns, and partitionings (the
    rerun-stability property df.sample() lacks), and the hop-2 sample is
    keyed on the intermediate node alone so every seed reaching v draws the
    SAME sample of v's neighbors (one pass computes it once, the join fans
    it out — this is exactly how a production GNN sampler amortizes hub
    nodes). Two window shuffles + one join; per-seed output is bounded by
    the fanout product."""
    li = _t(spark, sf_dir, "lineitem")
    e0 = (
        li.select(
            F.least(F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000).alias(
                "u"
            ),
            F.greatest(
                F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000
            ).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    hsh = DD.hex_hash64(
        F.concat(
            F.lit("ns"),
            F.col("u").cast("string"),
            F.lit("_"),
            F.col("v").cast("string"),
        )
    )
    w_u = Window.partitionBy("u").orderBy(hsh.asc(), F.col("v"))
    sampled = IT.round_checkpoint(e.withColumn("rn", F.row_number().over(w_u)))
    h1 = IT.round_checkpoint(
        sampled.filter((F.col("u") < 50) & (F.col("rn") <= 3))
        .select(F.col("u").alias("seed"), "v")
    )
    s2 = sampled.filter(F.col("rn") <= 2).select(
        F.col("u").alias("mid"), F.col("v").alias("w")
    )
    h2 = (
        h1.join(s2, h1["v"] == s2["mid"])
        .select("seed", "w")
        .distinct()
        .groupBy("seed")
        .agg(F.count(F.lit(1)).alias("n_hop2"))
    )
    n1 = h1.groupBy("seed").agg(F.count(F.lit(1)).alias("n_hop1"))
    return n1.join(h2, "seed").select("seed", "n_hop1", "n_hop2")


@register(
    "g_degree_assortativity",
    """
    WITH e0 AS (
      SELECT DISTINCT LEAST(l_orderkey % 2000, l_partkey % 2000) AS u,
             GREATEST(l_orderkey % 2000, l_partkey % 2000) AS v
      FROM lineitem
      WHERE l_orderkey % 2000 != l_partkey % 2000
        AND (l_orderkey * 31 + l_partkey) % 13 = 0
    ),
    sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
    pairs AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM sym JOIN deg du ON sym.u = du.node JOIN deg dv ON sym.v = dv.node
    )
    SELECT ROUND(CORR(dx, dy), 6) AS assortativity,
           CAST(COUNT(*) AS BIGINT) AS n_directed_edges,
           ROUND(AVG(dx), 4) AS mean_degree
    FROM pairs
    """,
)
def g_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity — the Pearson correlation of endpoint degrees
    over all (directed) edges: positive means hubs attach to hubs (social
    graphs), negative means hubs attach to leaves (the hub-and-spoke
    signature of infrastructure and star-schema-derived graphs). One
    degree aggregate, two broadcast joins of the ≤|nodes| degree table
    back onto the edge list, one corr fold. The single number says which
    sampling and partitioning strategies will work on this graph."""
    li = _t(spark, sf_dir, "lineitem")
    e0 = (
        li.filter((F.col("l_orderkey") * 31 + F.col("l_partkey")) % 13 == 0)
        .select(
            F.least(F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000).alias(
                "u"
            ),
            F.greatest(
                F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000
            ).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    pairs = sym.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    return pairs.agg(
        F.round(F.corr("dx", "dy"), 6).alias("assortativity"),
        F.count(F.lit(1)).alias("n_directed_edges"),
        F.round(F.avg("dx"), 4).alias("mean_degree"),
    )


@register(
    "g_bellman_ford",
    """
    WITH e0 AS (
      SELECT DISTINCT LEAST(l_orderkey % 2000, l_partkey % 2000) AS u,
             GREATEST(l_orderkey % 2000, l_partkey % 2000) AS v
      FROM lineitem
      WHERE l_orderkey % 2000 != l_partkey % 2000
    ),
    we AS (
      SELECT u, v,
             1 + CAST(('0x' || substr(md5('w' || CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)), 1, 15)) AS BIGINT) % 10
               AS w
      FROM e0
    ),
    e AS (SELECT u, v, w FROM we UNION ALL SELECT v, u, w FROM we),
    d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
           UNION ALL SELECT 1, 0 UNION ALL SELECT 2, 0),
    r1 AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d0
        UNION ALL
        SELECT e.v, d0.dist + e.w FROM d0 JOIN e ON d0.node = e.u
      ) GROUP BY node
    ),
    r2 AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM r1
        UNION ALL
        SELECT e.v, r1.dist + e.w FROM r1 JOIN e ON r1.node = e.u
      ) GROUP BY node
    ),
    r3 AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM r2
        UNION ALL
        SELECT e.v, r2.dist + e.w FROM r2 JOIN e ON r2.node = e.u
      ) GROUP BY node
    )
    SELECT CAST(dist AS BIGINT) AS distance,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM r3 GROUP BY dist
    """,
)
def g_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source(×3) shortest paths by Bellman-Ford relaxation
    (3 synchronous rounds): each round unions the current distance table
    with every edge-relaxed candidate and min-reduces per node — the
    min-plus semiring version of the BFS rounds (g_bfs_distance is this
    query with all weights 1). Edge weights are the portable md5 coin in
    1..10, symmetric by construction. Round state stays a set (min-reduce
    BETWEEN rounds — never the path explosion); summarized as a distance
    histogram. At 100 TB: same level-synchronous join, edges pre-bucketed
    by source node."""
    li = _t(spark, sf_dir, "lineitem")
    e0 = (
        li.select(
            F.least(F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000).alias(
                "u"
            ),
            F.greatest(
                F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000
            ).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    we = e0.withColumn(
        "w",
        1
        + F.pmod(
            DD.hex_hash64(
                F.concat(
                    F.lit("w"),
                    F.col("u").cast("string"),
                    F.lit("_"),
                    F.col("v").cast("string"),
                )
            ),
            F.lit(10),
        ),
    )
    e = IT.round_checkpoint(we.unionByName(
        we.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ))
    dist = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], schema="node long, dist long"
    )
    for _ in range(3):
        relaxed = dist.join(e, dist["node"] == e["u"]).select(
            F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = IT.round_checkpoint(
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.groupBy(F.col("dist").alias("distance")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


@register(
    "er_blocking_quality",
    """
    WITH sample_c AS (
      SELECT c_custkey, c_name, c_nationkey FROM customer
      WHERE c_custkey % 10 = 0
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sample_c),
    truth AS (
      SELECT a.c_custkey AS u, b.c_custkey AS v
      FROM sample_c a JOIN sample_c b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    blocked AS (
      SELECT a.c_custkey AS u, b.c_custkey AS v
      FROM sample_c a JOIN sample_c b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    ),
    found AS (
      SELECT t.u, t.v FROM truth t
      JOIN blocked bl ON t.u = bl.u AND t.v = bl.v
    )
    SELECT CAST((SELECT COUNT(*) FROM blocked) AS BIGINT) AS n_candidate_pairs,
           CAST((SELECT n * (n - 1) / 2 FROM n) AS BIGINT) AS n_all_pairs,
           ROUND(1.0 - (SELECT COUNT(*) FROM blocked) * 1.0
                 / (SELECT n * (n - 1) / 2 FROM n), 6) AS reduction_ratio,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_matches,
           CAST((SELECT COUNT(*) FROM found) AS BIGINT) AS n_found_matches,
           ROUND((SELECT COUNT(*) FROM found) * 1.0
                 / NULLIF((SELECT COUNT(*) FROM truth), 0), 6)
             AS pairs_completeness
    """,
)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation — the two numbers every ER blocking
    scheme is judged on: REDUCTION RATIO (what fraction of the quadratic
    pair space the blocking avoided) and PAIRS COMPLETENESS (what fraction
    of true matches survive inside blocks). Ground truth is exhaustive
    levenshtein ≤ 1 on a deterministic 10% sample (the audit-on-a-sample
    pattern the LSH scorecard uses — exhaustive truth is affordable
    exactly because it's sampled); the scheme under test is the nation
    blocking the ER pipeline actually uses. RR without PC rewards
    over-aggressive blocking; reporting both is the point."""
    return _blocking_quality_report(spark, sf_dir, modulus=10)


def _blocking_quality_report(
    spark: SparkSession, sf_dir: str, modulus: int
) -> DataFrame:
    """er_blocking_quality parameterized by the sample modulus: the registered
    entry audits a 1/10 key sample; the ~sf1 slice certification (slice_cert)
    deepens to 1/1000 so the exhaustive-truth cross join stays at the sf0.1
    cost while reading the full scaled table."""
    cust = IT.round_checkpoint(_t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % modulus == 0
    ).select("c_custkey", "c_name", "c_nationkey"))
    n = cust.agg(F.count(F.lit(1)).alias("n"))
    a = cust.select(
        F.col("c_custkey").alias("u"),
        F.col("c_name").alias("name_u"),
        F.col("c_nationkey").alias("nat_u"),
    )
    b = cust.select(
        F.col("c_custkey").alias("v"),
        F.col("c_name").alias("name_v"),
        F.col("c_nationkey").alias("nat_v"),
    )
    truth = IT.round_checkpoint(
        a.crossJoin(b)
        .filter(
            (F.col("u") < F.col("v"))
            & (F.levenshtein("name_u", "name_v") <= 1)
        )
        .select("u", "v")
    )
    blocked = IT.round_checkpoint(
        a.join(b, F.col("nat_u") == F.col("nat_v"))
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
    )
    found = truth.join(blocked, ["u", "v"])
    nc = blocked.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_true_matches"))
    nf = found.agg(F.count(F.lit(1)).alias("n_found_matches"))
    return (
        nc.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nf))
        .select(
            "n_candidate_pairs",
            (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_all_pairs"),
            F.round(
                1.0
                - F.col("n_candidate_pairs")
                * 1.0
                / (F.col("n") * (F.col("n") - 1) / 2),
                6,
            ).alias("reduction_ratio"),
            "n_true_matches",
            "n_found_matches",
            F.round(
                F.col("n_found_matches")
                * 1.0
                / F.nullif(F.col("n_true_matches").cast("double"), F.lit(0.0)),
                6,
            ).alias("pairs_completeness"),
        )
    )


@register(
    "g_modularity",
    """
    WITH e0 AS (
      SELECT DISTINCT LEAST(l_orderkey % 2000, l_partkey % 2000) AS u,
             GREATEST(l_orderkey % 2000, l_partkey % 2000) AS v
      FROM lineitem
      WHERE l_orderkey % 2000 != l_partkey % 2000
        AND (l_orderkey * 31 + l_partkey) % 13 = 0
    ),
    e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    l0 AS (SELECT DISTINCT u AS node, u AS lab FROM e),
    v1 AS (
      SELECT e.u AS node, l.lab, COUNT(*) AS cnt FROM e
      JOIN l0 l ON e.v = l.node GROUP BY e.u, l.lab
    ),
    l1 AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, lab) AS rn
        FROM v1) WHERE rn = 1
    ),
    v2 AS (
      SELECT e.u AS node, l.lab, COUNT(*) AS cnt FROM e
      JOIN l1 l ON e.v = l.node GROUP BY e.u, l.lab
    ),
    l2 AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, lab) AS rn
        FROM v2) WHERE rn = 1
    ),
    v3 AS (
      SELECT e.u AS node, l.lab, COUNT(*) AS cnt FROM e
      JOIN l2 l ON e.v = l.node GROUP BY e.u, l.lab
    ),
    l3 AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, lab) AS rn
        FROM v3) WHERE rn = 1
    ),
    m_edges AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
    intra AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS e_in
      FROM e0
      JOIN l3 la ON e0.u = la.node
      JOIN l3 lb ON e0.v = lb.node
      WHERE la.lab = lb.lab
    ),
    degs AS (
      SELECT l3.lab, CAST(COUNT(*) AS BIGINT) AS d_c
      FROM e JOIN l3 ON e.u = l3.node GROUP BY l3.lab
    )
    SELECT ROUND((SELECT e_in FROM intra) * 1.0 / (SELECT m FROM m_edges)
                 - SUM(d_c * d_c * 1.0)
                   / (4.0 * (SELECT m FROM m_edges) * (SELECT m FROM m_edges)), 6)
             AS modularity,
           CAST((SELECT e_in FROM intra) AS BIGINT) AS intra_edges,
           CAST((SELECT m FROM m_edges) AS BIGINT) AS total_edges,
           CAST(COUNT(*) AS BIGINT) AS n_communities
    FROM degs
    """,
)
def g_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the label-propagation communities — the
    quality number that turns 'we found communities' into 'the communities
    are real': Q = e_in/m − Σ(d_c/2m)², positive when intra-community
    edge mass beats the degree-preserving random expectation (Q near 0 =
    the partition is noise). Replays g_label_propagation's exact 3 rounds
    (same tie-breaks, same labels) then adds one intra-edge join and one
    degree-per-community aggregate — evaluating a partition is two
    aggregates once the labels exist."""
    li = _t(spark, sf_dir, "lineitem")
    e0 = IT.round_checkpoint(
        li.filter((F.col("l_orderkey") * 31 + F.col("l_partkey")) % 13 == 0)
        .select(
            F.least(F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000).alias(
                "u"
            ),
            F.greatest(
                F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000
            ).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = e.select(F.col("u").alias("node")).distinct().withColumn(
        "lab", F.col("node")
    )
    for _ in range(3):
        votes = (
            e.join(labels, e["v"] == labels["node"])
            .groupBy(F.col("u").alias("nd"), "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("nd").orderBy(F.col("cnt").desc(), F.col("lab"))
        labels = IT.round_checkpoint(
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("nd").alias("node"), "lab")
        )
    m_edges = e0.agg(F.count(F.lit(1)).alias("m"))
    la = labels.select(F.col("node").alias("u"), F.col("lab").alias("lab_u"))
    lb = labels.select(F.col("node").alias("v"), F.col("lab").alias("lab_v"))
    intra = (
        e0.join(F.broadcast(la), "u")
        .join(F.broadcast(lb), "v")
        .filter(F.col("lab_u") == F.col("lab_v"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    degs = (
        e.join(F.broadcast(labels), e["u"] == labels["node"])
        .groupBy("lab")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    return (
        degs.agg(
            F.sum(F.col("d_c") * F.col("d_c") * 1.0).alias("sum_d2"),
            F.count(F.lit(1)).alias("n_communities"),
        )
        .crossJoin(F.broadcast(m_edges))
        .crossJoin(F.broadcast(intra))
        .select(
            F.round(
                F.col("e_in") * 1.0 / F.col("m")
                - F.col("sum_d2") / (4.0 * F.col("m") * F.col("m")),
                6,
            ).alias("modularity"),
            F.col("e_in").cast("long").alias("intra_edges"),
            F.col("m").cast("long").alias("total_edges"),
            F.col("n_communities").cast("long").alias("n_communities"),
        )
    )
