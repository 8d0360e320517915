"""Graph operators over relationally-derived edge sets (SURVEY.md §2.K).

The engine's graph surface follows the Pregel-on-relations model
(Malewicz et al., SIGMOD'10, as Spark expresses it): an edge DataFrame
plus iterated join-aggregate supersteps — no graph library, no RDDs.
dedup_cluster / dedup_cluster_bigstar (connected components) live with
the dedup family; this module holds the ranking side.

Determinism protocol for iterative float algorithms: we DON'T iterate
floats. Ranks are fixed-point integers (micro-rank, scale 10¹²) and
every superstep is integer division + integer sums — bit-identical in
any engine and any aggregation order, which is how the DuckDB oracle
can hash-match a 3-superstep walk exactly (§2.X taken to its logical
end; real web-scale systems use fixed-point for the same reason —
float PageRank is not associative-reduction-safe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_gp_import_spark.operators.pairs import order_item_pairs
from insight_gp_import_spark.registry import op, tracked_persist
from insight_gp_import_spark.tables import load_table

CAT = "graph"

PR_SCALE = 10**12  # total rank mass, in micro-rank units
PR_ITERS = 3
PR_TOP_K = 20
# damping 0.85 as the exact rational 17/20
PR_D_NUM, PR_D_DEN = 17, 20


def _copurchase_directed(
    spark: SparkSession, sf_dir: str, min_support: int = 1
) -> DataFrame:
    """Distinct directed co-purchase edges (src, dst), both
    orientations, optionally support-pruned — the de-joined equivalent
    of the old `a ⋈ b ON same order AND a.part <> b.part` builds. The
    u < v pair relation is mirrored AFTER the support filter, so the
    heavy distinct/count shuffle runs at half the directed volume."""
    p = order_item_pairs(spark, sf_dir)
    if min_support > 1:
        p = p.filter(F.col("w") >= min_support)
    return p.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        p.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )


def _pr_iter_sql(prev: str, t: int) -> str:
    """One fixed-point PageRank superstep as a DuckDB CTE body."""
    return f"""
        SELECT e.dst AS node,
               (3 * {PR_SCALE}) // (20 * (SELECT nn FROM n_nodes))
               + ({PR_D_NUM} * CAST(sum(r.rank // r.deg) AS BIGINT)) // {PR_D_DEN}
                   AS rank
        FROM edges e
        JOIN (SELECT p.node, p.rank, d.deg
              FROM {prev} p JOIN deg d ON p.node = d.node) r
          ON e.src = r.node
        GROUP BY e.dst
    """


@op(
    "graph_pagerank_unrolled",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    edges AS (SELECT src, dst FROM pairs),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src),
    n_nodes AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM deg),
    r0 AS (SELECT node, {PR_SCALE} // (SELECT nn FROM n_nodes) AS rank
           FROM deg),
    r1 AS ({_pr_iter_sql("r0", 1)}),
    r2 AS ({_pr_iter_sql("r1", 2)}),
    r3 AS ({_pr_iter_sql("r2", 3)})
    SELECT node, rank
    FROM r3
    ORDER BY rank DESC, node
    LIMIT {PR_TOP_K}
    """,
    category=CAT,
)
def graph_pagerank_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase part graph, {PR_ITERS} supersteps,
    top-{PR_TOP_K} hubs — "which parts anchor the basket graph", the
    ranking twin of dedup_cluster's component labelling.

    Edges are the symmetric distinct co-purchase pairs (self-join on
    l_orderkey: expansion is quadratic in ORDER SIZE only, as in
    join_copurchase_pairs). Each superstep is one join-aggregate built
    into a SINGLE unrolled plan — the loop runs at plan-build time in
    Python, the DATA never leaves the engine and nothing is collected.

    Fixed-point arithmetic end to end: ranks are micro-rank BIGINTs
    (scale 10¹²), the damped update is
        r' = (3·S)/(20·N) + (17·Σ(r/deg))/20
    in pure integer division — no float exists at ANY step, so the
    result is bit-identical regardless of engine, partitioning, or
    aggregation order (float PageRank can't hash-match across engines;
    fixed-point is also the production answer at 100 TB, where
    non-associative float reduction makes runs unreproducible).

    Scale shape: edges partition by src once and every superstep
    reuses that partitioning for the join (one shuffle per superstep
    on dst for the aggregate); degree and N are computed once. For
    many more supersteps, localCheckpoint every ~5 to cut lineage —
    the dedup_cluster pattern.
    """
    # r12: de-joined edge build (see _copurchase_directed), and both
    # loop-invariant relations persisted (guide §2.4): every superstep
    # re-joins edges and deg, so without materialization the whole
    # lineitem scan + pair-expansion subtree is re-evaluated once per
    # reference (the profiled plan had 59 Exchanges for 3 supersteps).
    edges = tracked_persist(_copurchase_directed(spark, sf_dir))
    deg = tracked_persist(
        edges.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("deg")
        )
    )
    # r12: the node count is a SCALAR — one count() over the persisted
    # degree table instead of a per-superstep
    # crossJoin(broadcast(n_nodes)) (4 BroadcastNestedLoopJoins in the
    # old plan). Python's // on positive BIGINTs matches Spark's `div`
    # exactly, so every rank is the same integer.
    nn = deg.count()
    ranks = deg.select("node", F.lit(PR_SCALE // nn).alias("rank"))
    teleport = (3 * PR_SCALE) // (20 * nn)
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(
                ranks.join(deg, "node").select(
                    F.col("node").alias("src"),
                    F.expr("rank div deg").alias("c"),
                )
            , "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("s"))
        )
        ranks = contrib.select(
            "node",
            F.expr(
                f"{teleport} + ({PR_D_NUM} * s) div {PR_D_DEN}"
            ).alias("rank"),
        )
    return ranks.orderBy(F.desc("rank"), "node").limit(PR_TOP_K)


@op(
    "graph_triangle_count",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
        SELECT node, count(*) AS dg
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node
    ), de AS (
        SELECT CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.u ELSE e.v END AS x,
               CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.v ELSE e.u END AS y,
               CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN dv.dg ELSE du.dg END AS ydg
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ), wedges AS (
        SELECT w1.x AS a, w1.y AS b, w2.y AS c
        FROM de w1 JOIN de w2
          ON w1.x = w2.x AND (w1.ydg, w1.y) < (w2.ydg, w2.y)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM wedges) AS BIGINT) AS n_wedges
    FROM wedges w
    WHERE EXISTS (SELECT 1 FROM de e3 WHERE e3.x = w.b AND e3.y = w.c)
    """,
    category=CAT,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph — the clustering
    primitive (community density, spam-graph detection) completing
    the graph module's third pillar next to ranking
    (graph_pagerank_unrolled) and components (dedup_cluster).

    The scalable formulation is the DEGREE-ORDERED edge join (the
    compact-forward / node-iterator++ scheme in the Suri &
    Vassilvitskii, WWW'11 lineage): orient every deduplicated edge
    from its (degree, id)-smaller endpoint to the larger, so each
    triangle is found exactly once as a wedge at its ≺-minimum vertex
    closed by the oriented (b, c) edge — no per-triangle
    deduplication, no 6× overcount, and wedge volume is Σ out-deg²
    with out-degrees bounded by ~√(2·|E|) on hub-skewed graphs.

    Round-9b: the wedge relation is never MATERIALIZED. This corpus'
    co-purchase graph is degree-uniform (measured at the 10× corpus:
    degree-ordering only shrank wedges 493 M → 411 M, and the
    wedge-join + (b,c)-semi-join plan paid two ~411 M-row exchanges,
    424–495 s wall), so the count is computed edge-iterator style:

    - n_triangles = Σ over oriented edges (b, c) of
      |in(b) ∩ in(c)| — each edge joins its endpoints' in-neighbor
      arrays (the ``inn`` RELATION totals |E| longs — each oriented
      edge appears in exactly one in-list) and one array_intersect
      per edge does the counting inside codegen; inner joins suffice
      because an endpoint with no in-neighbors contributes 0. A common
      in-neighbor a of the closure edge (b, c) is exactly the wedge
      pivot, so the sum is the same exactly-once count.
    - n_wedges = Σ out-deg·(out-deg−1)/2 from the degree aggregate —
      the COUNT of the wedge relation without its rows.

    SKEW ROUTING (r11, verdict item 3 — was a caveat, now a
    mitigation): only OUT-degree is ~√(2|E|)-bounded by the
    orientation; IN-degree is not, so a mega-hub's collect_set row can
    be arbitrarily wide. ``_closure_triangle_sum`` therefore gates on
    the MEASURED max in-degree (one 2-level aggregate over the
    persisted ``de`` — the _ngram_verify_routed measured-statistic
    pattern, training_dedup.py): at ≤ INN_SMALL_MAX the original
    array plan runs untouched; above it, edges whose either endpoint
    is a hub are routed to a row-level wedge-join count (never an
    array), and only sub-threshold nodes ever collect in-lists — so
    per-task state is bounded by INN_SMALL_MAX longs on any degree
    distribution. (Banding hub in-lists instead would be Σ in-deg²/T
    candidate rows for the hub — quadratic in hub degree — while the
    wedge join is bounded by the out-degree cap; see the helper
    docstring.)

    Measured at the 10× corpus: 424–495 s (materialized wedges, both
    orientations) → 103.9 s, with identical output counts.
    Exact integer counts; the wedge/edge counts published alongside
    make the clustering ratio auditable. NOTE (r9b semantic change,
    flagged in BENCH_NOTES): n_wedges counts the DEGREE-ORDERED wedge
    relation (Σ C(out-deg, 2), e.g. 411 M vs 493 M ordered wedges at
    10×) — the orientation-invariant "all ordered wedges" figure of
    rounds ≤8 is a different, larger number; the DuckDB twin counts
    the identical degree-ordered relation.
    """
    # the u < v pair relation of order_item_pairs IS the undirected
    # distinct edge set
    e = tracked_persist(order_item_pairs(spark, sf_dir).select("u", "v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("dg"))
    )
    ed = e.join(
        deg.select(F.col("node").alias("u"), F.col("dg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("dg").alias("dv")), "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    de = tracked_persist(
        ed.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("x"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("y"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("ydg"),
        )
    )
    # r12: one aggregate pass over the persisted `de` yields all three
    # scalar statistics the op used to compute as SEPARATE jobs
    # (max in-degree probe, wedge count, edge count) — same integers:
    # n_edges = Σ out-counts = |de| = |e|, n_wedges = Σ C(out, 2),
    # max_ideg = max in-count.
    roles = de.select(F.col("x").alias("node"), F.lit(1).alias("o")).unionAll(
        de.select(F.col("y").alias("node"), F.lit(0).alias("o"))
    )
    pern = roles.groupBy("node", "o").agg(F.count("*").alias("cnt"))
    st = pern.agg(
        F.coalesce(
            F.max(F.when(F.col("o") == 0, F.col("cnt"))), F.lit(0)
        ).alias("max_ideg"),
        F.coalesce(
            F.sum(F.when(F.col("o") == 1, F.expr("cnt * (cnt - 1) div 2"))),
            F.lit(0),
        ).alias("n_wedges"),
        F.coalesce(
            F.sum(F.when(F.col("o") == 1, F.col("cnt"))), F.lit(0)
        ).alias("n_edges"),
    ).first()
    n_tri = _closure_triangle_sum(de, max_ideg=int(st["max_ideg"]))
    n_edges = int(st["n_edges"])
    n_wedges = int(st["n_wedges"])
    return spark.createDataFrame(
        [(n_tri, n_edges, n_wedges)],
        "n_triangles long, n_edges long, n_wedges long",
    )


# Max in-neighbor list width the triangle array plan may collect into a
# single row (8192 longs ≈ 64 KB — comfortably one task's working set).
# Nodes above it are routed to the row-level wedge plan.
INN_SMALL_MAX = 8192


def _closure_triangle_sum(de: DataFrame, max_ideg: int | None = None) -> int:
    """Σ over oriented closure edges (b, c) of |in(b) ∩ in(c)| — the
    exactly-once triangle count of the degree-ordered edge set ``de``
    (columns x → y, persisted by the caller).

    Size-routed for in-degree skew (r11, verdict item 3):

    - probe: ``max(in-degree)`` — one aggregate over ``de``. At or
      below INN_SMALL_MAX the original single-plan array path runs
      unchanged (uniform graphs — the measured-fast case).
    - routed path (hub present): nodes are split at INN_SMALL_MAX.
      SMALL closure edges (both endpoints small) keep the array plan,
      but in-lists are collected ONLY for small nodes, so no task ever
      owns more than INN_SMALL_MAX longs. BIG closure edges (either
      endpoint a hub) are counted row-level: wedges a→b, a→c from the
      in-edges of big-edge endpoints, inner-joined with the big edge
      set on (b, c) — every join key is a node id, no arrays anywhere,
      and wedge volume at the pivot is bounded by the orientation's
      √(2|E|) out-degree cap. Banding the hub's in-list instead would
      emit ceil(in-deg/T) candidate rows per in-edge of the hub —
      Σ in-deg²/T, quadratic in hub degree — which is why the routed
      path switches representation rather than partitioning the array.

    The split is a disjoint partition of the closure edge set, so
    small + big is the same exactly-once sum the single plan computes
    (regression-pinned against a brute-force oracle on a mega-hub
    fixture in tests/test_graph_ops.py)."""
    ideg = de.groupBy("y").agg(F.count("*").alias("idg"))
    if max_ideg is None:  # op precomputes it in its fused stats pass
        max_ideg = ideg.agg(F.max("idg")).first()[0] or 0
    closure = de.select(F.col("x").alias("b"), F.col("y").alias("c"))
    if max_ideg <= INN_SMALL_MAX:
        inn = de.groupBy("y").agg(F.collect_set("x").alias("ins"))
        return (
            closure.join(
                inn.select(F.col("y").alias("b"), F.col("ins").alias("ib")), "b"
            )
            .join(inn.select(F.col("y").alias("c"), F.col("ins").alias("ic")), "c")
            .agg(
                F.coalesce(
                    F.sum(F.size(F.array_intersect("ib", "ic"))), F.lit(0)
                ).cast("long")
            )
            .first()[0]
        )
    # hub-skewed graph: route around unbounded collect_set rows
    big = tracked_persist(
        ideg.filter(F.col("idg") > INN_SMALL_MAX).select("y")
    )
    cls = tracked_persist(
        closure.join(
            big.select(F.col("y").alias("b"), F.lit(True).alias("bb")),
            "b",
            "left",
        ).join(
            big.select(F.col("y").alias("c"), F.lit(True).alias("cb")),
            "c",
            "left",
        )
    )
    small_edges = cls.filter(
        F.col("bb").isNull() & F.col("cb").isNull()
    ).select("b", "c")
    big_edges = cls.filter(
        F.col("bb").isNotNull() | F.col("cb").isNotNull()
    ).select("b", "c")
    # array plan over SMALL nodes only (bounded in-lists by definition)
    inn_small = (
        de.join(big, "y", "left_anti")
        .groupBy("y")
        .agg(F.collect_set("x").alias("ins"))
    )
    n_small = (
        small_edges.join(
            inn_small.select(F.col("y").alias("b"), F.col("ins").alias("ib")),
            "b",
        )
        .join(
            inn_small.select(F.col("y").alias("c"), F.col("ins").alias("ic")),
            "c",
        )
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("ib", "ic"))), F.lit(0)
            ).cast("long")
        )
        .first()[0]
    )
    # row-level wedge count for edges touching a hub: restrict de to
    # in-edges of big-edge endpoints, self-join at the pivot, close
    # with the big edge set
    ends = (
        big_edges.select(F.col("b").alias("y"))
        .unionAll(big_edges.select(F.col("c").alias("y")))
        .distinct()
    )
    de_big = tracked_persist(de.join(ends, "y", "left_semi"))
    w1 = de_big.select(F.col("x").alias("a"), F.col("y").alias("b"))
    w2 = de_big.select(F.col("x").alias("a"), F.col("y").alias("c"))
    n_big = (
        w1.join(w2, "a")
        .filter(F.col("b") != F.col("c"))
        .join(big_edges, ["b", "c"])
        .count()
    )
    return int(n_small) + int(n_big)


@op(
    "graph_degree_stats",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), deg AS (
        SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
        FROM e GROUP BY u
    )
    SELECT degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(count(*)) OVER (ORDER BY degree DESC) AS BIGINT)
               AS nodes_with_ge_degree
    FROM deg GROUP BY degree
    """,
    category=CAT,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph with the
    complementary-cumulative column (how many nodes have degree ≥ d —
    the log-log CCDF curve power-law checks read, text_zipf_slope's
    graph sibling). The first thing to look at before ANY graph
    algorithm: the max-degree tail predicts wedge blowup in
    triangle counting and hot keys in every neighbor join.

    Symmetric distinct edges → per-node degree (one agg) → degree
    LEVELS (bounded — the pareto/gini trick again) with the reverse
    cumulative over levels. All exact integers, no global per-node
    window anywhere.
    """
    # r12: de-joined edge build (see _copurchase_directed)
    e = _copurchase_directed(spark, sf_dir).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    deg = e.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("degree")
    )
    from pyspark.sql.window import Window as W

    lv = deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))
    wd = W.orderBy(F.desc("degree")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return lv.select(
        "degree",
        "n_nodes",
        F.sum("n_nodes").over(wd).alias("nodes_with_ge_degree"),
    )


BFS_MAX_HOPS = 3


@op(
    "graph_bfs_distances",
    oracle=f"""
    WITH RECURSIVE d AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), bfs(node, dist) AS (
        SELECT (SELECT min(src) FROM edges), 0
        UNION
        SELECT e.dst, b.dist + 1
        FROM bfs b JOIN edges e ON e.src = b.node
        WHERE b.dist < {BFS_MAX_HOPS}
    ), hops AS (
        SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM bfs GROUP BY node
    )
    SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node
    FROM hops GROUP BY dist
    """,
    category=CAT,
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop-distance rings from the minimum-id node of the
    co-purchase graph, {BFS_MAX_HOPS} hops, reported as per-ring
    (count, min, max) — shortest-path reachability, the third leg of
    the graph family after components (dedup_cluster*) and ranking
    (pagerank). "How many parts are within k basket hops" is the
    recommendation-radius question.

    Level-synchronous frontier expansion UNROLLED at plan-build time
    (the Pregel loop runs in Python; data never leaves the engine):
    frontier ⋈ edges → new ring = dst ∖ visited via LEFT ANTI,
    exactly the sql_recursive_cte recursion made explicit — the
    oracle is an INDEPENDENT formulation (DuckDB recursive CTE with
    min-dist collapse; hash-match proves the unrolled ∖-chain ≡ the
    fixpoint semantics). Min-dist is decided by construction (a node
    enters the earliest ring that reaches it), so no min() aggregate
    is ever needed Spark-side. Each hop is one src-partitioned join +
    one anti-join on the ACCUMULATED ring union (≤ reachable set —
    at 100 TB checkpoint the visited set per ~5 hops, the
    dedup_cluster pattern; bounded hops keep lineage linear).
    """
    # r12: de-joined edge build (see _copurchase_directed); every BFS
    # superstep re-joins edges, so materialize the build once
    edges = tracked_persist(_copurchase_directed(spark, sf_dir))
    src0 = edges.agg(F.min("src").alias("node"))
    visited = src0.select("node", F.lit(0).alias("dist"))
    frontier = visited
    for hop in range(1, BFS_MAX_HOPS + 1):
        reached = (
            edges.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        # r12: persist each ring (guide §2.4) — frontier_h is referenced
        # by the next hop's expansion join, by every later hop's
        # anti-join (through the visited union), and by the final
        # aggregate, so the unpersisted chain re-expands earlier rings
        # once per reference (38 Exchanges profiled for 3 hops).
        frontier = tracked_persist(
            reached.join(
                visited.select("node"), "node", "left_anti"
            ).select("node", F.lit(hop).alias("dist"))
        )
        visited = visited.unionAll(frontier)
    hops = visited.select("node", F.col("dist").cast("bigint").alias("dist"))
    return hops.groupBy("dist").agg(
        F.count("*").alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


CN_TOP_K = 50
CN_MIN_SUPPORT = 2


@op(
    "graph_common_neighbors",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    edges AS (SELECT src, dst FROM pairs WHERE w >= {CN_MIN_SUPPORT}),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY 1),
    cand AS (
        SELECT e1.src AS a, e2.dst AS c, CAST(count(*) AS BIGINT) AS common_cnt
        FROM edges e1 JOIN edges e2
          ON e1.dst = e2.src AND e1.src < e2.dst
        GROUP BY 1, 2
    ),
    nonadj AS (
        SELECT cand.* FROM cand
        WHERE NOT EXISTS (SELECT 1 FROM edges e
                          WHERE e.src = cand.a AND e.dst = cand.c)
    )
    SELECT n.a, n.c, n.common_cnt, da.deg AS deg_a, dc.deg AS deg_c,
           round(n.common_cnt * 1.0
                 / (da.deg + dc.deg - n.common_cnt), 9) AS jaccard
    FROM nonadj n
    JOIN deg da ON da.node = n.a
    JOIN deg dc ON dc.node = n.c
    ORDER BY n.common_cnt DESC, n.a, n.c
    LIMIT {CN_TOP_K}
    """,
    category=CAT,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the SUPPORT-PRUNED
    copurchase graph: top non-adjacent part pairs ranked by shared
    neighbors (+ neighborhood Jaccard) — 'bought with the same
    things, never together yet' IS the recommendation/substitute
    candidate query (join_copurchase_pairs counts observed pairs;
    this ranks pairs the data implies but hasn't observed).

    Edges require co-purchase in ≥ {CN_MIN_SUPPORT} distinct orders
    — the standard market-basket min-support cut, and here it is
    LOAD-BEARING at scale: the unpruned graph's wedge count is
    Σ deg(b)², which grows with catalog size × order volume and
    OOMs a single stage long before 100 TB (measured: the w≥1 graph
    at sf0.1 is 2.4 M directed edges and the wedge join dies; w≥2
    is ~7 k edges with real candidates at BOTH SFs). Support-pruning
    first makes every downstream stage proportional to the SIGNAL
    graph, not the noise graph. Then the triangle-op wedge join
    (a < c kills mirrors), an anti-join keeps unlinked pairs, and
    integer scores make the top-K order exact; Jaccard is one
    rounded display division.
    """
    # r12: de-joined, support-pruned edge build, persisted (guide §2.4)
    # — referenced by the degree aggregate, both wedge-join sides, and
    # the adjacency anti-join (4 evaluations of the build unpersisted).
    edges = tracked_persist(
        _copurchase_directed(spark, sf_dir, min_support=CN_MIN_SUPPORT)
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    cand = (
        e1.join(
            e2,
            (F.col("e1.dst") == F.col("e2.src"))
            & (F.col("e1.src") < F.col("e2.dst")),
        )
        .groupBy(F.col("e1.src").alias("a"), F.col("e2.dst").alias("c"))
        .agg(F.count("*").cast("bigint").alias("common_cnt"))
    )
    nonadj = cand.join(
        edges,
        (cand.a == edges.src) & (cand.c == edges.dst),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    dc = deg.select(F.col("node").alias("c"), F.col("deg").alias("deg_c"))
    return (
        nonadj.join(da, "a")
        .join(dc, "c")
        .select(
            "a",
            "c",
            "common_cnt",
            "deg_a",
            "deg_c",
            F.round(
                F.col("common_cnt")
                * 1.0
                / (F.col("deg_a") + F.col("deg_c") - F.col("common_cnt")),
                9,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("common_cnt"), "a", "c")
        .limit(CN_TOP_K)
    )


@op(
    "graph_degree_assortativity",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY 1),
    xy AS (
        SELECT ds.deg AS x, dd.deg AS y
        FROM edges e
        JOIN deg ds ON ds.node = e.src
        JOIN deg dd ON dd.node = e.dst
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM xy
    )
    SELECT n, sx, sxy, sxx,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx * 1.0)
                    * sqrt(n * syy - sy * sy * 1.0)), 9) AS assortativity
    FROM mom
    """,
    category=CAT,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the copurchase graph: Pearson r over
    (deg(src), deg(dst)) across every directed edge — the one-number
    answer to 'do hubs link to hubs?' (Newman 2002). Negative
    (disassortative) means niche parts attach to bestsellers —
    hub-and-spoke carts; positive means popular parts co-sell with
    each other — bundle carts. Completes the graph module's
    structure axis beside ranking (pagerank), closure (triangles),
    reach (BFS) and prediction (common neighbors), and it reads the
    degree histogram's (graph_degree_stats) hidden second moment.

    Moments are pure BIGINT sums over the edge relation (degrees
    join in via two broadcastable dim-sized maps; no wedge blowup —
    this is linear in |edges|, safe where the unpruned common-
    neighbors join is not). The only float math is the final
    two-sqrt expression, mirrored token-for-token and rounded at 9;
    the symmetric edge set makes x/y moments equal by construction,
    which the published sx/sxx columns let a reviewer confirm.
    """
    # r12: de-joined edge build (_copurchase_directed ≡ the old
    # distinct-self-join relation, as proven for the rest of the
    # family), persisted — referenced by the degree aggregate and the
    # moment join's edge side.
    edges = tracked_persist(_copurchase_directed(spark, sf_dir))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    ds = deg.select(F.col("node").alias("src"), F.col("deg").alias("x"))
    dd = deg.select(F.col("node").alias("dst"), F.col("deg").alias("y"))
    xy = edges.join(F.broadcast(ds), "src").join(F.broadcast(dd), "dst")
    mom = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(k) for k in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    return mom.select(
        "n",
        "sx",
        "sxy",
        "sxx",
        F.round(
            (n * sxy - sx * sy)
            / (
                F.sqrt(n * sxx - sx * sx * 1.0)
                * F.sqrt(n * syy - sy * sy * 1.0)
            ),
            9,
        ).alias("assortativity"),
    )


KCORE_K = 2
KCORE_ROUNDS = 3


@op(
    "graph_kcore_unrolled",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    e0 AS (SELECT src, dst FROM pairs WHERE w >= {CN_MIN_SUPPORT}),
    k1 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= {KCORE_K}),
    e1 AS (SELECT e.src, e.dst FROM e0 e
           JOIN k1 a ON a.src = e.src JOIN k1 b ON b.src = e.dst),
    k2 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= {KCORE_K}),
    e2 AS (SELECT e.src, e.dst FROM e1 e
           JOIN k2 a ON a.src = e.src JOIN k2 b ON b.src = e.dst)
    SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
    FROM e2 GROUP BY src HAVING count(*) >= {KCORE_K}
    ORDER BY deg DESC, node
    """,
    category=CAT,
)
def graph_kcore_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_ROUNDS}-round {KCORE_K}-core peeling of the support-
    pruned copurchase graph: iteratively drop nodes with degree <
    {KCORE_K} and the edges they anchor — the cohesive-subgraph
    extractor (a high-degree node whose neighbors are all leaves is
    a broadcast hub, not a community; k-core keeps only nodes whose
    CONNECTIONS are themselves connected, which is why it is the
    standard spam-subgraph and core-community primitive). The sf0.1
    graph collapses 1 067 → 138 → 22 survivors across peels —
    peeling reveals structure degree alone cannot.

    Same fixed-superstep discipline as graph_pagerank_unrolled: the
    peel loop unrolls at PLAN-BUILD time into one DataFrame chain
    (full k-core iterates to fixpoint; a fixed prefix of rounds is
    deterministic, oracle-matchable, and how distributed k-core is
    actually batched — with localCheckpoint every few rounds at
    depth). Each round is one degree aggregate + two semi-joins of
    the shrinking edge set; integer degrees, total (deg, node)
    order.
    """
    # r12: de-joined, support-pruned edge build (_copurchase_directed),
    # each peel's shrinking edge set persisted (guide §2.4). Every round
    # references its input edge set THREE times (degree aggregate + two
    # semi-joins), so the unpersisted chain re-evaluates the build
    # subtree 3^round times — the profiled plan had 126 Exchanges for
    # 3 rounds; with per-round materialization each round is one degree
    # shuffle + two (broadcastable-keep) semi-joins over the cache.
    edges = tracked_persist(
        _copurchase_directed(spark, sf_dir, min_support=CN_MIN_SUPPORT)
    )
    for _ in range(KCORE_ROUNDS - 1):
        keep = (
            edges.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("src")
        )
        edges = tracked_persist(
            edges.join(keep, "src", "left_semi").join(
                keep.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
        )
    return (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("bigint").alias("deg"))
        .filter(F.col("deg") >= KCORE_K)
        .orderBy(F.desc("deg"), "node")
    )


RICH_CLUB_N = 50


@op(
    "graph_rich_club",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    edges AS (SELECT src, dst FROM pairs WHERE w >= {CN_MIN_SUPPORT}),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY 1),
    club AS (
        SELECT node FROM deg
        ORDER BY deg DESC, node LIMIT {RICH_CLUB_N}
    ),
    club_edges AS (
        SELECT e.src, e.dst FROM edges e
        JOIN club c1 ON c1.node = e.src
        JOIN club c2 ON c2.node = e.dst
    ),
    stats AS (
        SELECT CAST((SELECT count(*) FROM club) AS BIGINT) AS nk,
               CAST((SELECT count(*) FROM club_edges) AS BIGINT) AS ek2,
               CAST((SELECT count(*) FROM deg) AS BIGINT) AS nn,
               CAST((SELECT count(*) FROM edges) AS BIGINT) AS en2
    )
    SELECT nk AS club_size, ek2 // 2 AS club_edges,
           nn AS graph_nodes, en2 // 2 AS graph_edges,
           CAST((ek2 * 1000000) // (nk * (nk - 1)) AS BIGINT)
               AS club_density_ppm,
           CAST((en2 * 1000000) // (nn * (nn - 1)) AS BIGINT)
               AS graph_density_ppm,
           CAST(((ek2 * 1000000) // (nk * (nk - 1))) * 1000
                // (((en2 * 1000000) // (nn * (nn - 1)))) AS BIGINT)
               AS rich_club_ratio_milli
    FROM stats
    """,
    category=CAT,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient: edge density among the top-{RICH_CLUB_N}
    highest-degree parts vs the whole (support-pruned) graph — do
    the bestsellers co-sell with EACH OTHER or only fan out to the
    long tail? (Colizza et al. 2006: a ratio ≫ 1 means an elite
    co-purchase core — bundle-anchor products; ≈ 1 means hubs are
    independent aisles. Assortativity answered this per-EDGE; the
    rich club answers it for the specific elite subgraph a
    merchandiser would actually curate.)

    Club selection is an exact (deg, node)-ordered top-N over the
    dim-sized degree table; club edges come from two semi-join-style
    joins against the 50-row club (broadcast). Directed counts are
    halved to undirected; both densities and their ratio are
    integer ppm/milli divisions — no float anywhere.
    """
    # r12: de-joined, support-pruned edge build, persisted — referenced
    # by the degree aggregate (itself read twice: club top-N and node
    # count), the club-edge join, and the total edge count.
    edges = tracked_persist(
        _copurchase_directed(spark, sf_dir, min_support=CN_MIN_SUPPORT)
    )
    deg = tracked_persist(
        edges.groupBy(F.col("src").alias("node")).agg(
            F.count("*").cast("bigint").alias("deg")
        )
    )
    club = deg.orderBy(F.desc("deg"), "node").limit(RICH_CLUB_N).select("node")
    club_edges = edges.join(
        F.broadcast(club.withColumnRenamed("node", "src")), "src"
    ).join(F.broadcast(club.withColumnRenamed("node", "dst")), "dst")
    # r12: all four statistics are SCALAR counts over the two persisted
    # relations — collect them driver-side (the triangle_count pattern)
    # and emit the one-row report directly, instead of the old
    # crossJoin(broadcast(...)) chain (2 BroadcastNestedLoopJoins).
    # Python // on positive BIGINTs ≡ Spark div, so every derived
    # integer is unchanged.
    nk = club.count()
    ek2 = club_edges.count()
    nn = deg.count()
    en2 = edges.count()
    club_density_ppm = (ek2 * 1_000_000) // (nk * (nk - 1))
    graph_density_ppm = (en2 * 1_000_000) // (nn * (nn - 1))
    return spark.createDataFrame(
        [
            (
                nk,
                ek2 // 2,
                nn,
                en2 // 2,
                club_density_ppm,
                graph_density_ppm,
                club_density_ppm * 1000 // graph_density_ppm,
            )
        ],
        "club_size long, club_edges long, graph_nodes long, "
        "graph_edges long, club_density_ppm long, graph_density_ppm long, "
        "rich_club_ratio_milli long",
    )


@op(
    "graph_modularity_brand_partition",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    edges AS (SELECT src, dst FROM pairs WHERE w >= {CN_MIN_SUPPORT}),
    lab AS (SELECT p_partkey AS node, p_brand AS comm FROM part),
    le AS (
        SELECT ls.comm AS c1, ld.comm AS c2
        FROM edges e
        JOIN lab ls ON ls.node = e.src
        JOIN lab ld ON ld.node = e.dst
    ), m2 AS (SELECT CAST(count(*) AS BIGINT) AS dm FROM le),
    comm AS (
        SELECT c1 AS c,
               CAST(sum(CASE WHEN c1 = c2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS e_in2,
               CAST(count(*) AS BIGINT) AS deg
        FROM le GROUP BY c1
    ), numer AS (
        SELECT CAST(sum(m2.dm * e_in2 - deg * deg) AS BIGINT) AS q_num,
               CAST(max(m2.dm) AS BIGINT) AS dm
        FROM comm CROSS JOIN m2
    )
    SELECT dm // 2 AS n_edges,
           q_num,
           round(q_num * 1.0 / (dm * dm), 9) AS modularity_q
    FROM numer
    """,
    category=CAT,
)
def graph_modularity_brand_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the BRAND partition on the support-
    pruned copurchase graph — does the catalog taxonomy explain the
    purchase structure? (Q ≈ 0: brands are not communities — carts
    cross brands freely and brand-scoped recommenders fight the
    data; Q ≫ 0: the taxonomy IS the community structure and
    brand-local models are justified. Community DETECTION is
    iterative and seed-sensitive; community EVALUATION of a GIVEN
    partition — this op — is closed-form, and it's the honest first
    question before running any detector.)

    Q = Σ_c (e_c/m − (d_c/2m)²) clears to
    Σ_c (2m·(2e_c_directed) − d_c²) / (2m)² in DIRECTED counts —
    one integer numerator (overflow audit: dm·e ≤ ~10⁹ per
    community here, dim-scale generally) and ONE rounded division,
    so the cross-community float fold never exists. Labels join in
    from the part dim (broadcast); the edge pass is the standard
    pruned-graph build.
    """
    # r12: de-joined edge build (_copurchase_directed — same relation
    # the old distinct-self-join + support filter produced), and the
    # m2 crossJoin eliminated algebraically: dm = Σ_c deg_c, so
    # Σ_c (dm·e_in2_c − deg_c²) = (Σdeg)·(Σe_in2) − Σdeg² — one
    # aggregate over the per-community relation instead of evaluating
    # the labeled-edge subtree twice (once for dm, once for comm).
    # Exact BIGINT throughout, identical q_num.
    p = load_table(spark, sf_dir, "part")
    edges = _copurchase_directed(spark, sf_dir, min_support=CN_MIN_SUPPORT)
    lab = p.select(F.col("p_partkey").alias("node"), F.col("p_brand").alias("comm"))
    ls = lab.select(F.col("node").alias("src"), F.col("comm").alias("c1"))
    ld = lab.select(F.col("node").alias("dst"), F.col("comm").alias("c2"))
    le = edges.join(F.broadcast(ls), "src").join(F.broadcast(ld), "dst")
    comm = le.groupBy("c1").agg(
        F.sum(F.when(F.col("c1") == F.col("c2"), 1).otherwise(0))
        .cast("bigint")
        .alias("e_in2"),
        F.count("*").cast("bigint").alias("deg"),
    )
    numer = comm.agg(
        (
            F.sum("deg").cast("bigint") * F.sum("e_in2").cast("bigint")
            - F.sum(F.col("deg") * F.col("deg")).cast("bigint")
        ).alias("q_num"),
        F.sum("deg").cast("bigint").alias("dm"),
    )
    return numer.select(
        F.expr("dm div 2").alias("n_edges"),
        "q_num",
        F.round(F.col("q_num") * 1.0 / (F.col("dm") * F.col("dm")), 9).alias(
            "modularity_q"
        ),
    )


AA_TOP_K = 50
AA_SCALE = 10**9


def _pruned_directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-pruned directed co-purchase edges (both directions kept),
    shared by the link-prediction family. See graph_common_neighbors for
    why min-support pruning is load-bearing at scale: every downstream
    wedge/triangle stage is proportional to the SIGNAL graph (w>=2,
    ~7k edges at sf0.1), not the noise graph (w>=1, 2.4M edges)."""
    # r12: de-joined, support-pruned edge build (_copurchase_directed),
    # persisted (guide §2.4) — both consumers (adamic_adar,
    # local_clustering) reference the relation 4-5 times (degree
    # aggregate, wedge-join sides, closure/anti-join), so the build
    # subtree would otherwise be re-evaluated once per reference.
    return tracked_persist(
        _copurchase_directed(spark, sf_dir, min_support=CN_MIN_SUPPORT)
    )


@op(
    "graph_adamic_adar",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    edges AS (SELECT src, dst FROM pairs WHERE w >= {CN_MIN_SUPPORT}),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY 1),
    wedge AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1 JOIN edges e2
          ON e1.dst = e2.src AND e1.src < e2.dst
    ),
    scored AS (
        SELECT w.a, w.c, CAST(count(*) AS BIGINT) AS n_common,
               CAST(sum(CAST(floor({AA_SCALE}.0 / ln(db.deg) + 0.5)
                        AS BIGINT)) AS BIGINT) AS aa_q
        FROM wedge w JOIN deg db ON db.node = w.b
        GROUP BY 1, 2
    ),
    nonadj AS (
        SELECT s.* FROM scored s
        WHERE NOT EXISTS (SELECT 1 FROM edges e
                          WHERE e.src = s.a AND e.dst = s.c)
    )
    SELECT a, c, n_common, aa_q,
           round(aa_q / {AA_SCALE}.0, 9) AS adamic_adar
    FROM nonadj ORDER BY aa_q DESC, a, c LIMIT {AA_TOP_K}
    """,
    category=CAT,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the support-pruned co-purchase
    graph: non-adjacent part pairs scored by SUM over common neighbors
    of 1/ln(deg) — the rare-shared-neighbor weighting that beats raw
    common-neighbor counts on hub-heavy graphs (a neighbor shared with
    half the catalog says nothing; a neighbor of degree 2 says a lot).
    Complements graph_common_neighbors (same candidate set, different
    ranking law) the way TF-IDF complements TF.

    Determinism: 1/ln(deg) is a FLOAT per wedge and float addition is
    not associative, so each wedge's contribution is quantized to an
    integer nano-score floor(1e9/ln(deg)+0.5) BEFORE the sum — the
    cross-row fold is exact BIGINT arithmetic in any engine and any
    aggregation order (§2.X), and the top-K order compares integers.
    deg>=2 for every wedge middle (it has two distinct neighbors), so
    ln(deg)>0 — no division hazard. Plan shape = common_neighbors:
    wedge equi-join + anti-join on the pruned edge set, all stages
    proportional to the signal graph.
    """
    edges = _pruned_directed_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    wedge = e1.join(
        e2,
        (F.col("e1.dst") == F.col("e2.src")) & (F.col("e1.src") < F.col("e2.dst")),
    ).select(
        F.col("e1.src").alias("a"),
        F.col("e1.dst").alias("b"),
        F.col("e2.dst").alias("c"),
    )
    scored = (
        wedge.join(deg.withColumnRenamed("node", "b"), "b")
        .groupBy("a", "c")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum(
                F.floor(F.lit(float(AA_SCALE)) / F.log(F.col("deg")) + 0.5).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("aa_q"),
        )
    )
    nonadj = scored.join(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        ["a", "c"],
        "left_anti",
    )
    return (
        nonadj.select(
            "a",
            "c",
            "n_common",
            "aa_q",
            F.round(F.col("aa_q") / float(AA_SCALE), 9).alias("adamic_adar"),
        )
        .orderBy(F.desc("aa_q"), "a", "c")
        .limit(AA_TOP_K)
    )


LCC_TOP_K = 50


@op(
    "graph_local_clustering",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    dedges AS (SELECT src, dst FROM pairs WHERE w >= {CN_MIN_SUPPORT}),
    e AS (SELECT src AS u, dst AS v FROM dedges WHERE src < dst),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
            (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e1.v = e2.u
        WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v)
    ),
    pernode AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM
        (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri)
        GROUP BY 1
    )
    SELECT d.node, d.deg, coalesce(p.n_tri, 0) AS n_tri,
           round(2.0 * coalesce(p.n_tri, 0) / (d.deg * (d.deg - 1)), 9)
               AS clustering
    FROM deg d LEFT JOIN pernode p ON p.node = d.node
    WHERE d.deg >= 2
    ORDER BY n_tri DESC, clustering DESC, d.node
    LIMIT {LCC_TOP_K}
    """,
    category=CAT,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the support-pruned
    undirected co-purchase graph: 2T(v) / (deg(v)·(deg(v)−1)) — the
    node-level density diagnostic behind community detection and
    spam/bot neighborhood screening (graph_triangle_count gives the
    GLOBAL count; this attributes each triangle to its three corners).

    Each a<b<c triangle is found ONCE by the ordered wedge+closure
    join (no overcount), then exploded to its three corners via
    unionByName — a row-tripling of the TRIANGLE relation, which is
    the small relation by construction. deg from both endpoint
    directions of the u<v edge set. Coefficient is one display
    division of two exact integers (round-9); ranking compares the
    integers first, the rounded ratio second, node id last — a total
    order. deg(deg-1) stays far from BIGINT limits (pruned degrees
    are ~10^2).
    """
    dedges = _pruned_directed_edges(spark, sf_dir)
    e = dedges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    closure = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(closure, ["a", "c"], "left_semi")
    pernode = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_tri"))
    )
    return (
        deg.join(pernode, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_tri"),
        )
        .filter(F.col("deg") >= 2)
        .withColumn(
            "clustering",
            F.round(
                2.0 * F.col("n_tri") / (F.col("deg") * (F.col("deg") - 1)), 9
            ),
        )
        .orderBy(F.desc("n_tri"), F.desc("clustering"), "node")
        .limit(LCC_TOP_K)
    )


HITS_SCALE = 10**9
HITS_TOP_K = 10


@op(
    "graph_hits_bipartite",
    oracle=f"""
    WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    a1 AS (SELECT p, CAST(count(*) AS BIGINT) AS auth FROM e GROUP BY 1),
    a1n AS (SELECT p, CAST(auth * {HITS_SCALE} // (SELECT sum(auth) FROM a1) AS BIGINT)
                AS auth FROM a1),
    h1 AS (SELECT e.s, CAST(sum(a.auth) AS BIGINT) AS hub
           FROM e JOIN a1n a ON a.p = e.p GROUP BY 1),
    h1n AS (SELECT s, CAST(hub * {HITS_SCALE} // (SELECT sum(hub) FROM h1) AS BIGINT)
                AS hub FROM h1),
    a2 AS (SELECT e.p, CAST(sum(h.hub) AS BIGINT) AS auth
           FROM e JOIN h1n h ON h.s = e.s GROUP BY 1),
    a2n AS (SELECT p, CAST(auth * {HITS_SCALE} // (SELECT sum(auth) FROM a2) AS BIGINT)
                AS auth FROM a2),
    h2 AS (SELECT e.s, CAST(sum(a.auth) AS BIGINT) AS hub
           FROM e JOIN a2n a ON a.p = e.p GROUP BY 1),
    h2n AS (SELECT s, CAST(hub * {HITS_SCALE} // (SELECT sum(hub) FROM h2) AS BIGINT)
                AS hub FROM h2)
    SELECT side, node, score FROM (
        SELECT 'part' AS side, p AS node, auth AS score FROM
            (SELECT * FROM a2n ORDER BY auth DESC, p LIMIT {HITS_TOP_K})
        UNION ALL
        SELECT 'supplier', s, hub FROM
            (SELECT * FROM h2n ORDER BY hub DESC, s LIMIT {HITS_TOP_K})
    ) ORDER BY side, score DESC, node
    """,
    category=CAT,
)
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg '99) on the supplier→part bipartite supply
    graph, 2 mutual-reinforcement rounds unrolled: an authoritative
    part is supplied by strong hubs, a strong hub supplies
    authoritative parts. Distinct from graph_pagerank_unrolled the way
    HITS is distinct from PageRank — two coupled scores on a directed
    bipartite structure vs one score on a homogeneous walk; top hubs
    and top authorities ship in one tall result.

    Determinism = the module's fixed-point contract: scores live at
    integer scale 10^9, every normalization is `score·SCALE div total`
    (exact BIGINT: score ≤ total keeps the product ≤ 10^18 < 2^63 —
    the overflow ceiling is why SCALE is 10^9, not the module's 10^12
    rank mass), every superstep is an integer-sum equi-join. No float
    exists anywhere, so the 2-round walk hash-matches DuckDB exactly.
    Scale shape: supersteps are edge⋈score equi-joins (shuffle on the
    ~|nodes| score relation, edges scan in place); totals are 1-row
    aggregates broadcast back — the same plan a 1000-executor Pregel
    round would run. Top-K per side = TakeOrderedAndProject, no
    global window.
    """
    li = load_table(spark, sf_dir, "lineitem")
    e = tracked_persist(
        # every superstep re-joins e: materialize the dedup once
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
    )

    def normalize(scores: DataFrame, col: str) -> DataFrame:
        # r12: persist the pre-normalization scores (guide §2.4) — the
        # relation is referenced twice (total + re-scale join), and the
        # normalized output feeds the NEXT superstep's normalize, so
        # the unpersisted chain doubles the whole upstream subtree per
        # round (2^4 evaluations of a1 by round 2; 67 Exchanges in the
        # profiled plan). Node-sized relations, MEMORY_AND_DISK.
        scores = tracked_persist(scores)
        # the total is a SCALAR over the persisted frame: fold it in as
        # a literal instead of crossJoin(broadcast(tot)) — the old plan
        # carried 5 BroadcastNestedLoopJoins for the 4 normalizations.
        tot = scores.agg(F.sum(col).cast("bigint")).first()[0]
        return scores.select(
            scores.columns[0],
            F.expr(f"{col} * {HITS_SCALE} div {tot}").cast("bigint").alias(col),
        )

    a1 = e.groupBy("p").agg(F.count("*").cast("bigint").alias("auth"))
    a1n = normalize(a1, "auth")
    h1 = e.join(a1n, "p").groupBy("s").agg(F.sum("auth").cast("bigint").alias("hub"))
    h1n = normalize(h1, "hub")
    a2 = e.join(h1n, "s").groupBy("p").agg(F.sum("hub").cast("bigint").alias("auth"))
    a2n = normalize(a2, "auth")
    h2 = e.join(a2n, "p").groupBy("s").agg(F.sum("auth").cast("bigint").alias("hub"))
    h2n = normalize(h2, "hub")

    top_parts = (
        a2n.orderBy(F.desc("auth"), "p")
        .limit(HITS_TOP_K)
        .select(F.lit("part").alias("side"), F.col("p").alias("node"),
                F.col("auth").alias("score"))
    )
    top_supps = (
        h2n.orderBy(F.desc("hub"), "s")
        .limit(HITS_TOP_K)
        .select(F.lit("supplier").alias("side"), F.col("s").alias("node"),
                F.col("hub").alias("score"))
    )
    return top_parts.unionAll(top_supps).orderBy("side", F.desc("score"), "node")
