"""Sort / limit / set operators (SURVEY.md §2.F).

Sorting is only observable through LIMIT (the driver's value-hash is
order-insensitive), so both sort ops are top-k with unique tie-break
keys (§2.X rule 2). Spark plans these as TakeOrderedAndProject — a
per-partition top-k + driver merge, no full sort at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_gp_import_spark.registry import op
from insight_gp_import_spark.tables import load_table

CAT = "setops"


@op(
    "sort_multi_nulls",
    oracle="""
    SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_n,
           ROUND(o_totalprice, 2) AS price
    FROM orders
    ORDER BY nullif(o_orderstatus, 'P') DESC NULLS LAST, o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    category=CAT,
)
def sort_multi_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with DESC NULLS LAST, observable through LIMIT."""
    o = load_table(spark, sf_dir, "orders")
    status_n = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return (
        o.select(
            "o_orderkey",
            status_n.alias("status_n"),
            F.round("o_totalprice", 2).alias("price"),
            F.col("o_totalprice").alias("_raw_price"),
        )
        .orderBy(
            F.col("status_n").desc_nulls_last(),
            F.col("_raw_price").desc(),
            F.col("o_orderkey"),
        )
        .limit(100)
        .drop("_raw_price")
    )


@op(
    "limit_topk",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    category=CAT,
)
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: 3-way join + agg + ORDER BY ... LIMIT 10 (TPC-H Q3 shape).

    Ordering uses the *rounded* revenue (identical in both engines) with
    l_orderkey tie-break, so near-equal raw doubles can't reorder the
    top-k differently per engine.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


def _orders_slice_a(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_totalprice") > 250000).select(
        "o_orderkey", "o_orderstatus"
    )


def _orders_slice_b(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderstatus"
    )


_SLICE_A_SQL = "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 250000"
_SLICE_B_SQL = "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'"


@op(
    "setop_union_all",
    oracle=f"{_SLICE_A_SQL} UNION ALL {_SLICE_B_SQL}",
    category=CAT,
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union — overlapping slices keep their duplicates."""
    return _orders_slice_a(spark, sf_dir).unionAll(_orders_slice_b(spark, sf_dir))


@op(
    "setop_union_distinct",
    oracle=f"{_SLICE_A_SQL} UNION {_SLICE_B_SQL}",
    category=CAT,
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union — duplicates across the overlapping slices collapse."""
    return (
        _orders_slice_a(spark, sf_dir)
        .union(_orders_slice_b(spark, sf_dir))
        .distinct()
    )


@op(
    "setop_intersect",
    oracle=f"{_SLICE_A_SQL} INTERSECT {_SLICE_B_SQL}",
    category=CAT,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): finished orders above the price bar."""
    return _orders_slice_a(spark, sf_dir).intersect(_orders_slice_b(spark, sf_dir))


@op(
    "setop_except",
    oracle=f"{_SLICE_A_SQL} EXCEPT {_SLICE_B_SQL}",
    category=CAT,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): expensive orders that are not finished.

    ``subtract`` IS SQL EXCEPT DISTINCT: any row present in B is
    removed entirely. (``exceptAll().distinct()`` is subtly different —
    it keeps a row whose multiplicity in A exceeds that in B, which
    only coincided here because o_orderkey is unique per slice.)
    """
    return _orders_slice_a(spark, sf_dir).subtract(_orders_slice_b(spark, sf_dir))


SQL_TOPK_PER_NATION = 3


@op(
    "sql_multi_cte",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev_c
        FROM orders GROUP BY o_custkey
    ), nat AS (
        SELECT c_custkey, c_name, n_name, rev_c
        FROM rev JOIN customer ON o_custkey = c_custkey
                 JOIN nation ON c_nationkey = n_nationkey
    ), ranked AS (
        SELECT n_name, c_name, rev_c,
               row_number() OVER (
                   PARTITION BY n_name ORDER BY rev_c DESC, c_custkey) AS rn,
               CAST(sum(rev_c) OVER (PARTITION BY n_name) AS BIGINT) AS nat_c
        FROM nat
    )
    SELECT n_name, c_name, round(rev_c / 100.0, 2) AS revenue,
           rn AS nation_rank, round(100.0 * rev_c / nat_c, 4) AS pct_of_nation
    FROM ranked WHERE rn <= {SQL_TOPK_PER_NATION}
    """,
    category=CAT,
)
def sql_multi_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL entry point exercised end-to-end: a multi-CTE
    `spark.sql` query (agg → two joins → dual windows → filter) over
    temp views — proof the engine's SQL surface carries the same
    semantics as the DataFrame API ops (every `queries()` op is also
    reachable through SQL; this op IS the SQL lifecycle of §3.2).

    Catalyst treats the CTE chain exactly like the equivalent
    DataFrame plan (plan-verified): the revenue agg collapses into a
    map-combined partial, customer/nation broadcast, and BOTH windows
    share ONE n_name exchange (same partition key). No WindowGroupLimit
    here by design: the nation-total window must see every row —
    'share of total' semantics forbid top-k pruning, unlike
    win_topn_per_group. Revenue in integer cents end-to-end (§2.X
    rule 1: the /100.0 division happens once, in the final projection,
    with explicit DOUBLE casts — Spark SQL decimal literals would
    otherwise type the result DECIMAL where DuckDB says DOUBLE)."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"igis_sql_{t}")
    return spark.sql(f"""
        WITH rev AS (
            SELECT o_custkey,
                   CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev_c
            FROM igis_sql_orders GROUP BY o_custkey
        ), nat AS (
            SELECT c_custkey, c_name, n_name, rev_c
            FROM rev JOIN igis_sql_customer ON o_custkey = c_custkey
                     JOIN igis_sql_nation ON c_nationkey = n_nationkey
        ), ranked AS (
            SELECT n_name, c_name, rev_c, c_custkey,
                   row_number() OVER (
                       PARTITION BY n_name ORDER BY rev_c DESC, c_custkey) AS rn,
                   sum(rev_c) OVER (PARTITION BY n_name) AS nat_c
            FROM nat
        )
        SELECT n_name, c_name,
               round(CAST(rev_c AS DOUBLE) / 100.0, 2) AS revenue,
               rn AS nation_rank,
               round(100.0D * rev_c / nat_c, 4) AS pct_of_nation
        FROM ranked WHERE rn <= {SQL_TOPK_PER_NATION}
    """)


SQL_PARAM_SEGMENT = "BUILDING"
SQL_PARAM_MIN_ORDERS = 10


@op(
    "sql_parameterized",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS rev_c
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = '{SQL_PARAM_SEGMENT}'
    GROUP BY c.c_custkey, c.c_name
    HAVING count(*) >= {SQL_PARAM_MIN_ORDERS}
    """,
    category=CAT,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+/4, SPARK-41271): named `:param`
    markers bound server-side plus `{{df}}` DataFrame templating — the
    injection-safe way a loader runs user-configured queries (the
    reference class of tool takes segment/threshold settings from a
    config file; string-concatenating them into SQL is the classic
    injection and cache-miss bug). Parameters bind as literals AFTER
    parsing, so the plan shape is identical to the inlined query
    (Catalyst constant-folds the markers) and one parse serves every
    binding. The oracle inlines the same values — result equality
    proves binding fidelity."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name,
               count(*) AS n_orders,
               CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS rev_c
        FROM {c} c JOIN {o} o ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment = :segment
        GROUP BY c.c_custkey, c.c_name
        HAVING count(*) >= :min_orders
        """,
        args={"segment": SQL_PARAM_SEGMENT, "min_orders": SQL_PARAM_MIN_ORDERS},
        c=c,
        o=o,
    )


@op(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev_c
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY o_orderstatus
    """,
    category=CAT,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, SPARK-49555 — the FROM … |> operator
    chain from Google's 'SQL Has Problems' pipe-SQL paper, VLDB'24):
    the same relational program written as a linear dataflow instead
    of inside-out SELECT nesting. Semantically identical to the
    classic form — the parser lowers each |> stage onto the same
    logical plan, so Catalyst output is byte-for-byte the standard
    query's plan; the oracle is the classic formulation, proving the
    lowering faithful. Matters here because pipe syntax is the SQL
    shape closest to this engine's DataFrame chains — the two
    surfaces converge."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("igis_pipe_orders")
    return spark.sql("""
        FROM igis_pipe_orders
        |> WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |> AGGREGATE count(*) AS n_orders,
                     CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev_c
           GROUP BY o_orderstatus
        |> SELECT o_orderstatus, n_orders, rev_c
    """)


@op(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE up(key, anc, depth) AS (
        SELECT c_custkey, c_custkey, 0 FROM customer
        UNION ALL
        SELECT key, anc // 10, depth + 1 FROM up WHERE anc >= 10
    )
    SELECT anc AS root, depth,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(min(key) AS BIGINT) AS min_key,
           CAST(max(key) AS BIGINT) AS max_key
    FROM up WHERE anc < 10
    GROUP BY anc, depth
    """,
    category=CAT,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4, SPARK-24497 — the long-missing SQL
    iteration construct): transitive closure over a key hierarchy
    (parent = key/10, a 10-ary tree over customer keys), each key
    walked to its single-digit root with the hop count. This is the
    declarative twin of the driver-side iterate-to-fixpoint loops
    (dedup_cluster's star contraction): the ENGINE owns the loop —
    each recursion step is a distributed self-join, termination is
    the empty-delta fixpoint, no collect() anywhere. DuckDB runs the
    near-identical statement; hash-match proves step semantics AND
    termination agree. Only the integer-division spelling differs by
    dialect (Spark SQL `div`, DuckDB `//`) — both are exact integer
    division, so the walk is bit-identical."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "igis_rec_customer"
    )
    return spark.sql("""
        WITH RECURSIVE up(key, anc, depth) AS (
            SELECT c_custkey, c_custkey, 0 FROM igis_rec_customer
            UNION ALL
            SELECT key, anc div 10, depth + 1 FROM up WHERE anc >= 10
        )
        SELECT anc AS root, depth,
               count(*) AS n_keys,
               min(key) AS min_key,
               max(key) AS max_key
        FROM up WHERE anc < 10
        GROUP BY anc, depth
    """)


@op(
    "setop_intersect_all",
    oracle="""
    SELECT nationkey, 'intersect_all' AS setop FROM (
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT ALL
        SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT nationkey, 'except_all' AS setop FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT ALL
        SELECT s_nationkey FROM supplier)
    """,
    category=CAT,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL / EXCEPT ALL — the bag-semantics twins of
    setop_intersect / setop_except, exercised in one relation (rows
    tagged by which operator produced them).

    ``intersectAll`` keeps min(multiplicity_A, multiplicity_B) copies
    per value; ``exceptAll`` keeps max(0, m_A − m_B). Catalyst plans
    both as a hash aggregate counting per-side multiplicities followed
    by a generate — one shuffle on the value key, map-side partial
    counts, no row-by-row matching. At 100 TB both sides partial-
    aggregate down to (value, count) pairs before the exchange, so the
    shuffle is bounded by distinct values, not input rows.
    """
    a = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    b = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    inter = a.intersectAll(b).withColumn("setop", F.lit("intersect_all"))
    exc = a.exceptAll(b).withColumn("setop", F.lit("except_all"))
    return inter.unionAll(exc)


@op(
    "sql_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
    FROM orders
    GROUP BY ALL
    """,
    category=CAT,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+ / DuckDB-originated SQL sugar): every
    non-aggregated select item becomes a grouping key — the
    migration-friendly spelling analysts actually write. Both engines
    run the LITERAL same statement; the hash-match proves Spark's
    resolution picks exactly the keys DuckDB's does (same plan as an
    explicit GROUP BY 1,2 afterwards — pure analyzer sugar, zero
    physical cost)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "igis_gba_orders"
    )
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM igis_gba_orders
        GROUP BY ALL
    """)


@op(
    "sql_pivot_keyword",
    oracle="""
    SELECT d,
           CAST(click AS BIGINT) AS click, CAST(error AS BIGINT) AS error,
           CAST(purchase AS BIGINT) AS purchase,
           CAST(signup AS BIGINT) AS signup, CAST("view" AS BIGINT) AS view
    FROM (
        SELECT * FROM (
            SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ) PIVOT (sum(cents) FOR event_type
                 IN ('click', 'error', 'purchase', 'signup', 'view'))
    )
    """,
    category=CAT,
)
def sql_pivot_keyword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT keyword (long→wide in the FROM clause) — the
    spelling BI users write, run as a near-identical statement on
    both engines (Spark requires aliases in the IN list to control
    output column names; DuckDB derives the same names — the
    hash-match proves the derived wide schemas coincide). The API
    twin is agg_pivot; the keyword form is the migration surface.

    Physical plan is the same as groupBy().pivot(): one hash
    aggregate with 5 conditional sums — the IN list makes the output
    schema STATIC at plan time, which is what distinguishes PIVOT
    from a dynamic transpose (and what makes it scale: no second
    pass to discover columns). Exact cents; the oracle re-casts each
    pivoted column because DuckDB's sum(BIGINT) widens to HUGEINT
    (the agg_funnel_conversion type lesson, inside PIVOT).
    """
    load_table(spark, sf_dir, "events").selectExpr(
        "CAST(ts AS DATE) AS d",
        "event_type",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    ).createOrReplaceTempView("igis_piv_events")
    return spark.sql("""
        SELECT * FROM igis_piv_events
        PIVOT (sum(cents) FOR event_type
               IN ('click' AS click, 'error' AS error, 'purchase' AS purchase,
                   'signup' AS signup, 'view' AS view))
    """)


@op(
    "sql_unpivot_keyword",
    oracle="""
    WITH wide AS (
        SELECT l_returnflag,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT * FROM (UNPIVOT wide ON qty, n_rows, n_orders
                   INTO NAME metric VALUE val)
    """,
    category=CAT,
)
def sql_unpivot_keyword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL UNPIVOT keyword (wide→long): a metrics row becomes
    (metric, value) pairs — the export shape monitoring sinks want
    (observe_metrics' relation, produced by syntax instead of unions).
    Spark and DuckDB spell UNPIVOT differently (Spark:
    `UNPIVOT (val FOR metric IN (...))`; DuckDB:
    `UNPIVOT t ON ... INTO NAME ... VALUE ...`) — the op pins that
    the two dialects produce the IDENTICAL long relation, which is
    precisely what a user migrating warehouse SQL needs to know.
    Generate-based (row expansion in the scan stage), no shuffle
    beyond the feeding aggregate; the API twin is agg_unpivot.
    """
    load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("qty"),
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    ).createOrReplaceTempView("igis_unpiv_wide")
    return spark.sql("""
        SELECT l_returnflag, metric, val
        FROM igis_unpiv_wide
        UNPIVOT (val FOR metric IN (qty, n_rows, n_orders))
    """)


@op(
    "sql_limit_offset",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders
    ORDER BY price_c DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
    category=CAT,
)
def sql_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFSET pagination (page 3 at page-size 20 of the price-ranked
    order list) — the LIMIT/OFFSET SQL surface every BI tool and REST
    layer emits, run as literal SQL through the engine's parser
    (Spark ≥3.4 executes OFFSET as a global-limit-with-skip, not a
    full sort+collect).

    The §2.X pagination contract: the ORDER BY carries the unique
    o_orderkey tie-break, otherwise page boundaries are
    engine-dependent on price ties and page 3 is not a well-defined
    relation. Ranking on the ROUNDED integer cents keeps the sort key
    itself parity-exact. Deep-offset caveat documented: OFFSET n
    still evaluates the top n+20 per partition; for crawl-style
    pagination at 100 TB the keyset form (WHERE (price_c, key) <
    last-seen ORDER BY ... LIMIT 20) reuses this exact ordering
    contract with O(page) cost — same tie-break key, which is why the
    contract matters.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("igis_orders_page")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        FROM igis_orders_page
        ORDER BY price_c DESC, o_orderkey
        LIMIT 20 OFFSET 40
        """
    )


@op(
    "sql_values_inline_dim",
    oracle="""
    WITH sev(o_orderpriority, severity, is_expedited) AS (
        VALUES ('1-URGENT', 1, TRUE), ('2-HIGH', 2, TRUE),
               ('3-MEDIUM', 3, FALSE), ('4-NOT SPECIFIED', 4, FALSE),
               ('5-LOW', 5, FALSE)
    )
    SELECT severity, is_expedited,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
    FROM orders JOIN sev USING (o_orderpriority)
    GROUP BY severity, is_expedited
    """,
    category=CAT,
)
def sql_values_inline_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES-clause dimension: a 5-row lookup (priority →
    numeric severity + expedited flag) declared IN the query and
    joined to the fact — the "mapping table in the SQL" surface every
    migration meets when the source system encoded business rules as
    CASE ladders (a VALUES dim is joinable, testable, and extendable
    where a CASE ladder is none of the three).

    The literal relation plans as a LocalRelation → broadcast hash
    join: zero scans for the dim, the fact never shuffles for the
    join, and constant folding sees through the literals. Executed as
    literal SQL (VALUES parsing is the surface under test);
    exact-cents rollup by the derived attributes.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("igis_orders_sev")
    return spark.sql(
        """
        WITH sev AS (
            SELECT * FROM VALUES
                ('1-URGENT', 1, TRUE), ('2-HIGH', 2, TRUE),
                ('3-MEDIUM', 3, FALSE), ('4-NOT SPECIFIED', 4, FALSE),
                ('5-LOW', 5, FALSE)
                AS sev(o_orderpriority, severity, is_expedited)
        )
        SELECT severity, is_expedited,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM igis_orders_sev JOIN sev USING (o_orderpriority)
        GROUP BY severity, is_expedited
        """
    )


@op(
    "setop_except_all",
    oracle=f"{_SLICE_A_SQL} EXCEPT ALL {_SLICE_B_SQL}",
    category=CAT,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference (EXCEPT ALL): multiplicity-aware subtraction —
    a row occurring m times in A and n in B survives max(m−n, 0)
    times, where setop_except's set semantics collapse it to 0/1.
    Completes the set-op family (UNION/UNION ALL/INTERSECT/
    INTERSECT ALL/EXCEPT/EXCEPT ALL): reconciliation jobs ("which
    fills did we send that the counterparty didn't ack, COUNTING
    duplicates") need the bag form — set EXCEPT silently forgives
    double-sends.

    Spark plans this as a single hash aggregation on the row value
    computing both multiplicities, then a generate of the surplus —
    one shuffle, no join (the naive row_number-pair-and-anti-join
    reformulation costs two windows and a join for the same bag).
    """
    return _orders_slice_a(spark, sf_dir).exceptAll(
        _orders_slice_b(spark, sf_dir)
    )


@op(
    "sql_distribute_sort_by",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c,
           min(o_orderstatus) AS first_status
    FROM orders
    GROUP BY o_custkey
    """,
    category=CAT,
)
def sql_distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's partition-control SQL surface: DISTRIBUTE BY (hash
    repartition on an expression) + SORT BY (intra-partition sort,
    NOT a global ORDER BY) — the Hive-inherited clauses every
    migrating ETL script carries, typically to pre-shape data for a
    downstream per-partition consumer (sorted-run writers, bucketed
    sinks: sink_parquet_range_sorted is the DataFrame twin of this
    exact shape). The aggregate on top makes the RESULT
    partitioning-invariant — which is precisely the semantic point:
    DISTRIBUTE/SORT BY change layout, never content, and the oracle
    (a plain GROUP BY) hash-proves it.

    The plan shows RepartitionByExpression(o_custkey) + per-partition
    Sort(global=false) below the aggregate — layout directives
    honored, no global sort paid. SORT BY alone emits
    non-deterministic row order; never hash raw SORT BY output
    (§2.X), always aggregate or write it.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("igis_orders_dist")
    return spark.sql(
        """
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c,
               min(o_orderstatus) AS first_status
        FROM (
            SELECT o_custkey, o_totalprice, o_orderstatus
            FROM igis_orders_dist
            DISTRIBUTE BY o_custkey SORT BY o_custkey, o_orderkey
        )
        GROUP BY o_custkey
        """
    )


LV_TOP_K = 30


@op(
    "sql_lateral_view",
    oracle=f"""
    WITH e AS (
        SELECT unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        FROM documents
    )
    SELECT tok, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS pos_sum
    FROM e GROUP BY tok
    ORDER BY n DESC, tok LIMIT {LV_TOP_K}
    """,
    category=CAT,
)
def sql_lateral_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`LATERAL VIEW posexplode` SQL-dialect surface: top tokens with
    their total corpus positions — the HiveQL generator syntax every
    migrated warehouse query still uses (udtf_explode covers the
    DataFrame explode; fn_explode_outer the null-preserving variant;
    this is the SQL-text form a lift-and-shift from Hive/Presto
    arrives in, and posexplode's ordinal output is the part plain
    explode can't express in one clause).

    The generator runs in the scan stage (Catalyst lowers LATERAL
    VIEW onto the same Generate node as the DataFrame form — the
    dialect is surface, the plan identical); position sums are exact
    integers (0-based, matching DuckDB's generate_subscripts − 1),
    so the top-K order is exact with the token tie-break.
    """
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "igis_lv_documents"
    )
    return spark.sql(f"""
        SELECT tok, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS pos_sum
        FROM igis_lv_documents
        LATERAL VIEW posexplode(split(text, ' ')) t AS pos, tok
        GROUP BY tok
        ORDER BY n DESC, tok LIMIT {LV_TOP_K}
    """)


@op(
    "sql_identifier_dynamic",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev_c
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category=CAT,
)
def sql_identifier_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`IDENTIFIER(:param)` dynamic-name binding (Spark 3.5+,
    SPARK-41231): table AND grouping column arrive as PARAMETERS,
    not string-spliced SQL — the injection-safe templating that
    multi-tenant report generators need (sql_parameterized binds
    VALUES; IDENTIFIER binds NAMES, which value parameters cannot —
    `GROUP BY :col` would group by a constant string, the classic
    silent-wrong-answer; IDENTIFIER makes it a resolved column
    reference with catalog-time validation instead of textual
    splicing).

    The oracle is the statically-written query — proving the
    dynamic form resolves to the identical relation. The plan after
    binding is byte-for-byte the static plan (binding happens at
    parse time), so every Catalyst optimization applies unchanged.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "igis_ident_orders"
    )
    return spark.sql(
        """
        SELECT IDENTIFIER(:col),
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev_c
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:col)
        ORDER BY IDENTIFIER(:col)
        """,
        args={"tbl": "igis_ident_orders", "col": "o_orderpriority"},
    )


@op(
    "sql_star_except",
    oracle="""
    SELECT * EXCLUDE (text) FROM documents ORDER BY doc_id
    """,
    category=CAT,
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SELECT * EXCEPT (cols)` star modifier (Spark 4 / DuckDB
    EXCLUDE — same feature, two spellings): project everything BUT
    the payload column — the idiom wide-table pipelines live by
    (hand-listing 200 of 201 columns is the maintenance bug: every
    upstream column ADD silently vanishes from a hand-list, while
    *-EXCEPT picks it up automatically — that asymmetry is why
    metadata-only reads of payload tables should always be written
    this way, and at 100 TB dropping the text/binary column at the
    SCAN is the difference between shuffling metadata and shuffling
    the corpus).

    Column pruning applies exactly as with an explicit projection —
    the parser expands the star minus the exclusion BEFORE analysis,
    so the scan's ReadSchema omits `text` (same plan as listing the
    kept columns; asserted by the dialect twins agreeing).
    """
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "igis_se_documents"
    )
    return spark.sql(
        "SELECT * EXCEPT (text) FROM igis_se_documents ORDER BY doc_id"
    )


@op(
    "sql_union_by_name",
    oracle="""
    WITH v1 AS (
        SELECT doc_id, lang, NULL AS source FROM documents
        WHERE doc_id % 2 = 0
    ), v2 AS (
        SELECT doc_id, lang, source FROM documents WHERE doc_id % 2 = 1
    )
    SELECT doc_id, lang, source,
           source IS NULL AS from_legacy
    FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    ORDER BY doc_id
    """,
    category=CAT,
)
def sql_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`unionByName(allowMissingColumns=True)`: a legacy feed
    generation (pre-`source` schema, and with its columns in a
    DIFFERENT order) unioned with the current one — the
    schema-evolution append every long-lived pipeline performs
    weekly (positional UNION is the silent killer here twice over:
    reordered columns pair doc_id with lang without any error, and
    a missing column is a hard failure instead of a null-fill;
    BY-NAME resolution fixes both, and schema_evolution_union's
    mergeSchema covers the READ side — this is the in-flight
    DataFrame side).

    The legacy half is derived (even doc_ids, `source` dropped,
    columns deliberately re-ordered lang-first); the oracle declares
    the by-name result with nulls where the legacy rows lack the
    column, plus a from_legacy audit flag riding the null pattern.
    Catalyst resolves the union at analysis time — the plan is a
    plain UnionExec over two projections, identical to a hand-
    aligned positional union.
    """
    docs = load_table(spark, sf_dir, "documents")
    legacy = docs.filter(F.col("doc_id") % 2 == 0).select(
        "lang", "doc_id"  # re-ordered AND missing `source`
    )
    current = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source"
    )
    merged = current.unionByName(legacy, allowMissingColumns=True)
    return merged.select(
        "doc_id",
        "lang",
        "source",
        F.col("source").isNull().alias("from_legacy"),
    ).orderBy("doc_id")


DIVISION_TOP_BRANDS = 3


@op(
    "sql_relational_division",
    oracle=f"""
    WITH top_brands AS (
        SELECT p.p_brand AS b
        FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        GROUP BY 1
        ORDER BY count(*) DESC, p.p_brand LIMIT {DIVISION_TOP_BRANDS}
    ), buyers AS (
        SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS b
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand IN (SELECT b FROM top_brands)
    )
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM top_brands t
        WHERE NOT EXISTS (
            SELECT 1 FROM buyers bu
            WHERE bu.ck = c.c_custkey AND bu.b = t.b
        )
    )
    ORDER BY c.c_custkey
    """,
    category=CAT,
)
def sql_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION: customers who bought from EVERY one of
    the {DIVISION_TOP_BRANDS} highest-volume brands — the FORALL
    query, famously the hardest pattern in SQL because the language
    has no universal quantifier (Codd's divide; 'suppliers who
    supply all parts' is the textbook form, completed-all-modules
    and holds-all-certifications the production forms; the divisor
    is brands, not parts — a part-level divisor is near-unsatisfiable
    on a long-tail catalog, which is itself a division design
    lesson).

    DELIBERATE double formulation: the oracle is the classic
    double-NOT-EXISTS (¬∃ a required brand ¬∃ a purchase), the
    Spark side is the set-cardinality form (distinct required-brand
    count per customer == divisor size — the GROUP BY/HAVING
    translation every optimizer-friendly rewrite uses). Two
    INDEPENDENT encodings of FORALL hash-agreeing is the strongest
    correctness statement available here, and the HAVING form is
    the 100 TB plan (two hash aggregates + a semi-join; nested NOT
    EXISTS is a per-row dependent subquery unless decorrelated).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    top_brands = (
        p.join(li, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("b"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "b")
        .limit(DIVISION_TOP_BRANDS)
        .select("b")
    )
    buyers = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(p, p.p_partkey == li.l_partkey)
        .join(F.broadcast(top_brands), p.p_brand == F.col("b"), "left_semi")
        .select(F.col("o_custkey").alias("ck"), F.col("p_brand").alias("bb"))
        .distinct()
    )
    complete = (
        buyers.groupBy("ck")
        .agg(F.countDistinct("bb").alias("nb"))
        .filter(F.col("nb") == DIVISION_TOP_BRANDS)
        .select("ck")
    )
    return (
        c.join(complete, c.c_custkey == F.col("ck"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@op(
    "sql_order_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev_c
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
    category=CAT,
)
def sql_order_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GROUP BY ALL` + `ORDER BY ALL` together (Spark 4 / DuckDB —
    the same modern-SQL pair in both dialects): every non-aggregate
    column groups, every output column orders — the
    maintenance-proof rollup skeleton (add a dimension to the SELECT
    and both clauses follow automatically; with positional/named
    lists that edit is THE classic review-miss, silently regrouping
    or reordering; sql_group_by_all covered the grouping half alone
    — the pair is the idiom as actually written).

    Both resolve at parse time to the explicit column lists, so the
    plan is byte-identical to the hand-written form — and here the
    ORACLE ITSELF uses GROUP BY ALL / ORDER BY ALL in DuckDB, making
    the op a two-dialect conformance check of the same sugar rather
    than a Spark-only demo. Deterministic total order because ORDER
    BY ALL includes the aggregate columns after the full key set.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "igis_gba_orders"
    )
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev_c
        FROM igis_gba_orders
        GROUP BY ALL
        ORDER BY ALL
    """)


@op(
    "sql_function_declared",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                        * 100 + 0.5) AS BIGINT) AS net_c
      FROM lineitem)
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(net_c) AS BIGINT) AS net_cents
    FROM t GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    category=CAT,
)
def sql_function_declared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-declared scalar function (CREATE TEMPORARY FUNCTION ...
    RETURNS ... RETURN expr, Spark 3.5+/4 SQL UDFs, SPARK-28521
    lineage): the net-price business rule declared ONCE in pure SQL
    and reused by name — the governance middle ground the §2.I Python
    UDFs can't offer (a SQL UDF is inlined into the plan by Catalyst:
    whole-stage codegen, pushdown, zero Python boundary — it is an
    expression MACRO, not a foreign function; `EXPLAIN` shows no
    BatchEvalPython). This is how shared business logic should ship
    on a 100-TB warehouse: one vetted definition, native speed.

    The declaration is CREATE OR REPLACE + session-scoped (idempotent
    per driver call, no catalog litter); determinism via the house
    per-row cents quantization INSIDE the aggregate's input (the raw
    float fold never exists). Oracle inlines the same expression —
    equality proves the macro expansion is semantically the
    declaration.
    """
    li = load_table(spark, sf_dir, "lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION igis_net_price(
            p DOUBLE, d DOUBLE, t DOUBLE)
        RETURNS DOUBLE
        RETURN p * (1.0D - d) * (1.0D + t)
        """
    )
    return spark.sql(
        """
        WITH t AS (
          SELECT l_returnflag,
                 CAST(floor(igis_net_price(l_extendedprice, l_discount, l_tax)
                            * 100 + 0.5D) AS BIGINT) AS net_c
          FROM {li})
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(net_c) AS BIGINT) AS net_cents
        FROM t GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        li=li,
    )


SQL_VAR_WINDOW_DAYS = 90


@op(
    "sql_session_variable",
    oracle=f"""
    WITH cut AS (
      SELECT max(o_orderdate) - INTERVAL {SQL_VAR_WINDOW_DAYS} DAY AS cutoff
      FROM orders)
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_recent,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_cents
    FROM orders o CROSS JOIN cut
    WHERE o.o_orderdate > cut.cutoff
    GROUP BY 1 ORDER BY 1
    """,
    category=CAT,
)
def sql_session_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE VARIABLE / SET VAR, Spark 4,
    SPARK-42849): a data-derived scalar — the trailing-90-day cutoff —
    computed ONCE by `SET VAR x = (scalar subquery)` and then used as
    a plain constant in downstream queries. This is the SQL-native
    form of the fetch-scalar-then-parameterize loop every dashboard
    script writes (sql_parameterized binds CLIENT-supplied values;
    variables hold SERVER-computed ones — no round-trip through the
    driver, no string formatting, and the constant folds into
    partition/predicate pushdown exactly like a literal).

    DECLARE OR REPLACE keeps the op idempotent per session. The
    oracle recomputes the same cutoff as a CTE — equality proves the
    variable held exactly the scalar the subquery produced. Revenue
    in per-row-quantized cents (§2.X).
    """
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("igis_var_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE igis_cutoff TIMESTAMP")
    spark.sql(
        f"""SET VAR igis_cutoff =
            (SELECT max(o_orderdate) - INTERVAL {SQL_VAR_WINDOW_DAYS} DAY
             FROM igis_var_orders)"""
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_recent,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5D) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM igis_var_orders o
        WHERE o_orderdate > igis_cutoff
        GROUP BY 1 ORDER BY 1
        """
    )
