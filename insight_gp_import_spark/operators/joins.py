"""Join operators (SURVEY.md §2.C).

Scale notes (100 TB): dimension joins (region/nation/customer) are
broadcast — explicitly via ``F.broadcast`` or by AQE's runtime size
check — so the fact table never shuffles for them. Fact-fact joins
(orders⋈lineitem) shuffle on the join key; at cluster scale the right
move is bucketing both tables on the key at write time (see
``sources/sinks.py``). AQE skew-join splitting handles hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_gp_import_spark.operators.pairs import order_item_pairs
from insight_gp_import_spark.registry import op, tracked_persist
from insight_gp_import_spark.scratch import scratch_dir
from insight_gp_import_spark.tables import load_table, spread_scan

CAT = "joins"


@op(
    "join_inner_equi",
    oracle="""
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
    category=CAT,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash equi-join customer⋈nation⋈region."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@op(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey
    FROM (SELECT * FROM customer WHERE c_acctbal < 0) c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    category=CAT,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with observable NULL padding (neg-balance customers)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey"
    )


@op(
    "join_right_outer",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber
    FROM (SELECT * FROM lineitem WHERE l_quantity > 45) l
    RIGHT JOIN (SELECT * FROM orders WHERE o_totalprice > 200000) o
      ON l.l_orderkey = o.o_orderkey
    """,
    category=CAT,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join; unmatched right rows keep NULL left columns."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return li.join(o, li.l_orderkey == o.o_orderkey, "right").select(
        "o_orderkey", "l_linenumber"
    )


@op(
    "join_full_outer",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey
    FROM (SELECT * FROM customer WHERE c_custkey <= 500) c
    FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 250000) o
      ON c.c_custkey = o.o_custkey
    """,
    category=CAT,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with NULLs observable on both sides."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "o_orderkey"
    )


@op(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
    category=CAT,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS — customers having at least one big order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@op(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    category=CAT,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS — the reference's incremental "insert only new rows"
    primitive (load only batches/rows absent from the target)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@op(
    "join_broadcast",
    oracle="""
    SELECT n_name, COUNT(*) AS cnt, ROUND(SUM(c_acctbal), 2) AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    category=CAT,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the 25-row dim: map-side join, no fact shuffle.

    Identical SQL to an inner join — the difference is the physical plan
    (BroadcastHashJoin; see tests/test_plans.py)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@op(
    "join_cross",
    oracle="""
    SELECT r_name, seg
    FROM region
    CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer)
    """,
    category=CAT,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (small inputs only: 5 regions × 5 segments)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    seg = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("seg"))
        .distinct()
    )
    return r.crossJoin(seg)


@op(
    "join_range_theta",
    oracle="""
    SELECT a.event_id AS signup_id, b.event_id AS follow_id, b.event_type AS follow_type
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
     AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 5 MINUTE
    WHERE a.event_type = 'signup'
    """,
    category=CAT,
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi interval join: activity within 5 minutes after a signup.

    Equi on user_id + theta on ts, so Spark still plans a hash join on
    user_id with the range as a post-filter (not a nested loop). The
    oracle CASTs DuckDB's ns timestamps to µs so both engines compare
    the same truncated instants.
    """
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
        F.col("event_id").alias("signup_id"),
    )
    b = ev.select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.col("event_id").alias("follow_id"),
        F.col("event_type").alias("follow_type"),
    )
    return a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select("signup_id", "follow_id", "follow_type")


@op(
    "join_asof",
    oracle="""
    WITH tagged AS (
        SELECT user_id,
               CAST(ts AS TIMESTAMP) AS ts,
               event_id,
               event_type,
               CASE WHEN event_type = 'view' THEN event_id END AS view_id
        FROM events
        WHERE event_type IN ('view', 'purchase')
    ), enriched AS (
        SELECT user_id, ts, event_id, event_type,
               last_value(view_id IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prior_view_id
        FROM tagged
    )
    SELECT event_id AS purchase_id, user_id, prior_view_id
    FROM enriched
    WHERE event_type = 'purchase'
    """,
    category=CAT,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent prior (or same-
    instant) view by the same user.

    Spark has no native ASOF JOIN; the scalable formulation is a single
    sort within user partitions — union the tagged streams and carry the
    last non-null view id forward (one shuffle, no self-join). The
    oracle declares the *identical* window formulation so boundary
    semantics cannot diverge (SURVEY.md §2.C risk note).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("view_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = tagged.withColumn(
        "prior_view_id", F.last("view_id", ignorenulls=True).over(w)
    )
    return enriched.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "prior_view_id"
    )


@op(
    "join_asof_tolerance",
    oracle="""
    WITH tagged AS (
        SELECT user_id,
               CAST(ts AS TIMESTAMP) AS ts,
               event_id,
               event_type,
               CASE WHEN event_type = 'view' THEN event_id END AS view_id,
               CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END AS view_ts
        FROM events
        WHERE event_type IN ('view', 'purchase')
    ), enriched AS (
        SELECT user_id, ts, event_id, event_type,
               last_value(view_id IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prior_view_id,
               last_value(view_ts IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prior_view_ts
        FROM tagged
    )
    SELECT event_id AS purchase_id, user_id,
           CASE WHEN prior_view_ts >= ts - INTERVAL 1 HOUR
                THEN prior_view_id END AS view_id_within_1h,
           CASE WHEN prior_view_ts >= ts - INTERVAL 1 HOUR
                THEN CAST(date_diff('second', prior_view_ts, ts) AS BIGINT)
                END AS staleness_sec
    FROM enriched
    WHERE event_type = 'purchase'
    """,
    category=CAT,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance bound (pandas ``merge_asof
    tolerance=`` / kdb ``wj`` semantics): the most recent prior view
    counts only if it is at most 1 hour stale — older matches become
    NULL, exactly like a feature-store lookup that refuses expired
    features. Same single-shuffle carry-forward formulation as
    ``join_asof`` (no self-join, no range explosion): tolerance is a
    post-window CASE, so the 100 TB cost is identical to the unbounded
    as-of — one exchange on user_id. The oracle declares the identical
    window + CASE so boundary semantics cannot diverge.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("view_id"),
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = tagged.withColumn(
        "prior_view_id", F.last("view_id", ignorenulls=True).over(w)
    ).withColumn("prior_view_ts", F.last("view_ts", ignorenulls=True).over(w))
    fresh = F.col("prior_view_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return enriched.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(fresh, F.col("prior_view_id")).alias("view_id_within_1h"),
        F.when(
            fresh,
            (
                F.unix_timestamp("ts") - F.unix_timestamp("prior_view_ts")
            ).cast("long"),
        ).alias("staleness_sec"),
    )


@op(
    "join_star_multiway",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    category=CAT,
)
def join_star_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: 6-table star join, TPC-H Q5 shape (local-supplier revenue).

    Dims (region/nation/supplier at this ratio) broadcast via AQE; the
    orders date filter is pushed into the parquet scan before the join.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


SKEW_SALTS = 8


@op(
    "join_skew_salted",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY c_nationkey
    """,
    category=CAT,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted skew join — the pre-AQE (and beyond-AQE) fix for
    a shuffle join whose hot keys overflow one reducer. events.user_id
    has ~N/150 rows per key, so at 100 TB a single user's partition is
    hundreds of GB; AQE skew-split only kicks in for sort-merge joins
    after stats arrive. The explicit form always works: fact rows get
    salt = hash(row) % S (splitting each hot key S ways), the small
    side is replicated S× (explode over the salt range), and the join
    key becomes (key, salt) — so each hot key lands on S reducers
    instead of one. Result provably identical to the unsalted join:
    the oracle is the plain JOIN."""
    S = SKEW_SALTS
    ev = load_table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(S))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(S)])))
    )
    # shuffle_hash hint: at test scale the replicated dim would be
    # broadcast (making the salt moot); at 100 TB a replicated dim
    # exceeds the broadcast threshold and this IS the shuffle join the
    # salt exists for — pin the plan to the scenario being modeled.
    joined = ev.join(
        cust.hint("shuffle_hash"),
        (ev.user_id == cust.c_custkey) & (ev.salt == cust.salt),
    )
    return joined.groupBy("c_nationkey").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@op(
    "subquery_scalar_correlated",
    oracle="""
    WITH cnt AS (
        SELECT c_custkey, c_nationkey, count(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_nationkey
    ), nat AS (
        SELECT c_nationkey, avg(n_orders) AS nation_avg
        FROM cnt GROUP BY c_nationkey
    )
    SELECT c_custkey, n_orders, round(nation_avg, 6) AS nation_avg
    FROM cnt JOIN nat USING (c_nationkey)
    WHERE n_orders > nat.nation_avg
    """,
    category=CAT,
)
def subquery_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: customers with more orders than their
    nation's average (``WHERE n > (SELECT avg(n) ... WHERE nationkey =
    outer.nationkey)``), expressed DECORRELATED — aggregate-then-join —
    which is exactly the plan Catalyst's RewriteCorrelatedScalarSubquery
    rule produces, declared directly so both engines run the identical
    formulation.

    Hash-determinism: the comparison operand is avg over exact integer
    counts (one double division, no summation-order drift — §2.X), so
    the > boundary cannot flake between engines.

    Scale: the per-nation average is 25 rows → broadcast back onto the
    per-customer counts; the only real shuffle is the customer⋈orders
    join + count, both keyed on custkey.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cnt = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    nat = cnt.groupBy("c_nationkey").agg(F.avg("n_orders").alias("nation_avg"))
    return (
        cnt.join(F.broadcast(nat), "c_nationkey")
        .filter(F.col("n_orders") > F.col("nation_avg"))
        .select("c_custkey", "n_orders", F.round("nation_avg", 6).alias("nation_avg"))
    )


@op(
    "join_bloom_prune",
    oracle="""
    SELECT o_orderstatus, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F' AND o_totalprice > 100000
    GROUP BY o_orderstatus
    """,
    category=CAT,
)
def join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-bloom-filter pruned fact⋈dim join — the 100 TB shuffle
    reducer. A selective filter on orders means most lineitem rows will
    not survive the join; with runtime bloom filters enabled, Catalyst's
    InjectRuntimeFilter builds a bloom filter over the filtered orders
    keys and applies ``might_contain(l_orderkey)`` on the lineitem side
    BEFORE its shuffle, so non-matching fact rows never leave the scan
    stage. Result-identical to the plain join (bloom false positives are
    removed by the join itself), hence the plain-join oracle.

    Injection is governed by session confs that Spark 4 already defaults
    to enabled (``runtime.bloomFilter.enabled=true``); the op therefore
    mutates NO session state — a shared driver session keeps its
    optimizer settings. At test scale the filtered dim side is below the
    broadcast threshold and Spark picks a broadcast join instead (bloom
    would be redundant); tests/test_plans.py pins the 100 TB scenario by
    dropping the broadcast threshold and the application-side scan-size
    floor (save/restore inside the test) and asserting ``might_contain``
    appears ahead of the probe-side exchange, result still hash-matching.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@op(
    "join_copurchase_pairs",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
    FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
    category=CAT,
)
def join_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in at
    least 2 orders — the self-join-on-container graph pattern (also how
    co-citation / co-click matrices are built). The self-join keys on
    l_orderkey, so pair expansion is quadratic only in ORDER SIZE
    (~7 items → ~21 pairs), never in table size; the distinct()
    pre-collapse keeps multi-line duplicates of the same part from
    inflating pair counts.

    Scale: :func:`~insight_gp_import_spark.operators.pairs.order_item_pairs`
    builds the pairs without the join (2 Exchanges, a single lineitem
    scan); this op only renames them and keeps the ones seen in at least
    2 orders.
    """
    return (
        order_item_pairs(spark, sf_dir)
        .select(
            F.col("u").alias("p1"), F.col("v").alias("p2"), F.col("w").alias("n_orders")
        )
        .filter(F.col("n_orders") >= 2)
    )


@op(
    "join_point_in_time",
    oracle="""
    WITH scd AS (
        SELECT o_custkey AS key,
               o_totalprice AS state_value,
               CAST(o_orderdate AS TIMESTAMP) AS valid_from,
               CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey)
                    AS TIMESTAMP) AS valid_to
        FROM orders WHERE o_orderkey % 3 = 0
    ), facts AS (
        SELECT o_orderkey, o_custkey,
               CAST(o_orderdate AS TIMESTAMP) AS fact_ts
        FROM orders WHERE o_orderkey % 3 <> 0
    )
    SELECT f.o_orderkey, f.o_custkey, f.fact_ts,
           s.state_value, s.valid_from
    FROM facts f JOIN scd s
      ON f.o_custkey = s.key
     AND f.fact_ts >= s.valid_from
     AND (s.valid_to IS NULL OR f.fact_ts < s.valid_to)
    """,
    category=CAT,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: each fact row picks the SCD2
    dimension state whose [valid_from, valid_to) interval contains the
    fact timestamp — the query full_snapshot_scd2's history exists to
    serve, and the lookup every feature-store / as-of-reporting layer
    runs. Dimension snapshots = orders with key≡0 mod 3 per custkey;
    facts = the rest.

    Scale shape: this is an EQUI join on the entity key with the
    interval predicate as a residual filter — one shuffle per side on
    custkey, never a range-only join (a pure interval join without the
    key equality degrades to O(n·m) broadcast-NL; the key makes it
    hash-partitionable). Intervals per key are few (SCD history), so
    the residual filter scans a handful of rows per probe. At 100 TB:
    identical plan, plus date-partition pruning on the fact side.
    Contrast join_asof (nearest-preceding, window-based) — PIT is
    interval-containment, join_asof is sort-based nearest.
    """
    orders = load_table(spark, sf_dir, "orders")
    scd = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.col("o_custkey").alias("key"),
            F.col("o_totalprice").alias("state_value"),
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(
                Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
            ).alias("valid_to"),
        )
    )
    facts = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").alias("fact_ts")
    )
    return facts.join(
        scd,
        (facts["o_custkey"] == scd["key"])
        & (facts["fact_ts"] >= scd["valid_from"])
        & (scd["valid_to"].isNull() | (facts["fact_ts"] < scd["valid_to"])),
    ).select("o_orderkey", "o_custkey", "fact_ts", "state_value", "valid_from")


INTERVAL_BUCKET_US = 300_000_000  # 5-minute buckets, µs


@op(
    "join_interval_bucketed",
    oracle=f"""
    SELECT a.event_id AS error_id,
           CAST(count(b.event_id) AS BIGINT) AS n_purchases
    FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
          WHERE event_type = 'error') a
    LEFT JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
               WHERE event_type = 'purchase') b
      ON epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + {INTERVAL_BUCKET_US}
    GROUP BY a.event_id
    """,
    category=CAT,
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join with NO equi key, made scalable by time bucketing:
    platform-wide purchases within 5 minutes after each error event.

    The naive plan for a pure time-range theta join is a nested loop
    (every error × every purchase — quadratic, the BNLJ that kills a
    100 TB correlation query; join_range_theta dodges it only because
    it has a user_id equi key). Bucketing recovers an equi key from
    the predicate itself: purchases land in floor(µs/W) buckets, each
    error probes its own bucket and the next (a (t, t+W] window spans
    at most two W-wide buckets), and the exact interval predicate runs
    as a residual filter on the equi-matched pairs. Join input is
    2 rows per error (the explode) vs |errors|×|purchases| — the plan
    is a plain shuffle/broadcast HASH join on bucket (asserted: no
    BroadcastNestedLoopJoin), and candidate pairs scale with true
    temporal co-occurrence, not corpus². The oracle is the naive theta
    formulation — an independent plan computing the same relation.
    All comparisons in integer µs (unix_micros ≡ epoch_us, probed by
    the sessionize_gap family)."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.unix_micros("ts").alias("a_us"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("b_us"),
        F.expr(f"unix_micros(ts) div {INTERVAL_BUCKET_US}").alias("bucket"),
    )
    probes = a.select(
        "error_id",
        "a_us",
        F.explode(
            F.array(
                F.expr(f"a_us div {INTERVAL_BUCKET_US}"),
                F.expr(f"a_us div {INTERVAL_BUCKET_US} + 1"),
            )
        ).alias("bucket"),
    )
    # left join keeps zero-match errors (both probe rows null-padded
    # -> count 0); a real (error, purchase) pair appears exactly once
    # (the purchase has one bucket; the error's two probe buckets are
    # distinct), so a plain count of residual-true hits is exact
    hit = F.when(
        (F.col("b_us") > F.col("a_us"))
        & (F.col("b_us") <= F.col("a_us") + INTERVAL_BUCKET_US),
        F.col("purchase_id"),
    )
    return (
        probes.join(b, "bucket", "left")
        .groupBy("error_id")
        .agg(F.count(hit).alias("n_purchases"))
    )


NAAJ_PRICE_BAR = 400000.0


@op(
    "join_null_aware_anti",
    oracle=f"""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > {NAAJ_PRICE_BAR}
    )
    """,
    category=CAT,
)
def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN (subquery) — the tri-valued-logic trap of SQL: one NULL
    in the subquery empties the whole result (x NOT IN (…, NULL) is
    never TRUE), so a plain anti join is WRONG unless the key is
    provably non-null. Spark compiles this to a NULL-AWARE anti join
    (isnull-disjunct condition on the anti join, plan-tested) because
    the parquet column is nullable-typed; engines that silently
    rewrite to a plain anti join corrupt results the day the feed
    first delivers a NULL key — exactly the kind of load this tool's
    class exists to survive. Customers with no jumbo order; both
    engines evaluate identical NOT IN semantics.

    Scale: the subquery side (jumbo orders) is small and broadcasts;
    the null-aware variant needs the build side complete on every
    task (it must know whether ANY null exists), which broadcast
    provides for free — null-aware + shuffle would be the expensive
    shape to avoid."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("igis_naaj_customer")
    o.createOrReplaceTempView("igis_naaj_orders")
    return spark.sql(f"""
        SELECT c_custkey, c_name, c_mktsegment
        FROM igis_naaj_customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM igis_naaj_orders
            WHERE o_totalprice > {NAAJ_PRICE_BAR}
        )
    """)


LATERAL_TOPK = 2


@op(
    "join_lateral_topk",
    oracle=f"""
    SELECT n.n_name, l.c_name, l.bal_c
    FROM nation n, LATERAL (
        SELECT c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY round(c_acctbal * 100) DESC, c_custkey
        LIMIT {LATERAL_TOPK}
    ) l
    """,
    category=CAT,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY … LIMIT — the
    'top-k rows OF THE OTHER TABLE per outer row' idiom (SQL:1999
    lateral derived tables; Spark support landed with SPARK-34382).
    Catalyst DECORRELATES it into the same window-rank plan
    win_topn_per_group writes by hand — declaring the intent
    lateral-style costs nothing physically (rank + filter over one
    c_nationkey exchange, dim side broadcast), which is the point:
    users migrating correlated SQL keep their query shape and get
    the distributed plan. Integer-cents ordering with c_custkey
    tie-break (§2.X rule 2)."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    n.createOrReplaceTempView("igis_lat_nation")
    c.createOrReplaceTempView("igis_lat_customer")
    return spark.sql(f"""
        SELECT n.n_name, l.c_name, l.bal_c
        FROM igis_lat_nation n, LATERAL (
            SELECT c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
            FROM igis_lat_customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY round(c_acctbal * 100) DESC, c_custkey
            LIMIT {LATERAL_TOPK}
        ) l
    """)


@op(
    "sql_exists_subquery",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 200000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderstatus = 'P')
    """,
    category=CAT,
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS predicates in pure SQL —
    customers with at least one big-ticket order and no pending
    order. The third correlated-subquery shape next to
    subquery_scalar_correlated (scalar) and join_null_aware_anti
    (NOT IN): users migrating warehouse SQL keep the EXISTS spelling.

    Catalyst decorrelates both predicates — EXISTS rewrites to a
    LeftSemi join and NOT EXISTS to a LeftAnti join on o_custkey, so
    the plan is two hash joins on the same key (no per-row subquery
    re-execution, which is how a naive engine dies on this query).
    The orders-side predicates are pushed below the joins, shrinking
    the semi/anti build inputs at the scan. At 100 TB both joins
    shuffle on the same customer key and AQE can chain them in one
    exchange reuse; the filtered build sides are small enough to
    broadcast under the default thresholds.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "igis_ex_customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "igis_ex_orders"
    )
    return spark.sql("""
        SELECT c_custkey, c_name
        FROM igis_ex_customer c
        WHERE EXISTS (SELECT 1 FROM igis_ex_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 200000)
          AND NOT EXISTS (SELECT 1 FROM igis_ex_orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'P')
    """)


GRID_SIZE = 256   # world is GRID_SIZE x GRID_SIZE integer cells
GRID_CELL = 8     # bucket width == the match radius
GRID_RADIUS = 8   # Chebyshev match distance


def _coord_sql(axis: str, prefix: str, key: str, dialect: str) -> str:
    """Deterministic synthetic integer coordinate in [0, GRID_SIZE):
    4 md5 hex chars of a salted key (the corpus has no geo columns;
    md5 is the shared-bit-exact hash). The hex→int spelling is the
    only dialect split: DuckDB casts a '0x…' literal, Spark uses
    conv(…, 16, 10)."""
    if dialect == "duckdb":
        return (
            f"CAST(('0x' || substr(md5('{prefix}{axis}:' || CAST({key} AS VARCHAR)), 1, 4)) "
            f"AS INTEGER) % {GRID_SIZE}"
        )
    return (
        f"CAST(CAST(conv(substring(md5('{prefix}{axis}:' || CAST({key} AS STRING)), 1, 4), "
        f"16, 10) AS INT) % {GRID_SIZE} AS INT)"
    )


@op(
    "join_spatial_grid",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey,
               {_coord_sql('x', 'pt', 'c_custkey', 'duckdb')} AS cx,
               {_coord_sql('y', 'pt', 'c_custkey', 'duckdb')} AS cy
        FROM customer
    ), s AS (
        SELECT s_suppkey,
               {_coord_sql('x', 'pt', 's_suppkey * 7919', 'duckdb')} AS sx,
               {_coord_sql('y', 'pt', 's_suppkey * 7919', 'duckdb')} AS sy
        FROM supplier
    )
    SELECT c_custkey, s_suppkey, cx, cy, sx, sy,
           CAST(greatest(abs(cx - sx), abs(cy - sy)) AS INTEGER) AS cheb
    FROM c JOIN s
      ON greatest(abs(cx - sx), abs(cy - sy)) <= {GRID_RADIUS}
    """,
    category=CAT,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial neighbor join: all (customer, supplier)
    point pairs within Chebyshev distance {GRID_RADIUS} on a synthetic
    {GRID_SIZE}×{GRID_SIZE} plane — the geo-join pattern (store/courier
    matching, geo dedup) as an EQUI-join: bucket each point into
    {GRID_CELL}-wide grid cells, explode ONE side to its 3×3 cell
    neighborhood, hash-join on the cell id, then apply the exact
    distance predicate. The same bucket-derived-equi-key trick as
    join_interval_bucketed, in two dimensions.

    The ORACLE is deliberately the naive quadratic cross join — an
    independent formulation, so the hash-match PROVES the 9-cell
    neighborhood loses no pair (cell width ≥ radius ⇒ any pair within
    r spans ≤ 1 cell boundary per axis). Coordinates are md5-derived
    integers (no geo data in corpus); distance math is pure integer.
    Scale: pair expansion is 9× one side's rows BEFORE the join — at
    100 TB density decides which side explodes (explode the smaller);
    vs the cross join's |C|·|S| this is the difference between
    feasible and not.
    """
    c = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        f"{_coord_sql('x', 'pt', 'c_custkey', 'spark')} AS cx",
        f"{_coord_sql('y', 'pt', 'c_custkey', 'spark')} AS cy",
    )
    s = load_table(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey",
        f"{_coord_sql('x', 'pt', 's_suppkey * 7919', 'spark')} AS sx",
        f"{_coord_sql('y', 'pt', 's_suppkey * 7919', 'spark')} AS sy",
    )
    # suppliers (small side) explode to their 3x3 cell neighborhood
    s9 = s.selectExpr(
        "s_suppkey", "sx", "sy",
        f"explode(transform(sequence(0, 8), i -> "
        f"struct((sx div {GRID_CELL}) + (i div 3) - 1 AS gx, "
        f"       (sy div {GRID_CELL}) + (i % 3) - 1 AS gy))) AS g",
    ).select("s_suppkey", "sx", "sy", "g.gx", "g.gy")
    cg = c.withColumn("gx", F.expr(f"cx div {GRID_CELL}")).withColumn(
        "gy", F.expr(f"cy div {GRID_CELL}")
    )
    cheb = F.greatest(
        F.abs(F.col("cx") - F.col("sx")), F.abs(F.col("cy") - F.col("sy"))
    )
    return (
        cg.join(s9, ["gx", "gy"])
        .filter(cheb <= GRID_RADIUS)
        .select(
            "c_custkey", "s_suppkey", "cx", "cy", "sx", "sy",
            cheb.cast("int").alias("cheb"),
        )
    )


# fixed "maintenance window" schedule for overlap accounting (UTC days
# inside the fixture's event span, §1.3)
MAINT_WINDOWS = [
    ("mw1", "2024-01-05 02:00:00", "2024-01-05 06:00:00"),
    ("mw2", "2024-01-12 00:00:00", "2024-01-12 12:00:00"),
    ("mw3", "2024-01-20 08:00:00", "2024-01-21 08:00:00"),
]


def _mw_values_sql() -> str:
    return ", ".join(
        f"('{n}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for n, s, e in MAINT_WINDOWS
    )


@op(
    "join_overlap_accounting",
    oracle=f"""
    WITH sessions AS (
        SELECT user_id,
               min(CAST(ts AS TIMESTAMP)) AS s_start,
               max(CAST(ts AS TIMESTAMP)) AS s_end
        FROM events
        GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ), windows AS (
        SELECT * FROM (VALUES {_mw_values_sql()}) w(win_id, w_start, w_end)
    ), ovl AS (
        SELECT w.win_id,
               greatest(0, epoch_us(least(s.s_end, w.w_end))
                           - epoch_us(greatest(s.s_start, w.w_start)))
                   AS ov_us
        FROM sessions s JOIN windows w
          ON s.s_start < w.w_end AND s.s_end > w.w_start
    )
    SELECT win_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(ov_us) AS BIGINT) AS total_overlap_us
    FROM ovl GROUP BY win_id
    """,
    category=CAT,
)
def join_overlap_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap ACCOUNTING: how much user-session time fell
    inside each maintenance window — the SLA/billing computation
    (downtime exposure, metered overlap), one step past
    join_interval_bucketed's "which intervals touch" into "how MUCH
    they touch". Sessions here are per-(user, day) activity spans;
    the window schedule is a literal dimension (VALUES — the inline-
    table surface, also exercised nowhere else).

    Overlap math is exact integer µs: ov = max(0, min(ends) −
    max(starts)) via epoch_us/unix_micros (bit-equal, §2.X); the
    overlap predicate (s_start < w_end AND s_end > w_start) is the
    canonical half-open interval intersection test. Scale: the window
    side is tiny and broadcasts, so the session side never shuffles
    for the join; with BOTH sides large this becomes
    join_interval_bucketed's bucket-key equi-join.
    """
    ev = load_table(spark, sf_dir, "events")
    sessions = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    windows = spark.createDataFrame(
        [(n, s, e) for n, s, e in MAINT_WINDOWS],
        "win_id string, w_start string, w_end string",
    ).select(
        "win_id",
        F.col("w_start").cast("timestamp").alias("w_start"),
        F.col("w_end").cast("timestamp").alias("w_end"),
    )
    joined = sessions.join(
        F.broadcast(windows),
        (F.col("s_start") < F.col("w_end")) & (F.col("s_end") > F.col("w_start")),
    )
    ov = F.greatest(
        F.lit(0).cast("bigint"),
        F.unix_micros(F.least("s_end", "w_end"))
        - F.unix_micros(F.greatest("s_start", "w_start")),
    )
    return joined.groupBy("win_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum(ov).alias("total_overlap_us"),
    )


@op(
    "join_or_decomposed",
    oracle="""
    WITH pairs AS (
        SELECT c.c_custkey, s.s_suppkey
        FROM customer c JOIN supplier s
          ON c.c_nationkey = s.s_nationkey
          OR CAST(round(c.c_acctbal) AS BIGINT) // 500
             = CAST(round(s.s_acctbal) AS BIGINT) // 500
    )
    SELECT s_suppkey,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM pairs GROUP BY s_suppkey
    """,
    category=CAT,
)
def join_or_decomposed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OR-join rewrite: match on (same nation OR same balance
    band). A disjunctive join predicate has NO single equi-key, so a
    naive engine — and the DuckDB oracle, deliberately — evaluates it
    as a nested-loop over the cross product. The engine-grade rewrite
    this op implements: decompose into TWO hash equi-joins (one per
    disjunct) and de-duplicate pairs that satisfy both (UNION-distinct
    on the pair key). The hash-match against the naive spelling
    proves the decomposition exact — including the double-match
    dedup, the part hand-rolled rewrites usually get wrong.

    Scale: each disjunct shuffles on its own real key, so cost is
    Σ|equi-join outputs| instead of |C|·|S| candidate pairs — at 100
    TB that is the difference between two ordinary joins and an
    infeasible BNL (the join_spatial_grid crossover logic, but with
    NO crossover: the decomposition never loses to the naive plan
    asymptotically because the dedup key is the join output itself).
    Bands are exact integer floor-division of rounded balances
    (DuckDB // vs Spark div — the agg_cohort_ltv dialect rule).
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.expr("CAST(round(c_acctbal) AS BIGINT) div 500").alias("c_band"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.expr("CAST(round(s_acctbal) AS BIGINT) div 500").alias("s_band"),
    )
    by_nation = c.join(
        s, c.c_nationkey == s.s_nationkey
    ).select("c_custkey", "s_suppkey")
    by_band = c.join(s, c.c_band == s.s_band).select("c_custkey", "s_suppkey")
    pairs = by_nation.union(by_band).distinct()
    return pairs.groupBy("s_suppkey").agg(F.count("*").alias("n_customers"))


ASOF_NEAREST_TOL_US = 3600 * 1000000  # ±1 hour


@op(
    "join_asof_nearest",
    oracle=f"""
    WITH p AS (
        SELECT user_id, event_id AS purchase_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
        FROM events WHERE event_type = 'purchase'
    ), v AS (
        SELECT user_id, event_id AS view_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS v_us
        FROM events WHERE event_type = 'view'
    ), cand AS (
        SELECT p.user_id, p.purchase_id, v.view_id,
               abs(p.p_us - v.v_us) AS dist_us,
               CASE WHEN v.v_us <= p.p_us THEN 0 ELSE 1 END AS fwd
        FROM p JOIN v ON p.user_id = v.user_id
           AND abs(p.p_us - v.v_us) <= {ASOF_NEAREST_TOL_US}
    )
    SELECT user_id, purchase_id, view_id,
           CAST(dist_us AS BIGINT) AS dist_us
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY purchase_id
            ORDER BY dist_us, fwd, view_id) AS rn
        FROM cand
    ) WHERE rn = 1
    """,
    category=CAT,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-match as-of join: each purchase paired with the
    temporally CLOSEST view by the same user within ±1 h — either
    direction, the sensor-fusion/attribution variant that completes
    the asof family (join_asof = backward, join_asof_tolerance =
    backward+bound, this = bidirectional minimum). Ties break
    deterministically: equal distance prefers the BACKWARD match,
    then the lower view_id (§2.X rule 2 — without the direction
    tie-break, a view exactly 1 s before and another 1 s after would
    flap between engines).

    Shape: the tolerance turns the candidate join into a bounded
    range join (the join_range_theta machinery; at 100 TB the
    time-bucket trick of join_interval_bucketed makes it an
    equi-join), then one per-purchase argmin window. Exact integer
    µs distances end to end.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), us.alias("p_us")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        us.alias("v_us"),
    )
    cand = p.join(
        v,
        (p.user_id == v.v_user)
        & (F.abs(F.col("p_us") - F.col("v_us")) <= ASOF_NEAREST_TOL_US),
    ).select(
        "user_id",
        "purchase_id",
        "view_id",
        F.abs(F.col("p_us") - F.col("v_us")).alias("dist_us"),
        F.when(F.col("v_us") <= F.col("p_us"), 0).otherwise(1).alias("fwd"),
    )
    w = Window.partitionBy("purchase_id").orderBy("dist_us", "fwd", "view_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "purchase_id", "view_id", "dist_us")
    )


@op(
    "sql_join_hints",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS bal_c
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    category=CAT,
)
def sql_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL optimizer hints (`/*+ BROADCAST(n) */`) — the surface users
    reach for when statistics mislead the planner: the hint pins the
    physical strategy, the SEMANTICS must not move. The oracle is the
    plain unhinted join, so the hash-match proves exactly that
    hint-invariance; the plan assertion (tests/test_plans.py) proves
    the hint actually fired (a hint that silently no-ops is the worse
    failure mode — users believe they fixed the plan).

    At 100 TB this is the escape hatch when a filtered-but-large dim
    defeats the size estimator (join_bloom_prune models the opposite
    case); Spark also honors MERGE / SHUFFLE_HASH / SHUFFLE_REPLICATE_NL
    hints through the same syntax.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "igis_hint_customer"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "igis_hint_nation"
    )
    return spark.sql("""
        SELECT /*+ BROADCAST(n) */ n.n_name,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS bal_c
        FROM igis_hint_customer c
        JOIN igis_hint_nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """)


@op(
    "join_null_safe_eq",
    oracle="""
    WITH c AS (
        SELECT c_custkey,
               CASE WHEN c_nationkey % 5 = 0 THEN NULL
                    ELSE c_nationkey END AS k
        FROM customer
    ), s AS (
        SELECT s_suppkey,
               CASE WHEN s_nationkey % 5 = 0 THEN NULL
                    ELSE s_nationkey END AS k
        FROM supplier
    )
    SELECT (c.k IS NULL) AS null_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers
    FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
    GROUP BY 1
    """,
    category=CAT,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH EACH OTHER instead of silently dropping — the
    semantics dirty dimension keys actually need (a plain equi-join
    on a nullable key discards every unknown-key row; sometimes
    "unknown joins unknown" is the business rule, e.g. un-geocoded
    records pooling into one bucket).

    Spark plans `<=>` as a HASH join (null-safe equality is still an
    equi-key — nulls hash to one bucket); a plain `=` with an
    OR-IS-NULL workaround degenerates to a nested loop, which is the
    trap this operator exists to replace. The NULL bucket is by
    construction a SKEW key at scale (every unknown row collides) —
    the docstring contract is to salt it (join_skew_salted) when the
    unknown fraction is large. Output aggregates per null-bucket so
    the hash pins both the matching and non-matching populations.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_nationkey") % 5 == 0, None)
        .otherwise(F.col("c_nationkey"))
        .alias("ck"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_nationkey") % 5 == 0, None)
        .otherwise(F.col("s_nationkey"))
        .alias("sk"),
    )
    joined = c.join(s, c.ck.eqNullSafe(s.sk))
    return joined.groupBy(
        F.col("ck").isNull().alias("null_bucket")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("c_custkey").alias("n_customers"),
        F.countDistinct("s_suppkey").alias("n_suppliers"),
    )


@op(
    "join_unknown_member",
    oracle="""
    WITH fact AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_custkey END AS cust_fk,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), enriched AS (
        SELECT f.o_orderkey, f.cents,
               coalesce(c.c_name, 'UNKNOWN') AS customer,
               coalesce(c.c_mktsegment, 'N/A') AS segment,
               (c.c_custkey IS NULL) AS is_unknown
        FROM fact f LEFT JOIN customer c ON f.cust_fk = c.c_custkey
    )
    SELECT segment, is_unknown,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS rev_c,
           CAST(count(DISTINCT customer) AS BIGINT) AS n_customers
    FROM enriched GROUP BY segment, is_unknown
    """,
    category=CAT,
)
def join_unknown_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNKNOWN-member pattern: facts whose dimension key is
    missing (here: a simulated 1-in-7 NULL foreign key) land on an
    explicit 'UNKNOWN' member via LEFT JOIN + COALESCE instead of
    leaking NULLs into every downstream group-by — dimensional
    modeling's standard answer (Kimball's row-zero member) and the
    OPPOSITE policy to join_null_safe_eq's unknown-pools-with-unknown
    (both are legitimate; an engine must express both cleanly).

    The revenue of unknown-keyed facts stays VISIBLE and attributed
    (is_unknown=true rows) — the silent alternative (inner join)
    drops it, which is how dashboards lose money without an error.
    Plan: one broadcast-eligible LEFT hash join + COALESCE in the
    projection; the aggregate sees no NULL group keys at all.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    fact = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("cust_fk"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    enriched = fact.join(
        c, fact.cust_fk == c.c_custkey, "left"
    ).select(
        "cents",
        F.coalesce("c_name", F.lit("UNKNOWN")).alias("customer"),
        F.coalesce("c_mktsegment", F.lit("N/A")).alias("segment"),
        F.col("c_custkey").isNull().alias("is_unknown"),
    )
    return enriched.groupBy("segment", "is_unknown").agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("rev_c"),
        F.countDistinct("customer").alias("n_customers"),
    )


ABANDON_WINDOW_US = 3600 * 1000000  # 1 hour to convert


@op(
    "join_time_anti_abandonment",
    oracle=f"""
    WITH v AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS v_us,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        FROM events WHERE event_type = 'view'
    ), p AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
        FROM events WHERE event_type = 'purchase'
    )
    SELECT d,
           CAST(count(*) AS BIGINT) AS n_views,
           CAST(count(*) FILTER (NOT EXISTS (
               SELECT 1 FROM p
               WHERE p.user_id = v.user_id
                 AND p.p_us > v.v_us
                 AND p.p_us <= v.v_us + {ABANDON_WINDOW_US}
           )) AS BIGINT) AS n_abandoned
    FROM v
    GROUP BY d
    """,
    category=CAT,
)
def join_time_anti_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandonment rate: views NOT followed by a same-user purchase
    within one hour, per day — funnel LOSS, the complement of
    stream_stream_join's attribution matches (that op counts the
    conversions; a funnel team needs the non-conversions just as
    much). The join shape is the missing piece of the anti-join
    family: LEFT ANTI with a TIME-RANGE predicate, not an equi-key.

    Spark plans the anti join on the user_id equi-part with the range
    condition evaluated inside the join — state bounded exactly like
    the stream-stream join's (a purchase can only clear views within
    one hour behind it; under watermarks the identical query runs
    incrementally). Exact integer µs bounds; the daily rollup keeps
    the output relation calendar-small. At 100 TB both sides shuffle
    once on user_id — the same single exchange sessionize pays.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "event_id",
        us.alias("v_us"),
        F.to_date("ts").alias("d"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), us.alias("p_us")
    )
    converted = v.join(
        p,
        (v.user_id == p.p_user)
        & (F.col("p_us") > F.col("v_us"))
        & (F.col("p_us") <= F.col("v_us") + ABANDON_WINDOW_US),
        "left_anti",
    )
    n_views = v.groupBy("d").agg(F.count("*").alias("n_views"))
    n_aband = converted.groupBy("d").agg(F.count("*").alias("n_abandoned"))
    return n_views.join(n_aband, "d", "left").select(
        "d",
        "n_views",
        F.coalesce("n_abandoned", F.lit(0)).cast("bigint").alias("n_abandoned"),
    )


@op(
    "join_bilateral_trade",
    oracle="""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS BIGINT) AS volume_u
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_nationkey <> cn.n_nationkey
    GROUP BY sn.n_name, cn.n_name
    """,
    category=CAT,
)
def join_bilateral_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade matrix (TPC-H Q7 shape): discounted volume
    shipped between every (supplier nation → customer nation) pair —
    the ROLE-PLAYING dimension pattern, where ONE physical dim
    (nation) joins the same fact chain twice under two aliases. The
    other multiway ops each touch a dim once; a migrating warehouse
    user's "ship-to vs sold-by" report needs exactly this shape.

    Both nation joins and the supplier join broadcast (the fact never
    shuffles for them); the single real exchange is the
    lineitem⋈orders orderkey shuffle — at 100 TB both facts are
    bucketed on orderkey (sink_parquet_bucketed) and even that
    disappears. Volume is the exact-integer price protocol: cents ×
    (100−disc-cents) keeps every product a BIGINT (≤ ~3·10⁸/row —
    Σ exact to ~10¹⁰ rows/pair); no double enters the hash. 25×24
    output pairs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    vol = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("sn_key") != F.col("cn_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(vol).alias("volume_u"),
        )
    )


@op(
    "join_drill_across_facts",
    oracle="""
    WITH f_orders AS (
        SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY o_custkey
    ), f_events AS (
        SELECT user_id AS ck, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS engage_c
        FROM events GROUP BY user_id
    )
    SELECT c_custkey, c_mktsegment,
           CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
           CAST(coalesce(rev_c, 0) AS BIGINT) AS rev_c,
           CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
           CAST(coalesce(engage_c, 0) AS BIGINT) AS engage_c
    FROM f_orders
    FULL OUTER JOIN f_events USING (ck)
    JOIN customer ON c_custkey = ck
    """,
    category=CAT,
)
def join_drill_across_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRILL-ACROSS: one report row per customer combining TWO fact
    tables (order revenue ⋈ clickstream engagement) through the
    conformed customer dimension — the Kimball multi-fact pattern a
    naive single join gets WRONG (joining the raw facts directly
    fans out orders × events per customer and inflates every sum).
    Aggregate each fact to the conformed grain FIRST, then full-outer
    the |customers|-sized summaries; customers present in only one
    fact keep zeros on the other side.

    Each fact shuffles once on its own grouping key (that shuffle IS
    the conformed grain), the outer join runs over two pre-shrunk
    summaries, and the dim attach broadcasts. At 100 TB this is the
    only safe shape: fact-to-fact row-level joins are both a fan-out
    trap and an unbounded shuffle. Exact cents; zeros via coalesce,
    not NULL (a no-activity customer is a 0-metric row, §2.X rule 3
    keeps the hash NULL-free).
    """
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    f_orders = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "rev_c"
        ),
    )
    f_events = ev.groupBy(F.col("user_id").alias("ck")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("engage_c"),
    )
    drill = f_orders.join(f_events, "ck", "full_outer")
    return drill.join(F.broadcast(c), drill.ck == c.c_custkey).select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
        F.coalesce("rev_c", F.lit(0)).cast("bigint").alias("rev_c"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce("engage_c", F.lit(0)).cast("bigint").alias("engage_c"),
    )


@op(
    "join_calendar_dim_rollup",
    oracle="""
    WITH bounds AS (
        SELECT CAST(min(o_orderdate) AS DATE) AS lo,
               CAST(max(o_orderdate) AS DATE) AS hi
        FROM orders
    ), cal AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                   AS d
        FROM bounds
    ), dim AS (
        SELECT d,
               CAST(strftime(d, '%Y') AS INTEGER) AS yr,
               CAST((CAST(strftime(d, '%m') AS INTEGER) + 2) // 3
                    AS INTEGER) AS qtr,
               dayofweek(d) + 1 IN (1, 7) AS is_weekend
        FROM cal
    )
    SELECT yr, qtr, is_weekend,
           CAST(count(DISTINCT d) AS BIGINT) AS n_days,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(coalesce(CAST(round(o_totalprice * 100) AS BIGINT), 0))
                AS BIGINT) AS rev_c
    FROM dim LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
    GROUP BY yr, qtr, is_weekend
    """,
    category=CAT,
)
def join_calendar_dim_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED calendar dimension: the date dim every warehouse keeps
    (year / quarter / weekend flag per day), built from the fact's own
    date bounds via sequence+explode — no physical table, no gaps —
    then LEFT-joined so zero-order days still report (n_days counts
    calendar days, not order days; the difference IS the no-sales-day
    signal a per-fact GROUP BY silently loses; agg_weekend_lift reads
    activity lift, this produces the conformed rollup frame).

    Shape rule learned from the planner itself: the PRESERVED side of
    an outer join can never be the broadcast side, so "broadcast the
    dim, stream the fact" is impossible for dim-LEFT-JOIN-fact — the
    scale-correct plan aggregates the fact to per-day partials FIRST
    (one map-combined shuffle on date), then left-joins the |days|-row
    dim to the |days|-row summary with the SUMMARY broadcast. dayofweek
    carries the §2.X rule-4 +1 convention; quarter is integer month
    arithmetic, weekend a set-membership — all zone-independent DATE
    casts.
    """
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    dim = cal.select(
        "d",
        F.year("d").cast("int").alias("yr"),
        ((F.month("d") + 2) / 3).cast("int").alias("qtr"),
        F.dayofweek("d").isin(1, 7).alias("is_weekend"),
    )
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("od")
    ).agg(
        F.count("*").alias("day_orders"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("day_rev_c"),
    )
    return (
        dim.join(F.broadcast(daily), dim.d == daily.od, "left")
        .groupBy("yr", "qtr", "is_weekend")
        .agg(
            F.countDistinct("d").alias("n_days"),
            F.sum(F.coalesce("day_orders", F.lit(0))).alias("n_orders"),
            F.sum(F.coalesce("day_rev_c", F.lit(0))).alias("rev_c"),
        )
    )


# Feature-store cutoff: epoch-day midpoint of the order span (the
# agg_price_index rule) — everything AFTER the cutoff is the "future"
# a leaking feature would read.


@op(
    "pipeline_feature_store_snapshot",
    oracle="""
    WITH stamped AS (
        SELECT o_custkey, o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS rev_c,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS ed
        FROM orders
    ), bounds AS (
        SELECT (min(ed) + max(ed)) // 2 AS cutoff FROM stamped
    ), feats AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS f_frequency,
               CAST(sum(rev_c) AS BIGINT) AS f_monetary_c,
               CAST(max(ed) AS BIGINT) AS f_last_ed,
               CAST((SELECT cutoff FROM bounds) - max(ed) AS BIGINT)
                   AS f_recency_d
        FROM stamped WHERE ed <= (SELECT cutoff FROM bounds)
        GROUP BY o_custkey
    ), label AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS y_future_orders
        FROM stamped WHERE ed > (SELECT cutoff FROM bounds)
        GROUP BY o_custkey
    )
    SELECT c_custkey, c_mktsegment,
           CAST(coalesce(f_frequency, 0) AS BIGINT) AS f_frequency,
           CAST(coalesce(f_monetary_c, 0) AS BIGINT) AS f_monetary_c,
           CAST(coalesce(f_recency_d, -1) AS BIGINT) AS f_recency_d,
           CAST(coalesce(y_future_orders, 0) AS BIGINT) AS y_future_orders
    FROM customer
    LEFT JOIN feats ON o_custkey = c_custkey
    LEFT JOIN label ON label.o_custkey = c_custkey
    """,
    category=CAT,
)
def pipeline_feature_store_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EIGHTH capstone — a POINT-IN-TIME-correct feature-store
    snapshot: per-customer training features (frequency, monetary,
    recency) computed STRICTLY from orders at-or-before the cutoff,
    with the label (future order count) STRICTLY after it — the
    feature/label temporal firewall whose violation (leakage) is the
    most expensive silent bug in applied ML, enforced here by
    CONSTRUCTION (two disjoint time slices of one scan) rather than
    by reviewer vigilance. join_point_in_time looks up SCD2
    attributes at event time; this materializes the TRAINING TABLE —
    every customer appears (LEFT joins off the dim), cold customers
    get explicit zero/-1 sentinels, not NULLs (§2.X rule 3).

    One stamped scan → 1-row cutoff broadcast → two disjoint-slice
    rollups on the same custkey shuffle → dim-anchored left joins
    (both feature relations are |customers|-sized, broadcastable).
    Exact integers throughout; the epoch-day-midpoint cutoff is the
    deterministic stand-in for the wall-clock train-time cutoff
    (§2.X rule 5).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    stamped = o.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("rev_c"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("ed"),
    )
    bounds = stamped.agg(
        F.expr("(min(ed) + max(ed)) div 2").alias("cutoff")
    )
    stamped_c = stamped.crossJoin(F.broadcast(bounds))
    feats = (
        stamped_c.filter(F.col("ed") <= F.col("cutoff"))
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("f_frequency"),
            F.sum("rev_c").alias("f_monetary_c"),
            (F.max("cutoff") - F.max("ed")).alias("f_recency_d"),
        )
    )
    label = (
        stamped_c.filter(F.col("ed") > F.col("cutoff"))
        .groupBy(F.col("o_custkey").alias("l_custkey"))
        .agg(F.count("*").alias("y_future_orders"))
    )
    return (
        c.join(feats, c.c_custkey == feats.o_custkey, "left")
        .join(label, c.c_custkey == label.l_custkey, "left")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.coalesce("f_frequency", F.lit(0))
            .cast("bigint")
            .alias("f_frequency"),
            F.coalesce("f_monetary_c", F.lit(0))
            .cast("bigint")
            .alias("f_monetary_c"),
            F.coalesce("f_recency_d", F.lit(-1))
            .cast("bigint")
            .alias("f_recency_d"),
            F.coalesce("y_future_orders", F.lit(0))
            .cast("bigint")
            .alias("y_future_orders"),
        )
    )


@op(
    "join_bitemporal_asof",
    oracle="""
    WITH versions AS (
        SELECT c_custkey, c_mktsegment AS seg, 1 AS tx FROM customer
        UNION ALL
        SELECT c_custkey, 'CORRECTED-' || c_mktsegment, 2
        FROM customer WHERE c_custkey % 11 = 0
        UNION ALL
        SELECT c_custkey, 'RESTATED', 3
        FROM customer WHERE c_custkey % 77 = 0
    ), as_of AS (
        SELECT c_custkey,
               max(CASE WHEN tx <= 1 THEN tx END) AS t1,
               max(CASE WHEN tx <= 2 THEN tx END) AS t2,
               max(tx) AS t3
        FROM versions GROUP BY c_custkey
    ), knowledge AS (
        SELECT a.c_custkey,
               v1.seg AS seg_asof_1, v2.seg AS seg_asof_2, v3.seg AS seg_asof_3
        FROM as_of a
        JOIN versions v1 ON v1.c_custkey = a.c_custkey AND v1.tx = a.t1
        JOIN versions v2 ON v2.c_custkey = a.c_custkey AND v2.tx = a.t2
        JOIN versions v3 ON v3.c_custkey = a.c_custkey AND v3.tx = a.t3
    )
    SELECT c_custkey, seg_asof_1, seg_asof_2, seg_asof_3,
           (seg_asof_2 <> seg_asof_1) AS corrected_at_2,
           (seg_asof_3 <> seg_asof_2) AS corrected_at_3
    FROM knowledge
    WHERE seg_asof_2 <> seg_asof_1 OR seg_asof_3 <> seg_asof_2
    """,
    category=CAT,
)
def join_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL as-of-knowledge audit: what did we BELIEVE each
    customer's segment was as of transaction-time 1, 2, and 3 — the
    second time axis SCD2 doesn't have (full_snapshot_scd2 tracks
    when reality changed [valid time]; transaction time tracks when
    WE LEARNED it, and restating last quarter's report requires
    replaying knowledge, not reality). The derived correction feed
    (≡0 mod 11 corrected at load 2, ≡0 mod 77 restated at load 3 —
    the merge_cdc_apply self-derivation trick) yields rows whose
    knowledge CHANGED — exactly the "why did January's number move"
    audit trail.

    Version union → per-key latest-tx-≤-T resolution for each of the
    three knowledge points in ONE aggregate (conditional max per
    horizon — the as-of join done as three conditional aggs over one
    custkey shuffle, not three window passes); corrections are a
    tiny fraction, so at 100 TB the version table is dominated by
    tx=1 and the resolution stays one map-combined pass. Flags
    compare exact strings (§2.X).
    """
    c = load_table(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey", F.col("c_mktsegment").alias("seg"), F.lit(1).alias("tx")
    )
    v2 = (
        c.filter(F.col("c_custkey") % 11 == 0)
        .select(
            "c_custkey",
            F.concat(F.lit("CORRECTED-"), F.col("c_mktsegment")).alias("seg"),
            F.lit(2).alias("tx"),
        )
    )
    v3 = (
        c.filter(F.col("c_custkey") % 77 == 0)
        .select("c_custkey", F.lit("RESTATED").alias("seg"), F.lit(3).alias("tx"))
    )
    versions = v1.unionByName(v2).unionByName(v3)
    resolved = versions.groupBy("c_custkey").agg(
        *[
            F.max(
                F.when(
                    F.col("tx") <= t,
                    F.struct(F.col("tx").alias("t"), F.col("seg").alias("s")),
                )
            )["s"].alias(f"seg_asof_{t}")
            for t in (1, 2, 3)
        ]
    )
    return resolved.filter(
        (F.col("seg_asof_2") != F.col("seg_asof_1"))
        | (F.col("seg_asof_3") != F.col("seg_asof_2"))
    ).select(
        "c_custkey",
        "seg_asof_1",
        "seg_asof_2",
        "seg_asof_3",
        (F.col("seg_asof_2") != F.col("seg_asof_1")).alias("corrected_at_2"),
        (F.col("seg_asof_3") != F.col("seg_asof_2")).alias("corrected_at_3"),
    )


# Literal currency dimension: nation id ranges -> currency + ppm rate
# to USD (1 local unit = rate_ppm / 1e6 USD). A real deployment loads
# this from a rates table; the VALUES literal keeps the op self-contained.
FX_DIM: list[tuple[int, str, int]] = [
    (0, "USD", 1000000), (1, "USD", 1000000), (2, "EUR", 1080000),
    (3, "EUR", 1080000), (4, "EUR", 1080000), (5, "GBP", 1270000),
    (6, "GBP", 1270000), (7, "JPY", 6700), (8, "JPY", 6700),
    (9, "JPY", 6700), (10, "CNY", 140000), (11, "CNY", 140000),
    (12, "CNY", 140000), (13, "INR", 12000), (14, "INR", 12000),
    (15, "BRL", 180000), (16, "BRL", 180000), (17, "CAD", 730000),
    (18, "CAD", 730000), (19, "AUD", 650000), (20, "AUD", 650000),
    (21, "CHF", 1100000), (22, "CHF", 1100000), (23, "MXN", 58000),
    (24, "MXN", 58000),
]

_FX_SQL_ROWS = ", ".join(f"({n}, '{c}', {r})" for n, c, r in FX_DIM)


@op(
    "join_fx_normalize",
    oracle=f"""
    WITH fx AS (
        SELECT * FROM (VALUES {_FX_SQL_ROWS}) v(nationkey, currency, rate_ppm)
    ), rev AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS local_c
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
    SELECT fx.currency,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(rev.n_orders) AS BIGINT) AS n_orders,
           CAST(sum(rev.local_c) AS BIGINT) AS local_c,
           CAST(sum((rev.local_c * fx.rate_ppm) // 1000000) AS BIGINT)
               AS usd_c
    FROM rev JOIN fx ON fx.nationkey = rev.nationkey
    GROUP BY fx.currency
    ORDER BY fx.currency
    """,
    category=CAT,
)
def join_fx_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Currency normalization through a broadcast rate dimension:
    per-nation order revenue treated as LOCAL-currency cents,
    converted to USD at literal ppm rates and rolled up by currency
    — the Kimball multi-currency fact pattern (store local + rate,
    derive reporting currency; storing only converted values loses
    the audit trail and every restatement re-scans the fact). The
    deliberately coarse rate table (JPY at 0.0067) makes conversion
    bugs visible at a glance: JPY revenue shrinking 150× is obvious,
    a 1.08 EUR error is not.

    Rates are INTEGER ppm so conversion is exact BIGINT
    (local_c · rate_ppm div 10⁶ — truncating div, stated;
    per-nation then per-currency rollups are both map-combined).
    The 25-row dim broadcasts; the fact aggregates BEFORE the join
    (agg-below-join: 100 TB of orders collapses to ≤|nations| rows
    first — the drill-across rule).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    fx = spark.createDataFrame(
        FX_DIM, "nationkey int, currency string, rate_ppm bigint"
    )
    rev = (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100))
            .cast("bigint")
            .alias("local_c"),
        )
    )
    return (
        rev.join(F.broadcast(fx), "nationkey")
        .select(
            "currency",
            "n_orders",
            "local_c",
            F.expr("(local_c * rate_ppm) div 1000000").alias("usd_part"),
        )
        .groupBy("currency")
        .agg(
            F.count("*").cast("bigint").alias("n_nations"),
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("local_c").cast("bigint").alias("local_c"),
            F.sum("usd_part").cast("bigint").alias("usd_c"),
        )
        .orderBy("currency")
    )


# Fellegi–Sunter integer log-odds weights (agreement / disagreement)
RL_W_NAME = (40, -10)
RL_W_BAL = (25, -5)
RL_W_SEG = (10, -15)
RL_MATCH_THRESHOLD = 50


@op(
    "join_record_linkage_score",
    oracle=f"""
    WITH dirty AS (
        SELECT c_custkey + 1000000000 AS ck2,
               CASE WHEN c_custkey % 5 = 0 THEN c_name || 'X'
                    ELSE c_name END AS name2,
               CAST(round(c_acctbal * 100) AS BIGINT)
                   + (c_custkey * 7919) % 21 - 10 AS bal_c2,
               CASE WHEN c_custkey % 13 = 0 THEN 'FURNITURE'
                    ELSE c_mktsegment END AS seg2,
               c_nationkey AS nk2
        FROM customer
    ), clean AS (
        SELECT c_custkey AS ck, c_name AS name1,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c1,
               c_mktsegment AS seg1, c_nationkey AS nk1
        FROM customer
    ), scored AS (
        SELECT ck, ck2,
               (CASE WHEN name1 = name2 THEN {RL_W_NAME[0]}
                     ELSE {RL_W_NAME[1]} END
                + CASE WHEN abs(bal_c1 - bal_c2) <= 10 THEN {RL_W_BAL[0]}
                       ELSE {RL_W_BAL[1]} END
                + CASE WHEN seg1 = seg2 THEN {RL_W_SEG[0]}
                       ELSE {RL_W_SEG[1]} END) AS score,
               (ck2 - 1000000000 = ck) AS is_true
        FROM clean JOIN dirty ON nk1 = nk2
    )
    SELECT score,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           CAST((sum(CASE WHEN is_true THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS precision_ppm,
           score >= {RL_MATCH_THRESHOLD} AS classified_match
    FROM scored GROUP BY score ORDER BY score
    """,
    category=CAT,
)
def join_record_linkage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi–Sunter): the customer
    table linked against a deterministically-DEGRADED copy of itself
    (20 % of names mutated, balances jittered ±10 cents, 1-in-13
    segments flipped — the injected-dirt pattern with GROUND TRUTH:
    pair truth is knowable because the surrogate key encodes it), via
    nation blocking + per-field integer log-odds agreement weights.
    The deliverable is the SCORE HISTOGRAM with per-score precision —
    exactly the plot an entity-resolution team uses to place the
    match threshold, and the mutated-name mass stranded at score 25
    (below the 50 cut) is the recall cost of exact-name matching
    made visible.

    Blocking is the scale decision: the nation equi-key caps
    candidates at Σ|block|² instead of |table|² — the same reason
    dedup blocks on (lang, length band); at 100 TB you block on a
    higher-cardinality key (zip, name-soundex) with identical plan
    shape. All weights/scores integer, precision in integer ppm —
    the only division is a BIGINT div.
    """
    c = load_table(spark, sf_dir, "customer")
    # r12: the dirty side broadcasts (AQE), so the probe stage — which
    # expands ~|c|²/|nations| candidate pairs and evaluates the three
    # agreement tests on each — runs at the SCAN's parallelism: one
    # task on the one-row-group test corpus. Spread the 15k-row probe
    # side (id-sized rows, trivial exchange; no-op at production split
    # counts): 3.2 s → measured below at sf0.1.
    clean = spread_scan(c).select(
        F.col("c_custkey").alias("ck"),
        F.col("c_name").alias("name1"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c1"),
        F.col("c_mktsegment").alias("seg1"),
        F.col("c_nationkey").alias("nk1"),
    )
    dirty = c.select(
        (F.col("c_custkey") + 1000000000).alias("ck2"),
        F.when(
            F.col("c_custkey") % 5 == 0, F.concat(F.col("c_name"), F.lit("X"))
        )
        .otherwise(F.col("c_name"))
        .alias("name2"),
        (
            F.round(F.col("c_acctbal") * 100).cast("bigint")
            + (F.col("c_custkey") * 7919) % 21
            - 10
        ).alias("bal_c2"),
        F.when(F.col("c_custkey") % 13 == 0, F.lit("FURNITURE"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg2"),
        F.col("c_nationkey").alias("nk2"),
    )
    score = (
        F.when(F.col("name1") == F.col("name2"), RL_W_NAME[0]).otherwise(
            RL_W_NAME[1]
        )
        + F.when(
            F.abs(F.col("bal_c1") - F.col("bal_c2")) <= 10, RL_W_BAL[0]
        ).otherwise(RL_W_BAL[1])
        + F.when(F.col("seg1") == F.col("seg2"), RL_W_SEG[0]).otherwise(
            RL_W_SEG[1]
        )
    )
    scored = clean.join(dirty, F.col("nk1") == F.col("nk2")).select(
        score.alias("score"),
        (F.col("ck2") - 1000000000 == F.col("ck")).alias("is_true"),
    )
    return (
        scored.groupBy("score")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("is_true"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_true"),
        )
        .select(
            "score",
            "n_pairs",
            "n_true",
            F.expr("(n_true * 1000000) div n_pairs")
            .cast("bigint")
            .alias("precision_ppm"),
            (F.col("score") >= RL_MATCH_THRESHOLD).alias("classified_match"),
        )
        .orderBy("score")
    )


SPLIT_SHIP_BANDS = (7, 30)  # days: tight / split / badly-split


@op(
    "join_order_split_shipments",
    oracle=f"""
    WITH spans AS (
        SELECT l_orderkey AS ok,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(date_diff('day', min(CAST(l_shipdate AS DATE)),
                              max(CAST(l_shipdate AS DATE))) AS BIGINT)
                   AS span_days
        FROM lineitem GROUP BY 1
        HAVING count(*) > 1
    ), banded AS (
        SELECT CASE WHEN span_days <= {SPLIT_SHIP_BANDS[0]} THEN 'tight'
                    WHEN span_days <= {SPLIT_SHIP_BANDS[1]} THEN 'split'
                    ELSE 'badly_split' END AS band,
               n_lines, span_days
        FROM spans
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM spans)
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_lines) AS BIGINT) AS n_lines,
           CAST(max(span_days) AS BIGINT) AS max_span_days,
           CAST((count(*) * 1000000) // (SELECT n FROM tot) AS BIGINT)
               AS share_ppm
    FROM banded GROUP BY band ORDER BY band
    """,
    category=CAT,
)
def join_order_split_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-shipment audit: multi-line orders banded by their
    INTRA-order ship-date spread (≤{SPLIT_SHIP_BANDS[0]}d tight,
    ≤{SPLIT_SHIP_BANDS[1]}d split, beyond = badly split) — the
    consolidation-failure report (every extra shipment per order is
    a packaging+freight cost and a doorstep annoyance;
    agg_fulfillment_lag measures order→ship latency, this measures
    ship→ship SPREAD within the order — an order can be fast AND
    badly split, and the two reports disagree exactly there).

    One groupBy on the fact's own key (no join despite living in the
    join family: the 'self-join' min/max-per-order formulation
    collapses to a grouped aggregate — stated because the naive
    first-vs-last-line pairing is a real antipattern); single-line
    orders excluded by HAVING (a span of zero days from one line is
    vacuous, not 'tight'). Integer day spans, exact band edges,
    ppm shares vs the multi-line order total.
    """
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.datediff(
                F.max(F.to_date("l_shipdate")), F.min(F.to_date("l_shipdate"))
            )
            .cast("bigint")
            .alias("span_days"),
        )
        .filter(F.col("n_lines") > 1)
    )
    band = (
        F.when(F.col("span_days") <= SPLIT_SHIP_BANDS[0], "tight")
        .when(F.col("span_days") <= SPLIT_SHIP_BANDS[1], "split")
        .otherwise("badly_split")
    )
    tot = spans.agg(F.count("*").cast("bigint").alias("n"))
    return (
        spans.select(band.alias("band"), "n_lines", "span_days")
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("n_lines").cast("bigint").alias("n_lines"),
            F.max("span_days").cast("bigint").alias("max_span_days"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_orders",
            "n_lines",
            "max_span_days",
            F.expr("(n_orders * 1000000) div n")
            .cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy("band")
    )


@op(
    "join_coverage_gaps",
    oracle="""
    WITH grid AS (
        SELECT r.r_name AS region, p.p_brand AS brand
        FROM (SELECT DISTINCT r_name FROM region) r
        CROSS JOIN (SELECT DISTINCT p_brand FROM part) p
    ), observed AS (
        SELECT DISTINCT r.r_name AS region, p.p_brand AS brand
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ), cells AS (
        SELECT g.region, g.brand,
               (o.region IS NOT NULL) AS covered
        FROM grid g
        LEFT JOIN observed o
          ON o.region = g.region AND o.brand = g.brand
    )
    SELECT region,
           CAST(count(*) AS BIGINT) AS n_brands,
           CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered,
           CAST(sum(CASE WHEN covered THEN 0 ELSE 1 END) AS BIGINT)
               AS n_gaps,
           CAST((sum(CASE WHEN covered THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS coverage_ppm
    FROM cells GROUP BY region ORDER BY region
    """,
    category=CAT,
)
def join_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment coverage-gap matrix: region × brand cells with NO
    sales, against the DENSE generated grid — the absence report
    joins cannot produce from facts alone (a fact table only records
    what HAPPENED; 'which brands has EUROPE never bought' needs the
    cross-join universe first, then an anti-membership test — the
    same generated-universe discipline as ts_gap_fill's date spine
    and dq_sequence_gaps' keyspace, applied to a 2-D category grid;
    merchandisers call the gap cells whitespace and sales teams are
    TARGETED on them).

    The grid is |regions|·|brands| (dim × dim — dense by
    construction and tiny; at real catalog scale you'd grid at the
    category level, same plan); observed cells come from ONE
    distinct-pair pass over the fully-broadcast star join, and
    coverage is a LEFT-join membership flag rolled up with integer
    ppm. The fact is scanned once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    grid = (
        r.select(F.col("r_name").alias("region"))
        .distinct()
        .crossJoin(p.select(F.col("p_brand").alias("brand")).distinct())
    )
    observed = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .join(p, p.p_partkey == li.l_partkey)
        .select(F.col("r_name").alias("region"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    cells = grid.join(
        observed.withColumn("covered", F.lit(True)),
        ["region", "brand"],
        "left",
    ).select(
        "region", "brand", F.coalesce("covered", F.lit(False)).alias("covered")
    )
    return (
        cells.groupBy("region")
        .agg(
            F.count("*").cast("bigint").alias("n_brands"),
            F.sum(F.when(F.col("covered"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
            F.sum(F.when(F.col("covered"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_gaps"),
        )
        .select(
            "region",
            "n_brands",
            "n_covered",
            "n_gaps",
            F.expr("(n_covered * 1000000) div n_brands")
            .cast("bigint")
            .alias("coverage_ppm"),
        )
        .orderBy("region")
    )


@op(
    "join_repeat_basket_similarity",
    oracle="""
    WITH ord AS (
        SELECT o_custkey AS ck, o_orderkey AS ok,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ), pairs AS (
        SELECT a.ck, a.ok AS ok1, b.ok AS ok2
        FROM ord a JOIN ord b ON b.ck = a.ck AND b.rn = a.rn + 1
    ), items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), sizes AS (
        SELECT ok, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY ok
    ), inter AS (
        SELECT p.ck, p.ok1, p.ok2, CAST(count(*) AS BIGINT) AS shared
        FROM pairs p
        JOIN items i1 ON i1.ok = p.ok1
        JOIN items i2 ON i2.ok = p.ok2 AND i2.pk = i1.pk
        GROUP BY 1, 2, 3
    ), scored AS (
        SELECT c.c_mktsegment AS seg,
               coalesce(i.shared, 0) AS shared,
               s1.n + s2.n - coalesce(i.shared, 0) AS unions
        FROM pairs p
        JOIN customer c ON c.c_custkey = p.ck
        JOIN sizes s1 ON s1.ok = p.ok1
        JOIN sizes s2 ON s2.ok = p.ok2
        LEFT JOIN inter i ON i.ok1 = p.ok1 AND i.ok2 = p.ok2
    )
    SELECT seg,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overlapping,
           CAST(sum(shared) AS BIGINT) AS sum_shared,
           CAST(sum(unions) AS BIGINT) AS sum_union,
           CAST((sum(shared) * 1000000) // sum(unions) AS BIGINT)
               AS pooled_jaccard_ppm
    FROM scored GROUP BY seg ORDER BY seg
    """,
    category=CAT,
)
def join_repeat_basket_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-basket similarity: for every customer's adjacent
    order pair, the part-set overlap, pooled into a per-segment
    Jaccard in ppm — the replenishment-vs-exploration axis of
    repeat behavior (a grocery basket repeats ~50 %+; here ~0.8 %
    of adjacent pairs share ANY part, i.e. this catalog sells
    exploration — which kills replenishment-reminder features and
    validates discovery-style recommendations: the NEGATIVE finding
    is the product decision, and join_copurchase_pairs can't see it
    because it aggregates across customers).

    Adjacent pairs come from one per-customer rank window (rn+1
    self-join — the Markov-transition shape on orders); overlap is
    an equi-join on (basket, part) — candidate work ∝ actual shared
    parts, never basket²; non-overlapping pairs are kept by LEFT
    join with coalesce-0 (dropping them would inflate the pooled
    Jaccard ~100×, the silent-inner-join trap). POOLED Jaccard
    (Σ∩/Σ∪, exact BIGINT ppm) avoids averaging per-pair floats.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    # r13 (guide §2.4 remove shuffles outright): adjacent pairs come
    # from lead() over the SAME per-customer window the old rank took —
    # the rn+1 SELF-join (which re-ran the window on both sides and
    # shuffled orders twice more) produced exactly the pairs
    # (row rn, row rn+1) under this total order, and lead(ok) IS the
    # rn+1 row's ok (pair relation verified exceptAll-identical both
    # ways at sf0.1 before the swap). Persisted: consumed by the
    # overlap aggregate AND the scoring join.
    pairs = tracked_persist(
        o.select(
            F.col("o_custkey").alias("ck"),
            F.col("o_orderkey").alias("ok1"),
            "o_orderdate",
        )
        .select("ck", "ok1", F.lead("ok1").over(
            Window.partitionBy("ck").orderBy("o_orderdate", "ok1")
        ).alias("ok2"))
        .filter(F.col("ok2").isNotNull())
    )
    # r13 (guide §5): consumed by sizes + both intersection sides —
    # the distinct otherwise evaluates three times.
    items = tracked_persist(
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct()
    )
    sizes = items.groupBy("ok").agg(F.count("*").cast("bigint").alias("n"))
    i1 = items.select(F.col("ok").alias("ok1"), F.col("pk").alias("pk1"))
    i2 = items.select(F.col("ok").alias("ok2"), F.col("pk").alias("pk2"))
    inter = (
        pairs.join(i1, "ok1")
        .join(i2, "ok2")
        .filter(F.col("pk1") == F.col("pk2"))
        .groupBy("ok1", "ok2")
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    s1 = sizes.select(F.col("ok").alias("ok1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("ok").alias("ok2"), F.col("n").alias("n2"))
    scored = (
        pairs.join(c, c.c_custkey == F.col("ck"))
        .join(s1, "ok1")
        .join(s2, "ok2")
        .join(inter, ["ok1", "ok2"], "left")
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.coalesce("shared", F.lit(0)).alias("shared"),
            (F.col("n1") + F.col("n2") - F.coalesce("shared", F.lit(0))).alias(
                "unions"
            ),
        )
    )
    return (
        scored.groupBy("seg")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("shared") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_overlapping"),
            F.sum("shared").cast("bigint").alias("sum_shared"),
            F.sum("unions").cast("bigint").alias("sum_union"),
        )
        .select(
            "seg",
            "n_pairs",
            "n_overlapping",
            "sum_shared",
            "sum_union",
            F.expr("(sum_shared * 1000000) div sum_union")
            .cast("bigint")
            .alias("pooled_jaccard_ppm"),
        )
        .orderBy("seg")
    )


@op(
    "join_asof_policy_sensitivity",
    oracle="""
    WITH purch AS (
        SELECT event_id AS pid, user_id, ts AS pts FROM events
        WHERE event_type = 'purchase'
    ), errs AS (
        SELECT user_id, ts AS ets, event_id AS eid FROM events
        WHERE event_type = 'error'
    ), backward AS (
        SELECT p.pid,
               max_by(e.eid, lpad(CAST(epoch_us(e.ets) AS VARCHAR), 20, '0')
                             || lpad(CAST(e.eid AS VARCHAR), 12, '0'))
                   AS b_eid
        FROM purch p JOIN errs e
          ON e.user_id = p.user_id AND e.ets <= p.pts
        GROUP BY p.pid
    ), forward AS (
        SELECT p.pid,
               min_by(e.eid, lpad(CAST(epoch_us(e.ets) AS VARCHAR), 20, '0')
                             || lpad(CAST(e.eid AS VARCHAR), 12, '0'))
                   AS f_eid
        FROM purch p JOIN errs e
          ON e.user_id = p.user_id AND e.ets >= p.pts
        GROUP BY p.pid
    ), joined AS (
        SELECT p.pid, b.b_eid, f.f_eid
        FROM purch p
        LEFT JOIN backward b ON b.pid = p.pid
        LEFT JOIN forward f ON f.pid = p.pid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN b_eid IS NOT NULL AND f_eid IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(sum(CASE WHEN b_eid IS NULL AND f_eid IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_forward_only,
           CAST(sum(CASE WHEN b_eid IS NOT NULL AND f_eid IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_backward_only,
           CAST(sum(CASE WHEN b_eid IS NOT NULL AND f_eid IS NOT NULL
                          AND b_eid <> f_eid
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_policy_sensitive
    FROM joined
    """,
    category=CAT,
)
def join_asof_policy_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of POLICY sensitivity: for every purchase, match the same
    user's error events under BACKWARD (latest ≤ t) and FORWARD
    (earliest ≥ t) policies and count where the choice changes the
    answer — the report that turns 'which asof direction?' from a
    code-review opinion into a measured property of the feed
    (join_asof / _tolerance / _nearest each implement ONE policy;
    this op measures how much they can disagree on real data —
    n_policy_sensitive / n_both is the share of enrichments where
    direction ALONE changes the joined row, and the *_only columns
    show the boundary losses each policy silently takes at the
    stream's edges).

    Each policy is one range join + max_by/min_by over a zero-padded
    (epoch, id) STRING key — a sortable total order both engines'
    max_by accept (neither takes a struct key, gate-caught); no
    window over the full event stream; the
    probe set partitions by user like every asof op. All counts
    integer; the summary is one row.
    """
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puid"),
        F.col("ts").alias("pts"),
    )
    errs = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("euid"),
        F.col("ts").alias("ets"),
        F.col("event_id").alias("eid"),
    )
    backward = (
        purch.join(
            errs,
            (F.col("euid") == F.col("puid")) & (F.col("ets") <= F.col("pts")),
        )
        .groupBy("pid")
        .agg(
            F.expr(
                "max_by(eid, concat(lpad(cast(unix_micros(ets) AS STRING),"
                " 20, '0'), lpad(cast(eid AS STRING), 12, '0')))"
            ).alias("b_eid")
        )
    )
    forward = (
        purch.join(
            errs,
            (F.col("euid") == F.col("puid")) & (F.col("ets") >= F.col("pts")),
        )
        .groupBy("pid")
        .agg(
            F.expr(
                "min_by(eid, concat(lpad(cast(unix_micros(ets) AS STRING),"
                " 20, '0'), lpad(cast(eid AS STRING), 12, '0')))"
            ).alias("f_eid")
        )
    )
    joined = (
        purch.select("pid")
        .join(backward, "pid", "left")
        .join(forward, "pid", "left")
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum(
            F.when(
                F.col("b_eid").isNotNull() & F.col("f_eid").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_both"),
        F.sum(
            F.when(
                F.col("b_eid").isNull() & F.col("f_eid").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_forward_only"),
        F.sum(
            F.when(
                F.col("b_eid").isNotNull() & F.col("f_eid").isNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_backward_only"),
        F.sum(
            F.when(
                F.col("b_eid").isNotNull()
                & F.col("f_eid").isNotNull()
                & (F.col("b_eid") != F.col("f_eid")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_policy_sensitive"),
    )


@op(
    "join_bridge_allocation",
    oracle="""
    WITH lines AS (
        SELECT l.l_orderkey AS ok, l.l_partkey AS pk, l.l_linenumber AS ln,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS w_c,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_c
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), order_w AS (
        SELECT ok, CAST(sum(w_c) AS BIGINT) AS wsum FROM lines GROUP BY ok
    ), quota AS (
        SELECT li.ok, li.pk, li.ln, li.total_c, w.wsum,
               CAST((li.total_c * li.w_c) // w.wsum AS BIGINT) AS floor_c,
               CAST((li.total_c * li.w_c) % w.wsum AS BIGINT) AS rem,
               CAST(count(*) OVER (PARTITION BY li.ok) AS BIGINT) AS n_lines
        FROM lines li JOIN order_w w ON w.ok = li.ok
    ), ranked AS (
        SELECT ok, pk, floor_c, total_c,
               row_number() OVER (PARTITION BY ok
                                  ORDER BY rem DESC, pk, ln) AS rr,
               CAST(total_c - sum(floor_c) OVER (PARTITION BY ok)
                    AS BIGINT) AS shortfall
        FROM quota
    ), alloc AS (
        SELECT ok, pk,
               floor_c + CASE WHEN rr <= shortfall THEN 1 ELSE 0 END
                   AS alloc_c,
               total_c
        FROM ranked
    ), recon AS (
        SELECT ok, CAST(sum(alloc_c) AS BIGINT) AS alloc_sum,
               CAST(max(total_c) AS BIGINT) AS total_c
        FROM alloc GROUP BY ok
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN alloc_sum = total_c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reconciled,
           CAST(sum(alloc_sum) AS BIGINT) AS total_allocated_c,
           sum(CASE WHEN alloc_sum = total_c THEN 1 ELSE 0 END) = count(*)
               AS all_reconciled
    FROM recon
    """,
    category=CAT,
)
def join_bridge_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball bridge-table allocation: each order's header total
    distributed to its lines proportionally to line value, in cents,
    with Hamilton largest-remainder top-ups so EVERY order's
    allocations sum to its total EXACTLY — the many-to-many bridge
    construction rule (naive proportional rounding leaves ±n/2
    cents per order; at GL close those pennies are a reconciliation
    break someone chases for a day, which is why bridge weights must
    be built remainder-aware — corpus_budget_apportion is the same
    Hamilton method on token budgets, this is it on the money
    structure it was invented for). The one-row report counts
    orders whose allocations reconcile: the op's own claim, checked
    row-by-row inside the op.

    Floors and remainders are integer div/mod per line; the top-up
    set is a per-order rank window on remainder (deterministic
    (rem, part, line) order); the shortfall equals the remainder
    count by construction, verified rather than assumed. All
    windows partition by order — fully parallel at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lines = li.join(o, o.o_orderkey == li.l_orderkey).select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").alias("pk"),
        F.col("l_linenumber").alias("ln"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("w_c"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_c"),
    )
    order_w = lines.groupBy("ok").agg(F.sum("w_c").cast("bigint").alias("wsum"))
    quota = lines.join(order_w, "ok").select(
        "ok",
        "pk",
        "ln",
        "total_c",
        F.expr("(total_c * w_c) div wsum").cast("bigint").alias("floor_c"),
        F.expr("(total_c * w_c) % wsum").cast("bigint").alias("rem"),
    )
    wo = Window.partitionBy("ok")
    ranked = quota.select(
        "ok",
        "pk",
        "floor_c",
        "total_c",
        F.row_number()
        .over(wo.orderBy(F.desc("rem"), "pk", "ln"))
        .alias("rr"),
        (F.col("total_c") - F.sum("floor_c").over(wo)).cast("bigint").alias(
            "shortfall"
        ),
    )
    alloc = ranked.select(
        "ok",
        "total_c",
        (
            F.col("floor_c")
            + F.when(F.col("rr") <= F.col("shortfall"), 1).otherwise(0)
        ).alias("alloc_c"),
    )
    recon = alloc.groupBy("ok").agg(
        F.sum("alloc_c").cast("bigint").alias("alloc_sum"),
        F.max("total_c").cast("bigint").alias("total_c"),
    )
    ok_flag = F.col("alloc_sum") == F.col("total_c")
    return recon.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.when(ok_flag, 1).otherwise(0)).cast("bigint").alias(
            "n_reconciled"
        ),
        F.sum("alloc_sum").cast("bigint").alias("total_allocated_c"),
        (
            F.sum(F.when(ok_flag, 1).otherwise(0)) == F.count("*")
        ).alias("all_reconciled"),
    )


@op(
    "join_allen_interval_relations",
    oracle="""
    WITH iv AS (
      SELECT o.o_custkey, o.o_orderkey, o.o_orderdate AS s,
             max(l.l_shipdate) AS e
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2, 3),
    seq AS (
      SELECT o_custkey, s AS s1, e AS e1,
             lead(s) OVER w AS s2, lead(e) OVER w AS e2
      FROM iv
      WINDOW w AS (PARTITION BY o_custkey ORDER BY s, e, o_orderkey)),
    rel AS (
      SELECT CASE
          WHEN e1 < s2 THEN 'before'
          WHEN e1 = s2 THEN 'meets'
          WHEN s1 = s2 AND e1 = e2 THEN 'equals'
          WHEN s1 = s2 AND e1 < e2 THEN 'starts'
          WHEN s1 = s2 THEN 'started_by'
          WHEN e1 < e2 THEN 'overlaps'
          WHEN e1 = e2 THEN 'finished_by'
          ELSE 'contains' END AS relation
      FROM seq WHERE s2 IS NOT NULL),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rel)
    SELECT r.relation, CAST(count(*) AS BIGINT) AS n_pairs,
           round(count(*) * 1.0 / t.n, 9) AS share
    FROM rel r CROSS JOIN tot t
    GROUP BY r.relation, t.n ORDER BY n_pairs DESC, relation
    """,
    category=CAT,
)
def join_allen_interval_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra (Allen, CACM'83) as a feed diagnostic:
    each order's ACTIVE interval [orderdate, last shipdate] classified
    against the customer's NEXT order's interval into the relation
    vocabulary (before/meets/overlaps/starts/contains/...), counted
    corpus-wide. This is the one-table answer to 'do our order
    lifecycles actually overlap?' that every temporal-join policy
    decision (join_overlap_accounting, join_coverage_gaps,
    join_point_in_time) silently assumes — here ~45% of consecutive
    pairs are CONTAINED in the prior order's window, so an
    'intervals are disjoint' assumption would be wrong half the time.

    Consecutive pairing is ONE lag/lead window per customer (never an
    interval self-join — the pair set is defined by adjacency, so the
    window IS the semantics, partitioned by customer, total order via
    (start, end, orderkey)). Classification is a fixed-order CASE
    over exact timestamp compares — with the left interval
    lexicographically ≤ the right by construction, the reachable
    vocabulary is the 8 non-inverse relations, each hit exactly once.
    Integer counts; one rounded share division against a broadcast
    1-row total.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "o_orderkey", F.col("o_orderdate").alias("s"))
        .agg(F.max("l_shipdate").alias("e"))
    )
    w = Window.partitionBy("o_custkey").orderBy("s", "e", "o_orderkey")
    seq = iv.select(
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
        F.lead("s").over(w).alias("s2"),
        F.lead("e").over(w).alias("e2"),
    ).filter(F.col("s2").isNotNull())
    relation = (
        F.when(F.col("e1") < F.col("s2"), "before")
        .when(F.col("e1") == F.col("s2"), "meets")
        .when((F.col("s1") == F.col("s2")) & (F.col("e1") == F.col("e2")), "equals")
        .when((F.col("s1") == F.col("s2")) & (F.col("e1") < F.col("e2")), "starts")
        .when(F.col("s1") == F.col("s2"), "started_by")
        .when(F.col("e1") < F.col("e2"), "overlaps")
        .when(F.col("e1") == F.col("e2"), "finished_by")
        .otherwise("contains")
    )
    rel = seq.select(relation.alias("relation"))
    tot = rel.agg(F.count("*").cast("bigint").alias("n"))
    return (
        rel.groupBy("relation")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "relation",
            "n_pairs",
            F.round(F.col("n_pairs") * 1.0 / F.col("n"), 9).alias("share"),
        )
        .orderBy(F.desc("n_pairs"), "relation")
    )


DPP_ERA_SPLIT = 1997
DPP_DIM_YEARS = (1990, 2005)  # half-open


@op(
    "join_dynamic_partition_pruning",
    oracle=f"""
    SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS qty_c
    FROM lineitem
    WHERE year(l_shipdate) >= {DPP_ERA_SPLIT}
      AND year(l_shipdate) < {DPP_DIM_YEARS[1]}
    GROUP BY 1 ORDER BY 1
    """,
    category=CAT,
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP, Spark 3.0+): the fact table is
    laid out partitioned by ship_year, the era dim is filtered at
    RUNTIME, and Catalyst injects a subquery-broadcast partition filter
    into the fact SCAN — only the matching year directories are ever
    read. This is THE access-path feature for star joins on a
    partitioned 100 TB lake: the static-pruning op
    (scan_partitioned_pruned) needs the literal in the query; DPP
    covers the real case where the partition set comes out of a dim
    filter the planner can't see statically.

    The op ASSERTS `dynamicpruning` is present in the executed plan —
    if a refactor or conf change silently degrades to a full scan, the
    op fails rather than quietly reading everything. Gate-caught
    nuance baked in: DPP's `isLikelySelective` heuristic does NOT
    treat a bare boolean attribute filter as selective — the dim
    filter must be a comparison (era = 'recent'), which is why the
    dim carries a string era column rather than a boolean flag.
    Quantities per-row cents-quantized (§2.X); result is the same
    relation as a static year filter, which is the oracle.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", F.year("l_shipdate").alias("ship_year")
    )
    fact_dir = scratch_dir("igis-dpp-fact-")
    li.write.partitionBy("ship_year").parquet(fact_dir, mode="overwrite")
    dim_dir = scratch_dir("igis-dpp-dim-")
    spark.createDataFrame(
        [
            (y, "recent" if y >= DPP_ERA_SPLIT else "old")
            for y in range(*DPP_DIM_YEARS)
        ],
        "ship_year int, era string",
    ).write.parquet(dim_dir, mode="overwrite")

    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("era") == "recent")
    joined = (
        fact.join(dim, "ship_year")
        .groupBy("ship_year")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("qty_c"),
        )
        .orderBy("ship_year")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "dynamic partition pruning did not engage - the fact scan would "
        "read every partition"
    )
    return joined
