"""Core SQL aggregation operators (SURVEY.md §2.D): grouping,
grouping sets/rollup/cube, pivot/unpivot, distinct families, sketches
(HLL/quantile/bitmap), skew salting, argmax, exact medians — the
machinery layer. Statistical-inference ops live in
aggregation_stats.py, business-metric ops in aggregation_business.py
(r11 verdict item 7 split; the registry is unchanged — same op names,
oracles, and categories across all three modules).
"""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_gp_import_spark.registry import op, tracked_persist
from insight_gp_import_spark.tables import load_table

CAT = "aggregation"


def _exact_global_ntile(
    df: DataFrame,
    k: int,
    val_col: str,
    tie_col: str,
    out_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """EXACT ntile(k) over ORDER BY (val_col, tie_col) with NO global
    window (r8 verdict item 4) — the scale-safe replacement for
    ``F.ntile(k).over(Window.orderBy(...))``, which moves the whole
    relation into one task.

    Mechanics: bucket rows by deterministic value ranges of val_col
    (n_buckets over the broadcast [min, max] — no sampling, unlike
    repartitionByRange, whose RangePartitioner draws bounds
    per-materialization so two references to the same exchange could
    disagree), count each bucket once, turn the tiny count table into
    cumulative offsets, broadcast them back, add a per-BUCKET
    row_number: offset + local rank is the exact global rank, computed
    entirely partition-parallel. The bin is then pure ntile ARITHMETIC
    on the exact rank (the first n%k bins take ⌈n/k⌉ rows — the T-SQL
    /Spark/DuckDB ntile contract), so results are bit-identical to the
    window form, tie-break included (tie_col must make the composite
    key unique). Worst-case value skew (every row the same val_col)
    degrades to one populated bucket — still correct, just serial for
    the local sort, and the only unpartitioned window runs over the
    BOUNDED n_buckets-row count table.
    """
    ranked = _exact_global_rank(
        df, val_col, tie_col, "_egn_rnk", n_buckets=n_buckets,
        keep_total=True,
    )
    banded = ranked.withColumn(
        out_col,
        F.expr(
            f"CASE WHEN _egn_rnk <= (_egn_n div {k} + 1) * (_egn_n % {k}) "
            f"THEN 1 + (_egn_rnk - 1) div (_egn_n div {k} + 1) "
            f"ELSE _egn_n % {k} + 1 + (_egn_rnk - (_egn_n div {k} + 1) "
            f"* (_egn_n % {k}) - 1) div greatest(_egn_n div {k}, 1) END"
        ),
    )
    return banded.drop("_egn_n", "_egn_rnk")


def _exact_global_rank(
    df: DataFrame,
    val_col: str,
    tie_col: str,
    out_col: str,
    n_buckets: int = 64,
    keep_total: bool = False,
    order_cols: list | None = None,
) -> DataFrame:
    """EXACT dense 1-based global rank over ORDER BY (val_col ASC,
    tie_col ASC) with NO global window — the shared rank kernel under
    ``_exact_global_ntile`` and the full-output ranking ops (r8):
    deterministic value-range buckets over the broadcast [min, max],
    one count per bucket, broadcast cumulative offsets, per-bucket
    row_number; offset + local rank == the exact global rank. For a
    DESCENDING rank, pass the NEGATED (pre-quantized BIGINT) value —
    rank over (v DESC, tie ASC) == rank over (-v ASC, tie ASC).
    val_col must be integral (the bucket arithmetic uses div).
    ``keep_total`` retains the ``_egn_n`` row-count column for callers
    that need it (the ntile arithmetic). ``order_cols`` overrides the
    in-bucket ordering when the true sort key is not simply
    (val_col, tie_col) — val_col must then be a NUMERIC MONOTONE
    NON-DECREASING function of that order's leading columns (e.g. an
    order-preserving fixed-width byte-prefix pack of a string key),
    so equal-order rows land in one bucket and bucket boundaries
    respect the order; coarseness/collisions only affect balance,
    never correctness.

    Overflow guard (r8 ADVICE): the integer bucket expression
    ``((val - lo) * n_buckets) div (hi - lo + 1)`` overflows BIGINT
    once the value range exceeds ~2^63/n_buckets, which would silently
    misbucket (and so misrank) wide-range keys. The kernel therefore
    branches on the range itself: integer arithmetic when provably
    safe, else monotone double scaling with a least/greatest clamp.
    The double branch stays CORRECT because bucketing only needs
    bucket(val) non-decreasing in val — int64→double conversion is
    weakly order-preserving (IEEE round-to-nearest), as are the
    positive-constant multiply and floor — so at worst precision loss
    merges neighboring values into one bucket (balance, not
    correctness; the in-bucket sort still orders them exactly)."""
    # r12 (guide §2.4): the kernel references its input THREE times
    # (min/max range probe, bucket-count aggregate, final rank join) —
    # persist it so the caller's upstream subtree evaluates once, not
    # per reference. Chained calls (e.g. win_rank_change's two ranks)
    # otherwise compound the re-evaluation 3x per level (51 Exchanges
    # in the profiled plan).
    df = tracked_persist(df)
    rng = df.agg(F.min(val_col).alias("_egn_lo"), F.max(val_col).alias("_egn_hi"))
    # Conservative integer-path gate: range strictly below 2^62/n_buckets
    # (the compare itself is double-side, so it never overflows either).
    int_safe_range = (1 << 62) // n_buckets
    bucketed = df.crossJoin(F.broadcast(rng)).withColumn(
        "_egn_bkt",
        F.expr(
            f"CASE WHEN CAST(_egn_hi AS DOUBLE) - CAST(_egn_lo AS DOUBLE)"
            f" < {int_safe_range} THEN"
            f" least({n_buckets - 1}, (({val_col} - _egn_lo) * {n_buckets})"
            " div (_egn_hi - _egn_lo + 1))"
            f" ELSE least({n_buckets - 1}, greatest(0, CAST(floor("
            f"(CAST({val_col} AS DOUBLE) - CAST(_egn_lo AS DOUBLE))"
            f" / (CAST(_egn_hi AS DOUBLE) - CAST(_egn_lo AS DOUBLE) + 1.0D)"
            f" * {n_buckets}) AS BIGINT))) END"
        ),
    )
    counts = bucketed.groupBy("_egn_bkt").agg(F.count("*").alias("_egn_cnt"))
    w_off = Window.orderBy("_egn_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_egn_bkt",
        F.coalesce(F.sum("_egn_cnt").over(w_off), F.lit(0)).alias("_egn_off"),
        F.sum("_egn_cnt").over(Window.partitionBy()).alias("_egn_n"),
    )
    w_local = Window.partitionBy("_egn_bkt").orderBy(
        *(order_cols if order_cols is not None else [val_col, tie_col])
    )
    ranked = bucketed.join(F.broadcast(offsets), "_egn_bkt").withColumn(
        out_col, F.col("_egn_off") + F.row_number().over(w_local)
    )
    dropped = ["_egn_lo", "_egn_hi", "_egn_bkt", "_egn_cnt", "_egn_off"]
    if not keep_total:
        dropped.append("_egn_n")
    return ranked.drop(*dropped)


@op(
    "agg_global",
    oracle="""
    SELECT COUNT(*) AS cnt,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           ROUND(MIN(l_quantity), 2) AS min_qty,
           ROUND(MAX(l_quantity), 2) AS max_qty
    FROM lineitem
    """,
    category=CAT,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped count/sum/avg/min/max — single-row global aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


@op(
    "agg_hash_groupby",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           COUNT(*) AS count_order,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    category=CAT,
)
def agg_hash_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 pricing summary (TPC-H Q1 shape) — the flagship query.

    scan → pushed filter → hash aggregate; Catalyst plans a partial
    aggregate before the shuffle so only 6 groups cross the exchange.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("count_order"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
    )


@op(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           COUNT(DISTINCT l_partkey) AS cnt_parts,
           COUNT(DISTINCT l_suppkey) AS cnt_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category=CAT,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT x), several per group (expand-based in Spark)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.countDistinct("l_partkey").alias("cnt_parts"),
        F.countDistinct("l_suppkey").alias("cnt_supps"),
    )


APPROX_DISTINCT_BOUND_PCT = 6  # 3x the configured rsd (0.02) — the ~3σ band


@op(
    "agg_approx_distinct",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           true AS approx_within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
    category=CAT,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct, gated by a LAW oracle (r8 verdict
    item 3, the dq_hll_error_bound pattern): the sketch ESTIMATE is
    engine-specific and can never hash-match DuckDB, so the hashed
    relation carries the EXACT distinct count (independently recomputed
    by DuckDB) plus a bounded-error VERDICT — Spark must compute
    |approx − exact|·100 ≤ {APPROX_DISTINCT_BOUND_PCT}·exact in integer
    arithmetic and arrive at `true`; any sketch regression breaks the
    hash. Bound: 3× the configured rsd (0.02 → 6 %); measured max
    relative error across sf0.01/sf0.1/sf1 is 1.45 %, so the verdict
    has ≥4× margin while still catching a broken sketch (which errs by
    whole multiples, not fractions of σ). Exact + approx come from ONE
    aggregate (shared scan, two buffer states).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("bigint").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
    ).select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts")) * 100
            <= APPROX_DISTINCT_BOUND_PCT * F.col("exact_parts")
        ).alias("approx_within_bound"),
    )


@op(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    category=CAT,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS incl. grand total (bench B10). NULL markers align."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("igis_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS cnt,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM igis_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@op(
    "agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    category=CAT,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy: (status, priority) → (status) → ()."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@op(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    category=CAT,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping combinations of (returnflag, linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@op(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
    category=CAT,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .filter(F.col("cnt") >= 15)
    )


@op(
    "agg_collect_sorted",
    oracle="""
    SELECT l_orderkey,
           string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
    category=CAT,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group list, deterministically sorted and serialized to a string.

    Serialization (array_join) dodges array-representation hashing
    (§2.X rule 3); sort_array makes collect_list order-insensitive.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("l_linenumber")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("lines")
    )


@op(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_extendedprice), 4) AS std_price,
           ROUND(var_samp(l_quantity), 4) AS var_qty,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(quantile_cont(l_extendedprice, 0.5), 2) AS median_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category=CAT,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates; percentile ≡ quantile_cont (probe-6)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 2).alias("median_price"),
    )


@op(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events
    GROUP BY user_id
    """,
    category=CAT,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type → columns. Explicit pivot values (§2.D: never
    inferred — inference adds a scan AND can diverge from the oracle);
    coalesce(…,0) because Spark pivot yields NULL for absent combos where
    COUNT FILTER yields 0."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    pivoted = (
        ev.groupBy("user_id").pivot("event_type", kinds).agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds],
    )


MELT_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@op(
    "agg_unpivot",
    oracle="""
    SELECT metric,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value,
           ROUND(AVG(value), 4) AS avg_value
    FROM (
        SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    ) long
    GROUP BY metric
    """,
    category=CAT,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide measure columns into long (metric, value)
    rows, then summarize per metric — the wide→long reshape feature
    pipelines need before per-metric stats. Spark's native `unpivot`
    expands rows inside the scan stage (no shuffle until the agg), so
    at 100 TB the cost is the same single pass a SELECT would make;
    the alternative UNION-of-scans reads the table once per measure."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot([], MELT_MEASURES, "metric", "value")
    return long.groupBy("metric").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


SALT_BUCKETS = 16


@op(
    "agg_salted_skew",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    category=CAT,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation — the skewed-hot-key recipe.

    events has only 5 event_type values, the worst-case skew shape: a
    plain groupBy sends every 'view' row to ONE reducer. Salting splits
    each hot key into SALT_BUCKETS sub-keys for the first (heavy)
    shuffle, then combines the tiny partials in a second shuffle of
    |keys|×|salts| rows. Identical result to the direct groupBy (the
    oracle IS the direct formulation); at 100 TB this is the difference
    between one straggler reducer and even utilization. (AQE skew-join
    handles join skew automatically; agg skew still wants the salt.)
    The salt is derived from event_id — deterministic, no RNG (§2.X).
    """
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", (F.col("event_id") % SALT_BUCKETS).cast("int"))
        .groupBy("event_type", "salt")
        .agg(F.count("*").alias("p_cnt"), F.sum("value").alias("p_sum"))
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("p_cnt").alias("cnt"),
            F.round(F.sum("p_sum"), 2).alias("sum_value"),
        )
    )


@op(
    "agg_approx_quantile",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           true AS p50_rank_ok, true AS p95_rank_ok
    FROM events GROUP BY event_type
    """,
    category=CAT,
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles (approx_percentile, Greenwald-Khanna),
    gated by the sketch's own DECLARED guarantee as a LAW oracle (r8
    verdict item 3, the dq_quantile_sketch_bound pattern): the
    estimate VALUE is engine-specific, but GK promises the returned
    element's RANK sits within n/accuracy of the target rank — an
    engine-independent law. Spark computes rank(v̂) = |{v ≤ v̂}| per
    group (one broadcast join of the 5-row estimate table back onto
    events — no sort, no window) and must find
    |rank·10⁵ − q·10⁵·n| ≤ 100·n + 10⁵ (the guarantee n/1000 plus one
    row of slack for the q·n discretization, all BIGINT: rank ≤ 2·10⁵
    at sf1 keeps the product ≪ 2⁶³). Measured max rank error across
    sf0.01/sf0.1/sf1 is 0.00101·n — AT the declared n/1000 edge, which
    is why the law tests the guarantee and not a tighter invented
    bound. DuckDB independently recomputes n; a sketch regression
    (rank drift beyond the envelope) flips a verdict and breaks the
    hash. Estimates come from one scan; the rank pass is a second
    scan with a broadcast 5-row join — no shuffle of events."""
    ev = load_table(spark, sf_dir, "events")
    est = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 1000)").alias("p50"),
        F.expr("approx_percentile(value, 0.95, 1000)").alias("p95"),
    )
    ranked = ev.join(F.broadcast(est), "event_type").groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("value") <= F.col("p50")).cast("bigint")).alias("rk50"),
        F.sum((F.col("value") <= F.col("p95")).cast("bigint")).alias("rk95"),
    )
    slack = F.lit(100) * F.col("n") + F.lit(100000)
    return ranked.select(
        "event_type",
        "n",
        (F.abs(F.col("rk50") * 100000 - 50000 * F.col("n")) <= slack)
        .alias("p50_rank_ok"),
        (F.abs(F.col("rk95") * 100000 - 95000 * F.col("n")) <= slack)
        .alias("p95_rank_ok"),
    )


HIST_BUCKET_WIDTH = 50000


@op(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(floor(o_totalprice / {HIST_BUCKET_WIDTH}) AS BIGINT) AS bucket,
           count(*) AS cnt,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
    category=CAT,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: bucket id + count + the
    observed min/max inside each bucket. Bucketing is a scan-side
    projection (floor division — no width_bucket dialect drift), so the
    whole histogram is one map-side-combined aggregation over ~10 keys;
    at 100 TB this is the profile-a-column primitive that costs one
    pass and ~no shuffle (10 groups × partial rows).
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket", (F.col("o_totalprice") / F.lit(HIST_BUCKET_WIDTH)).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@op(
    "agg_mode_per_group",
    oracle="""
    SELECT user_id, event_type AS mode_type, n FROM (
        SELECT user_id, event_type, count(*) AS n,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY count(*) DESC, event_type) AS rn
        FROM events GROUP BY user_id, event_type
    )
    WHERE rn = 1
    """,
    category=CAT,
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent event_type per user) with an
    alphabetical tie-break so the winner is deterministic (§2.X rule 2
    applied to a window, not a LIMIT). count-then-row_number beats
    Spark's native ``F.mode`` here: mode's tie choice is
    engine-internal, the explicit window is portable and identically
    phrased in the oracle.

    Scale: the count collapses events to ≤5 rows per user before the
    window, so the window partition is bounded regardless of fact size.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    cnts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        cnts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@op(
    "agg_incremental_merge",
    oracle="""
    WITH prior AS (
        SELECT o_orderpriority, count(*) AS cnt, sum(o_totalprice) AS sm
        FROM orders WHERE o_orderkey % 4 < 3 GROUP BY 1
    ), delta AS (
        SELECT o_orderpriority, count(*) AS cnt, sum(o_totalprice) AS sm
        FROM orders WHERE o_orderkey % 4 = 3 GROUP BY 1
    ), merged AS (
        SELECT o_orderpriority,
               CAST(sum(cnt) AS BIGINT) AS n_orders,
               sum(sm) AS sum_raw
        FROM (SELECT * FROM prior UNION ALL SELECT * FROM delta) u
        GROUP BY 1
    )
    SELECT o_orderpriority, n_orders,
           round(sum_raw, 2) AS sum_total,
           round(sum_raw / n_orders, 4) AS avg_total
    FROM merged
    """,
    category=CAT,
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a materialized per-priority
    aggregate (batches ≡0..2 mod 4) absorbs a new batch (≡3) by merging
    PARTIAL states — counts and sums add, avg re-derives — instead of
    rescanning history. This is the algebra behind every incremental
    warehouse rollup; test_aggregation asserts merged ≡ full recompute.

    Scale shape: the prior state is |groups| rows read back from the
    materialized store (here recomputed from the batch slice for
    hash-checkability); only the delta batch is scanned at load time —
    at 100 TB that's the difference between scanning one day and
    scanning ten years. The merge itself is a map-side-combined agg
    over |groups|·2 rows: free.
    """
    orders = load_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("cnt"), F.sum("o_totalprice").alias("sm")
        )

    prior = partial(orders.filter(F.col("o_orderkey") % 4 < 3))
    delta = partial(orders.filter(F.col("o_orderkey") % 4 == 3))
    merged = (
        prior.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("cnt").alias("n_orders"), F.sum("sm").alias("sum_raw"))
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.round("sum_raw", 2).alias("sum_total"),
        F.round(F.col("sum_raw") / F.col("n_orders"), 4).alias("avg_total"),
    )


@op(
    "agg_median_exact",
    oracle="""
    WITH cents AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(quantile_cont(price_c, 0.5), 1) AS median_c,
           round(quantile_cont(price_c, 0.9), 1) AS p90_c
    FROM cents GROUP BY o_orderpriority
    """,
    category=CAT,
)
def agg_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median / p90 — the no-sketch percentile path
    (agg_approx_quantile is the sketch twin). Exact percentiles need
    the full sorted group; Spark's `percentile` aggregates a per-group
    value buffer instead of a global sort, so the shuffle key stays
    o_orderpriority and groups parallelize — viable while a single
    group's distinct-value footprint fits an executor (true here;
    at 100 TB prefer the sketch twin or pre-aggregate to (group,
    value, freq) counts first, which `percentile` accepts natively).

    Determinism: quantiles over integer cents land interpolation on
    exact .0/.5 doubles (win_quantile_bin_global's probe), so Spark
    `percentile` == DuckDB `quantile_cont` bit-for-bit; round(…, 1)
    is belt-and-braces, not load-bearing.
    """
    cents = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    return cents.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.expr("percentile(price_c, 0.5)"), 1).alias("median_c"),
        F.round(F.expr("percentile(price_c, 0.9)"), 1).alias("p90_c"),
    )


HLL_MERGE_BOUND_PCT = 5  # ~3σ at the default lgConfigK=12 (rsd ≈ 1.6 %)


HLL_MERGE_DVM_PCT = 4  # direct-vs-merged drift: HIP → composite switch


@op(
    "agg_hll_partial_merge",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           true AS direct_within_bound,
           true AS merged_within_bound,
           true AS merged_vs_direct_ok
    FROM orders GROUP BY o_orderpriority
    """,
    category=CAT,
)
def agg_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    Spark's hll_sketch_agg / hll_union_agg): build per-shard PARTIAL
    sketches, then merge — the incremental-maintenance path for
    distinct counts, the one aggregate agg_incremental_merge cannot
    cover with (count, sum) states. At 100 TB this is how daily
    distinct-user counts roll up to monthly without rescanning history:
    store one small sketch per (group, day), union on demand.

    Merged and direct estimates agree closely but not bit-exactly:
    DataSketches HLL serves directly-built sketches from the HIP
    (historical inverse probability) estimator, which a union
    invalidates — the merged sketch falls back to the composite
    estimator. LAW oracle (r8 verdict item 3, graduated from
    rows-only via the dq_hll_error_bound pattern): the hashed relation
    carries the EXACT count (DuckDB recomputes it independently) plus
    three integer-arithmetic VERDICTS Spark must land at `true` —
    direct and merged each within {HLL_MERGE_BOUND_PCT} % of exact
    (~3σ at the default lgConfigK=12; measured max across
    sf0.01/sf0.1/sf1 is 2.43 %) and merged-vs-direct within
    {HLL_MERGE_DVM_PCT} % (measured max 1.15 % — the HIP/composite
    estimator gap). Estimates are quantized to BIGINT before the
    comparison so the verdicts are pure integer arithmetic; a sketch
    or union regression flips a verdict and breaks the hash.
    """
    orders = load_table(spark, sf_dir, "orders")
    direct = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est_direct"),
        F.count_distinct("o_custkey").cast("bigint").alias("n_exact"),
    )
    partials = orders.withColumn(
        "shard", F.pmod(F.col("o_orderkey"), F.lit(8))
    ).groupBy("o_orderpriority", "shard").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    merged = partials.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    ed = F.col("est_direct").cast("bigint")
    em = F.col("est_merged").cast("bigint")
    ex = F.col("n_exact")
    return direct.join(merged, "o_orderpriority").select(
        "o_orderpriority",
        "n_exact",
        (F.abs(ed - ex) * 100 <= HLL_MERGE_BOUND_PCT * ex)
        .alias("direct_within_bound"),
        (F.abs(em - ex) * 100 <= HLL_MERGE_BOUND_PCT * ex)
        .alias("merged_within_bound"),
        (F.abs(ed - em) * 100 <= HLL_MERGE_DVM_PCT * ex)
        .alias("merged_vs_direct_ok"),
    )


@op(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
    FROM orders GROUP BY o_orderpriority
    """,
    category=CAT,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmap partial states —
    the precise counterpart to agg_hll_partial_merge's sketches, and
    (unlike sketches) fully oracle-checkable: the answer must equal
    count(DISTINCT) bit-for-bit.

    Pattern: bitmap_bucket_number/bitmap_bit_position split the key
    space into fixed 32 KB buckets; per-shard bitmaps
    (bitmap_construct_agg) OR together (bitmap_or_agg) into one bitmap
    per (group, bucket), whose set bits (bitmap_count) sum to the
    exact distinct count. Why it matters at 100 TB: count(DISTINCT)
    cannot be maintained incrementally, but these bitmaps can — store
    per-(group, bucket, day) bitmaps and any date range's exact
    distinct is a pure merge (no rescan), same shape as
    agg_incremental_merge's (count, sum) states. Dense-key footprint:
    one bit per possible key, bucketed so only touched buckets
    materialize."""
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderpriority",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
        F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        F.pmod(F.col("o_orderkey"), F.lit(8)).alias("shard"),
    )
    shard_partials = keyed.groupBy("o_orderpriority", "bkt", "shard").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    merged = shard_partials.groupBy("o_orderpriority", "bkt").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return merged.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct")
    )


@op(
    "agg_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           CAST(count(*) AS BIGINT) AS cnt
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    category=CAT,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() markers on ROLLUP — the only robust way to tell a
    subtotal row from a data row whose grouping column is genuinely
    NULL (agg_rollup leans on NULL markers, which is ambiguous the
    moment real NULLs appear in the key; GROUPING() disambiguates,
    which is why BI tools emit it). Cast to BIGINT: Spark types
    grouping() as TINYINT/INT where DuckDB says... both normalized
    explicitly (§2.X rule 6: types are part of the contract)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_prio"),
            F.count("*").alias("cnt"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "g_status", "g_prio", "cnt"
        )
    )


@op(
    "agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category=CAT,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT ...) over DIFFERENT columns in one
    aggregate — the classic warehouse cardinality dashboard query.

    Catalyst plans N distinct aggregates via the Expand operator: each
    input row is replicated once per distinct-column with a gid, then
    a two-phase aggregate dedups per (group, gid, value) and counts.
    That keeps the whole thing in two shuffles regardless of how many
    distinct columns are requested — the naive alternative (one job
    per distinct column + join) would be N scans and N shuffles. At
    100 TB the Expand multiplies scan output ×3 here, which is the
    accepted cost of exactness; the sketch alternative for dashboards
    that tolerate error is agg_approx_distinct / agg_hll_partial_merge.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


HH_THETA_NUM, HH_THETA_DEN = 1, 200  # heavy hitter = > 0.5 % of the stream


@op(
    "agg_heavy_hitters",
    oracle=f"""
    WITH counts AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
    ), tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts
    )
    SELECT user_id, cnt,
           round(CAST(cnt AS DOUBLE) / total, 6) AS share
    FROM counts CROSS JOIN tot
    WHERE cnt * {HH_THETA_DEN} > total * {HH_THETA_NUM}
    """,
    category=CAT,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency heavy hitters: every user above θ = 0.5 % of total
    stream volume — the THRESHOLD cut (all items above a share),
    complementing win_topn_per_group's fixed-K cut (top K regardless
    of share). The hot-entity detector feeding join_skew_salted's
    skew handling and abuse/bot triage.

    The threshold test is EXACT integer cross-multiplication
    (cnt·DEN > total·NUM) — no float enters the filter, so boundary
    membership can't drift between engines; the published share is a
    derived display column only. Scale shape: one map-combined count
    per key, a 1-row broadcast total, filter at the aggregate — the
    exact two-phase version of Misra-Gries; swap in a space-saving
    sketch only when the distinct-key table itself is too big, which
    at 100 TB it rarely is after map-side combine (keys ≪ rows by
    definition for heavy-hitter workloads).
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * HH_THETA_DEN > F.col("total") * HH_THETA_NUM)
        .select(
            "user_id",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
        )
    )


@op(
    "agg_argmax",
    oracle="""
    WITH keyed AS (
        SELECT event_type, user_id, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(round(value * 100) AS BIGINT) * 100000000 + event_id
                   AS rank_key
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(cents) AS BIGINT) AS peak_cents,
           CAST(arg_max(event_id, rank_key) AS BIGINT) AS peak_event_id,
           CAST(arg_max(user_id, rank_key) AS BIGINT) AS peak_user,
           CAST(arg_min(event_id, rank_key) AS BIGINT) AS min_event_id
    FROM keyed GROUP BY event_type
    """,
    category=CAT,
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX aggregation (max_by / min_by): the row attribute AT the
    extremum, in one aggregate — "which event was the peak", not just
    "what was the peak". The single-pass replacement for the
    join-back-on-max anti-pattern (self-join fact to its own max) and
    the aggregate-shaped cousin of win_topn_per_group's K=1 window.

    Determinism: max_by ties are engine-arbitrary, so the ranking key
    is the EXACT integer composite cents·10⁸ + event_id — unique per
    row (event_id is unique), so no tie can exist for either engine
    to break differently (§2.X rule 2 applied to argmax; the composite
    stays < 2⁶³ for cents < 9·10¹⁰). Map-side combinable single-value
    state per group — at 100 TB this is one scan, no join, no window.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    keyed = ev.select(
        "event_type",
        "user_id",
        "event_id",
        cents.alias("cents"),
        (cents * F.lit(100000000) + F.col("event_id")).alias("rank_key"),
    )
    return keyed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.max("cents").alias("peak_cents"),
        F.expr("max_by(event_id, rank_key)").alias("peak_event_id"),
        F.expr("max_by(user_id, rank_key)").alias("peak_user"),
        F.expr("min_by(event_id, rank_key)").alias("min_event_id"),
    )


# event_type -> bit position (fixed vocabulary, §1.3)
EVENT_BITS = {"click": 1, "error": 2, "purchase": 4, "signup": 8, "view": 16}


def _event_bit_sql() -> str:
    cases = " ".join(
        f"WHEN '{t}' THEN {b}" for t, b in sorted(EVENT_BITS.items())
    )
    return f"CASE event_type {cases} ELSE 0 END"


@op(
    "agg_bitmask_profile",
    oracle=f"""
    WITH bits AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               {_event_bit_sql()} AS b
        FROM events
    ), profiles AS (
        SELECT user_id, d, CAST(bit_or(b) AS BIGINT) AS type_mask
        FROM bits GROUP BY user_id, d
    )
    SELECT type_mask,
           CAST(count(*) AS BIGINT) AS n_user_days,
           CAST(bit_count(type_mask) AS BIGINT) AS n_types,
           ((type_mask & 4) != 0) AS has_purchase
    FROM profiles GROUP BY type_mask
    """,
    category=CAT,
)
def agg_bitmask_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bitmask profile: OR-aggregate each (user, day)'s
    event types into one integer flag set, then histogram the distinct
    behavior profiles ("how many user-days did {{view,click}} but
    never purchased") — the flags pattern every feature store uses
    for bounded categorical sets, and the exact-set cousin of
    agg_bitmap_distinct's id bitmaps.

    BIT_OR is commutative/associative/idempotent — the ideal
    distributed aggregate: map-side partials are just ORs, re-delivery
    is harmless (the same property stream_upsert_sink leans on), and
    state is ONE integer per user regardless of event count. The
    profile histogram then collapses ≤2^{len(EVENT_BITS)} rows.
    Fixed vocabulary → fixed bit positions (§1.3); set membership
    tests are integer AND, no string work after the scan.
    """
    ev = load_table(spark, sf_dir, "events")
    bits = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.expr(_event_bit_sql()).alias("b"),
    )
    profiles = bits.groupBy("user_id", "d").agg(
        F.expr("bit_or(b)").cast("bigint").alias("type_mask")
    )
    return profiles.groupBy("type_mask").agg(
        F.count("*").alias("n_user_days"),
        F.expr("bit_count(type_mask)").cast("bigint").alias("n_types"),
        ((F.col("type_mask").bitwiseAND(4)) != 0).alias("has_purchase"),
    )


@op(
    "agg_boolean_aggregates",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) FILTER (o_totalprice > 200000) AS BIGINT)
               AS n_big,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           CAST(count(*) FILTER (o_orderpriority LIKE '%LOW')
                AS BIGINT) AS n_low
    FROM orders GROUP BY o_orderstatus
    """,
    category=CAT,
)
def agg_boolean_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean-aggregate family — count_if / every / any (SQL
    standard BOOL_AND/BOOL_OR) — the predicate-summary layer of every
    audit query ("did ALL rows pass", "did ANY row trip the flag",
    "how many matched"), spelled with the dedicated aggregates
    instead of the sum(CASE…) workarounds migrating users bring.

    Semantics parity is the point: Spark's every/any vs DuckDB's
    bool_and/bool_or must agree on NULL handling (NULL predicate rows
    are ignored, not falsy) — the hash-match pins that. All
    map-combinable single-value states; count_if is exactly
    count FILTER.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("count_if(o_totalprice > 200000)").alias("n_big"),
        F.expr("every(o_totalprice > 1000)").alias("all_over_1k"),
        F.expr("any(o_orderpriority = '1-URGENT')").alias("any_urgent"),
        F.expr("count_if(o_orderpriority LIKE '%LOW')").alias("n_low"),
    )


@op(
    "agg_decimal_money",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))) AS VARCHAR)
               AS gross,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                    * CAST('0.93' AS DECIMAL(8, 4))) AS VARCHAR) AS gross_eur,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                    * (CAST(1 AS DECIMAL(8, 4))
                       - CAST(l_discount AS DECIMAL(8, 4)))) AS VARCHAR)
               AS net
    FROM lineitem GROUP BY l_returnflag
    """,
    category=CAT,
)
def agg_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money arithmetic in DECIMAL — the type a warehouse actually
    stores currency in. Everywhere else this repo proves exactness by
    dropping to integer cents (§2.X); this op proves the ENGINE's
    decimal path directly: DECIMAL(18,2) sums, a decimal FX
    conversion, and a decimal net-of-discount product, all exact and
    all agreeing with DuckDB's independent decimal implementation
    digit-for-digit (results serialized to strings so the hash sees
    the full scale, not a double approximation).

    Why it matters at 100 TB: decimal aggregation runs in Tungsten on
    unscaled longs until precision 18, so the exactness is
    — like the cents protocol — free until values exceed 10¹⁶; the
    documented escalation is DECIMAL(38) (128-bit state, ~2× cost)
    exactly when Σ row count × max value demands it. Spark's
    precision-propagation rules (p1+p2+1 for ×) are part of what the
    hash-match pins.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    rate = F.lit("0.93").cast("decimal(8,4)")
    one = F.lit(1).cast("decimal(8,4)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    return li.groupBy("l_returnflag").agg(
        F.sum(price).cast("string").alias("gross"),
        F.sum(price * rate).cast("string").alias("gross_eur"),
        F.sum(price * (one - disc)).cast("string").alias("net"),
    )


@op(
    "agg_weighted_median",
    oracle="""
    WITH levels AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS wt
        FROM lineitem GROUP BY 1, 2
    ), cum AS (
        SELECT l_returnflag, price_c, wt,
               CAST(sum(wt) OVER (PARTITION BY l_returnflag
                                  ORDER BY price_c) AS BIGINT) AS cw,
               CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
        FROM levels
    )
    SELECT l_returnflag,
           CAST(min(price_c) AS BIGINT) AS weighted_median_c,
           CAST(min(tw) AS BIGINT) AS total_weight
    FROM cum
    WHERE cw * 2 >= tw
    GROUP BY l_returnflag
    """,
    category=CAT,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per group — the robust price
    point ("half the UNITS moved at or below this price"), which the
    plain median (agg_median_exact) gets wrong whenever quantity and
    price correlate. The inventory/pricing staple no builtin covers
    in either engine.

    Exact lower-weighted-median: collapse to (group, price level,
    Σweight) first — bounded by distinct prices, the agg_pareto_cut
    move — then one cumulative window over the level relation and the
    crossing test cw·2 ≥ tw in integer cross-multiplication. min()
    over qualifying levels picks the crossing point without a second
    window pass. No float anywhere; weights are whole units, prices
    exact cents.
    """
    li = load_table(spark, sf_dir, "lineitem")
    levels = li.groupBy(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
    ).agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("wt"))
    wc = Window.partitionBy("l_returnflag").orderBy("price_c")
    wt_all = Window.partitionBy("l_returnflag")
    cum = levels.select(
        "l_returnflag",
        "price_c",
        F.sum("wt").over(wc).alias("cw"),
        F.sum("wt").over(wt_all).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price_c").alias("weighted_median_c"),
            F.min("tw").alias("total_weight"),
        )
    )


@op(
    "agg_interarrival_percentiles",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                     PARTITION BY event_type
                     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           round(quantile_cont(gap_us, 0.50), 1) AS p50_us,
           round(quantile_cont(gap_us, 0.95), 1) AS p95_us,
           round(quantile_cont(gap_us, 0.99), 1) AS p99_us,
           CAST(max(gap_us) AS BIGINT) AS max_us
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
    category=CAT,
)
def agg_interarrival_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time tail percentiles per stream (p50/p95/p99 of
    the gap between consecutive events) — the burstiness profile that
    sizes streaming state stores and alert debounce windows (a stream
    with p50=1 s, p99=10 min needs very different watermarks than a
    metronome; mean gap alone hides exactly this).

    Gaps are exact integer µs from ONE (type-partitioned, (ts µs,
    event_id)-ordered) lag window; the exact percentiles follow the
    win_quantile_bin_global determinism argument — interpolation over
    INTEGER inputs lands on .0/.5 doubles where Spark `percentile` ≡
    DuckDB `quantile_cont` bit-for-bit (rounded at 1 as belt and
    braces). At 100 TB swap `percentile` for `approx_percentile`
    (tolerance-verified, not hash) — the agg_approx_quantile tier.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(F.expr("percentile(gap_us, 0.50)"), 1).alias("p50_us"),
        F.round(F.expr("percentile(gap_us, 0.95)"), 1).alias("p95_us"),
        F.round(F.expr("percentile(gap_us, 0.99)"), 1).alias("p99_us"),
        F.max("gap_us").alias("max_us"),
    )


@op(
    "agg_peak_concurrency",
    oracle="""
    WITH spans AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               min(epoch_us(CAST(ts AS TIMESTAMP))) AS s_us,
               max(epoch_us(CAST(ts AS TIMESTAMP))) AS e_us
        FROM events
        GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ), bounds AS (
        SELECT d, s_us AS t, 1 AS delta, user_id FROM spans
        UNION ALL
        SELECT d, e_us + 1 AS t, -1 AS delta, user_id FROM spans
    ), swept AS (
        SELECT d,
               CAST(sum(delta) OVER (PARTITION BY d
                                     ORDER BY t, delta, user_id) AS BIGINT)
                   AS live
        FROM bounds
    )
    SELECT d,
           CAST(max(live) AS BIGINT) AS peak_concurrent,
           CAST(count(*) // 2 AS BIGINT) AS n_sessions
    FROM swept GROUP BY d
    """,
    category=CAT,
)
def agg_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity number
    (licenses, connection pools, executor sizing) that NO aggregate
    of session counts gives you: computed with the classic +1/−1
    boundary sweep (each session span emits a start and an end event;
    the running sum of deltas IS the live-session curve; its max is
    the peak). The reference's domain is literally Tableau-server
    monitoring — this is ITS headline chart.

    Scale correctness of the sweep: the running sum is PARTITIONED BY
    DAY, so each ordered window handles one day's boundaries — never
    a global single-task sort (cross-midnight sessions would need
    day-spanning carry-in, deliberately out of scope for daily spans
    which end at the day's last event by construction). End
    boundaries sort at e+1 with (t, delta, user_id) total order so a
    session ending exactly when another starts counts both live at
    that instant and ties can't flap engines (§2.X rule 2). All
    exact integer µs.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    spans = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.min(us).alias("s_us"), F.max(us).alias("e_us"))
    starts = spans.select(
        "d", F.col("s_us").alias("t"), F.lit(1).alias("delta"), "user_id"
    )
    ends = spans.select(
        "d", (F.col("e_us") + 1).alias("t"), F.lit(-1).alias("delta"), "user_id"
    )
    bounds = starts.unionAll(ends)
    w = Window.partitionBy("d").orderBy("t", "delta", "user_id")
    swept = bounds.select("d", F.sum("delta").over(w).alias("live"))
    return swept.groupBy("d").agg(
        F.max("live").alias("peak_concurrent"),
        (F.count("*") / 2).cast("bigint").alias("n_sessions"),
    )


PATH_LEN = 3


PATH_TOP_K = 25


@op(
    "agg_top_paths",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               event_type,
               row_number() OVER (
                   PARTITION BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        FROM events
    ), paths AS (
        SELECT user_id, d,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= {PATH_LEN}
        GROUP BY user_id, d
    )
    SELECT path,
           CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {PATH_TOP_K}
    """,
    category=CAT,
)
def agg_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session-opening paths: the first {PATH_LEN} event types of
    each (user, day) session serialized as a path string, ranked by
    frequency — "how do sessions start", the navigation-flow report
    product analytics leads with (agg_markov_transitions models
    step-to-step flow; this reads whole openings).

    Shape: one (user, day)-partitioned rank window cut at
    {PATH_LEN} (WindowGroupLimit pushes the rn≤k filter into the
    sort at scale — the win_topn machinery), ordered string_agg
    serializes the path deterministically ((ts µs, event_id) total
    order), and the final top-{PATH_TOP_K} is TakeOrdered on
    (count DESC, path). Paths are tiny fixed-alphabet strings — the
    shuffle carries ≤ {PATH_LEN} short tokens per session.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    ranked = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= PATH_LEN)
    paths = ranked.groupBy("user_id", "d").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOP_K)
    )


@op(
    "agg_engagement_histogram",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS np
        FROM events GROUP BY user_id
    )
    SELECT CASE WHEN np = 0 THEN '0'
                WHEN np <= 2 THEN '1-2'
                WHEN np <= 5 THEN '3-5'
                WHEN np <= 10 THEN '6-10'
                ELSE '11+' END AS band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(np) AS BIGINT) AS n_purchases,
           CAST(min(user_id) AS BIGINT) AS min_user
    FROM per_user GROUP BY 1
    """,
    category=CAT,
)
def agg_engagement_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGAGEMENT distribution: users banded by purchase count (0 /
    1-2 / 3-5 / 6-10 / 11+) with users and purchases per band — the
    "how concentrated is usage" product report (a power-user band
    holding most purchases and a fat zero band is the classic
    freemium shape; agg_gini_activity compresses this to one number,
    agg_lorenz_deciles to equal-COUNT bins — fixed SEMANTIC bands are
    what PMs actually name in reviews, and the three agree or you
    have a data bug).

    Count-of-counts two-level aggregate (both map-combined, the
    second over |users| rows); integer bands on integer counts, no
    double anywhere. The explicit '0' band documents that users with
    zero purchases are IN the population (they have other events) —
    the silent-exclusion trap of starting from the purchases table.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("np")
    )
    band = (
        F.when(F.col("np") == 0, "0")
        .when(F.col("np") <= 2, "1-2")
        .when(F.col("np") <= 5, "3-5")
        .when(F.col("np") <= 10, "6-10")
        .otherwise("11+")
    )
    return per_user.groupBy(band.alias("band")).agg(
        F.count("*").alias("n_users"),
        F.sum("np").alias("n_purchases"),
        F.min("user_id").alias("min_user"),
    )
