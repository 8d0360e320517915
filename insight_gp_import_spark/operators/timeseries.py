"""Time-series operators, calendar/resampling layer (SURVEY.md §2):
sessionization, gap fill / interpolation / forward fill, OHLC
resampling, calendar alignment (business-day, week-over-week,
month-end, seasonal indices) and pacing. Model/diagnostic ops
(ACF, control charts, forecasts, indicators) live in
timeseries_models.py (r12 split, verdict item 7); registry unchanged.
"""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_gp_import_spark.registry import op, tracked_persist
from insight_gp_import_spark.tables import load_table

CAT = "timeseries"

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


@op(
    "sessionize_gap",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id,
               CAST(ts AS TIMESTAMP) AS ts,
               event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS prev_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_us IS NULL
                         OR us - prev_us > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_s
        FROM ordered
    ), numbered AS (
        SELECT user_id, ts, event_id,
               SUM(new_s) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM numbered
    GROUP BY user_id, session_id
    """,
    category=CAT,
)
def sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a session breaks after a 30-minute silence
    — the batch twin of ``stream_session`` (which uses
    ``F.session_window``; here the gap rule is spelled out with
    lag → flag → running-sum, the classic formulation).

    One shuffle on user_id serves both windows AND the final groupBy
    (same partitioning, Catalyst reuses the exchange). Gap compare is
    integer µs — ``unix_micros`` ↔ ``epoch_us`` are bit-equal, float
    seconds are not. (event_id tie-break makes the running sum total,
    §2.X rule 2.) At 100 TB user_id is high-cardinality and unskewed;
    a hot user would need the salting of agg_salted_skew.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id", F.sum("new_s").over(w).cast("bigint")
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@op(
    "ts_gap_fill",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE event_type IN ('purchase', 'error')
        GROUP BY 1, 2
    ), bounds AS (
        SELECT min(h) AS lo, max(h) AS hi FROM hourly
    ), spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM hourly
    )
    SELECT t.event_type, s.h AS bucket, COALESCE(hh.n, 0) AS n_events
    FROM types t CROSS JOIN spine s
    LEFT JOIN hourly hh ON hh.event_type = t.event_type AND hh.h = s.h
    """,
    category=CAT,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time spine with zero-fill: hourly counts per event type
    where silent hours appear explicitly as 0 — what every downstream
    rate/alert computation needs (a missing bucket reads as "no data",
    a 0 reads as "no events"; they are different facts).

    Spine = ``sequence(min, max, interval 1 hour)`` exploded once on
    the driver-side 2-row bounds aggregate, then cross-joined with the
    distinct types and LEFT-joined back to the sparse counts. Both
    small sides broadcast (spine ≈ hours × types — thousands of rows
    even for years of data), so the sparse-counts side never
    reshuffles: at 100 TB the only wide op remains the initial
    groupBy. COALESCE(n, 0) keeps BIGINT family (§2.X rule on int
    sums).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    hourly = tracked_persist(
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        ).agg(F.count("*").alias("n"))
    )
    bounds = hourly.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = hourly.select("event_type").distinct()
    return (
        types.crossJoin(F.broadcast(spine))
        .join(
            hourly.withColumnRenamed("event_type", "et"),
            (F.col("et") == F.col("event_type")) & (hourly["h"] == spine["h"]),
            "left",
        )
        .select(
            "event_type",
            spine["h"].alias("bucket"),
            F.coalesce("n", F.lit(0).cast("bigint")).alias("n_events"),
        )
    )


@op(
    "ts_resample_ohlc",
    oracle="""
    WITH ranked AS (
        SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               value,
               row_number() OVER w  AS rn_a,
               row_number() OVER w2 AS rn_d
        FROM events
        WINDOW w  AS (PARTITION BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
                      ORDER BY ts, event_id),
               w2 AS (PARTITION BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
                      ORDER BY ts DESC, event_id DESC)
    )
    SELECT event_type, d AS bucket,
           ROUND(min(CASE WHEN rn_a = 1 THEN value END), 4) AS open_v,
           ROUND(max(value), 4) AS high_v,
           ROUND(min(value), 4) AS low_v,
           ROUND(min(CASE WHEN rn_d = 1 THEN value END), 4) AS close_v,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ranked
    GROUP BY event_type, d
    """,
    category=CAT,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample to daily OHLC bars per event type — irregular ticks
    → regular buckets, the resample step of any metric pipeline.

    first/last-in-bucket are NOT min/max: they need the time order.
    Expressed engine-portably as row_number over (ts, event_id) asc /
    desc + conditional min — deterministic even with duplicate
    timestamps, where ``min_by(value, ts)`` ties arbitrarily in both
    engines (§2.X rule 2). Both windows and the groupBy share one
    hash-partitioning on (event_type, day); Catalyst plans a single
    Exchange, the second window is just another in-partition sort.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.to_date(F.col("ts"))
    w_a = Window.partitionBy("event_type", bucket).orderBy("ts", "event_id")
    w_d = Window.partitionBy("event_type", bucket).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "event_type",
        bucket.alias("d"),
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return ranked.groupBy("event_type", F.col("d").alias("bucket")).agg(
        F.round(F.min(F.when(F.col("rn_a") == 1, F.col("value"))), 4).alias("open_v"),
        F.round(F.max("value"), 4).alias("high_v"),
        F.round(F.min("value"), 4).alias("low_v"),
        F.round(F.min(F.when(F.col("rn_d") == 1, F.col("value"))), 4).alias("close_v"),
        F.count("*").alias("n_events"),
    )


@op(
    "ts_interpolate_linear",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
               sum(CAST(floor(value * 10000) AS BIGINT))
                   // count(*) AS mc
        FROM events
        WHERE event_type IN ('purchase', 'error')
        GROUP BY 1, 2
    ), bounds AS (
        SELECT min(h) AS lo, max(h) AS hi FROM hourly
    ), spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ), grid AS (
        SELECT t.event_type, s.h, hh.mc
        FROM (SELECT DISTINCT event_type FROM hourly) t
        CROSS JOIN spine s
        LEFT JOIN hourly hh ON hh.event_type = t.event_type AND hh.h = s.h
    ), ctx AS (
        SELECT event_type, h, mc,
               last_value(mc IGNORE NULLS) OVER wb AS prev_mc,
               max(CASE WHEN mc IS NOT NULL THEN h END) OVER wb AS prev_h,
               first_value(mc IGNORE NULLS) OVER wf AS next_mc,
               min(CASE WHEN mc IS NOT NULL THEN h END) OVER wf AS next_h
        FROM grid
        WINDOW wb AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, h AS bucket,
           CAST(CASE
               WHEN mc IS NOT NULL THEN mc
               WHEN prev_mc IS NULL THEN next_mc
               WHEN next_mc IS NULL THEN prev_mc
               ELSE prev_mc + ((next_mc - prev_mc)
                    * ((CAST(epoch(h) AS BIGINT)
                        - CAST(epoch(prev_h) AS BIGINT)) // 3600))
                    // ((CAST(epoch(next_h) AS BIGINT)
                         - CAST(epoch(prev_h) AS BIGINT)) // 3600)
           END AS DOUBLE) / 10000.0 AS value_interp,
           (mc IS NULL) AS was_filled
    FROM ctx
    """,
    category=CAT,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the dense hourly spine: silent hours
    get the time-weighted blend of the nearest observed neighbors
    (edges clamp to the nearest observation) — the gap-fill rule for
    continuous metrics, where ts_gap_fill's zero-fill is the rule for
    counts.

    Same spine/broadcast shape as ts_gap_fill (the sparse hourly agg is
    the only wide op; spine and types broadcast), plus two frame
    windows per event_type for the previous/next observed values —
    partitioned by event_type, never global. DuckDB's IGNORE NULLS
    frames match Spark's last/first(ignorenulls) (probed).

    Determinism: the whole computation is EXACT INTEGER arithmetic in
    1e-4 units — value floor-quantized pre-agg, truncated integer mean,
    and the blend uses integer hour offsets with truncating integer
    division (Spark ``div`` ≡ DuckDB ``//`` toward zero, probed). A
    float formulation failed parity twice: engine-order avg() drift at
    a 4dp round boundary, then systematic half-unit ties (mean of cents
    over an even count) resolved differently by Spark (HALF_UP on the
    shortest decimal repr) and DuckDB (round on the raw binary double).
    Integer blend → exact same BIGINT both sides; /10000.0 of equal
    integers is the identical double.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    hourly = tracked_persist(
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h")).agg(
            F.expr(
                "sum(cast(floor(value * 10000) as bigint)) div count(*)"
            ).alias("mc")
        )
    )
    bounds = hourly.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    types = hourly.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(spine))
        .join(
            hourly.withColumnRenamed("event_type", "et"),
            (F.col("et") == F.col("event_type")) & (hourly["h"] == spine["h"]),
            "left",
        )
        .select("event_type", spine["h"].alias("h"), "mc")
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("mc").isNotNull(), F.col("h"))
    ctx = grid.select(
        "event_type",
        "h",
        "mc",
        F.last("mc", ignorenulls=True).over(wb).alias("prev_mc"),
        F.max(obs_h).over(wb).alias("prev_h"),
        F.first("mc", ignorenulls=True).over(wf).alias("next_mc"),
        F.min(obs_h).over(wf).alias("next_h"),
    )
    blend = F.expr(
        "prev_mc + ((next_mc - prev_mc)"
        " * ((unix_timestamp(h) - unix_timestamp(prev_h)) div 3600))"
        " div ((unix_timestamp(next_h) - unix_timestamp(prev_h)) div 3600)"
    )
    ic = (
        F.when(F.col("mc").isNotNull(), F.col("mc"))
        .when(F.col("prev_mc").isNull(), F.col("next_mc"))
        .when(F.col("next_mc").isNull(), F.col("prev_mc"))
        .otherwise(blend)
    )
    return ctx.select(
        "event_type",
        F.col("h").alias("bucket"),
        (ic.cast("double") / 10000.0).alias("value_interp"),
        F.col("mc").isNull().alias("was_filled"),
    )


@op(
    "ts_seasonality_profile",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hr,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, hr, cnt,
           round(CAST(cnt AS DOUBLE)
                 / sum(cnt) OVER (PARTITION BY event_type), 6) AS share,
           CASE WHEN cnt = max(cnt) OVER (PARTITION BY event_type)
                THEN TRUE ELSE FALSE END AS is_peak
    FROM hourly
    """,
    category=CAT,
)
def ts_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per stream: each hour's share
    of the stream's total volume plus a peak-hour flag — the diurnal
    shape monitoring dashboards overlay on dq_anomaly_zscore's level
    alarms (an "anomaly" at 09:00 may just be the morning peak).

    Two-level shape: the raw stream collapses to ≤ |event_types|×24
    rows in one map-combined hash aggregate (the only pass over the
    data), then share/peak are windows over that tiny relation —
    essentially free, no second scan. UTC hours are pinned by the
    loader's session conf (ensure_events_read_confs) so the bucketing
    is zone-stable vs DuckDB's naive timestamps. At 100 TB this is the
    model profile query: reduce first, analyze the reduction.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(F.count("*").alias("cnt"))
    wt = Window.partitionBy("event_type")
    return hourly.select(
        "event_type", "hr", "cnt",
        F.round(F.col("cnt").cast("double") / F.sum("cnt").over(wt), 6).alias("share"),
        (F.col("cnt") == F.max("cnt").over(wt)).alias("is_peak"),
    )


@op(
    "ts_yoy_growth",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY 1
    )
    SELECT m, rev_c,
           lag(rev_c, 12) OVER (ORDER BY m) AS prev_year_c,
           round(100.0 * (rev_c - lag(rev_c, 12) OVER (ORDER BY m))
                 / lag(rev_c, 12) OVER (ORDER BY m), 4) AS yoy_pct
    FROM monthly
    """,
    category=CAT,
)
def ts_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth — the BI staple (lag 12
    over the monthly rollup). Joins the trend family: win_moving
    smooths, ts_ewma_7 weights recency, this compares seasonally
    aligned periods.

    The lag-12 window is ordered but UNPARTITIONED — legitimate here
    because it runs over the monthly rollup (≤ |years|·12 rows — 80
    at this corpus, still thousands at a century of data), not the
    fact table; the orders scan collapses in ONE map-combined agg
    first. A per-stream variant would partition by the stream key
    exactly like ts_ewma_7. Revenue is exact integer cents; the
    growth ratio is the only double, derived in the final projection
    (§2.X). NTZ order dates truncate zone-independently (NTZ→DATE
    never consults the session zone — the dq_checksum_columns rule).
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        # trunc() is date-native (no timestamp round-trip through the
        # session zone, unlike date_trunc)
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("m")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_c")
    )
    w = Window.orderBy("m")
    prev = F.lag("rev_c", 12).over(w)
    return monthly.select(
        "m",
        "rev_c",
        prev.alias("prev_year_c"),
        F.round(
            F.lit(100.0) * (F.col("rev_c") - prev) / prev, 4
        ).alias("yoy_pct"),
    )


@op(
    "ts_forward_fill",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT) END AS purchase_c
        FROM events
    )
    SELECT user_id, event_id, ts,
           last_value(purchase_c IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS last_purchase_c
    FROM marked
    """,
    category=CAT,
)
def ts_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF — last observation carried forward): every
    event row carries the user's most recent purchase amount, NULL
    until the first purchase. The third gap semantics next to
    ts_gap_fill's explicit zeros (no data ≠ zero ≠ last-known) and
    the per-row join-free alternative to join_point_in_time when the
    observation and the spine are the SAME stream.

    The whole op is one window: last_value(… IGNORE NULLS) over an
    unbounded-preceding frame — the null-skipping frame semantics
    that separate real SQL engines from almost-SQL ones, exercised
    against DuckDB's reading of the same clause. Deterministic
    (ts µs, event_id) order, exact cents payload. One user_id
    exchange; the running state is one value per partition — LOCF at
    100 TB costs exactly what sessionize_gap costs.
    """
    ev = load_table(spark, sf_dir, "events")
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("bigint"),
        ).alias("purchase_c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return marked.select(
        "user_id",
        "event_id",
        "ts",
        F.last("purchase_c", ignorenulls=True).over(w).alias("last_purchase_c"),
    )


def _busday_sql(dow_a: str, extra: str) -> str:
    """Weekday count in the ``extra``-day tail window starting at ISO
    weekday ``dow_a`` (1=Mon..7=Sun): Σ_{k<extra} [((dow_a-1+k) mod 7) < 5]
    — six additive CASE terms, identical integer arithmetic in any SQL
    dialect (no per-engine calendar functions beyond ISO dow)."""
    terms = [
        f"(CASE WHEN {extra} > {k} AND (({dow_a}) - 1 + {k}) % 7 < 5"
        f" THEN 1 ELSE 0 END)"
        for k in range(6)
    ]
    return " + ".join(terms)


@op(
    "ts_business_day_lag",
    oracle=f"""
    WITH lagged AS (
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(o.o_orderdate AS DATE) AS od,
               CAST(l.l_shipdate AS DATE) AS sd,
               CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)) AS BIGINT) AS d,
               CAST(isodow(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS dow_a
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT l_orderkey, l_linenumber, d AS calendar_days,
           CAST((d // 7) * 5 + {_busday_sql("dow_a", "(d % 7)")} AS BIGINT)
               AS business_days
    FROM lagged
    WHERE d >= 0
    """,
    category=CAT,
)
def ts_business_day_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag in BUSINESS days — the SLA unit contracts are
    actually written in (a 5-calendar-day lag spanning a weekend is 3
    business days; calendar datediff systematically overstates
    fulfilment time). No builtin in either engine computes this.

    Closed form, no calendar table and no iteration:
    bd = ⌊d/7⌋·5 + weekdays-in-tail(dow_start, d mod 7), where the
    tail count is six additive integer CASE terms over ISO weekday
    arithmetic — generated from ONE Python template into both
    spellings (the pipeline_ann_index_build inlining pattern), so the
    engines run the literally identical expression. ISO dow is
    zone-independent on DATE inputs. One fact⋈orders equi-join
    (broadcast-eligible dim at test scale, co-partitioned at 100 TB)
    and pure scan-stage math after it.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lagged = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("bigint").alias("d"),
        F.dayofweek(F.col("o_orderdate").cast("date")).alias("dow_raw"),
    ).withColumn(
        # Spark dayofweek: 1=Sun..7=Sat -> ISO 1=Mon..7=Sun
        "dow_a", F.expr("CAST(((dow_raw + 5) % 7) + 1 AS BIGINT)")
    )
    return lagged.filter(F.col("d") >= 0).select(
        "l_orderkey",
        "l_linenumber",
        F.col("d").alias("calendar_days"),
        F.expr(
            f"CAST((d div 7) * 5 + {_busday_sql('dow_a', '(d % 7)')} AS BIGINT)"
        ).alias("business_days"),
    )


SILENCE_TOP_K = 20


@op(
    "ts_largest_silences",
    oracle=f"""
    WITH seq AS (
        SELECT event_type, ts, event_id,
               lag(ts) OVER (PARTITION BY event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_type, prev_ts AS gap_start, ts AS gap_end,
           CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us
    FROM seq
    WHERE prev_ts IS NOT NULL
    ORDER BY gap_us DESC, event_type, event_id
    LIMIT {SILENCE_TOP_K}
    """,
    category=CAT,
)
def ts_largest_silences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident forensics: the {SILENCE_TOP_K} longest SILENCES per
    stream — exact (start, end, duration) of the largest
    inter-event gaps across all event types. agg_interarrival_
    percentiles says how unusual gaps are statistically; an on-call
    postmortem needs the actual intervals to line up against deploy
    timestamps, which is this relation (a fixed threshold would go
    empty or explode depending on stream density — top-K by duration
    is scale-free).

    One lag per stream (single event_type exchange, same shape as
    win_top_movers' daily deltas but at raw-event grain), then a
    global TakeOrdered on (gap DESC, type, event_id) — deterministic
    K-boundary via the unique event_id (§2.X rule 2), never a global
    sort. Gaps in exact µs (ns-recipe §1.3); timestamps emitted as
    typed values (rule 3).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    gap = F.unix_micros("ts") - F.unix_micros("prev_ts")
    return (
        seq.filter(F.col("prev_ts").isNotNull())
        .select(
            "event_type",
            F.col("prev_ts").alias("gap_start"),
            F.col("ts").alias("gap_end"),
            gap.cast("bigint").alias("gap_us"),
            "event_id",
        )
        .orderBy(F.desc("gap_us"), "event_type", "event_id")
        .limit(SILENCE_TOP_K)
        .drop("event_id")
    )


@op(
    "ts_wow_aligned",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    )
    SELECT a.d, a.cnt, b.cnt AS prior_cnt,
           a.cnt - b.cnt AS delta,
           round(CAST(a.cnt - b.cnt AS DOUBLE) / b.cnt, 6) AS wow_pct
    FROM daily a JOIN daily b ON b.d = a.d - 7
    """,
    category=CAT,
)
def ts_wow_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-ALIGNED week-over-week growth: each day compared to the
    same weekday one week earlier (Mon vs prior Mon) — the alignment
    that makes the comparison honest where naive day-over-day mixes
    weekend and weekday baselines (ts_yoy_growth aligns by month;
    ts_sma_crossover smooths; WoW-aligned is how growth dashboards
    actually state "up 4% on last week").

    Self-join of the daily rollup on d−7 (equi key after the date
    shift — a hash join over the ≤|days| aggregate, no window needed
    and no frame semantics to match across engines). Days without a
    7-days-prior observation drop out (inner join: no baseline, no
    claim). Integer deltas; one rounded ratio (§2.X).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("cnt")
    )
    a = daily.alias("a")
    b = daily.select(
        F.date_add("d", 7).alias("d7"), F.col("cnt").alias("prior_cnt")
    ).alias("b")
    return a.join(b, F.col("a.d") == F.col("b.d7")).select(
        F.col("a.d").alias("d"),
        F.col("a.cnt").alias("cnt"),
        "prior_cnt",
        (F.col("a.cnt") - F.col("prior_cnt")).alias("delta"),
        F.round(
            (F.col("a.cnt") - F.col("prior_cnt")).cast("double")
            / F.col("prior_cnt"),
            6,
        ).alias("wow_pct"),
    )


@op(
    "ts_seasonal_index_monthly",
    oracle="""
    WITH monthly AS (
        SELECT CAST(strftime(o_orderdate, '%m') AS INTEGER) AS mon,
               strftime(o_orderdate, '%Y-%m') AS ym,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY 1, 2
    ), per_mon AS (
        SELECT mon, CAST(sum(rev_c) AS BIGINT) AS mon_rev_c,
               CAST(count(*) AS BIGINT) AS n_years
        FROM monthly GROUP BY mon
    ), tot AS (
        SELECT CAST(sum(mon_rev_c) AS BIGINT) AS all_rev_c,
               CAST(sum(n_years) AS BIGINT) AS all_months
        FROM per_mon
    )
    SELECT mon, n_years, mon_rev_c,
           round((CAST(mon_rev_c AS DOUBLE) / n_years)
                 / (CAST(all_rev_c AS DOUBLE) / all_months), 4)
               AS seasonal_index
    FROM per_mon CROSS JOIN tot
    """,
    category=CAT,
)
def ts_seasonal_index_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical MONTHLY SEASONAL INDEX over the 7-year order history:
    each calendar month's average monthly revenue divided by the
    overall monthly average — index 1.10 means "Marches run 10% hot",
    the deseasonalization factor classical decomposition divides out
    before trend fitting (ts_seasonality_profile shapes the DAY by
    hour from the event stream; this shapes the YEAR by month from
    the order history — forecasting's other calendar;
    ts_seasonal_naive_forecast consumes exactly these factors).

    Averaging per (calendar month, year) cell FIRST, then across
    years, keeps a month observed in 7 years comparable to one
    observed in 6 (edge months) — the unweighted-mean pitfall of
    naive sum-by-month. Two nested map-combined rollups + a 1-row
    total broadcast; one rounded double ratio from integer sums
    (§2.X rule 1).
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.month("o_orderdate").alias("mon"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("rev_c")
    )
    per_mon = monthly.groupBy("mon").agg(
        F.sum("rev_c").alias("mon_rev_c"),
        F.count("*").alias("n_years"),
    )
    tot = per_mon.agg(
        F.sum("mon_rev_c").alias("all_rev_c"),
        F.sum("n_years").alias("all_months"),
    )
    return per_mon.crossJoin(F.broadcast(tot)).select(
        "mon",
        "n_years",
        "mon_rev_c",
        F.round(
            (F.col("mon_rev_c").cast("double") / F.col("n_years"))
            / (F.col("all_rev_c").cast("double") / F.col("all_months")),
            4,
        ).alias("seasonal_index"),
    )


@op(
    "ts_downsample_minmax",
    oracle="""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    ), wk AS (
        SELECT CAST(date_trunc('week', d) AS DATE) AS week_start, d, cnt
        FROM daily
    ), ranked AS (
        SELECT week_start, d, cnt,
               row_number() OVER (PARTITION BY week_start
                                  ORDER BY cnt ASC, d) AS r_min,
               row_number() OVER (PARTITION BY week_start
                                  ORDER BY cnt DESC, d) AS r_max
        FROM wk
    )
    SELECT week_start, 'min' AS role, d, cnt FROM ranked WHERE r_min = 1
    UNION ALL
    SELECT week_start, 'max', d, cnt FROM ranked WHERE r_max = 1
    ORDER BY week_start, role
    """,
    category=CAT,
)
def ts_downsample_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max chart downsampling: per week, keep exactly the lowest
    and highest day of the daily shipment series — the
    spike-preserving decimator monitoring UIs use (an AVG-per-week
    downsample ERASES the outage dip and the flash-sale spike, which
    are the only two points anyone charts the series FOR; min-max is
    the M4 family's core guarantee: rendered extremes survive any
    zoom level). 2499 daily points → 2 per week, ~7× reduction here,
    unbounded reduction at 100 TB where the bucket is an hour of
    billions of raw rows.

    Buckets are date_trunc weeks; the two keeps come from two
    row_number windows over the SAME per-week partition (one
    shuffle), earliest-day tie-break making each keep total (§2.X).
    All integer; the raw fact volume dies in the daily groupBy
    before any window runs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wk = daily.select(
        F.trunc("d", "week").alias("week_start"), "d", "cnt"
    )
    wp = Window.partitionBy("week_start")
    ranked = wk.select(
        "week_start",
        "d",
        "cnt",
        F.row_number().over(wp.orderBy(F.asc("cnt"), "d")).alias("r_min"),
        F.row_number().over(wp.orderBy(F.desc("cnt"), "d")).alias("r_max"),
    )
    mins = ranked.filter(F.col("r_min") == 1).select(
        "week_start", F.lit("min").alias("role"), "d", "cnt"
    )
    maxs = ranked.filter(F.col("r_max") == 1).select(
        "week_start", F.lit("max").alias("role"), "d", "cnt"
    )
    return mins.unionAll(maxs).orderBy("week_start", "role")


MONTH_END_DAYS = 3


@op(
    "ts_month_end_hockey_stick",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               CAST(o_orderdate AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev_c
        FROM orders GROUP BY 1, 2
    ), tagged AS (
        SELECT m, n, rev_c,
               date_diff('day', d,
                   CAST(m + INTERVAL 1 MONTH - INTERVAL 1 DAY AS DATE))
                   < {MONTH_END_DAYS} AS is_tail
        FROM daily
    )
    SELECT m,
           CAST(sum(rev_c) AS BIGINT) AS rev_c,
           CAST(sum(CASE WHEN is_tail THEN rev_c ELSE 0 END) AS BIGINT)
               AS tail_rev_c,
           CAST((sum(CASE WHEN is_tail THEN rev_c ELSE 0 END) * 1000000)
                // sum(rev_c) AS BIGINT) AS tail_share_ppm,
           (sum(CASE WHEN is_tail THEN rev_c ELSE 0 END) * 10
            > sum(rev_c) * 2) AS hockey_stick
    FROM tagged GROUP BY m ORDER BY m
    """,
    category=CAT,
)
def ts_month_end_hockey_stick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end 'hockey stick' audit: the revenue share of each
    month's last {MONTH_END_DAYS} days, flagged where it exceeds 20 %
    — the quota-gaming fingerprint (sales teams sandbagging to the
    close compress risk into three days: rushed deals, returns,
    revenue-recognition scrutiny; a flat ~10 % share is healthy, and
    the FLAG is what an audit committee samples). ts_seasonal_index_
    monthly normalizes BETWEEN months; this looks WITHIN the month at
    the close, which that index cannot see.

    Tail membership is date arithmetic against the month's last day
    (no calendar table needed: month-start + 1 month − 1 day —
    leap-safe by construction); shares are integer ppm and the 20 %
    flag is an exact cross-multiplication (tail·10 > total·2), so
    the flag can never disagree with the published share. One daily
    rollup → one ≤|months| rollup, both map-combined.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.trunc("o_orderdate", "month").alias("m"),
        F.to_date("o_orderdate").alias("d"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100)).cast("bigint").alias("rev_c"),
    )
    last_day = F.date_sub(F.add_months(F.col("m"), 1), 1)
    tagged = daily.select(
        "m",
        "rev_c",
        (F.datediff(last_day, F.col("d")) < MONTH_END_DAYS).alias("is_tail"),
    )
    tail = F.sum(F.when(F.col("is_tail"), F.col("rev_c")).otherwise(0)).cast(
        "bigint"
    )
    total = F.sum("rev_c").cast("bigint")
    return (
        tagged.groupBy("m")
        .agg(
            total.alias("rev_c"),
            tail.alias("tail_rev_c"),
        )
        .select(
            "m",
            "rev_c",
            "tail_rev_c",
            F.expr("(tail_rev_c * 1000000) div rev_c")
            .cast("bigint")
            .alias("tail_share_ppm"),
            (F.col("tail_rev_c") * 10 > F.col("rev_c") * 2).alias(
                "hockey_stick"
            ),
        )
        .orderBy("m")
    )


@op(
    "ts_revenue_pacing_curve",
    oracle="""
    WITH daily AS (
        SELECT EXTRACT(year FROM o_orderdate) AS y,
               CAST(o_orderdate AS DATE) AS d,
               CAST(sum(round(o_totalprice)) AS BIGINT) AS rev_d
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) BETWEEN 1996 AND 2000
        GROUP BY 1, 2
    ), cum AS (
        SELECT y, d, rev_d,
               CAST(sum(rev_d) OVER (PARTITION BY y ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS c,
               CAST(sum(rev_d) OVER (PARTITION BY y) AS BIGINT) AS tot
        FROM daily
    ), dec AS (SELECT unnest(range(1, 10)) AS k), hit AS (
        SELECT c.y, dk.k, min(c.d) AS first_d
        FROM cum c JOIN dec dk ON c.c * 10 >= dk.k * c.tot
        GROUP BY 1, 2
    )
    SELECT y, k AS decile, first_d,
           CAST(EXTRACT(doy FROM first_d) AS BIGINT) AS day_of_year
    FROM hit ORDER BY y, decile
    """,
    category=CAT,
)
def ts_revenue_pacing_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue pacing curve: per year, the first day cumulative
    revenue crosses each decile of that year's total — the planning
    artifact behind 'are we ahead of last year?' (comparing today's
    cumulative against a target number answers nothing without the
    SHAPE; the pacing table is the shape, and two years' day-of-year
    columns side by side is the whole ahead/behind conversation —
    ts_month_end_hockey_stick reads the within-month shape, this the
    within-year one).

    Decile crossing is exact cross-multiplication (cum·10 ≥ k·total
    — no percentage float exists); the decile spine is a 9-row
    literal joined with the inequality so each (year, k) takes its
    MIN crossing date; per-year windows only. 45 rows out.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.filter(F.year("o_orderdate").between(1996, 2000))
        .groupBy(
            F.year("o_orderdate").alias("y"),
            F.to_date("o_orderdate").alias("d"),
        )
        .agg(F.sum(F.round("o_totalprice")).cast("bigint").alias("rev_d"))
    )
    wy = Window.partitionBy("y")
    cum = daily.select(
        "y",
        "d",
        F.sum("rev_d")
        .over(wy.orderBy("d").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("c"),
        F.sum("rev_d").over(wy).cast("bigint").alias("tot"),
    )
    dec = spark.range(1, 10).select(F.col("id").cast("bigint").alias("k"))
    hit = (
        cum.crossJoin(F.broadcast(dec))
        .filter(F.col("c") * 10 >= F.col("k") * F.col("tot"))
        .groupBy("y", "k")
        .agg(F.min("d").alias("first_d"))
    )
    return hit.select(
        "y",
        F.col("k").alias("decile"),
        "first_d",
        F.dayofyear("first_d").cast("bigint").alias("day_of_year"),
    ).orderBy("y", "decile")


@op(
    "agg_session_bounce_rate",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS prev_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_s
        FROM ordered
    ), numbered AS (
        SELECT user_id, us,
               SUM(new_s) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS sid
        FROM flagged
    ), sess AS (
        SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events
        FROM numbered GROUP BY 1, 2
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM sess)
    SELECT CAST(count(*) FILTER (n_events = 1) AS BIGINT) AS bounced,
           t.n_sessions,
           CAST(count(*) FILTER (n_events = 1) * 1000000 // t.n_sessions
                AS BIGINT) AS bounce_ppm,
           CAST(max(n_events) AS BIGINT) AS max_session_events
    FROM sess CROSS JOIN tot t GROUP BY t.n_sessions
    """,
    category="aggregation",
)
def agg_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate over gap-sessionized events: the share of sessions
    containing exactly ONE event — the engagement-quality headline
    sitting one aggregation above sessionize_gap (which emits the
    sessions; this judges them). 95% single-event sessions at both SFs
    is itself the reading: this event stream is ping-like, and any
    funnel math over 'sessions' here is really counting solo events —
    the kind of corpus fact a growth report must state before quoting
    per-session metrics.

    Same lag→flag→running-sum sessionization as sessionize_gap (one
    user_id shuffle serves both windows and the session rollup);
    bounce share in integer ppm via `div` against the broadcast
    session total — counts exact, no float anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flagged = ev.select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.when(
            F.lag(us).over(w).isNull()
            | ((us - F.lag(us).over(w)) > SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    w2 = Window.partitionBy("user_id").orderBy("us", "event_id")
    numbered = flagged.select(
        "user_id", F.sum("new_s").over(w2).alias("sid")
    )
    sess = numbered.groupBy("user_id", "sid").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    tot = sess.agg(F.count("*").cast("bigint").alias("n_sessions"))
    return (
        sess.crossJoin(F.broadcast(tot))
        .groupBy("n_sessions")
        .agg(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("bounced"),
            F.max("n_events").cast("bigint").alias("max_session_events"),
        )
        .select(
            "bounced",
            "n_sessions",
            F.expr("bounced * 1000000 div n_sessions")
            .cast("bigint")
            .alias("bounce_ppm"),
            "max_session_events",
        )
    )
