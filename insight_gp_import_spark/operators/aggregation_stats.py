"""Statistical-inference aggregation operators (SURVEY.md §2.D):
hypothesis tests (t/U/chi-square/ANOVA/runs), robust statistics
(MAD/trimmed mean/boxplot fences), inequality and concentration
measures (Gini/Theil/Lorenz), estimators (EB shrinkage, Wilson, Hill,
target encoding), and experiment readouts (A/B lift, DiD,
sample-size). Split out of aggregation.py in r12 (verdict item 7);
same category/oracle contract, registry unchanged.
"""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_gp_import_spark.registry import op, tracked_persist
from insight_gp_import_spark.tables import load_table

CAT = "aggregation"

from insight_gp_import_spark.operators.aggregation import (  # noqa: F401
    _exact_global_ntile,
    _exact_global_rank,
)


@op(
    "agg_regression",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
               CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)
                        * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sxx,
               CAST(sum(CAST(round(l_extendedprice) AS BIGINT)
                        * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)
                        * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS slope,
           round((CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS intercept,
           round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS r2
    FROM m
    """,
    category=CAT,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS regression (slope / intercept / R²) of extended
    price on quantity — the JVM-native twin of udaf_grouped_pandas'
    applyInPandas OLS: same statistic, but computed from six exact
    integer moment sums in ONE map-combined hash aggregate instead of
    collecting each group into a Python worker.

    Same determinism protocol as win_rolling_corr / dq_anomaly_zscore:
    the moments (n, Σx, Σy, Σx², Σy², Σxy) are exact BIGINTs (values
    rounded to whole units first — dollar-scale y keeps Σy² < 2⁶³ at
    sf0.1 and far beyond; cent-scale would overflow at ~10⁵ rows/group
    because Spark's non-ANSI bigint sum wraps silently while DuckDB
    widens to HUGEINT), and the closed-form ratios are derived in the
    final projection with identical double expressions both engines.
    At 100 TB this is the canonical scale shape for regression: state
    is 6 numbers per group (DECIMAL(38) states at petabyte volumes per
    the dq_anomaly_zscore contract), fully map-side combinable —
    applyInPandas would ship every row of every group to Python.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("bigint")
    y = F.round(F.col("l_extendedprice")).cast("bigint")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    vx = nd * F.col("sxx") - sxd * F.col("sx")
    vy = nd * F.col("syy") - syd * F.col("sy")
    cov = nd * F.col("sxy") - sxd * F.col("sy")
    return m.select(
        "l_returnflag",
        "n",
        F.round(cov / vx, 6).alias("slope"),
        F.round(
            (syd * F.col("sxx") - sxd * F.col("sxy")) / vx, 6
        ).alias("intercept"),
        F.round((cov * cov) / (vx * vy), 6).alias("r2"),
    )


@op(
    "agg_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   AS prev_type
        FROM events
    ), cnt AS (
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM cnt
    """,
    category=CAT,
)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | previous event type) — the
    behavioral-model aggregate behind funnel and churn analyses
    (agg_funnel_conversion asks "did A→B→C happen"; this asks "how
    does the whole event language flow").

    One user_id exchange for the lag window (deterministic (ts µs,
    event_id) ordering per §2.X), then the 5×5 transition-count
    aggregate collapses everything map-side — the final matrix is
    |event_types|² rows no matter the input scale, and the probability
    normalization runs over that tiny relation. At 100 TB the only
    real cost is the per-user sort, which sessionize_gap already pays
    and AQE coalesces; no state beyond the window buffer.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    cnt = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("n"))
    wp = Window.partitionBy("prev_type")
    return cnt.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 6).alias("p"),
    )


@op(
    "agg_skew_kurtosis",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)
                        * CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT) AS s2,
               CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)
                        * CAST(round(l_discount * 1000) AS BIGINT)
                        * CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT) AS s3,
               CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)
                        * CAST(round(l_discount * 1000) AS BIGINT)
                        * CAST(round(l_discount * 1000) AS BIGINT)
                        * CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT) AS s4
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * n * s3
                  - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1)
                 / (CAST(n AS DOUBLE) * n * n)
                 / pow(sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                            / (CAST(n AS DOUBLE) * n)), 3), 6) AS skew,
           round(((CAST(n AS DOUBLE) * n * n * s4
                   - 4.0 * n * n * s1 * s3 + 6.0 * n * s1 * s1 * s2
                   - 3.0 * s1 * s1 * s1 * s1)
                  / (CAST(n AS DOUBLE) * n * n * n))
                 / pow((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                       / (CAST(n AS DOUBLE) * n), 2) - 3.0, 6) AS kurt
    FROM m
    """,
    category=CAT,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per group — the 3rd/4th
    distribution moments (is the discount distribution lopsided /
    heavy-tailed), extending agg_stats' mean/stddev tier. Deliberately
    NOT Spark's skewness()/kurtosis() vs DuckDB's: the two engines
    implement different bias corrections (sample g1/G1 vs population),
    a dialect trap the moment protocol sidesteps entirely.

    Same exact-integer-moment protocol as agg_regression taken to 4th
    order: per-mille discounts (0..100) keep Σx⁴ ≤ 10⁸·rows — exact in
    BIGINT to ~10¹⁰ rows/group (DECIMAL(38) states beyond, per the
    dq_anomaly_zscore contract); the central-moment ratios are derived
    in the final projection with the identical double expression on
    both engines. One map-combined aggregate, 6 numbers of state per
    group.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_discount") * 1000).cast("bigint")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    nd = F.col("n").cast("double")
    s1, s2, s3, s4 = (F.col(c) for c in ("s1", "s2", "s3", "s4"))
    var = (nd * s2 - s1.cast("double") * s1) / (nd * F.col("n"))
    m3 = (nd * F.col("n") * s3 - 3.0 * F.col("n") * s1 * s2
          + 2.0 * s1 * s1 * s1) / (nd * F.col("n") * F.col("n"))
    m4 = (nd * F.col("n") * F.col("n") * s4
          - 4.0 * F.col("n") * F.col("n") * s1 * s3
          + 6.0 * F.col("n") * s1 * s1 * s2
          - 3.0 * s1 * s1 * s1 * s1) / (nd * F.col("n") * F.col("n") * F.col("n"))
    return m.select(
        "l_returnflag", "n",
        F.round(m3 / F.pow(F.sqrt(var), 3), 6).alias("skew"),
        F.round(m4 / F.pow(var, 2) - 3.0, 6).alias("kurt"),
    )


@op(
    "agg_gini_activity",
    oracle="""
    WITH per_user AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
    ), by_level AS (
        SELECT cnt AS c, CAST(count(*) AS BIGINT) AS k
        FROM per_user GROUP BY cnt
    ), cum AS (
        SELECT c, k,
               CAST(coalesce(sum(k) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS p
        FROM by_level
    ), moments AS (
        SELECT CAST(sum(k) AS BIGINT) AS n,
               CAST(sum(c * k) AS BIGINT) AS t,
               CAST(sum(c * (k * p + (k * (k + 1)) // 2)) AS BIGINT) AS s
        FROM cum
    )
    SELECT n AS n_users, t AS total_events,
           CAST((2000 * s - 1000 * (n + 1) * t) // (n * t) AS BIGINT)
               AS gini_milli
    FROM moments
    """,
    category=CAT,
)
def agg_gini_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of user activity concentration, EXACT — the
    single-number inequality summary whose full curve is
    agg_pareto_cut ("how unequal is the load" vs "where is the 80 %
    point"). 0 = uniform, →1 = one user is the whole stream; ops
    teams trend it to catch bot takeover and key-skew formation
    before joins start spilling.

    The textbook formulation sorts ALL users and sums rank·activity —
    an unpartitioned window over a billions-row relation at 100 TB.
    This op groups to DISTINCT ACTIVITY LEVELS first (the
    agg_pareto_cut move) and reconstructs the rank sum per level in
    closed form (ranks are contiguous: Σi = k·P + k(k+1)/2), so the
    ordered window touches only the bounded level relation and every
    quantity — including the published per-mille Gini — is exact
    integer arithmetic (overflow bound: 2000·S needs Σc·rank² < 2⁶³
    ⇒ fine to ~10⁸ users × 10⁴ events; DECIMAL(38) states beyond).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    by_level = per_user.groupBy(F.col("cnt").alias("c")).agg(
        F.count("*").alias("k")
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = by_level.withColumn(
        "p", F.coalesce(F.sum("k").over(w), F.lit(0)).cast("bigint")
    )
    moments = cum.agg(
        F.sum("k").alias("n"),
        F.sum(F.col("c") * F.col("k")).alias("t"),
        F.sum(
            F.col("c")
            * (F.col("k") * F.col("p") + F.expr("(k * (k + 1)) div 2"))
        ).alias("s"),
    )
    return moments.select(
        F.col("n").alias("n_users"),
        F.col("t").alias("total_events"),
        F.expr(
            "CAST((2000 * s - 1000 * (n + 1) * t) div (n * t) AS BIGINT)"
        ).alias("gini_milli"),
    )


@op(
    "agg_survival_km",
    oracle="""
    WITH user_span AS (
        SELECT user_id,
               min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS first_d,
               max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS last_d
        FROM events GROUP BY user_id
    ), horizon AS (
        SELECT max(last_d) AS hmax FROM user_span
    ), obs AS (
        SELECT user_id,
               CAST(date_diff('day', first_d, last_d) AS BIGINT) AS dur,
               (last_d < (SELECT hmax FROM horizon) - 3) AS churned
        FROM user_span
    ), at_age AS (
        SELECT dur AS age,
               CAST(count(*) FILTER (churned) AS BIGINT) AS d_events,
               CAST(count(*) AS BIGINT) AS leaving
        FROM obs GROUP BY dur
    ), risk AS (
        SELECT age, d_events,
               CAST(sum(leaving) OVER (ORDER BY age DESC) AS BIGINT) AS n_risk
        FROM at_age
    )
    SELECT age, d_events, n_risk,
           round(exp(sum(ln(1.0 - CAST(d_events AS DOUBLE) / n_risk))
                     OVER (ORDER BY age)), 4) AS survival
    FROM risk
    WHERE d_events < n_risk
    """,
    category=CAT,
)
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (Kaplan & Meier
    '58) WITH CENSORING: users still active near the horizon are
    censored, not counted as churned — the statistical correction
    naive retention curves omit (they systematically overstate churn
    for recent cohorts; agg_retention_cohort reads activity, this
    estimates the underlying survival function).

    Distributed formulation: per-user durations reduce to an
    AGE-LEVEL relation (the pareto/gini bounded trick), the at-risk
    count is a reverse cumulative sum over ages, and the KM product
    Π(1−dᵢ/nᵢ) becomes exp(Σ ln(...)) — a running LOG-sum window over
    the bounded age relation (a product window exists in neither
    engine; the log identity makes it window algebra). Counts exact;
    the log-sum is the only double chain, rounded at 4 over ≤
    span-in-days terms (ln bound of text_collocation_pmi, summed —
    magnitudes ≤ ln(1) keep absolute drift ~1e-15·terms).
    """
    ev = load_table(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_d"),
        F.max(F.to_date("ts")).alias("last_d"),
    )
    horizon = span.agg(F.max("last_d").alias("hmax"))
    obs = span.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_d", "first_d").cast("bigint").alias("dur"),
        (F.col("last_d") < F.date_sub(F.col("hmax"), 3)).alias("churned"),
    )
    at_age = obs.groupBy(F.col("dur").alias("age")).agg(
        F.count(F.when(F.col("churned"), 1)).alias("d_events"),
        F.count("*").alias("leaving"),
    )
    w_desc = Window.orderBy(F.desc("age")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = at_age.select(
        "age", "d_events", F.sum("leaving").over(w_desc).alias("n_risk")
    )
    w_asc = Window.orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = F.round(
        F.exp(
            F.sum(
                F.log(1.0 - F.col("d_events").cast("double") / F.col("n_risk"))
            ).over(w_asc)
        ),
        4,
    )
    return risk.filter(F.col("d_events") < F.col("n_risk")).select(
        "age", "d_events", "n_risk", surv.alias("survival")
    )


@op(
    "agg_chi_square",
    oracle="""
    WITH obs AS (
        SELECT event_type,
               CAST(isodow(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT)
                   AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), margins AS (
        SELECT event_type, CAST(sum(o) AS BIGINT) AS row_n FROM obs GROUP BY 1
    ), cols AS (
        SELECT dow, CAST(sum(o) AS BIGINT) AS col_n FROM obs GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n FROM obs
    ), cells AS (
        SELECT o.event_type, o.dow, o.o,
               CAST(m.row_n AS DOUBLE) * c.col_n / t.n AS e
        FROM obs o
        JOIN margins m ON o.event_type = m.event_type
        JOIN cols c ON o.dow = c.dow
        CROSS JOIN tot t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           round(sum((o - e) * (o - e) / e), 4) AS chi2,
           (sum((o - e) * (o - e) / e)
            > 2.0 * count(*)) AS strongly_dependent
    FROM cells
    """,
    category=CAT,
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for (event_type × weekday)
    independence — "does the mix of events depend on the day of the
    week", the categorical-association test behind every contingency
    dashboard (dq_psi_drift compares ONE margin across time; chi²
    tests the full two-way table at once).

    Exact integer observed counts and margins; expected counts and
    the (O−E)²/E terms are the only doubles, computed with the
    identical expression on both engines and summed over a bounded
    |types|×7 cell relation (≤ 35 terms — no aggregation-order drift
    at 4 dp). The dependence verdict uses a χ²-per-cell heuristic
    threshold on the raw statistic — a df-indexed critical-value
    lookup is a broadcast join away, same plan shape.
    """
    ev = load_table(spark, sf_dir, "events")
    dow = F.expr("CAST(((dayofweek(CAST(ts AS DATE)) + 5) % 7) + 1 AS BIGINT)")
    obs = ev.groupBy("event_type", dow.alias("dow")).agg(
        F.count("*").alias("o")
    )
    margins = obs.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    cols = obs.groupBy("dow").agg(F.sum("o").alias("col_n"))
    tot = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(margins), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            (
                F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
            ).alias("e"),
        )
    )
    term = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return cells.agg(
        F.count("*").alias("n_cells"),
        F.round(F.sum(term), 4).alias("chi2"),
        (F.sum(term) > 2.0 * F.count("*")).alias("strongly_dependent"),
    )


@op(
    "agg_geometric_mean",
    oracle="""
    WITH cents AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        FROM lineitem WHERE l_extendedprice > 0
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(exp(avg(ln(CAST(c AS DOUBLE)))), 2) AS geo_mean_c,
           CAST(round(avg(CAST(c AS DOUBLE))) AS BIGINT) AS arith_mean_c
    FROM cents GROUP BY l_returnflag
    """,
    category=CAT,
)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of prices per group — the CORRECT average for
    multiplicative/ratio quantities (price indices, growth factors,
    lift): the arithmetic mean published next to it systematically
    overshoots on right-skewed money data (AM ≥ GM; the gap is itself
    a skew signal, cross-checkable against agg_skew_kurtosis).

    exp(avg(ln x)) over exact positive cents: the ln/exp pair is the
    only double path (text_collocation_pmi's single-transcendental
    bound, ±avg's engine-order drift below the 2nd decimal at these
    magnitudes — the same §2.X rule-1 slack every avg op here
    carries). Zero rows are excluded explicitly (ln domain), stated
    rather than silently NULLed. One map-combined aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.filter(F.col("l_extendedprice") > 0).select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
    )
    return cents.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.exp(F.avg(F.log(F.col("c").cast("double")))), 2).alias(
            "geo_mean_c"
        ),
        F.round(F.avg(F.col("c").cast("double"))).cast("bigint").alias(
            "arith_mean_c"
        ),
    )


@op(
    "agg_hhi_concentration",
    oracle="""
    WITH per_supp AS (
        SELECT r_name, s_suppkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount))
                             AS BIGINT)) AS BIGINT) AS rev_d
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, s_suppkey
    )
    SELECT r_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(rev_d) AS BIGINT) AS total_rev_d,
           round(CAST(sum(rev_d * rev_d) AS DOUBLE)
                 / (CAST(sum(rev_d) AS DOUBLE) * sum(rev_d)), 6) AS hhi
    FROM per_supp
    GROUP BY r_name
    """,
    category=CAT,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman market concentration per region: Σᵢ shareᵢ²
    of supplier revenue — the antitrust/marketplace-health metric
    (agg_gini_activity ranks inequality of USERS; HHI is the
    regulator's concentration index over FIRMS, and the two are not
    derivable from each other).

    Two-level rollup: supplier partials first (map-combined, the only
    fact shuffle), then a |regions|-row combine. HHI = Σrev²/(Σrev)²
    — derived from INTEGER whole-dollar sums (cents would square past
    BIGINT; dollars keep Σrev² ≤ ~4·10¹⁴/supplier, exact to ~10⁴
    suppliers/region — DECIMAL(38) states beyond, per the
    agg_skew_kurtosis contract), ratio rounded at 6 in the final
    projection.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev_d = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "bigint"
    )
    per_supp = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "s_suppkey")
        .agg(F.sum(rev_d).alias("rev_d"))
    )
    return per_supp.groupBy("r_name").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("rev_d").alias("total_rev_d"),
        F.round(
            F.sum(F.col("rev_d") * F.col("rev_d")).cast("double")
            / (F.sum("rev_d").cast("double") * F.sum("rev_d")),
            6,
        ).alias("hhi"),
    )


@op(
    "agg_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ), signs AS (
        SELECT d, cnt,
               CASE WHEN cnt - lag(cnt) OVER (ORDER BY d) > 0
                    THEN 1 ELSE 0 END AS up,
               lag(cnt) OVER (ORDER BY d) AS prev
        FROM daily
    ), marked AS (
        SELECT up,
               CASE WHEN lag(up) OVER (ORDER BY d) IS NULL
                         OR up <> lag(up) OVER (ORDER BY d)
                    THEN 1 ELSE 0 END AS new_run
        FROM signs WHERE prev IS NOT NULL
    )
    SELECT CAST(sum(new_run) AS BIGINT) AS n_runs,
           CAST(sum(up) AS BIGINT) AS n_up,
           CAST(count(*) - sum(up) AS BIGINT) AS n_down,
           round(1 + 2.0 * sum(up) * (count(*) - sum(up)) / count(*), 4)
               AS expected_runs,
           (CAST(sum(new_run) AS DOUBLE)
            < 1 + 2.0 * sum(up) * (count(*) - sum(up)) / count(*) / 2)
               AS trending_flag
    FROM marked
    """,
    category=CAT,
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz RUNS TEST on the daily volume direction sequence:
    observed up/down runs vs the expected count 1 + 2·n₁·n₀/n under
    randomness — far fewer runs than expected = trending/autocorrelated
    load, far more = oscillating (dq_anomaly_zscore judges LEVELS;
    the runs test judges the ORDERING, which level statistics cannot
    see: the same histogram of days can be random or a perfect trend).

    Two ordered windows (lag for direction, lag for run boundary)
    over the ≤|days| daily aggregate (ts_yoy_growth rule); runs are
    counted as boundary markers summed — no iterative scan. Ties
    (Δ=0) fold into 'down' by stated convention. Integer counts; the
    expected-runs double derives in the 1-row projection, and the
    trend flag compares against HALF the expectation — a crude but
    stated decision rule (the z-variance form is a documented
    refinement, not needed for the parity contract).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("cnt")
    )
    w = Window.orderBy("d")
    signs = daily.select(
        "d",
        F.when(F.col("cnt") - F.lag("cnt").over(w) > 0, 1)
        .otherwise(0)
        .alias("up"),
        F.lag("cnt").over(w).alias("prev"),
    )
    marked = signs.filter(F.col("prev").isNotNull()).select(
        "up",
        F.when(
            F.lag("up").over(w).isNull()
            | (F.col("up") != F.lag("up").over(w)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    n = F.count("*")
    n_up = F.sum("up")
    expected = 1 + 2.0 * n_up * (n - n_up) / n
    return marked.groupBy().agg(
        F.sum("new_run").alias("n_runs"),
        n_up.alias("n_up"),
        (n - n_up).alias("n_down"),
        F.round(expected, 4).alias("expected_runs"),
        (F.sum("new_run").cast("double") < expected / 2).alias(
            "trending_flag"
        ),
    )


@op(
    "agg_ab_test_lift",
    oracle="""
    WITH assigned AS (
        SELECT user_id, user_id % 2 AS arm,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) >= 15
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ), arms AS (
        SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
                    AS BIGINT) AS c0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
                    AS BIGINT) AS c1
        FROM assigned
    )
    SELECT n0, c0, n1, c1,
           round(CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0, 6)
               AS abs_lift,
           round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 4) AS z_score
    FROM arms
    """,
    category=CAT,
)
def agg_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash-split into two arms
    (user_id parity — the deterministic assignment every experiment
    platform uses), per-arm conversion to HEAVY BUYER (≥15 purchases
    in the window — a near-universal event converts at ~1.0 and
    degenerates the pooled z to 0/0, found live by ANSI mode's
    divide-by-zero; interior rates are a metric-design requirement,
    not a nicety), absolute lift,
    and the pooled two-proportion z-score — the experimentation
    staple (agg_chi_square tests INDEPENDENCE on a contingency table;
    the two-proportion z is the directional arm-vs-arm readout with
    effect size, which is what a launch review actually reads).

    Per-user conversion collapses first (one user_id shuffle — a user
    converts once no matter how many purchases, the unit-of-analysis
    rule that naive event-counting gets wrong), then a 1-row arm
    rollup; lift and z derive from 4 integers with the identical
    double expression (§2.X rule 1). The z is reported as a statistic
    — significance thresholds are the reader's policy, not the
    engine's.
    """
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 15,
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select((F.col("user_id") % 2).alias("arm"), "converted")
    arms = assigned.groupBy().agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    return arms.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(p1 - p0, 6).alias("abs_lift"),
        F.round(
            (p1 - p0)
            / F.sqrt(
                pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
            ),
            4,
        ).alias("z_score"),
    )


@op(
    "agg_lorenz_deciles",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY o_custkey
    ), binned AS (
        SELECT o_custkey, rev_c,
               ntile(10) OVER (ORDER BY rev_c, o_custkey) AS decile
        FROM per_cust
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(rev_c) AS BIGINT) AS rev_c,
           round(CAST(sum(sum(rev_c)) OVER (ORDER BY decile) AS DOUBLE)
                 / sum(sum(rev_c)) OVER (), 6) AS cum_share
    FROM binned GROUP BY decile
    """,
    category=CAT,
)
def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE deciles: customers ranked by revenue, split into
    10 equal-count bins, with each bin's exact cent mass and the
    cumulative share — the chart BEHIND agg_gini_activity's single
    number (the Gini is twice the area above this curve; an account
    review reads the curve: "bottom 50% of customers carry 11% of
    revenue" is decile 5's cum_share).

    Customer rollup first (the only fact shuffle), then EXACT
    equal-count deciles WITHOUT a global window via
    ``_exact_global_ntile`` (r8 verdict item 4 -- the docstring used
    to promise this path beyond 10^7 customers; now it IS the path at
    every scale): bucketed exact global ranks + ntile arithmetic,
    bit-identical to the oracle's ntile with the (rev, custkey)
    tie-break preserved. The only unpartitioned windows left run over
    BOUNDED relations: the 64-row bucket-count table inside the
    helper and the 10-row decile rollup here. Cumulative share is a
    nested window over the latter -- free.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("rev_c")
    )
    binned = _exact_global_ntile(
        per_cust, 10, "rev_c", "o_custkey", "decile"
    ).select("rev_c", F.col("decile").cast("int").alias("decile"))
    rolled = binned.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("rev_c").alias("rev_c"),
    )
    w_cum = Window.orderBy("decile")
    w_all = Window.partitionBy()
    return rolled.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_customers",
        "rev_c",
        F.round(
            F.sum("rev_c").over(w_cum).cast("double")
            / F.sum("rev_c").over(w_all),
            6,
        ).alias("cum_share"),
    )


TE_SMOOTHING_M = 100


@op(
    "agg_target_encoding",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS y_c
        FROM orders
    ), g AS (
        SELECT CAST(sum(y_c) AS BIGINT) AS gs,
               CAST(count(*) AS BIGINT) AS gn
        FROM base
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(y_c) AS DOUBLE) / count(*) / 100, 4) AS raw_mean,
           round((sum(y_c) + {TE_SMOOTHING_M} * (CAST(gs AS DOUBLE) / gn))
                 / (count(*) + {TE_SMOOTHING_M}) / 100, 4) AS smoothed_enc
    FROM base CROSS JOIN g
    GROUP BY o_orderpriority, gs, gn
    """,
    category=CAT,
)
def agg_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m-estimate TARGET ENCODING: each category (order priority)
    encoded as the smoothed target mean
    (Σy + m·global_mean)/(n + m), m={TE_SMOOTHING_M} — the
    feature-engineering classic for high-cardinality categoricals,
    where the smoothing shrinks rare categories toward the prior so
    a 3-row category can't memorize its targets (the leakage that
    sinks naive mean encoding; a production pipeline adds
    out-of-fold splitting on top — corpus_split_hash's folds are
    exactly the splitter this composes with).

    One map-combined category rollup + a 1-row global-prior
    broadcast; the encoding derives from integer sums with the
    identical double expression per §2.X rule 1. At 10⁶ categories
    this is still two aggregates — the whole point of mean encoding
    over one-hot at scale.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y_c"),
    )
    g = base.agg(
        F.sum("y_c").alias("gs"), F.count("*").alias("gn")
    )
    gm = F.col("gs").cast("double") / F.col("gn")
    return (
        base.crossJoin(F.broadcast(g))
        .groupBy("o_orderpriority", "gs", "gn")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum("y_c").cast("double") / F.count("*") / 100, 4
            ).alias("raw_mean"),
            F.round(
                (F.sum("y_c") + TE_SMOOTHING_M * gm)
                / (F.count("*") + TE_SMOOTHING_M)
                / 100,
                4,
            ).alias("smoothed_enc"),
        )
        .select("o_orderpriority", "n", "raw_mean", "smoothed_enc")
    )


CR_K = 10


@op(
    "agg_concentration_ratio",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT rev_c,
               row_number() OVER (ORDER BY rev_c DESC, o_custkey) AS rk
        FROM per_cust
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN rk <= {CR_K} THEN rev_c ELSE 0 END)
                AS BIGINT) AS topk_rev_c,
           CAST(sum(rev_c) AS BIGINT) AS total_rev_c,
           round(CAST(sum(CASE WHEN rk <= {CR_K} THEN rev_c ELSE 0 END)
                      AS DOUBLE) / sum(rev_c), 6) AS cr{CR_K}
    FROM ranked
    """,
    category=CAT,
)
def agg_concentration_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCENTRATION RATIO CR{CR_K}: the top-{CR_K} customers' share of
    total revenue — the OTHER regulator/board number beside
    agg_hhi_concentration (HHI weights every firm quadratically; CRk
    answers "how exposed are we to our biggest {CR_K} accounts", the
    key-account-risk question a sales org actually asks).

    Customer rollup (one fact shuffle), then the TakeOrdered-top-K +
    1-row-total formulation the old docstring merely PROMISED at
    extreme cardinality (r8: it is now the only path): orderBy+limit
    plans as TakeOrderedAndProject — a per-partition K-row heap merged
    on the driver, never a global sort — and the totals are one
    map-combined aggregate; the two 1-row relations cross-join
    broadcast. No ranking window over the |customers| relation at any
    scale; tie-break (rev desc, custkey) preserved by the heap's sort
    key. One rounded double from exact cent sums.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("rev_c")
    )
    topk = (
        per_cust.orderBy(F.desc("rev_c"), "o_custkey")
        .limit(CR_K)
        .agg(F.sum("rev_c").alias("topk_rev_c"))
    )
    totals = per_cust.agg(
        F.count("*").alias("n_customers"),
        F.sum("rev_c").alias("total_rev_c"),
    )
    return totals.crossJoin(F.broadcast(topk)).select(
        "n_customers",
        "topk_rev_c",
        "total_rev_c",
        F.round(
            F.col("topk_rev_c").cast("double") / F.col("total_rev_c"), 6
        ).alias(f"cr{CR_K}"),
    )


MAD_K = 5  # outlier rule: |v - median| > MAD_K * MAD (stated convention)


@op(
    "agg_mad_robust",
    oracle=f"""
    WITH vals AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        FROM events
    ), hist1 AS (
        SELECT event_type, v, CAST(count(*) AS BIGINT) AS n_at
        FROM vals GROUP BY event_type, v
    ), med1 AS (
        SELECT event_type, min(v) AS med_c
        FROM (SELECT event_type, v,
                     sum(n_at) OVER (PARTITION BY event_type ORDER BY v)
                         AS cum,
                     sum(n_at) OVER (PARTITION BY event_type) AS n
              FROM hist1) c
        WHERE cum >= (n + 1) // 2
        GROUP BY event_type
    ), devs AS (
        SELECT vals.event_type, abs(v - med_c) AS d
        FROM vals JOIN med1 USING (event_type)
    ), hist2 AS (
        SELECT event_type, d, CAST(count(*) AS BIGINT) AS n_at
        FROM devs GROUP BY event_type, d
    ), mad AS (
        SELECT event_type, min(d) AS mad_c
        FROM (SELECT event_type, d,
                     sum(n_at) OVER (PARTITION BY event_type ORDER BY d)
                         AS cum,
                     sum(n_at) OVER (PARTITION BY event_type) AS n
              FROM hist2) c
        WHERE cum >= (n + 1) // 2
        GROUP BY event_type
    )
    SELECT d.event_type, CAST(med_c AS BIGINT) AS med_c,
           CAST(mad_c AS BIGINT) AS mad_c,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN d.d > {MAD_K} * mad_c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM devs d JOIN med1 USING (event_type) JOIN mad USING (event_type)
    GROUP BY d.event_type, med_c, mad_c
    """,
    category=CAT,
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier detection via Median Absolute Deviation: per
    stream, the exact median, the exact MAD, and the count of points
    beyond {MAD_K}·MAD — the robust twin of dq_anomaly_zscore (mean
    and σ are themselves dragged by the outliers they're meant to
    find; median/MAD have a 50% breakdown point, which is why
    monitoring literature prefers them on dirty feeds).

    ENTIRELY integer: both medians come from the dq_join_key_skew
    count-histogram trick (counts → cumulative over the bounded
    distinct-value relation → smallest value with cum ≥ ⌈n/2⌉, lower
    median stated) — two histogram rollups and one deviation pass,
    never a sort of the data; the outlier rule compares integer cents
    to integer MAD-multiples, so no double exists in the whole op.
    """
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )

    def _hist_median(df, col, out):
        hist = df.groupBy("event_type", col).agg(
            F.count("*").alias("n_at")
        )
        w_cum = Window.partitionBy("event_type").orderBy(col)
        w_all = Window.partitionBy("event_type")
        cum = hist.select(
            "event_type",
            col,
            F.sum("n_at").over(w_cum).alias("cum"),
            F.sum("n_at").over(w_all).alias("n"),
        )
        return (
            cum.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
            .groupBy("event_type")
            .agg(F.min(col).alias(out))
        )

    med1 = _hist_median(vals, "v", "med_c")
    devs = vals.join(F.broadcast(med1), "event_type").select(
        "event_type", F.abs(F.col("v") - F.col("med_c")).alias("d")
    )
    mad = _hist_median(devs, "d", "mad_c")
    return (
        devs.join(F.broadcast(med1), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_c", "mad_c")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("d") > MAD_K * F.col("mad_c"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select("event_type", "med_c", "mad_c", "n", "n_outliers")
    )


AB_DELTAS_PP = ["0.01", "0.02", "0.05", "0.10"]  # detectable lifts


AB_Z_ALPHA = "1.959964"  # two-sided alpha = 0.05


AB_Z_POWER = "0.841621"  # power = 0.80


@op(
    "agg_ab_sample_size",
    oracle=f"""
    WITH rate AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               round(CAST(sum(conv) AS DOUBLE) / count(*), 6) AS p
        FROM (
            SELECT user_id,
                   CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) >= 15
                        THEN 1 ELSE 0 END AS conv
            FROM events GROUP BY user_id
        )
    )
    SELECT CAST(d AS DOUBLE) AS delta_pp, n_users, p,
           CAST(ceil(2 * (({AB_Z_ALPHA} + {AB_Z_POWER})
                          * ({AB_Z_ALPHA} + {AB_Z_POWER}))
                     * p * (1 - p) / (CAST(d AS DOUBLE) * d) )
                AS BIGINT) AS n_per_arm,
           (CAST(ceil(2 * (({AB_Z_ALPHA} + {AB_Z_POWER})
                           * ({AB_Z_ALPHA} + {AB_Z_POWER}))
                      * p * (1 - p) / (CAST(d AS DOUBLE) * d))
                 AS BIGINT) * 2 <= n_users) AS feasible_now
    FROM rate
    CROSS JOIN (SELECT unnest(ARRAY[{", ".join(AB_DELTAS_PP)}]) AS d)
    """,
    category=CAT,
)
def agg_ab_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B SAMPLE-SIZE table anchored to the OBSERVED baseline: for
    each detectable lift δ, the required users per arm
    n = 2(z_α+z_β)²p(1−p)/δ² at α=0.05 / power 0.8 — the
    design-before-run companion of agg_ab_test_lift (the tuning-table
    pattern of corpus_lsh_tuning_table applied to experimentation:
    the p in the formula comes from THIS corpus's heavy-buyer rate,
    not a guess, and feasible_now says whether the current user base
    could even run the test).

    The baseline rate is the same per-user conversion rollup as the
    lift op (unit-of-analysis consistency — sizing and readout MUST
    share the metric); the δ grid is a literal cross join; z values
    are stated literals (no inverse-normal function exists portably).
    Closed-form doubles from one observed rate, rounded before use.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 15,
            1,
        )
        .otherwise(0)
        .alias("conv")
    )
    rate = per_user.agg(
        F.count("*").alias("n_users"),
        F.round(F.sum("conv").cast("double") / F.count("*"), 6).alias("p"),
    )
    deltas = spark.createDataFrame(
        [(float(d),) for d in AB_DELTAS_PP], "delta_pp double"
    )
    z = float(AB_Z_ALPHA) + float(AB_Z_POWER)
    n_per_arm = F.ceil(
        2 * (z * z) * F.col("p") * (1 - F.col("p"))
        / (F.col("delta_pp") * F.col("delta_pp"))
    ).cast("bigint")
    return rate.crossJoin(deltas).select(
        "delta_pp",
        "n_users",
        "p",
        n_per_arm.alias("n_per_arm"),
        (n_per_arm * 2 <= F.col("n_users")).alias("feasible_now"),
    )


@op(
    "agg_spearman_corr",
    oracle="""
    WITH spend AS (
        SELECT c.c_mktsegment AS seg, c.c_custkey AS ck,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_c,
               CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS spend_c
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
    ), ranked AS (
        SELECT seg,
               CAST(row_number() OVER (PARTITION BY seg
                                       ORDER BY bal_c, ck) AS BIGINT) AS rb,
               CAST(row_number() OVER (PARTITION BY seg
                                       ORDER BY spend_c, ck) AS BIGINT) AS rs
        FROM spend
    )
    SELECT seg, CAST(count(*) AS BIGINT) AS n,
           CAST(sum((rb - rs) * (rb - rs)) AS BIGINT) AS sum_d2,
           round(1 - 6.0 * sum((rb - rs) * (rb - rs))
                     / (count(*) * (count(*) * count(*) - 1.0)), 9) AS rho
    FROM ranked GROUP BY seg ORDER BY seg
    """,
    category=CAT,
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between account balance and realized
    spend, per market segment — the MONOTONe-association answer to
    agg_regression's linear one (Pearson on heavy-tailed spend is
    dragged by whales; rank correlation is outlier-immune, and
    near-zero rho here is the 'balance is not a spend proxy' finding
    segmentation teams need stated, not assumed).

    Ranks are row_number over (value, custkey) — a deterministic
    total order (§2.X: rank() average-tie variants reappear as .5s;
    the key tie-break keeps every rank an integer and the permutation
    identity exact), so rho = 1 − 6Σd²/(n(n²−1)) is one integer
    aggregate with a single rounded division at the end. Σd² ≤ n³/3
    keeps BIGINT safe to n ~ 2×10⁶ per segment; beyond that, band
    the ranks (the formula only needs Σd², which sums per-band).
    Two per-segment windows + one rollup — no global sort.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy(
            c.c_mktsegment.alias("seg"),
            c.c_custkey.alias("ck"),
            F.round(c.c_acctbal * 100).cast("bigint").alias("bal_c"),
        )
        .agg(
            F.sum(F.round(o.o_totalprice * 100)).cast("bigint").alias("spend_c")
        )
    )
    rb = F.row_number().over(
        Window.partitionBy("seg").orderBy("bal_c", "ck")
    )
    rs = F.row_number().over(
        Window.partitionBy("seg").orderBy("spend_c", "ck")
    )
    ranked = spend.select(
        "seg", rb.cast("bigint").alias("rb"), rs.cast("bigint").alias("rs")
    )
    d = F.col("rb") - F.col("rs")
    n = F.count("*")
    return (
        ranked.groupBy("seg")
        .agg(
            n.cast("bigint").alias("n"),
            F.sum(d * d).cast("bigint").alias("sum_d2"),
            F.round(
                1 - 6.0 * F.sum(d * d) / (n * (n * n - 1.0)), 9
            ).alias("rho"),
        )
        .orderBy("seg")
    )


MWU_SEG_A = "BUILDING"


MWU_SEG_B = "MACHINERY"


@op(
    "agg_mann_whitney_u",
    oracle=f"""
    WITH samp AS (
        SELECT c.c_mktsegment AS seg,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('{MWU_SEG_A}', '{MWU_SEG_B}')
    ), hist AS (
        SELECT v,
               CAST(sum(CASE WHEN seg = '{MWU_SEG_A}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS tc
        FROM samp GROUP BY v
    ), cum AS (
        SELECT c1, tc,
               CAST(sum(tc) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cumtc
        FROM hist
    ), sums AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(tc - c1) AS BIGINT) AS n2,
               CAST(sum(c1 * (2 * (cumtc - tc + 1) + tc - 1)) AS BIGINT) AS r1d,
               CAST(sum(tc * tc * tc - tc) AS BIGINT) AS t3t
        FROM cum
    )
    SELECT n1, n2, r1d,
           CAST(r1d - n1 * (n1 + 1) AS BIGINT) AS u1_doubled,
           round((r1d - n1 * (n1 + 1)) / (2.0 * n1 * n2), 9) AS auc,
           round((0.5 * (r1d - n1 * (n1 + 1)) - 0.5 * n1 * n2)
                 / sqrt(n1 * n2 * (n1 + n2 + 1.0) / 12.0
                        - n1 * n2 * t3t
                          / (12.0 * (n1 + n2) * (n1 + n2 - 1.0))), 9) AS z
    FROM sums
    """,
    category=CAT,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U test: do {MWU_SEG_A} and {MWU_SEG_B} customers
    draw order values from the same distribution? The nonparametric
    two-sample location test (agg_ab_test_lift's z-test compares
    binomial RATES; dq_ks_drift compares whole SHAPES; U tests
    stochastic dominance of a continuous metric without normality —
    the right test for revenue-per-order, which is nothing like
    normal). Reports the doubled-U integer, AUC = U/(n1·n2) (the
    probability a random A order exceeds a random B order — the
    common-language effect size), and the tie-corrected z.

    Scale shape: ranks are NEVER assigned per row — the sample
    collapses to a value HISTOGRAM (group by cents), one ordered
    window over DISTINCT values computes min-ranks from cumulative
    counts, and rank sums come from c1·(2·rmin+tc−1) (doubled
    average-rank trick: ties contribute .5s, doubling keeps every
    term BIGINT). The only sort is over the ≤|distinct cents| table,
    range-partitionable at scale — not the 100 TB row set. All
    moments integer; the two final divisions + sqrt are the only
    float ops, mirrored token-for-token and rounded at 9.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    samp = (
        c.join(o, o.o_custkey == c.c_custkey)
        .filter(c.c_mktsegment.isin(MWU_SEG_A, MWU_SEG_B))
        .select(
            c.c_mktsegment.alias("seg"),
            F.round(o.o_totalprice * 100).cast("bigint").alias("v"),
        )
    )
    hist = samp.groupBy("v").agg(
        F.sum(F.when(F.col("seg") == MWU_SEG_A, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.count("*").cast("bigint").alias("tc"),
    )
    cum = hist.select(
        "c1",
        "tc",
        F.sum("tc")
        .over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cumtc"),
    )
    rmin = F.col("cumtc") - F.col("tc") + 1
    sums = cum.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("tc") - F.col("c1")).cast("bigint").alias("n2"),
        F.sum(F.col("c1") * (2 * rmin + F.col("tc") - 1))
        .cast("bigint")
        .alias("r1d"),
        F.sum(F.col("tc") * F.col("tc") * F.col("tc") - F.col("tc"))
        .cast("bigint")
        .alias("t3t"),
    )
    n1, n2, r1d, t3t = (F.col(x) for x in ("n1", "n2", "r1d", "t3t"))
    return sums.select(
        "n1",
        "n2",
        "r1d",
        (r1d - n1 * (n1 + 1)).cast("bigint").alias("u1_doubled"),
        F.round((r1d - n1 * (n1 + 1)) / (2.0 * n1 * n2), 9).alias("auc"),
        F.round(
            (0.5 * (r1d - n1 * (n1 + 1)) - 0.5 * n1 * n2)
            / F.sqrt(
                n1 * n2 * (n1 + n2 + 1.0) / 12.0
                - n1 * n2 * t3t / (12.0 * (n1 + n2) * (n1 + n2 - 1.0))
            ),
            9,
        ).alias("z"),
    )


EB_PRIOR_M = 100


@op(
    "agg_eb_shrunk_rates",
    oracle=f"""
    WITH per_supp AS (
        SELECT l_suppkey AS sk,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x
        FROM lineitem GROUP BY 1
    ), gstats AS (
        SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(x) AS BIGINT) AS tx
        FROM per_supp
    ), rates AS (
        SELECT sk, n, x,
               round(x * 1.0 / n, 9) AS raw_rate,
               round((x + {EB_PRIOR_M} * (tx * 1.0 / tn))
                     / (n + {EB_PRIOR_M}), 9) AS shrunk_rate
        FROM per_supp, gstats
    )
    SELECT sk, n, x, raw_rate, shrunk_rate,
           CAST(row_number() OVER (ORDER BY raw_rate DESC, sk) AS BIGINT)
               AS rank_raw,
           CAST(row_number() OVER (ORDER BY shrunk_rate DESC, sk) AS BIGINT)
               AS rank_shrunk
    FROM rates
    ORDER BY sk
    """,
    category=CAT,
)
def agg_eb_shrunk_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrunk per-supplier return rates: rate estimate
    (x + m·p̂)/(n + m), m={EB_PRIOR_M} pseudo-observations of the
    global rate — THE fix for small-sample league tables (raw-rate
    ranking crowns whichever low-volume supplier got unlucky twice;
    shrinkage pulls thin evidence toward the prior so rank is earned
    by volume-backed deviation, the same Beta(α,β) smoothing every
    CTR/quality-score pipeline ships). Both rankings are emitted so
    the rank displacement — which suppliers the raw table slanders —
    is the visible deliverable.

    Integer (n, x) state per supplier, one broadcastable global-rate
    row crossed in, two float divisions mirrored token-for-token and
    ROUNDED AT 9 BEFORE the ranks (§2.X flag rule: ranking an
    unrounded double turns a last-ulp wobble into an off-by-one rank
    everywhere downstream); supplier-key tie-break keeps both ranks
    total. Both ranks are computed by ``_exact_global_rank`` (r8) on
    the NEGATED nano-quantized rate — rank over (rate DESC, sk ASC)
    == rank over (-rate9 ASC, sk ASC) — so there is no unpartitioned
    ranking window even as the supplier dimension grows; the rate was
    already rounded at 9, so the 1e9 quantization is lossless.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_supp = li.groupBy(F.col("l_suppkey").alias("sk")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    glob = per_supp.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("x").cast("bigint").alias("tx"),
    )
    rates = per_supp.crossJoin(F.broadcast(glob)).select(
        "sk",
        "n",
        "x",
        F.round(F.col("x") * 1.0 / F.col("n"), 9).alias("raw_rate"),
        F.round(
            (F.col("x") + EB_PRIOR_M * (F.col("tx") * 1.0 / F.col("tn")))
            / (F.col("n") + EB_PRIOR_M),
            9,
        ).alias("shrunk_rate"),
    )
    staged = rates.withColumn(
        "_neg_raw9",
        -F.expr("cast(floor(raw_rate * 1000000000 + 0.5D) as bigint)"),
    ).withColumn(
        "_neg_shr9",
        -F.expr("cast(floor(shrunk_rate * 1000000000 + 0.5D) as bigint)"),
    )
    ranked = _exact_global_rank(
        _exact_global_rank(staged, "_neg_raw9", "sk", "rank_raw"),
        "_neg_shr9",
        "sk",
        "rank_shrunk",
    )
    return ranked.select(
        "sk",
        "n",
        "x",
        "raw_rate",
        "shrunk_rate",
        F.col("rank_raw").cast("bigint").alias("rank_raw"),
        F.col("rank_shrunk").cast("bigint").alias("rank_shrunk"),
    ).orderBy("sk")


@op(
    "agg_anova_dow",
    oracle="""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS dd, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    ), g AS (
        SELECT dayofweek(dd) AS dow,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cnt) AS BIGINT) AS s,
               CAST(sum(cnt * cnt) AS BIGINT) AS q
        FROM daily GROUP BY 1
    ), piv AS (
        SELECT
          max(CASE WHEN dow = 0 THEN n END) AS n0, max(CASE WHEN dow = 0 THEN s END) AS s0,
          max(CASE WHEN dow = 1 THEN n END) AS n1, max(CASE WHEN dow = 1 THEN s END) AS s1,
          max(CASE WHEN dow = 2 THEN n END) AS n2, max(CASE WHEN dow = 2 THEN s END) AS s2,
          max(CASE WHEN dow = 3 THEN n END) AS n3, max(CASE WHEN dow = 3 THEN s END) AS s3,
          max(CASE WHEN dow = 4 THEN n END) AS n4, max(CASE WHEN dow = 4 THEN s END) AS s4,
          max(CASE WHEN dow = 5 THEN n END) AS n5, max(CASE WHEN dow = 5 THEN s END) AS s5,
          max(CASE WHEN dow = 6 THEN n END) AS n6, max(CASE WHEN dow = 6 THEN s END) AS s6,
          CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ts,
          CAST(sum(q) AS BIGINT) AS tq
        FROM g
    ), calc AS (
        SELECT nn, ts, tq,
               ((s0 * s0 * 1.0 / n0 + s1 * s1 * 1.0 / n1)
                + (s2 * s2 * 1.0 / n2 + s3 * s3 * 1.0 / n3)
                + (s4 * s4 * 1.0 / n4 + s5 * s5 * 1.0 / n5)
                + s6 * s6 * 1.0 / n6) AS sum_t
        FROM piv
    )
    SELECT nn AS n_days, ts AS total_cnt, tq AS total_sq,
           round(((sum_t - ts * ts * 1.0 / nn) / 6.0)
                 / ((tq - sum_t) / (nn - 7.0)), 9) AS f_stat,
           round((sum_t - ts * ts * 1.0 / nn)
                 / ((sum_t - ts * ts * 1.0 / nn) + (tq - sum_t)), 9)
               AS eta_squared
    FROM calc
    """,
    category=CAT,
)
def agg_anova_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across day-of-week groups on daily shipment
    volume: F-statistic + η² effect size — IS there a weekday
    effect, tested properly (agg_weekend_lift reports the lift
    point-estimate; ANOVA asks whether BETWEEN-day variance exceeds
    within-day noise at all, completing the test battery: χ²
    (categorical), KS (shape), Mann-Whitney (two-sample location),
    runs (independence), ANOVA (k-sample means)).

    Determinism device worth naming: SSW/SSB need Σ_g S_g²/n_g — a
    FLOAT sum across groups, order-dependent if aggregated. The
    seven groups are instead PIVOTED INTO ONE ROW (conditional max
    on integer moments) and the seven-term sum written out in one
    fixed textual order, identical in both engines — the float fold
    becomes a scalar expression, not a reduction. Group moments are
    integer; dow uses the duck-0-based convention (Spark
    dayofweek−1, the documented off-by-one). The daily rollup kills
    the fact volume; everything after is one row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.to_date("l_shipdate").alias("dd")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    g = daily.groupBy((F.dayofweek("dd") - 1).alias("dow")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("q"),
    )
    aggs = []
    for i in range(7):
        aggs.append(
            F.max(F.when(F.col("dow") == i, F.col("n"))).alias(f"n{i}")
        )
        aggs.append(
            F.max(F.when(F.col("dow") == i, F.col("s"))).alias(f"s{i}")
        )
    aggs += [
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("ts"),
        F.sum("q").cast("bigint").alias("tq"),
    ]
    piv = g.agg(*aggs)
    sum_t = F.expr(
        "((s0 * s0 * 1.0 / n0 + s1 * s1 * 1.0 / n1)"
        " + (s2 * s2 * 1.0 / n2 + s3 * s3 * 1.0 / n3)"
        " + (s4 * s4 * 1.0 / n4 + s5 * s5 * 1.0 / n5)"
        " + s6 * s6 * 1.0 / n6)"
    )
    calc = piv.select("nn", "ts", "tq", sum_t.alias("sum_t"))
    ssb = F.col("sum_t") - F.col("ts") * F.col("ts") * 1.0 / F.col("nn")
    ssw = F.col("tq") - F.col("sum_t")
    return calc.select(
        F.col("nn").alias("n_days"),
        F.col("ts").alias("total_cnt"),
        F.col("tq").alias("total_sq"),
        F.round((ssb / 6.0) / (ssw / (F.col("nn") - 7.0)), 9).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 9).alias("eta_squared"),
    )


HILL_K = 100


LOG_SCALE = 1000000  # micro-log quantization


@op(
    "agg_hill_tail_index",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey AS ck,
               CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS spend_c
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT spend_c,
               CAST(row_number() OVER (ORDER BY spend_c DESC, ck)
                    AS BIGINT) AS rk
        FROM spend
    ), thresh AS (
        SELECT CAST(round(ln(spend_c) * {LOG_SCALE}) AS BIGINT) AS l_min,
               spend_c AS x_threshold_c
        FROM ranked WHERE rk = {HILL_K} + 1
    ), top AS (
        SELECT CAST(round(ln(r.spend_c) * {LOG_SCALE}) AS BIGINT)
                   - t.l_min AS dl
        FROM ranked r CROSS JOIN thresh t
        WHERE r.rk <= {HILL_K}
    )
    SELECT CAST({HILL_K} AS BIGINT) AS k,
           t.x_threshold_c,
           CAST(sum(top.dl) AS BIGINT) AS sum_excess_microlog,
           CAST((CAST({HILL_K} AS BIGINT) * {LOG_SCALE} * 1000000)
                // sum(top.dl) AS BIGINT) AS alpha_ppm
    FROM top CROSS JOIN thresh t
    GROUP BY t.x_threshold_c
    """,
    category=CAT,
)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator over customer spend: α̂ = k / Σ
    ln(xᵢ/x₍ₖ₊₁₎) on the top-{HILL_K} order statistics — extreme
    value theory's standard heavy-tail measurement (α < 2 means
    infinite variance: mean-based planning fails and whale risk
    dominates; agg_pareto_cut shows the 80/20 share and
    agg_lorenz_deciles the whole curve — Hill puts a NUMBER with an
    asymptotic theory on the tail those describe, which is what a
    capacity planner extrapolating beyond observed data needs).

    Logs are per-row, immediately quantized to integer micro-logs
    (round(ln·10⁶) — the periodogram/α-sampling device: the
    quantization step dwarfs libm's last ulp) so the Hill sum is an
    exact BIGINT of log-excesses over the rank-(k+1) threshold, and
    α̂ lands as one integer ppm division. Only the top k+1 order
    statistics matter, so the plan takes them with orderBy+limit —
    TakeOrderedAndProject, a per-partition (k+1)-row heap, never a
    global sort — and the rank window that assigns rk runs over that
    BOUNDED (k+1)-row result, not the |customers| rollup (r8: the old
    global rank window is gone; the fact still dies in the first
    groupBy).
    """
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100)).cast("bigint").alias("spend_c")
    )
    ranked = (
        spend.orderBy(F.desc("spend_c"), "ck")
        .limit(HILL_K + 1)
        .select(
            "spend_c",
            F.row_number()
            .over(Window.orderBy(F.desc("spend_c"), "ck"))
            .cast("bigint")
            .alias("rk"),
        )
    )
    microlog = F.round(F.log(F.col("spend_c")) * LOG_SCALE).cast("bigint")
    thresh = ranked.filter(F.col("rk") == HILL_K + 1).select(
        microlog.alias("l_min"), F.col("spend_c").alias("x_threshold_c")
    )
    top = (
        ranked.filter(F.col("rk") <= HILL_K)
        .crossJoin(F.broadcast(thresh))
        .select((microlog - F.col("l_min")).alias("dl"), "x_threshold_c")
    )
    return top.groupBy("x_threshold_c").agg(
        F.lit(HILL_K).cast("bigint").alias("k"),
        F.sum("dl").cast("bigint").alias("sum_excess_microlog"),
        F.expr(f"(CAST({HILL_K} AS BIGINT) * {LOG_SCALE} * 1000000) div sum(dl)")
        .cast("bigint")
        .alias("alpha_ppm"),
    ).select("k", "x_threshold_c", "sum_excess_microlog", "alpha_ppm")


ENTROPY_LOG_SCALE = 1000000


@op(
    "agg_markov_entropy_rate",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ), trans AS (
        SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS c
        FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), rowtot AS (
        SELECT src, CAST(sum(c) AS BIGINT) AS ci FROM trans GROUP BY src
    ), cells AS (
        SELECT t.c,
               CAST(round(ln(r.ci * 1.0 / t.c) * {ENTROPY_LOG_SCALE})
                    AS BIGINT) AS microlog
        FROM trans t JOIN rowtot r ON r.src = t.src
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells)
    SELECT (SELECT n FROM tot) AS n_transitions,
           CAST(sum(c * microlog) AS BIGINT) AS entropy_num_micro,
           CAST(sum(c * microlog) // (SELECT n FROM tot) AS BIGINT)
               AS entropy_rate_micronats
    FROM cells
    """,
    category=CAT,
)
def agg_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-behavior Markov chain: H = Σᵢⱼ
    (cᵢⱼ/N)·ln(cᵢ/cᵢⱼ) in micro-nats — the PREDICTABILITY number on
    top of agg_markov_transitions' matrix (the matrix says WHERE
    users go next; the entropy rate says how much there is to know
    at all: ~0 = deterministic flows worth modeling, ~ln(k) =
    uniform noise where a next-event model cannot beat the
    marginal — the one-number go/no-go for sequence-model
    investment, Shannon's rate applied to clickstreams).

    Per-cell ln(cᵢ/cᵢⱼ) is one IEEE division + log, immediately
    quantized to integer micro-nats (the periodogram/Hill device),
    so the weighted sum Σ c·microlog is an exact commutative BIGINT
    — the float-fold ban holds even over the k² transition cells.
    The transition matrix is k²-sized (k = event types, dim-scale);
    the sequence pass is the same per-user lead window every path op
    uses.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count("*").cast("bigint").alias("c"))
    rowtot = trans.groupBy("src").agg(F.sum("c").cast("bigint").alias("ci"))
    cells = trans.join(rowtot, "src").select(
        "c",
        F.round(
            F.log(F.col("ci") * 1.0 / F.col("c")) * ENTROPY_LOG_SCALE
        )
        .cast("bigint")
        .alias("microlog"),
    )
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    return (
        cells.agg(
            F.sum(F.col("c") * F.col("microlog"))
            .cast("bigint")
            .alias("entropy_num_micro")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_transitions"),
            "entropy_num_micro",
            F.expr("entropy_num_micro div n")
            .cast("bigint")
            .alias("entropy_rate_micronats"),
        )
    )


WELCH_SEG_A, WELCH_SEG_B = "BUILDING", "MACHINERY"


@op(
    "agg_welch_t_test",
    oracle=f"""
    WITH samp AS (
        SELECT c.c_mktsegment AS seg,
               CAST(round(o.o_totalprice) AS BIGINT) AS v
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('{WELCH_SEG_A}', '{WELCH_SEG_B}')
    ), piv AS (
        SELECT
          CAST(sum(CASE WHEN seg = '{WELCH_SEG_A}' THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
          CAST(sum(CASE WHEN seg = '{WELCH_SEG_A}' THEN v ELSE 0 END)
               AS BIGINT) AS s1,
          CAST(sum(CASE WHEN seg = '{WELCH_SEG_A}' THEN v * v ELSE 0 END)
               AS BIGINT) AS q1,
          CAST(sum(CASE WHEN seg = '{WELCH_SEG_B}' THEN 1 ELSE 0 END)
               AS BIGINT) AS n2,
          CAST(sum(CASE WHEN seg = '{WELCH_SEG_B}' THEN v ELSE 0 END)
               AS BIGINT) AS s2,
          CAST(sum(CASE WHEN seg = '{WELCH_SEG_B}' THEN v * v ELSE 0 END)
               AS BIGINT) AS q2
        FROM samp
    ), calc AS (
        SELECT n1, n2,
               ((q1 - s1 * (s1 * 1.0 / n1)) / (n1 - 1.0)) / n1 AS a,
               ((q2 - s2 * (s2 * 1.0 / n2)) / (n2 - 1.0)) / n2 AS b,
               s1 * 1.0 / n1 - s2 * 1.0 / n2 AS dmean
        FROM piv
    )
    SELECT n1, n2,
           round(dmean / sqrt(a + b), 9) AS t_stat,
           round((a + b) * (a + b)
                 / (a * a / (n1 - 1.0) + b * b / (n2 - 1.0)), 9) AS df_ws
    FROM calc
    """,
    category=CAT,
)
def agg_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on the SAME question
    agg_mann_whitney_u asks ({WELCH_SEG_A} vs {WELCH_SEG_B} order
    values) — deliberately paired: Welch assumes normal-ish means
    (fast, parametric, the default of every stats library since the
    Behrens–Fisher resolution), MWU assumes nothing; when the two
    disagree the distribution is telling you it's heavy-tailed, and
    running both IS the robustness check. Welch–Satterthwaite df
    reported alongside t (pooled-variance Student's t is WRONG here
    — group sizes and variances differ, the exact case Welch fixes).

    All six moments are one conditional-pivot row of BIGINTs (the
    ANOVA device) over integer DOLLARS — Σv² at cents scale
    overflows 2⁶³ on the larger corpus (ANSI overflow caught at the
    gate, like agg_holiday_proximity_lift); the variance expressions
    parenthesize as q − s·(s/n) so no integer product exceeds the
    moment scale, and t / df are mirrored token-for-token with
    DOUBLE literals (1.0D — Spark parses bare 1.0 as DECIMAL, the
    second gate catch in this op) and rounded at 9.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    samp = (
        c.join(o, o.o_custkey == c.c_custkey)
        .filter(c.c_mktsegment.isin(WELCH_SEG_A, WELCH_SEG_B))
        .select(
            c.c_mktsegment.alias("seg"),
            F.round(o.o_totalprice).cast("bigint").alias("v"),
        )
    )
    isa = F.col("seg") == WELCH_SEG_A
    isb = F.col("seg") == WELCH_SEG_B
    piv = samp.agg(
        F.sum(F.when(isa, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(isa, F.col("v")).otherwise(0)).cast("bigint").alias("s1"),
        F.sum(F.when(isa, F.col("v") * F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("q1"),
        F.sum(F.when(isb, 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(isb, F.col("v")).otherwise(0)).cast("bigint").alias("s2"),
        F.sum(F.when(isb, F.col("v") * F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("q2"),
    )
    calc = piv.select(
        "n1",
        "n2",
        F.expr("((q1 - s1 * (s1 * 1.0D / n1)) / (n1 - 1.0D)) / n1").alias("a"),
        F.expr("((q2 - s2 * (s2 * 1.0D / n2)) / (n2 - 1.0D)) / n2").alias("b"),
        F.expr("s1 * 1.0D / n1 - s2 * 1.0D / n2").alias("dmean"),
    )
    return calc.select(
        "n1",
        "n2",
        F.round(F.expr("dmean / sqrt(a + b)"), 9).alias("t_stat"),
        F.round(
            F.expr(
                "(a + b) * (a + b)"
                " / (a * a / (n1 - 1.0D) + b * b / (n2 - 1.0D))"
            ),
            9,
        ).alias("df_ws"),
    )


DID_TREAT_REGION = "AMERICA"


DID_CUTOFF_Y = 2000


DID_PLACEBO_Y = 1998


@op(
    "agg_did_estimate",
    oracle=f"""
    WITH tagged AS (
        SELECT CASE WHEN r.r_name = '{DID_TREAT_REGION}' THEN 1 ELSE 0 END
                   AS treated,
               CASE WHEN EXTRACT(year FROM o.o_orderdate) >= {DID_CUTOFF_Y}
                    THEN 1 ELSE 0 END AS post,
               CASE WHEN EXTRACT(year FROM o.o_orderdate) >= {DID_PLACEBO_Y}
                    THEN 1 ELSE 0 END AS placebo_post,
               CAST(round(o.o_totalprice) AS BIGINT) AS v
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
    ), piv AS (
        SELECT
          CAST(sum(CASE WHEN treated = 1 AND post = 1 THEN v ELSE 0 END) AS BIGINT) AS s_tp,
          CAST(sum(CASE WHEN treated = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
          CAST(sum(CASE WHEN treated = 1 AND post = 0 THEN v ELSE 0 END) AS BIGINT) AS s_t0,
          CAST(sum(CASE WHEN treated = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
          CAST(sum(CASE WHEN treated = 0 AND post = 1 THEN v ELSE 0 END) AS BIGINT) AS s_cp,
          CAST(sum(CASE WHEN treated = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
          CAST(sum(CASE WHEN treated = 0 AND post = 0 THEN v ELSE 0 END) AS BIGINT) AS s_c0,
          CAST(sum(CASE WHEN treated = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c0,
          CAST(sum(CASE WHEN treated = 1 AND post = 0 AND placebo_post = 1 THEN v ELSE 0 END) AS BIGINT) AS s_tq,
          CAST(sum(CASE WHEN treated = 1 AND post = 0 AND placebo_post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_tq,
          CAST(sum(CASE WHEN treated = 1 AND post = 0 AND placebo_post = 0 THEN v ELSE 0 END) AS BIGINT) AS s_tr,
          CAST(sum(CASE WHEN treated = 1 AND post = 0 AND placebo_post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
          CAST(sum(CASE WHEN treated = 0 AND post = 0 AND placebo_post = 1 THEN v ELSE 0 END) AS BIGINT) AS s_cq,
          CAST(sum(CASE WHEN treated = 0 AND post = 0 AND placebo_post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cq,
          CAST(sum(CASE WHEN treated = 0 AND post = 0 AND placebo_post = 0 THEN v ELSE 0 END) AS BIGINT) AS s_cr,
          CAST(sum(CASE WHEN treated = 0 AND post = 0 AND placebo_post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cr
        FROM tagged
    )
    SELECT n_tp, n_t0, n_cp, n_c0,
           round((s_tp * 1.0 / n_tp - s_t0 * 1.0 / n_t0)
                 - (s_cp * 1.0 / n_cp - s_c0 * 1.0 / n_c0), 9) AS did_usd,
           round((s_tq * 1.0 / n_tq - s_tr * 1.0 / n_tr)
                 - (s_cq * 1.0 / n_cq - s_cr * 1.0 / n_cr), 9)
               AS placebo_did_usd
    FROM piv
    """,
    category=CAT,
)
def agg_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the change in {DID_TREAT_REGION}'s
    average order value after {DID_CUTOFF_Y} minus the same change
    in the rest of the world — causal inference's workhorse
    identification (the second difference nets out the global trend
    a naive before/after attributes to the 'treatment'), WITH the
    placebo estimate every referee demands: the identical estimator
    at a fake {DID_PLACEBO_Y} cutoff entirely inside the
    pre-period — a placebo far from zero falsifies the parallel-
    trends assumption and with it the headline number (the op ships
    its own refutation test; agg_ab_test_lift randomizes so it
    doesn't need one — DiD doesn't randomize, so it does).

    Both estimates come from ONE pivoted row of 16 BIGINT cell
    moments (the ANOVA device doubled); the four-mean expressions
    are mirrored token-for-token and rounded at 9. Dollars, not
    cents — consistent with the Welch/holiday overflow rule. One
    pass over the fact, dims broadcast.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    tagged = (
        o.join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .select(
            F.when(F.col("r_name") == DID_TREAT_REGION, 1).otherwise(0).alias("treated"),
            F.when(F.year("o_orderdate") >= DID_CUTOFF_Y, 1).otherwise(0).alias("post"),
            F.when(F.year("o_orderdate") >= DID_PLACEBO_Y, 1).otherwise(0).alias("placebo_post"),
            F.round("o_totalprice").cast("bigint").alias("v"),
        )
    )
    def cell(t, p, q=None):
        cond = (F.col("treated") == t) & (F.col("post") == p)
        if q is not None:
            cond = cond & (F.col("placebo_post") == q)
        return (
            F.sum(F.when(cond, F.col("v")).otherwise(0)).cast("bigint"),
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint"),
        )
    aggs = []
    for nm, (t, p, q) in {
        "tp": (1, 1, None), "t0": (1, 0, None),
        "cp": (0, 1, None), "c0": (0, 0, None),
        "tq": (1, 0, 1), "tr": (1, 0, 0),
        "cq": (0, 0, 1), "cr": (0, 0, 0),
    }.items():
        sm, ct = cell(t, p, q)
        aggs += [sm.alias(f"s_{nm}"), ct.alias(f"n_{nm}")]
    piv = tagged.agg(*aggs)
    return piv.select(
        "n_tp",
        "n_t0",
        "n_cp",
        "n_c0",
        F.round(
            F.expr(
                "(s_tp * 1.0D / n_tp - s_t0 * 1.0D / n_t0)"
                " - (s_cp * 1.0D / n_cp - s_c0 * 1.0D / n_c0)"
            ),
            9,
        ).alias("did_usd"),
        F.round(
            F.expr(
                "(s_tq * 1.0D / n_tq - s_tr * 1.0D / n_tr)"
                " - (s_cq * 1.0D / n_cq - s_cr * 1.0D / n_cr)"
            ),
            9,
        ).alias("placebo_did_usd"),
    )


@op(
    "agg_wilson_interval",
    oracle=f"""
    WITH cells AS (
        SELECT c.c_mktsegment AS seg,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
    SELECT seg, n, k,
           round(k * 1.0 / n, 9) AS share,
           round((k + 1.9208) / (n + 3.8416)
                 - (1.96 * sqrt((k * (n - k)) * 1.0 / n + 0.9604))
                   / (n + 3.8416), 9) AS wilson_lo,
           round((k + 1.9208) / (n + 3.8416)
                 + (1.96 * sqrt((k * (n - k)) * 1.0 / n + 0.9604))
                   / (n + 3.8416), 9) AS wilson_hi
    FROM cells ORDER BY seg
    """,
    category=CAT,
)
def agg_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score intervals for the urgent-order share per segment —
    the proportion CI that behaves at the edges (the naive Wald
    interval p ± z√(p(1−p)/n) collapses to zero width at p∈{0,1}
    and goes negative near them — the two failure modes that make
    small-cell dashboards lie confidently; Wilson inverts the score
    test instead and stays inside [0,1], which is why every
    competent reporting layer replaced Wald decades ago —
    agg_ab_sample_size plans the n, THIS reports honestly at
    whatever n arrived).

    The z² terms are written as exact decimal literals (1.9208 =
    z²/2, 3.8416 = z², 0.9604 = z²/4 with z = 1.96 — stated so the
    magic numbers audit), the sqrt argument is assembled from
    integer k(n−k) with one division, and both bounds are mirrored
    token-for-token and rounded at 9. One conditional-count rollup
    per segment; everything after is a ≤|segments| projection.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cells = (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("k"),
        )
    )
    center = "(k + 1.9208D) / (n + 3.8416D)"
    half = "(1.96D * sqrt((k * (n - k)) * 1.0D / n + 0.9604D)) / (n + 3.8416D)"
    return cells.select(
        "seg",
        "n",
        "k",
        F.round(F.expr("k * 1.0D / n"), 9).alias("share"),
        F.round(F.expr(f"{center} - {half}"), 9).alias("wilson_lo"),
        F.round(F.expr(f"{center} + {half}"), 9).alias("wilson_hi"),
    ).orderBy("seg")


@op(
    "agg_simpsons_paradox_check",
    oracle="""
    WITH pts AS (
        SELECT p.p_brand AS brand,
               CAST(round(l.l_discount * 100) AS BIGINT) AS x,
               CAST(round(l.l_quantity) AS BIGINT) AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), grp AS (
        SELECT brand,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM pts GROUP BY brand
    ), overall AS (
        SELECT CASE WHEN sum(sxy) * sum(n) > sum(sx) * 1.0 * sum(sy) THEN 1
                    WHEN sum(sxy) * sum(n) < sum(sx) * 1.0 * sum(sy) THEN -1
                    ELSE 0 END AS overall_sign
        FROM grp
    )
    SELECT g.brand, g.n,
           CASE WHEN g.n * g.sxy > g.sx * g.sy THEN 1
                WHEN g.n * g.sxy < g.sx * g.sy THEN -1
                ELSE 0 END AS group_sign,
           o.overall_sign,
           (CASE WHEN g.n * g.sxy > g.sx * g.sy THEN 1
                 WHEN g.n * g.sxy < g.sx * g.sy THEN -1
                 ELSE 0 END) * o.overall_sign = -1 AS sign_flipped
    FROM grp g CROSS JOIN overall o
    ORDER BY g.brand
    """,
    category=CAT,
)
def agg_simpsons_paradox_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's paradox detector: the SIGN of the discount↔quantity
    covariance overall vs within every brand — the aggregation trap
    as a query (a positive pooled trend made of negative
    within-group trends is THE textbook way a dashboard recommends
    exactly the wrong action; any analysis that groups less finely
    than the decision is exposed, so the engine ships the check,
    not just the warning — brands whose sign opposes the pooled
    sign are listed with `sign_flipped`).

    Covariance SIGN needs no division and no float: sign(cov) =
    sign(n·Σxy − Σx·Σy), pure BIGINT per group; the pooled sign
    reuses the group moments (Σn, Σsx … — one extra rollup, no
    second scan). The only 1.0 factor sits in the pooled comparison
    to keep the Σsx·Σsy product out of BIGINT overflow (values
    ≤ ~2⁶² as doubles with exact 53-bit mantissas at these moment
    scales — audited; beyond that, compare via per-group centered
    sums). Discount in integer cents-of-rate, quantity integer.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pts = li.join(p, p.p_partkey == li.l_partkey).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x"),
        F.round("l_quantity").cast("bigint").alias("y"),
    )
    grp = pts.groupBy("brand").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    overall = grp.agg(
        F.when(
            F.sum("sxy") * F.sum("n") > F.sum("sx") * 1.0 * F.sum("sy"), 1
        )
        .when(F.sum("sxy") * F.sum("n") < F.sum("sx") * 1.0 * F.sum("sy"), -1)
        .otherwise(0)
        .alias("overall_sign")
    )
    gsign = (
        F.when(F.col("n") * F.col("sxy") > F.col("sx") * F.col("sy"), 1)
        .when(F.col("n") * F.col("sxy") < F.col("sx") * F.col("sy"), -1)
        .otherwise(0)
    )
    return (
        grp.crossJoin(F.broadcast(overall))
        .select(
            "brand",
            "n",
            gsign.alias("group_sign"),
            "overall_sign",
            (gsign * F.col("overall_sign") == -1).alias("sign_flipped"),
        )
        .orderBy("brand")
    )


@op(
    "agg_boxplot_fences",
    oracle="""
    WITH cents AS (
        SELECT c.c_mktsegment AS seg,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), qs AS (
        SELECT seg,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(v) AS BIGINT) AS v_min,
               CAST(round(quantile_cont(v, 0.25) * 4) AS BIGINT) AS q1x4,
               CAST(round(quantile_cont(v, 0.50) * 4) AS BIGINT) AS medx4,
               CAST(round(quantile_cont(v, 0.75) * 4) AS BIGINT) AS q3x4,
               CAST(max(v) AS BIGINT) AS v_max
        FROM cents GROUP BY seg
    )
    SELECT q.seg, q.n, q.v_min, q.q1x4, q.medx4, q.q3x4, q.v_max,
           CAST((SELECT count(*) FROM cents c
                 WHERE c.seg = q.seg
                   AND 8 * c.v < 2 * q.q1x4 - 3 * (q.q3x4 - q.q1x4))
               AS BIGINT) AS n_low_outliers,
           CAST((SELECT count(*) FROM cents c
                 WHERE c.seg = q.seg
                   AND 8 * c.v > 2 * q.q3x4 + 3 * (q.q3x4 - q.q1x4))
               AS BIGINT) AS n_high_outliers
    FROM qs q ORDER BY q.seg
    """,
    category=CAT,
)
def agg_boxplot_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey box plot per segment: five-number summary + the count of
    points OUTSIDE the 1.5·IQR fences — the outlier census behind
    every box chart (agg_median_exact reports percentiles;
    agg_mad_robust flags by a robust z; Tukey fences are the third,
    quartile-anchored convention — and since the three disagree at
    the margins on heavy tails, a data platform must offer all
    three and say which one a chart used).

    Quartiles of integer cents interpolate on quarter weights, so
    ×4-scaled quartiles are EXACT BIGINTs (round only collapses the
    representation, not information); fences live in ×8 units where
    lo = 2·q1×4 − 3·IQR×4 stays integer, and outlier membership is
    the exact comparison 8v < lo — no float ever decides a count.
    One grouped quantile pass + one fence-count pass (two scans of
    the dim-bounded cents projection; at scale fuse via a window,
    stated).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # r13 (guide §5 persist-twice-referenced, the r12 pattern): cents
    # feeds BOTH the quantile aggregate and the fence-count join, so
    # the orders⋈customer join + projection otherwise evaluates twice.
    cents = tracked_persist(
        o.join(c, c.c_custkey == o.o_custkey).select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        )
    )
    qs = cents.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("v").cast("bigint").alias("v_min"),
        F.round(F.expr("percentile(v, 0.25)") * 4).cast("bigint").alias("q1x4"),
        F.round(F.expr("percentile(v, 0.50)") * 4).cast("bigint").alias("medx4"),
        F.round(F.expr("percentile(v, 0.75)") * 4).cast("bigint").alias("q3x4"),
        F.max("v").cast("bigint").alias("v_max"),
    )
    j = cents.join(F.broadcast(qs), "seg")
    lo8 = 2 * F.col("q1x4") - 3 * (F.col("q3x4") - F.col("q1x4"))
    hi8 = 2 * F.col("q3x4") + 3 * (F.col("q3x4") - F.col("q1x4"))
    counts = j.groupBy("seg").agg(
        F.sum(F.when(8 * F.col("v") < lo8, 1).otherwise(0))
        .cast("bigint")
        .alias("n_low_outliers"),
        F.sum(F.when(8 * F.col("v") > hi8, 1).otherwise(0))
        .cast("bigint")
        .alias("n_high_outliers"),
    )
    return (
        qs.join(counts, "seg")
        .select(
            "seg",
            "n",
            "v_min",
            "q1x4",
            "medx4",
            "q3x4",
            "v_max",
            "n_low_outliers",
            "n_high_outliers",
        )
        .orderBy("seg")
    )


MUS_SAMPLES = 50


MUS_BUCKET = 1000  # orderkey div bucket for the two-level prefix sum


@op(
    "agg_monetary_unit_sampling",
    oracle=f"""
    WITH lines AS (
        SELECT l_orderkey AS ok, l_linenumber AS ln,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS w
        FROM lineitem
    ), seq AS (
        SELECT ok, ln, w,
               CAST(sum(w) OVER (ORDER BY ok, ln
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM lines
    ), tot AS (SELECT CAST(sum(w) AS BIGINT) AS t FROM lines),
    params AS (
        SELECT t, t // {MUS_SAMPLES} AS interval_c,
               (t // {MUS_SAMPLES}) // 2 AS start_c
        FROM tot
    ), hits AS (
        SELECT s.ok, s.ln, s.w, s.cum
        FROM seq s CROSS JOIN params p
        WHERE (s.cum - p.start_c - 1) // p.interval_c
              > (s.cum - s.w - p.start_c - 1) // p.interval_c
          AND s.cum > p.start_c
    )
    SELECT CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(w) AS BIGINT) AS selected_value_c,
           CAST(min(ok) AS BIGINT) AS first_ok,
           CAST(max(ok) AS BIGINT) AS last_ok,
           CAST((SELECT max(w) FROM lines) AS BIGINT) AS max_item_c,
           (SELECT t // {MUS_SAMPLES} FROM tot) <= (SELECT max(w) FROM lines)
               AS has_certain_selections
    FROM hits
    """,
    category=CAT,
)
def agg_monetary_unit_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monetary-unit sampling (MUS / PPS): fixed-interval selection
    over the cumulative CENTS of the book, deterministic mid-interval
    start — the CPA audit-sampling standard (each cent is equally
    likely, so a line's selection probability is proportional to its
    VALUE: the $1M line cannot hide behind ten thousand $10 lines
    the way it does under row sampling — which is the entire point
    of auditing by monetary unit; items larger than the interval are
    CERTAIN selections, flagged so the auditor strata them out).

    The cumulative is a prefix sum over the total (ok, ln) book
    order; the oracle runs it as one global window while the Spark
    side uses the dq_sequence_gaps two-level shape — partitioned
    cumsum within ok-div-{MUS_BUCKET} buckets plus broadcast bucket
    offsets from the per-bucket summary — provably identical and
    shuffle-sane at 100 TB. Interval crossing is pure integer
    floor-division bracketing (an item is picked iff its cents span
    crosses a sampling point), start = interval div 2 keeps §2.X's
    no-rand rule.
    """
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("w"),
    ).withColumn("bkt", F.expr(f"ok div {MUS_BUCKET}"))
    wb = Window.partitionBy("bkt").orderBy("ok", "ln").rowsBetween(
        Window.unboundedPreceding, 0
    )
    intra = lines.withColumn("cum_in", F.sum("w").over(wb).cast("bigint"))
    bsum = lines.groupBy("bkt").agg(F.sum("w").cast("bigint").alias("bw"))
    wo = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bsum.select(
        "bkt",
        F.coalesce(F.sum("bw").over(wo), F.lit(0)).cast("bigint").alias("off"),
    )
    seq = intra.join(F.broadcast(offsets), "bkt").select(
        "ok", "ln", "w", (F.col("cum_in") + F.col("off")).alias("cum")
    )
    tot = lines.agg(F.sum("w").cast("bigint").alias("t"))
    params = tot.select(
        "t",
        F.expr(f"t div {MUS_SAMPLES}").alias("interval_c"),
        F.expr(f"(t div {MUS_SAMPLES}) div 2").alias("start_c"),
    )
    hits = seq.crossJoin(F.broadcast(params)).filter(
        (
            F.expr("(cum - start_c - 1) div interval_c")
            > F.expr("(cum - w - start_c - 1) div interval_c")
        )
        & (F.col("cum") > F.col("start_c"))
    )
    max_item = lines.agg(F.max("w").cast("bigint").alias("mx"))
    return (
        hits.agg(
            F.count("*").cast("bigint").alias("n_selected"),
            F.sum("w").cast("bigint").alias("selected_value_c"),
            F.min("ok").cast("bigint").alias("first_ok"),
            F.max("ok").cast("bigint").alias("last_ok"),
        )
        .crossJoin(F.broadcast(max_item))
        .crossJoin(F.broadcast(params.select("interval_c")))
        .select(
            "n_selected",
            "selected_value_c",
            "first_ok",
            "last_ok",
            F.col("mx").alias("max_item_c"),
            (F.col("interval_c") <= F.col("mx")).alias(
                "has_certain_selections"
            ),
        )
    )


TRIM_PCT = 10  # trim 10 % from each tail


@op(
    "agg_trimmed_mean_exact",
    oracle=f"""
    WITH cents AS (
        SELECT c.c_mktsegment AS seg,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), ranked AS (
        SELECT seg, v,
               CAST(row_number() OVER (PARTITION BY seg ORDER BY v)
                    AS BIGINT) AS rk,
               CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n
        FROM cents
    ), kept AS (
        SELECT seg, v, n FROM ranked
        WHERE rk > (n * {TRIM_PCT}) // 100
          AND rk <= n - (n * {TRIM_PCT}) // 100
    )
    SELECT seg,
           CAST(max(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(v) AS BIGINT) AS kept_sum_c,
           CAST((sum(v) * 1000000) // count(*) AS BIGINT)
               AS trimmed_mean_microcents
    FROM kept GROUP BY seg ORDER BY seg
    """,
    category=CAT,
)
def agg_trimmed_mean_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact {TRIM_PCT} %-trimmed mean per segment — the robust center
    that completes the location family (mean is whale-dragged,
    median throws away 98 % of the information, MAD is a SPREAD;
    the trimmed mean is what rating systems and robust KPIs
    actually use because it keeps 80 % of the data's efficiency
    while bounding any single tail's influence — and trimmed vs
    plain mean side by side is the two-second whale-influence
    read).

    Trim boundaries are integer rank arithmetic ((n·{TRIM_PCT}) div
    100 from each end — floor on both sides, stated convention) over
    a per-segment rank window; the kept sum is an exact BIGINT and
    the mean is published in integer MICRO-CENTS via div (a round-9
    double at ~10⁷ cents leaves sub-ulp digits exposed —
    gate-caught, the ts_interrupted_series magnitude lesson; the
    integer form is simply exact). Rank windows partition by
    segment — the agg_median_exact shape.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = o.join(c, c.c_custkey == o.o_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    wseg = Window.partitionBy("seg")
    ranked = cents.select(
        "seg",
        "v",
        F.row_number().over(wseg.orderBy("v")).cast("bigint").alias("rk"),
        F.count("*").over(wseg).cast("bigint").alias("n"),
    )
    cut = F.expr(f"(n * {TRIM_PCT}) div 100")
    kept = ranked.filter((F.col("rk") > cut) & (F.col("rk") <= F.col("n") - cut))
    return (
        kept.groupBy("seg")
        .agg(
            F.max("n").cast("bigint").alias("n_total"),
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum("v").cast("bigint").alias("kept_sum_c"),
            F.expr("(sum(v) * 1000000) div count(*)")
            .cast("bigint")
            .alias("trimmed_mean_microcents"),
        )
        .orderBy("seg")
    )


THEIL_SCALE = 10**9


@op(
    "agg_theil_index",
    oracle=f"""
    WITH x AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS s FROM x),
    seg AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum(cents) AS BIGINT) AS s_g FROM x GROUP BY 1),
    within AS (
      SELECT x.seg,
             CAST(sum(CAST(floor((x.cents * g.n_g / (1.0 * g.s_g))
                  * ln(x.cents * g.n_g / (1.0 * g.s_g))
                  * {THEIL_SCALE} + 0.5) AS BIGINT)) AS BIGINT) AS twq
      FROM x JOIN seg g ON g.seg = x.seg GROUP BY x.seg),
    overall AS (
      SELECT CAST(sum(CAST(floor((x.cents * t.n / (1.0 * t.s))
                  * ln(x.cents * t.n / (1.0 * t.s))
                  * {THEIL_SCALE} + 0.5) AS BIGINT)) AS BIGINT) AS tq
      FROM x CROSS JOIN tot t)
    SELECT g.seg, g.n_g, g.s_g,
           round(w.twq / (g.n_g * {THEIL_SCALE}.0), 9) AS theil_within,
           round((g.s_g * 1.0 / t.s)
                 * ln((g.s_g * 1.0 / t.s) / (g.n_g * 1.0 / t.n)), 9)
               AS between_term,
           round(o.tq / (t.n * {THEIL_SCALE}.0), 9) AS theil_overall
    FROM seg g, tot t, within w, overall o
    WHERE w.seg = g.seg
    ORDER BY g.seg
    """,
    category=CAT,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index of per-customer spend, DECOMPOSED into
    within-segment and between-segment components — the additive
    decomposition is why Theil beats Gini for cohort diagnostics
    (agg_gini_activity ranks overall inequality; Theil answers WHERE
    it lives: T = Σ share_g·T_g + Σ share_g·ln(mean_g/mean)). Here
    between_term ≈ 0 at both SFs — market segment explains basically
    none of the spend inequality, itself the finding.

    Determinism: spend quantized to integer cents at the row
    (the float fold over o_totalprice never exists); each customer's
    (x/μ)·ln(x/μ) term is a per-row float quantized to nano units
    floor(t·10⁹+0.5) BEFORE the cross-row sum, so every aggregate is
    exact BIGINT in any order (§2.X); the ≤5 published numbers are
    single rounded divisions of agreed integers. x>0 for every
    grouped customer (they exist because they ordered), so ln is
    total. Plan: one fact-side groupBy, 1-row/5-row broadcast
    aggregates joined back — no second fact scan, no skew exposure.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    x = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    x = tracked_persist(x)  # reused by tot/seg/within/overall: one fact scan, not four
    tot = x.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    seg = x.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("cents").cast("bigint").alias("s_g"),
    )

    def term_q(num, den):
        ratio = F.col("cents") * num / (1.0 * den)
        return F.floor(ratio * F.log(ratio) * THEIL_SCALE + 0.5).cast("bigint")

    within = (
        x.join(F.broadcast(seg), "seg")
        .groupBy("seg")
        .agg(F.sum(term_q(F.col("n_g"), F.col("s_g"))).cast("bigint").alias("twq"))
    )
    overall = (
        x.crossJoin(F.broadcast(tot))
        .agg(F.sum(term_q(F.col("n"), F.col("s"))).cast("bigint").alias("tq"))
    )
    return (
        seg.join(within, "seg")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(overall))
        .select(
            "seg",
            "n_g",
            "s_g",
            F.round(F.col("twq") / (F.col("n_g") * float(THEIL_SCALE)), 9).alias(
                "theil_within"
            ),
            F.round(
                (F.col("s_g") * 1.0 / F.col("s"))
                * F.log(
                    (F.col("s_g") * 1.0 / F.col("s"))
                    / (F.col("n_g") * 1.0 / F.col("n"))
                ),
                9,
            ).alias("between_term"),
            F.round(F.col("tq") / (F.col("n") * float(THEIL_SCALE)), 9).alias(
                "theil_overall"
            ),
        )
        .orderBy("seg")
    )


CRAMER_SCALE = 10**9


@op(
    "agg_cramers_v",
    oracle=f"""
    WITH obs AS (
      SELECT l_returnflag AS r, l_linestatus AS c,
             CAST(count(*) AS BIGINT) AS o
      FROM lineitem GROUP BY 1, 2),
    marg_r AS (SELECT r, CAST(sum(o) AS BIGINT) AS nr FROM obs GROUP BY 1),
    marg_c AS (SELECT c, CAST(sum(o) AS BIGINT) AS nc FROM obs GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT r) AS BIGINT) AS nrow,
                   CAST(count(DISTINCT c) AS BIGINT) AS ncol FROM obs),
    cells AS (
      SELECT CAST(floor((o.o - mr.nr * mc.nc / (1.0 * t.n)) ^ 2
                  / (mr.nr * mc.nc / (1.0 * t.n))
                  * {CRAMER_SCALE} + 0.5) AS BIGINT) AS chi_q
      FROM obs o JOIN marg_r mr ON mr.r = o.r
                 JOIN marg_c mc ON mc.c = o.c
                 CROSS JOIN tot t)
    SELECT t.n, t.nrow, t.ncol,
           CAST(sum(c.chi_q) AS BIGINT) AS chi2_q,
           round(sqrt(sum(c.chi_q) / {CRAMER_SCALE}.0
                 / (t.n * least(t.nrow - 1, t.ncol - 1))), 9) AS cramers_v
    FROM cells c CROSS JOIN tot t
    GROUP BY t.n, t.nrow, t.ncol
    """,
    category=CAT,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for returnflag × linestatus — the EFFECT-SIZE
    normalization agg_chi_square lacks: at 600 k rows a χ² of 1.86 is
    'significant' at any α while V = 0.0018 says the association is
    practically nil — the p-value-vs-effect-size distinction as a
    query (big-data χ² is ALWAYS significant; V is what you act on).

    χ² clears to per-cell quantized nano-terms summed as exact BIGINTs
    (contingency cells are the only rows; the float fold never exists
    at data scale — the fact table dies in the first groupBy);
    marginals/total are broadcast-size relations; V is one sqrt of an
    agreed integer ratio, round-9. One fact scan, one shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    obs = li.groupBy(
        F.col("l_returnflag").alias("r"), F.col("l_linestatus").alias("c")
    ).agg(F.count("*").cast("bigint").alias("o"))
    marg_r = obs.groupBy("r").agg(F.sum("o").cast("bigint").alias("nr"))
    marg_c = obs.groupBy("c").agg(F.sum("o").cast("bigint").alias("nc"))
    tot = obs.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("r").cast("bigint").alias("nrow"),
        F.countDistinct("c").cast("bigint").alias("ncol"),
    )
    expected = F.col("nr") * F.col("nc") / (1.0 * F.col("n"))
    chi_q = F.floor(
        F.pow(F.col("o") - expected, 2) / expected * CRAMER_SCALE + 0.5
    ).cast("bigint")
    cells = (
        obs.join(F.broadcast(marg_r), "r")
        .join(F.broadcast(marg_c), "c")
        .crossJoin(F.broadcast(tot))
        .select(chi_q.alias("chi_q"), "n", "nrow", "ncol")
    )
    return cells.groupBy("n", "nrow", "ncol").agg(
        F.sum("chi_q").cast("bigint").alias("chi2_q"),
        F.round(
            F.sqrt(
                F.sum("chi_q")
                / float(CRAMER_SCALE)
                / (F.col("n") * F.least(F.col("nrow") - 1, F.col("ncol") - 1))
            ),
            9,
        ).alias("cramers_v"),
    )
