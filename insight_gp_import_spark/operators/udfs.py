"""UDF / UDAF / UDTF surface (SURVEY.md §2.I).

UDFs are the slow path (SURVEY.md §3.2: the JVM↔Python boundary exists
only here) — these four ops exist to prove the engine exposes every
extension point with correct semantics, each implementing an *exactly
SQL-expressible* spec so the DuckDB oracle can grade it:

- ``udf_scalar``     — row-at-a-time Python UDF (pickled rows; the
  ~10-100× slower path, never used elsewhere in this engine).
- ``udf_pandas``     — Arrow-batched pandas UDF (vectorized transfer).
- ``udaf_grouped_pandas`` — ``applyInPandas`` grouped custom aggregate
  (per-group OLS slope), the custom-UDAF pattern.
- ``udtf_explode``   — table function doc → (doc_id, pos, token); the
  builtin ``posexplode`` formulation (JVM-side fast path).
- ``udtf_python_tokenize`` — the same spec as a REAL Spark 4 Python
  ``@udtf`` class invoked via SQL LATERAL: the arbitrary-logic path,
  proving the extension point end-to-end.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from insight_gp_import_spark.registry import op
from insight_gp_import_spark.tables import _keyed_width, load_table

CAT = "udfs"


@op(
    "udf_scalar",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g')) AS clean_text
    FROM documents
    """,
    category=CAT,
)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python scalar UDF: normalize text (lower, strip non-alnum,
    collapse spaces) — implements exactly the oracle's SQL spec."""

    @F.udf(T.StringType())
    def normalize(s: str) -> str:
        s = re.sub(r"[^a-z0-9 ]", "", s.lower())
        return re.sub(r" +", " ", s).strip()

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", normalize("text").alias("clean_text"))


@op(
    "udf_pandas",
    oracle="""
    SELECT event_id,
           round((value - avg(value) OVER ()) / stddev_samp(value) OVER (), 4)
               AS zscore
    FROM events
    """,
    category=CAT,
)
def udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) pandas UDF: global z-score of ``value``.

    The mean/stddev are computed as Spark aggregates (one tiny
    collect), then applied in a vectorized batch transform — the
    pattern for any fitted-parameter scoring at scale (broadcast the
    params, stream the batches).
    """
    ev = load_table(spark, sf_dir, "events")
    mu, sd = ev.agg(F.avg("value"), F.stddev_samp("value")).first()

    @F.pandas_udf("double")
    def zscore(v: pd.Series) -> pd.Series:
        return ((v - mu) / sd).round(4)

    return ev.select("event_id", zscore("value").alias("zscore"))


@op(
    "udaf_grouped_pandas",
    oracle="""
    SELECT event_type,
           round(regr_slope(value, epoch(CAST(ts AS TIMESTAMP))), 6) AS slope
    FROM events
    GROUP BY event_type
    """,
    category=CAT,
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregate via ``applyInPandas``: per-event-type
    OLS slope of value over time — the custom-UDAF extension point.
    Arrow-batched per group; each group must fit one worker (fine: the
    alternative for giant groups is the sufficient-statistics
    formulation as built-in aggs, which is what the oracle uses)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_timestamp("ts").alias("x"), F.col("value").alias("y")
    )

    def ols_slope(pdf: pd.DataFrame) -> pd.DataFrame:
        x, y = pdf["x"].astype("float64"), pdf["y"]
        cov = ((x - x.mean()) * (y - y.mean())).sum()
        var = ((x - x.mean()) ** 2).sum()
        return pd.DataFrame(
            {"event_type": [pdf["event_type"].iloc[0]], "slope": [round(cov / var, 6)]}
        )

    return ev.groupBy("event_type").applyInPandas(
        ols_slope, "event_type string, slope double"
    )


@op(
    "udtf_explode",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT)
               AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents
    """,
    category=CAT,
)
def udtf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table function: one doc row → (doc_id, pos, token) rows.

    posexplode keeps tokenization JVM-side (probe-7 parity); this is
    the row-expanding extension point (n_rows out per row in).
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).withColumn("pos", F.col("pos").cast("long"))


@op(
    "udtf_python_tokenize",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT)
               AS pos,
           unnest(string_split(text, ' ')) AS token,
           length(unnest(string_split(text, ' '))) AS token_len
    FROM documents
    """,
    category=CAT,
)
def udtf_python_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Python UDTF (Spark 4 @udtf class): one input row → many
    output rows computed in Python, registered and invoked through SQL
    with LATERAL — the generality extension point (udtf_explode is the
    JVM fast path for the same spec; this proves the slow-but-arbitrary
    path works end-to-end). Implements exactly the whitespace-tokenize
    spec so the same oracle grades it."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, token string, token_len int")
    class Tokenize:
        def eval(self, text: str):
            for pos, token in enumerate(text.split(" ")):
                yield pos, token, len(token)

    spark.udtf.register("igis_tokenize", Tokenize)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("igis_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.token, t.token_len "
        "FROM igis_udtf_docs d, LATERAL igis_tokenize(d.text) t"
    )


from collections.abc import Iterator as _Iterator


@op(
    "udf_pandas_iter",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                * CASE o_orderpriority
                      WHEN '1-URGENT' THEN 5 WHEN '2-HIGH' THEN 4
                      WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 2
                      ELSE 1 END AS BIGINT) AS weighted_c
    FROM orders
    """,
    category=CAT,
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR-form pandas UDF (Iterator[Series] → Iterator[Series]):
    the per-task amortized-initialization pattern — expensive state
    (a model, a tokenizer, a reference table; here a priority→weight
    dict standing in for them) is built ONCE before the batch loop
    and reused across every Arrow batch the task streams, where the
    scalar pandas-UDF form (udf_pandas) would re-enter Python with no
    place to hang state. THE extension point for "load the model once
    per executor task" scoring at 100 TB.

    The weighting itself is exact integer cents × small-int factor,
    so the full Arrow round trip — JVM cents → Python int64 batches →
    JVM — is hash-checked with zero float tolerance. The priority
    column rides along via a struct-free two-series iterator (tuple
    of Series per batch).
    """
    o = load_table(spark, sf_dir, "orders")

    @F.pandas_udf("long")
    def weight_iter(
        it: _Iterator[tuple[pd.Series, pd.Series]],
    ) -> _Iterator[pd.Series]:
        # init-once section: runs one time per task, NOT per batch
        factors = {
            "1-URGENT": 5,
            "2-HIGH": 4,
            "3-MEDIUM": 3,
            "4-NOT SPECIFIED": 2,
            "5-LOW": 1,
        }
        for price_c, prio in it:
            yield price_c * prio.map(factors).astype("int64")

    cents = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        "o_orderpriority",
    )
    return cents.select(
        "o_orderkey",
        weight_iter("price_c", "o_orderpriority").alias("weighted_c"),
    )


BIGRAM_TOP_K = 20


@op(
    "udtf_arrow_bigrams",
    oracle=f"""
    WITH pos AS (
        SELECT text, unnest(range(1, strlen(text))) AS i FROM documents
    ), bg AS (
        SELECT substr(text, CAST(i AS INTEGER), 2) AS w FROM pos
    )
    SELECT w, CAST(count(*) AS BIGINT) AS n
    FROM bg GROUP BY w
    ORDER BY n DESC, w LIMIT {BIGRAM_TOP_K}
    """,
    category=CAT,
)
def udtf_arrow_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARROW-optimized Python UDTF (Spark 4's `@udtf(useArrow=True)`)
    generating character bigrams, applied via SQL LATERAL and rolled
    up to the top-{BIGRAM_TOP_K} — completes the UDTF surface axis:
    udtf_explode is the builtin generator, udtf_python_tokenize the
    pickled row-at-a-time Python UDTF, and THIS is the Arrow-batched
    form that makes Python table functions production-viable (rows
    cross the JVM↔Python boundary as Arrow record batches instead of
    one pickled row per yield — the same ~10-100× transfer win
    pandas UDFs get, now for one-to-many generators).

    The UDTF yields plain tuples; batching is the runtime's job —
    which is the API's point (no code change between pickled and
    Arrow forms, just the flag). Oracle generates the same bigrams
    set-theoretically (per-row position-list unnest + substr — ASCII
    corpus makes substr positions byte-safe, stated); counts are
    integers, top-K total-ordered by (n desc, bigram).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="w string", useArrow=True)
    class Bigrams:
        def eval(self, s: str):
            if s:
                for i in range(len(s) - 1):
                    yield (s[i : i + 2],)

    spark.udtf.register("igis_arrow_bigrams", Bigrams)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "igis_bg_documents"
    )
    return spark.sql(f"""
        SELECT t.w, CAST(count(*) AS BIGINT) AS n
        FROM igis_bg_documents d, LATERAL igis_arrow_bigrams(d.text) t
        GROUP BY t.w
        ORDER BY n DESC, t.w LIMIT {BIGRAM_TOP_K}
    """)


@op(
    "udf_pandas_window_agg",
    oracle="""
    WITH e AS (SELECT event_id, user_id, ts,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
               FROM events)
    SELECT event_id,
           round(sum(cents) OVER w * 1.0 / count(*) OVER w / 100.0, 6)
               AS rolling_avg
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    category=CAT,
)
def udf_pandas_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas GROUPED_AGG UDF evaluated OVER A BOUNDED WINDOW — the
    least-known corner of the §2.I UDF surface (udf_pandas is scalar,
    udaf_grouped_pandas is groupBy-wide): Spark ships each 3-row frame
    to the Python worker as an Arrow batch and the UDF returns one
    scalar per frame. This is the extension point for rolling custom
    statistics no builtin covers (rolling robust M-estimators etc.);
    demonstrated with a rolling sum so correctness is provable.

    Determinism across the Python/JVM/DuckDB triple: the UDF sums
    INTEGER cents (quantized before the window; int64-exact in
    pandas), the mean is one division of two agreed integers outside
    the UDF, round-6. Frame order is total via (ts, event_id).
    Scale: bounded frames keep each Arrow batch O(frame), and the
    window partitions by user — same shuffle as the builtin path; the
    Python hop costs ~10× a builtin sum (documented), which is the
    price of arbitrary logic, not of this formulation.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    # The per-frame Python hop is the whole cost of this op and its
    # parallelism equals the window's partition count. Hash-repartition
    # by the window key to at least the session's core count — the
    # window reuses this partitioning (same number of Exchanges;
    # measured 5.5 s → 0.8 s at sf0.1 with shuffle=8 on local[32]). On
    # a cluster shuffle.partitions already exceeds the core count and
    # the width is the shuffle width.
    ev = ev.repartition(_keyed_width(spark), "user_id")

    @F.pandas_udf("long")
    def frame_sum(v: pd.Series) -> int:
        return int(v.sum())

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.round(
            frame_sum("cents").over(w) * 1.0 / F.count("*").over(w) / 100.0, 6
        ).alias("rolling_avg"),
    )


@op(
    "udf_map_in_arrow",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events GROUP BY event_type
    """,
    category=CAT,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the ZERO-COPY corner of the §2.I surface: the
    Python function receives raw ``pyarrow.RecordBatch``es and returns
    RecordBatches, with no Arrow→pandas conversion on either side
    (udf_pandas pays that conversion both ways; for wide batches the
    pandas materialization is the dominant cost and mapInArrow is the
    escape hatch — it is also the integration point for any
    Arrow-native library: polars, duckdb-wasm-style kernels, custom C
    extensions).

    The demo transform quantizes value to integer cents using
    pyarrow.compute kernels (vectorized C++, no Python per-row work),
    and the result is rolled up per event type JVM-side — so the
    oracle is the plain quantized aggregate and any batch dropped,
    duplicated or mis-cast by the Arrow hop hash-fails. floor(x·100
    + 0.5) in pc kernels matches the engines' float semantics (same
    IEEE doubles in, same out).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")

    def quantize(batches):
        for b in batches:
            cents = pc.cast(
                pc.floor(pc.add(pc.multiply(b.column("value"), 100.0), 0.5)),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("event_type"), cents], names=["event_type", "cents"]
            )

    mapped = ev.mapInArrow(quantize, "event_type string, cents long")
    return mapped.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
