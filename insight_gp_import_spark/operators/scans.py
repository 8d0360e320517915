"""Sources / scans / sinks (SURVEY.md §2.A) — the insight-gp-import
capability layer, re-expressed Spark-native.

The reference's job: watch staging directories of CSV batches, load
each exactly once into Greenplum, tolerate malformed rows, evolve
schemas add-only, replace full-table snapshots. Mapping:

- tolerant CSV      → PERMISSIVE mode + columnNameOfCorruptRecord
- batch idempotence → left-anti join against a load manifest
- schema evolution  → unionByName(allowMissingColumns=True)
- snapshot replace  → latest-per-key window
- partitioned sink  → write.partitionBy (date partitioning analog)
- Greenplum load    → sources/jdbc.py (repartition + batched JDBC)

File-writing ops (csv/jsonl/sink) build their fixture in a temp dir on
each call — deterministic content, so declared rows-only but stable.
"""

from __future__ import annotations

import gzip
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from insight_gp_import_spark.registry import op
from insight_gp_import_spark.scratch import scratch_dir
from insight_gp_import_spark.tables import load_table

CAT = "scans"


@op(
    "scan_parquet",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    category=CAT,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain parquet scan with schema projection — the base source.
    Column pruning reaches the reader (ReadSchema in .explain)."""
    return load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@op(
    "scan_events_ns",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
    FROM events
    """,
    category=CAT,
)
def scan_events_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP(NANOS) parquet read — the §1.3 recipe end-to-end.
    Exact µs parity including the integer-div truncation fix."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )


CSV_GOOD_ROWS = 8
# a malformed line parses to nulls, with its raw text in _bad
TOLERANT = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_bad"}


@op(
    "scan_csv_tolerant",
    oracle=f"""
    SELECT CAST(r.range AS BIGINT) AS id,
           'name_' || r.range AS name,
           CAST(r.range * 10 AS BIGINT) AS amount
    FROM range({CSV_GOOD_ROWS}) r
    """,
    category=CAT,
)
def scan_csv_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed CSV batch load with row-level error tolerance
    (the Greenplum SEGMENT REJECT LIMIT analog over ``.csv.gz`` staging
    batches): malformed rows are quarantined into a corrupt-record
    column, good rows survive. Returns the good rows; the bad ones stay
    inspectable via ``_bad IS NOT NULL``.

    Oracled (round 4; previously rows-only): the staged batch is a
    deterministic synthetic fixture, so the tolerant parse's REQUIRED
    output — exactly the good rows, none of the two malformed ones —
    is a closed-form relation; a parser that leaked a corrupt row or
    dropped a good one hash-fails.

    The fixture is written as ``.csv.gz`` deliberately — Spark's text
    datasources decompress by file extension, so compressed staging
    batches need no extra code, but gz files are NOT splittable: one
    file = one task. At 100 TB the staging layout must therefore be
    many-files-per-batch (as a gpfdist-style loader produces anyway);
    a single giant .gz would serialize the whole parse."""
    tmp = scratch_dir("igis-csv-")
    path = os.path.join(tmp, "batch.csv.gz")
    lines = [f"{i},name_{i},{i * 10}" for i in range(CSV_GOOD_ROWS)]
    lines.insert(3, "not_an_int,oops,nope")  # type-malformed
    lines.insert(6, "5,missing_value")  # arity-malformed (short row)
    with gzip.open(path, "wt") as fh:
        fh.write("\n".join(lines) + "\n")
    # parsed from the text lines, not by the csv file source: that source
    # rejects a plan whose only column read is the corrupt-record one,
    # which a count() over the _bad filter prunes down to
    raw = spark.read.text(path).select(
        F.from_csv(
            "value", "id BIGINT, name STRING, amount BIGINT, _bad STRING", TOLERANT
        ).alias("r")
    )
    return raw.filter(F.col("r._bad").isNull()).select("r.id", "r.name", "r.amount")


@op(
    "scan_jsonl",
    oracle="""
    SELECT CAST(r.range AS BIGINT) AS req_id,
           CAST(200 + (r.range % 3) * 100 AS BIGINT) AS status,
           CAST((r.range * 7) % 90 AS BIGINT) AS latency_ms
    FROM range(10) r
    """,
    category=CAT,
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingest with explicit schema (serverlogs analog).
    Schema is never inferred (inference is a correctness hazard);
    unparseable lines quarantine into _bad like the CSV path.

    Oracled (round 4; previously rows-only): same closed-form-fixture
    law as scan_csv_tolerant — the parse must yield exactly the ten
    good log lines and quarantine the one broken one."""
    tmp = scratch_dir("igis-jsonl-")
    path = os.path.join(tmp, "logs.jsonl")
    lines = [
        f'{{"req_id": {i}, "status": {200 + (i % 3) * 100}, "latency_ms": {i * 7 % 90}}}'
        for i in range(10)
    ]
    lines.insert(4, "{this is not json")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    # parsed from the text lines, as in scan_csv_tolerant
    raw = spark.read.text(path).select(
        F.from_json(
            "value", "req_id BIGINT, status BIGINT, latency_ms BIGINT, _bad STRING",
            TOLERANT,
        ).alias("r")
    )
    return raw.filter(F.col("r._bad").isNull()).select(
        "r.req_id", "r.status", "r.latency_ms"
    )


@op(
    "sink_parquet_partitioned",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids
    FROM events
    GROUP BY 1
    """,
    category=CAT,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned append sink: write events partitioned by day,
    read back, return per-partition counts. Partition pruning on the
    read-back is the 100 TB access path (a day-filter scans one dir);
    the read-back here proves round-trip fidelity.

    Oracled (round 4; previously rows-only): the read-back aggregate is
    a pure fact of ``events`` — if the sink dropped, duplicated, or
    mis-partitioned any row, per-day counts or distinct ids diverge
    from the source relation and the hash fails."""
    out = scratch_dir("igis-sink-")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy("event_date")
        .agg(F.count("*").alias("cnt"), F.countDistinct("event_id").alias("n_ids"))
        .withColumn("event_date", F.col("event_date").cast("string"))
    )


MANIFEST_LOADED = [f"src{i}" for i in range(10)]


@op(
    "ingest_manifest_dedup",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    WHERE source NOT IN ({", ".join(f"'{s}'" for s in MANIFEST_LOADED)})
    """,
    category=CAT,
)
def ingest_manifest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-granular idempotence: load only batches absent from the
    manifest (left-anti join) — the reference's exactly-once file load.
    The manifest is tiny → broadcast anti-join, no shuffle of the
    incoming data."""
    docs = load_table(spark, sf_dir, "documents")
    manifest = spark.createDataFrame(
        [(s,) for s in MANIFEST_LOADED], T.StructType([T.StructField("source", T.StringType())])
    )
    return docs.join(F.broadcast(manifest), "source", "left_anti").select(
        "doc_id", "source"
    )


@op(
    "schema_evolution_union",
    oracle="""
    SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source, n_chars
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, lang, source, n_chars
    FROM documents WHERE doc_id % 2 = 1
    """,
    category=CAT,
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-only schema evolution: old batches lack the new column and
    surface NULL for it (ALTER TABLE ADD COLUMN semantics).
    ``unionByName(allowMissingColumns=True)`` is the whole
    implementation — name-based, order-independent."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source", "n_chars"
    )
    return old.unionByName(new, allowMissingColumns=True).select(
        "doc_id", "lang", "source", "n_chars"
    )


@op(
    "full_snapshot_latest",
    oracle="""
    SELECT o_custkey, o_orderkey AS latest_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS latest_date,
           o_totalprice AS latest_price
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
    category=CAT,
)
def full_snapshot_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table snapshot replace: latest snapshot per key wins — the
    reference's dimension-refresh semantic (users/sites/projects
    re-uploaded whole; newest upload is the table)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_orderdate").alias("latest_date"),
            F.col("o_totalprice").alias("latest_price"),
        )
    )


@op(
    "full_snapshot_scd2",
    oracle="""
    SELECT o_custkey,
           o_orderkey AS snapshot_id,
           CAST(o_orderdate AS TIMESTAMP) AS valid_from,
           CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey)
                AS TIMESTAMP) AS valid_to,
           (lead(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
            IS NULL) AS is_current,
           o_totalprice AS snapshot_value
    FROM orders
    """,
    category=CAT,
)
def full_snapshot_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: instead of replacing each full
    snapshot (full_snapshot_latest), keep history as validity intervals
    — valid_from = snapshot time, valid_to = next snapshot's time (NULL
    = current). One window per key; this is how the reference's
    dimension snapshots become point-in-time joinable at the warehouse
    layer."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        F.col("o_orderkey").alias("snapshot_id"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.col("o_totalprice").alias("snapshot_value"),
    )


BUCKETS = 8


@op(
    "sink_parquet_bucketed",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS cnt,
           ROUND(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0, 2)
               AS sum_price
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o_orderstatus
    """,
    category=CAT,
)
def sink_parquet_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed tables + co-located join — the shuffle-free-join layout.

    orders and lineitem are written bucketed (and sorted) by order key
    into the same bucket count; the subsequent join reads bucket i
    against bucket i with NO exchange on either side (asserted in
    tests/test_plans.py). At 100 TB this is the canonical answer to
    "this join shuffles 100 TB every night": pay the shuffle once at
    write time, never again at read time.

    Oracled (round 4; previously rows-only): the co-located join's
    aggregate is a pure fact of orders⋈lineitem, so any row the
    bucketed write lost or duplicated fails the hash; the plan-shape
    observable (zero Exchange/Sort under the merge join) stays
    asserted in tests/test_plans.py. Prices sum as per-row-quantized
    integer cents on BOTH sides — a raw double SUM over ~10⁵-row
    groups carries order-of-addition drift right at the round-2
    boundary (§2.X escalation rule).
    """
    import hashlib as _h

    tag = _h.md5(sf_dir.encode()).hexdigest()[:8]
    warehouse = scratch_dir("igis-bucketed-")
    t_orders, t_lineitem = f"igis_orders_b_{tag}", f"igis_lineitem_b_{tag}"
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # repartition by the bucket key first: writer tasks then hold whole
    # buckets (repartition and bucketBy share the Murmur3 hash), so each
    # bucket is exactly ONE file — the layout Spark requires to trust
    # bucket sortedness and elide the Sort under the merge join
    (
        orders.repartition(BUCKETS, F.col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{warehouse}/orders")
        .saveAsTable(t_orders)
    )
    (
        lineitem.repartition(BUCKETS, F.col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{warehouse}/lineitem")
        .saveAsTable(t_lineitem)
    )
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    # MERGE hint: at test scale AQE would broadcast the small side and
    # hide the point; forcing SortMergeJoin shows the bucket payoff —
    # zero Exchange AND zero Sort on both inputs (pre-bucketed+sorted),
    # which is exactly the plan a 100 TB fact-fact join needs.
    return (
        o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
                )
                / 100.0,
                2,
            ).alias("sum_price"),
        )
    )


@op(
    "sink_jdbc_gp",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS sum_acctbal
    FROM customer
    GROUP BY c_nationkey
    """,
    category=CAT,
)
def sink_jdbc_gp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Greenplum load path, end-to-end through a real JDBC driver:
    batched parallel ``df.write.jdbc`` then a range-partitioned
    ``spark.read.jdbc`` read-back, aggregated to prove the round trip
    lost nothing. The test environment has no Greenplum, so the url
    points at Apache Derby (embedded, ships with Spark) — the Spark
    code path (writer partitioning, batchsize, partitioned source
    splits) is identical; a deployment swaps url/driver properties.
    Hash-matched against the source table's aggregate, so any row the
    sink dropped or duplicated fails the oracle."""
    from insight_gp_import_spark.sources import (
        JdbcSinkConfig,
        read_jdbc_partitioned,
        write_jdbc,
    )

    db = scratch_dir("igis-jdbc-") + "/db"
    cfg = JdbcSinkConfig(
        url=f"jdbc:derby:{db};create=true",
        table="customer_load",
        mode="overwrite",
        num_partitions=4,
        batch_size=5_000,
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    write_jdbc(cust, cfg)
    bounds = cust.agg(
        F.min("c_custkey").alias("lo"), F.max("c_custkey").alias("hi")
    ).collect()[0]
    back = read_jdbc_partitioned(spark, cfg, "c_custkey", bounds.lo, bounds.hi + 1)
    return back.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


SMALL_FILES = 40
TARGET_FILES = 4


@op(
    "maintenance_compact",
    oracle=f"""
    SELECT {SMALL_FILES} AS files_before,
           {TARGET_FILES} AS files_after,
           CAST(count(*) AS BIGINT) AS rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS distinct_ids
    FROM events
    """,
    category=CAT,
)
def maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every
    streaming/batch-append table needs (each micro-batch or load writes
    a file; a year later the listing alone dominates scan time).
    Rewrite N small files into a few target-size files and prove
    nothing was lost. At 100 TB this runs per partition with
    target = maxPartitionBytes so scans get full-size splits.

    Oracled (round 4; previously rows-only): the file counts are
    deterministic — repartition({SMALL_FILES}) emits exactly
    {SMALL_FILES} non-empty files on this corpus and
    coalesce({TARGET_FILES}) exactly {TARGET_FILES} — and the
    row/distinct counts are facts of ``events``, so a compaction that
    lost or duplicated rows (or didn't actually compact) fails the
    hash. The fs-measured values are returned, the oracle states the
    law.
    """
    src = scratch_dir("igis-compact-src-")
    dst = scratch_dir("igis-compact-dst-")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.repartition(SMALL_FILES).write.mode("overwrite").parquet(src)
    small = spark.read.parquet(src)
    n_before = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    # real compaction sizes by bytes: files/target ratio stands in here
    small.coalesce(TARGET_FILES).write.mode("overwrite").parquet(dst)
    n_after = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    back = spark.read.parquet(dst)
    return back.agg(
        F.lit(n_before).alias("files_before"),
        F.lit(n_after).alias("files_after"),
        F.count("*").alias("rows"),
        F.countDistinct("event_id").alias("distinct_ids"),
    )


N_BATCHES = 4  # staged CSV batches; batch 0 is already in the manifest


@op(
    "pipeline_batch_load",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE event_id % 4 <> 0
    GROUP BY event_type
    """,
    category=CAT,
)
def pipeline_batch_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: the reference's whole job as one composed pipeline —
    staged CSV batches → load-manifest idempotence → tolerant
    schema-explicit parse → append → aggregate. Batches are staged
    per-directory (one dir per batch id, the staging layout the
    directory-watching ingest loop consumes); the manifest already
    contains batch 0, so only batches 1..N-1 load — re-running the
    pipeline loads nothing twice (exactly-once at batch granularity).
    Deterministic batch assignment (event_id % N) makes the whole
    pipeline SQL-expressible, so the END-TO-END composition is
    hash-checked, not just each stage alone.
    At scale each stage stays distributed: CSV parse is per-file
    parallel, the manifest anti-join broadcasts (manifests are tiny),
    and the final agg is the only shuffle."""
    stage = scratch_dir("igis-stage-")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    ).withColumn("batch_id", F.pmod(F.col("event_id"), F.lit(N_BATCHES)))
    for b in range(N_BATCHES):
        (
            ev.filter(F.col("batch_id") == b)
            .drop("batch_id")
            .write.mode("overwrite")
            .option("header", True)
            .csv(f"{stage}/batch_{b}")
        )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    manifest = spark.createDataFrame([("batch_0",)], ["batch_id"])
    incoming = (
        spark.read.option("header", True)
        .schema(schema)
        .csv(f"{stage}/batch_*")
        .withColumn(
            "batch_id",
            F.regexp_extract(F.input_file_name(), r"(batch_\d+)", 1),
        )
    )
    fresh = incoming.join(
        F.broadcast(manifest), on="batch_id", how="left_anti"
    )
    return fresh.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@op(
    "pipeline_file_lifecycle",
    oracle=f"""
    WITH per_batch AS (
        SELECT 'batch_' || CAST(event_id % {N_BATCHES} AS VARCHAR) AS batch_id,
               count(*) AS n
        FROM events GROUP BY 1
    )
    SELECT 1 AS run, batch_id,
           CASE WHEN batch_id = 'batch_0' THEN 'skipped' ELSE 'loaded' END AS status,
           CASE WHEN batch_id = 'batch_0' THEN 0 ELSE n END AS n_rows
    FROM per_batch
    UNION ALL
    SELECT 1 AS run, 'batch_err' AS batch_id, 'error' AS status, 0 AS n_rows
    UNION ALL
    SELECT 2 AS run, batch_id, 'skipped' AS status, 0 AS n_rows FROM per_batch
    """,
    category=CAT,
)
def pipeline_file_lifecycle(
    spark: SparkSession, sf_dir: str, root: str | None = None
) -> DataFrame:
    """Staged-batch load with the reference loader's full file
    lifecycle: incoming/ batches either load-and-archive, quarantine to
    error/, or are skipped via the manifest — and a second pass proves
    exactly-once (everything skips).

    Per batch dir in incoming/: already in manifest → 'skipped';
    parses with zero good rows → 'error', dir moved to error/; else
    good rows append to the processed parquet sink, dir moved to
    archive/, manifest updated ('loaded'). The returned accounting
    relation (run, batch_id, status, n_rows) is hash-checked against
    DuckDB recomputing the same per-batch row counts from events —
    i.e. the oracle checks that load accounting matches the data that
    was actually staged, end-to-end through CSV parse and manifest.

    Scale shape — O(1) Spark jobs per pass, never one per batch (a
    per-batch loop serializes the driver at 10⁴-10⁵ staged batches):
    manifest-listed batches are pruned at the PATH level (zero I/O,
    the partition-pruning analog for staged files), every remaining
    batch is parsed in ONE tagged read (`input_file_name()` → batch
    id) landed to a bronze staging parquet, the per-batch good-row
    accounting is ONE aggregation over that staging whose result is
    O(#batches) rows, and all good rows append in ONE write job. Archive/error/manifest updates are bulk driver-side metadata
    ops driven by the collected accounting — directory renames on a
    real filesystem, manifest pointer swaps on object stores.
    """
    root = root or scratch_dir("igis-lifecycle-")
    incoming, archive, errdir = (os.path.join(root, d) for d in
                                 ("incoming", "archive", "error"))
    processed = os.path.join(root, "processed")
    for d in (incoming, archive, errdir):
        os.makedirs(d)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    ).withColumn("batch_id", F.pmod(F.col("event_id"), F.lit(N_BATCHES)))
    for b in range(N_BATCHES):
        (
            ev.filter(F.col("batch_id") == b)
            .drop("batch_id")
            .write.mode("overwrite")
            .option("header", True)
            .csv(f"{incoming}/batch_{b}")
        )
    os.makedirs(f"{incoming}/batch_err")
    with open(f"{incoming}/batch_err/part-0.csv", "w") as fh:
        fh.write("event_id,user_id,event_type,value\n")
        fh.write("not_a_number,also_bad,,broken\nx,y,z\n")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_bad", T.StringType()),
        ]
    )
    manifest_path = os.path.join(root, "manifest.txt")
    with open(manifest_path, "w") as fh:
        fh.write("batch_0\n")

    def run_once(run_no: int) -> list[tuple[int, str, str, int]]:
        with open(manifest_path) as fh:
            loaded = {ln.strip() for ln in fh if ln.strip()}
        batches = sorted(os.listdir(incoming))
        out = [(run_no, b, "skipped", 0) for b in batches if b in loaded]
        cand = [b for b in batches if b not in loaded]
        if not cand:
            return out
        # ONE read over every candidate batch dir, rows tagged by source
        # dir, landed to a bronze staging parquet (CSV parsed exactly
        # once; also sidesteps Spark's corrupt-column-only query ban
        # the way its own docs prescribe — persist the parsed result).
        bronze = os.path.join(root, "bronze", f"run_{run_no}")
        (
            spark.read.option("header", True)
            .schema(schema)
            .csv(
                [os.path.join(incoming, b) for b in cand],
                mode="PERMISSIVE", columnNameOfCorruptRecord="_bad",
            )
            .withColumn(
                "batch_id",
                F.regexp_extract(F.input_file_name(), r"(batch_\w+)", 1),
            )
            .withColumn("is_bad", F.col("_bad").isNotNull())
            .drop("_bad")
            .write.parquet(bronze)
        )
        parsed = spark.read.parquet(bronze)
        # good-row counts per batch in ONE aggregation over the columnar
        # staging (O(#batches) result — the only collect in the op)
        counts = {
            r["batch_id"]: r["n_good"]
            for r in parsed.groupBy("batch_id").agg(
                F.count(F.when(~F.col("is_bad"), 1)).alias("n_good")
            ).collect()
        }
        # ONE append of every good row (error batches contribute none).
        parsed.filter(~F.col("is_bad")).drop("is_bad", "batch_id").write.mode(
            "append"
        ).parquet(processed)
        newly_loaded = []
        for b in cand:
            n_good = counts.get(b, 0)  # dir parsed to zero rows ⇒ error
            if n_good == 0:
                shutil.move(os.path.join(incoming, b), os.path.join(errdir, b))
                out.append((run_no, b, "error", 0))
            else:
                shutil.move(os.path.join(incoming, b), os.path.join(archive, b))
                newly_loaded.append(b)
                out.append((run_no, b, "loaded", n_good))
        with open(manifest_path, "a") as fh:
            fh.writelines(b + "\n" for b in newly_loaded)
        return out

    rows = run_once(1)
    # second pass: re-deliver every archived batch (the watcher seeing
    # the same files again) — all must skip via the manifest, proving
    # exactly-once at batch granularity. Quarantined error batches stay
    # in error/ and are NOT re-attempted; they re-enter only by explicit
    # operator action (the reference's retry semantics).
    for batch in sorted(os.listdir(archive)):
        shutil.copytree(
            os.path.join(archive, batch), os.path.join(incoming, batch)
        )
    rows += run_once(2)
    return spark.createDataFrame(
        rows, "run INT, batch_id STRING, status STRING, n_rows BIGINT"
    )


@op(
    "snapshot_diff",
    oracle="""
    WITH s1 AS (
        SELECT o_custkey, o_orderkey FROM orders
        WHERE o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
        QUALIFY row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    ), s2 AS (
        SELECT o_custkey, o_orderkey FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    )
    SELECT COALESCE(s2.o_custkey, s1.o_custkey) AS o_custkey,
           CASE WHEN s1.o_custkey IS NULL THEN 'added'
                WHEN s2.o_custkey IS NULL THEN 'removed'
                ELSE 'changed' END AS action,
           s1.o_orderkey AS old_orderkey,
           s2.o_orderkey AS new_orderkey
    FROM s1 FULL OUTER JOIN s2 ON s1.o_custkey = s2.o_custkey
    WHERE s1.o_custkey IS NULL OR s2.o_custkey IS NULL
       OR s1.o_orderkey <> s2.o_orderkey
    """,
    category=CAT,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report: diff the per-key 'latest as of T1' state
    against 'latest as of T2' (added / removed / changed keys) — the
    audit query behind 'what changed between yesterday's load and
    today's' on a full_snapshot_latest-style dimension.

    Scale shape (verified in the plan): WindowGroupLimit pushes the
    top-1-per-key below each exchange, so only one row per key per
    side crosses the wire; both sides then arrive partitioned on
    o_custkey and the full-outer join adds NO third shuffle. Two
    shuffles of |keys| rows total — at 100 TB the as-of filter also
    prunes date partitions. 'removed' is impossible with monotone
    history but the branch is kept — on a real feed keys do disappear.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )

    def as_of(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey")
        )

    s1 = as_of(orders.filter(F.col("o_orderdate") <= F.lit("1997-12-31 00:00:00").cast("timestamp")))
    s2 = as_of(orders)
    j = s1.alias("s1").join(
        s2.alias("s2"), F.col("s1.o_custkey") == F.col("s2.o_custkey"), "full_outer"
    )
    return j.filter(
        F.col("s1.o_custkey").isNull()
        | F.col("s2.o_custkey").isNull()
        | (F.col("s1.o_orderkey") != F.col("s2.o_orderkey"))
    ).select(
        F.coalesce(F.col("s2.o_custkey"), F.col("s1.o_custkey")).alias("o_custkey"),
        F.when(F.col("s1.o_custkey").isNull(), "added")
        .when(F.col("s2.o_custkey").isNull(), "removed")
        .otherwise("changed")
        .alias("action"),
        F.col("s1.o_orderkey").alias("old_orderkey"),
        F.col("s2.o_orderkey").alias("new_orderkey"),
    )


@op(
    "sink_parquet_range_sorted",
    oracle="""
    SELECT 8 AS n_files,
           CAST(count(*) AS BIGINT) AS rows_written,
           CAST(count(*) AS BIGINT) AS rows_source,
           TRUE AS globally_sorted
    FROM lineitem
    """,
    category=CAT,
)
def sink_parquet_range_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-sorted parquet output WITHOUT a single-task sort:
    repartitionByRange(l_shipdate) range-partitions the data (sampled
    split points), sortWithinPartitions orders each range file — file
    k's max <= file k+1's min, so the dataset is globally ordered
    while every partition sorts in parallel. This is THE way to write
    a 100 TB sorted/zone-mapped table; an orderBy().write would pull
    the sort into one task chain, and a coalesce(1) is a non-starter.

    Oracled (round 4; previously rows-only) in LAW style: 8 explicit
    range partitions over a ship-date domain dense at every SF means
    exactly 8 non-empty files; the measured per-file [min,max]
    non-overlap verdict and round-trip row counts must match the
    source facts — a lost range file, an overlap (sort regression),
    or dropped rows each flip a measured value and fail the hash.
    """
    out = scratch_dir("igis-rangesort-")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate", "l_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).withColumn(
        "file", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    per_file = back.groupBy("file").agg(
        F.min("l_shipdate").alias("mn"),
        F.max("l_shipdate").alias("mx"),
        F.count("*").alias("n"),
    )
    w = Window.orderBy("mn", "file")
    overlaps = per_file.withColumn("prev_mx", F.lag("mx").over(w)).filter(
        F.col("prev_mx").isNotNull() & (F.col("mn") < F.col("prev_mx"))
    )
    return spark.createDataFrame(
        [
            (
                per_file.count(),
                int(per_file.agg(F.sum("n")).collect()[0][0]),
                int(li.count()),
                overlaps.count() == 0,
            )
        ],
        "n_files int, rows_written long, rows_source long, globally_sorted boolean",
    )


@op(
    "sink_partition_overwrite_dynamic",
    oracle="""
    WITH d AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day FROM events),
    t AS (SELECT min(day) AS target FROM d)
    SELECT t.target AS target_day,
           CAST((SELECT count(*) FROM d WHERE d.day = t.target) AS BIGINT)
               AS rows_before,
           CAST(2 * (SELECT count(*) FROM d WHERE d.day = t.target) AS BIGINT)
               AS rows_after,
           TRUE AS target_replaced,
           TRUE AS others_intact,
           TRUE AS days_preserved
    FROM t
    """,
    category=CAT,
)
def sink_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the incremental day-reload:
    rewriting one ingest day must replace ONLY that day's directory,
    not truncate the table (static overwrite mode, the default, drops
    every partition first). This is how a loader re-runs a failed or
    corrected batch against a 100 TB date-partitioned table: the
    rewrite touches one partition's files; every other day is
    untouched bytes on disk.

    Oracled (round 4; previously rows-only) in LAW style (the
    dq_hll_error_bound pattern): the target day is deterministic
    (min day), the measured post-rewrite counts must equal exactly 2×
    the source day's rows, and the three verification booleans must
    all come back true — a static-mode regression (other days
    truncated) or a non-replacing append flips a measured value and
    fails the hash.
    """
    out = scratch_dir("igis-dynover-")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts").cast("string")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    days = [r[0] for r in ev.select("event_date").distinct().orderBy("event_date").collect()]
    target = days[0]
    # corrected batch for the target day: the same rows duplicated
    redo = ev.filter(F.col("event_date") == target)
    redo = redo.unionByName(redo)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        redo.write.mode("overwrite").partitionBy("event_date").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    back = spark.read.parquet(out)
    n_target_before = ev.filter(F.col("event_date") == target).count()
    n_target_after = back.filter(F.col("event_date") == target).count()
    others_intact = (
        back.filter(F.col("event_date") != target).count()
        == ev.filter(F.col("event_date") != target).count()
    )
    return spark.createDataFrame(
        [
            (
                target,
                n_target_before,
                n_target_after,
                n_target_after == 2 * n_target_before,
                others_intact,
                back.select("event_date").distinct().count() == len(days),
            )
        ],
        "target_day string, rows_before long, rows_after long,"
        " target_replaced boolean, others_intact boolean, days_preserved boolean",
    )


ZORDER_FILES = 16  # 4 z-bits -> 2 bits per dimension -> 4x4 rectangles

ZORDER_SQL = f"""
    WITH b AS (
        SELECT CAST(min(l_partkey) AS BIGINT) AS mnx,
               CAST(max(l_partkey) AS BIGINT) AS mxx,
               CAST(min(l_suppkey) AS BIGINT) AS mny,
               CAST(max(l_suppkey) AS BIGINT) AS mxy
        FROM lineitem
    ), src AS (
        SELECT CAST(l_partkey AS BIGINT) AS pk, CAST(l_suppkey AS BIGINT) AS sk,
               mnx, mxx, mny, mxy FROM lineitem CROSS JOIN b
    ), coords AS (
        SELECT pk, sk, mnx, mxx, mny, mxy,
               (pk - mnx) * 4 // (mxx - mnx + 1) AS xb,
               (sk - mny) * 4 // (mxy - mny + 1) AS yb
        FROM src
    ), tagged AS (
        SELECT 'zorder' AS layout,
               (yb // 2) % 2 * 8 + (xb // 2) % 2 * 4 + yb % 2 * 2 + xb % 2
                   AS bucket,
               pk, sk, mnx, mxx, mny, mxy
        FROM coords
        UNION ALL
        SELECT 'linear' AS layout,
               (pk - mnx) * {ZORDER_FILES} // (mxx - mnx + 1) AS bucket,
               pk, sk, mnx, mxx, mny, mxy
        FROM src
    )
    SELECT layout, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST((max(pk) - min(pk)) * 10000
                // greatest(max(mxx) - max(mnx), 1) AS BIGINT)
               AS width_partkey_bp,
           CAST((max(sk) - min(sk)) * 10000
                // greatest(max(mxy) - max(mny), 1) AS BIGINT)
               AS width_suppkey_bp
    FROM tagged GROUP BY 1, 2
    """


@op("sink_parquet_zorder", oracle=ZORDER_SQL, category=CAT)
def sink_parquet_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered parquet layout: interleave the bits of TWO
    filter columns (l_partkey, l_suppkey) into one Morton key, cluster
    files by its top bits and sort within each file by the full key —
    every file becomes a small rectangle in (partkey, suppkey) space,
    so parquet footer min/max stats prune files for predicates on
    EITHER column. A plain sort clusters one column and leaves the
    other spread across the full domain in every file (no skipping
    possible); that contrast is measured below, not assumed.

    Oracled (round 5; previously rows-only): file boundaries are the
    EXPLICIT top-4 Morton bits — pure integer expressions of the
    integer key bounds — instead of repartitionByRange's sampled
    boundaries, so the file->rowset mapping is a deterministic
    function of the data. The op measures (rows, min/max per
    dimension) from the files it actually WROTE (read-back scan); the
    oracle recomputes the same stats from the source relation. Hash
    equality therefore proves the sink placed exactly the right rows
    in every file — the footer-stats skipping law, not just a row
    count. Scale: the z-key/bucket are scan-stage projections and the
    only exchange is one hash repartition on the bucket id (same cost
    as any clustered sink); with skewed keys you'd deepen the bucket
    bits or split hot buckets — boundaries stay explicit either way.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    # 1-row bounds scan (same benign pattern as the JDBC range bounds).
    b = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    mnx, mxx, mny, mxy = int(b[0]), int(b[1]), int(b[2]), int(b[3])
    dx, dy = mxx - mnx + 1, mxy - mny + 1
    # 16-bit coords via integer div: xb>>14 provably equals the oracle's
    # 2-bit coord ((a div b) div c == a div (b*c) for positive ints).
    xb = F.expr(f"((cast(l_partkey as bigint) - {mnx}) * 65536) div {dx}")
    yb = F.expr(f"((cast(l_suppkey as bigint) - {mny}) * 65536) div {dy}")
    z = F.lit(0).cast("long")
    for i in range(16):  # Morton interleave, pure JVM bit math
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(xb, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(yb, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1)
        )

    def write_and_measure(df: DataFrame, bucket, order_cols, out: str, layout: str) -> DataFrame:
        (
            df.withColumn("bucket", bucket.cast("long"))
            .repartition(ZORDER_FILES, "bucket")
            .sortWithinPartitions("bucket", *order_cols)
            .select("l_orderkey", "l_partkey", "l_suppkey", "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out)
        )
        back = spark.read.parquet(out)
        return back.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.expr(
                "(cast(max(l_partkey) as bigint) - min(l_partkey)) * 10000"
                f" div {max(mxx - mnx, 1)}"
            ).alias("width_partkey_bp"),
            F.expr(
                "(cast(max(l_suppkey) as bigint) - min(l_suppkey)) * 10000"
                f" div {max(mxy - mny, 1)}"
            ).alias("width_suppkey_bp"),
        ).select(F.lit(layout).alias("layout"), "*")

    # r13 (guide §2.6 overlap independent jobs): the z-order and linear
    # layouts are fully independent write→read-back pipelines to
    # separate directories, so submit both writes from a 2-thread pool
    # and let the second job's tasks back-fill the first's stragglers
    # (the writes are the op's eager actions; the returned stats
    # relation is unchanged — write_and_measure only becomes eager
    # work here, results are a deterministic function of the data).
    from concurrent.futures import ThreadPoolExecutor

    out_z = scratch_dir("igis-zorder-")
    lbucket = F.expr(
        f"((cast(l_partkey as bigint) - {mnx}) * {ZORDER_FILES}) div {dx}"
    )
    out_lin = scratch_dir("igis-linsort-")
    with ThreadPoolExecutor(max_workers=2) as pool:
        fz = pool.submit(
            write_and_measure,
            li.withColumn("__z", z),
            F.shiftright(F.col("__z"), 28),
            ["__z"],
            out_z,
            "zorder",
        )
        fl = pool.submit(
            write_and_measure, li, lbucket, ["l_partkey"], out_lin, "linear"
        )
        zstats, lstats = fz.result(), fl.result()
    return zstats.unionByName(lstats)


@op(
    "scan_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    """
    "GROUP BY o_orderstatus",
    category=CAT,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format breadth beyond parquet/csv/jsonl: ORC write → read →
    aggregate, hash-matched against the parquet source — any row or
    value the ORC round trip altered fails the oracle. ORC is the other
    columnar format a warehouse migration meets (Hive/Trino tables);
    Spark's reader gives it the same pushdown/pruning machinery as
    parquet (vectorized scan, predicate pushdown, column pruning), so
    the engine is format-agnostic at 100 TB — the plan is identical,
    only the leaf scan node changes. (Avro would be the row-format
    sibling; its external spark-avro module is not deployed in this
    environment, so ORC carries the format-breadth demonstration.)
    """
    out = scratch_dir("igis-orc-")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@op(
    "schema_evolution_catalog",
    oracle="""
    SELECT doc_id, lang, n_chars, NULL AS source
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, lang, n_chars, source
    FROM documents WHERE doc_id % 2 = 1
    """,
    category=CAT,
)
def schema_evolution_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-only schema evolution on a REAL catalog table — the
    reference loader's actual DDL path (diff incoming column metadata
    against the catalog, `ALTER TABLE .. ADD COLUMN`, then load), where
    schema_evolution_union shows only the logical-plan equivalent.

    Old-schema batch → saveAsTable; `ALTER TABLE ADD COLUMNS (source)`
    evolves the catalog schema in place (metadata-only — zero data
    rewritten, exactly like Greenplum's add-column on append tables);
    new-schema batch appends by name; reading the table back shows old
    rows with NULL for the new column. At 100 TB the ALTER costs O(1):
    only the metastore entry changes, and the parquet reader treats the
    column as missing-=>-null in every pre-evolution file.
    """
    import hashlib as _h

    tag = _h.md5(sf_dir.encode()).hexdigest()[:8]
    tbl = f"igis_docs_evolve_{tag}"
    path = os.path.join(scratch_dir("igis-evolve-"), "t")
    docs = load_table(spark, sf_dir, "documents")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "lang", "n_chars")
        .write.option("path", path)
        .saveAsTable(tbl)
    )
    spark.sql(f"ALTER TABLE {tbl} ADD COLUMNS (source STRING)")
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", "n_chars", "source")
        .write.mode("append")
        .saveAsTable(tbl)
    )
    return spark.table(tbl).select("doc_id", "lang", "n_chars", "source")


SCD2_CUTOFF = "1996-12-31 00:00:00"


@op(
    "merge_scd2_incremental",
    oracle="""
    SELECT o_custkey,
           o_orderkey AS snapshot_id,
           CAST(o_orderdate AS TIMESTAMP) AS valid_from,
           CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey)
                AS TIMESTAMP) AS valid_to,
           (lead(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
            IS NULL) AS is_current,
           o_totalprice AS snapshot_value
    FROM orders
    """,
    category=CAT,
)
def merge_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: fold a NEW batch of snapshots into
    an existing materialized history without rebuilding it — close the
    open interval of every key the delta touches, version the delta
    rows among themselves, pass untouched history through. The oracle
    is the FULL recompute over all snapshots (full_snapshot_scd2's
    exact SQL), so the hash-match proves merged-incremental ≡ rebuilt —
    the invariant that lets a 100 TB warehouse maintain dimension
    history by scanning only the day's delta plus the open rows, never
    the whole history.

    Scale shape: history is read from its materialized parquet (here:
    staged to a temp dir by this op); the delta groupBy/windows shuffle
    O(delta); the close-out join touches history rows only for keys in
    the delta (broadcast — a day's key set is small next to history).
    """
    hist_dir = scratch_dir("igis-scd2-hist-")
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(SCD2_CUTOFF).cast("timestamp")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")

    def scd2(df: DataFrame) -> DataFrame:
        nxt = F.lead("o_orderdate").over(w)
        return df.select(
            "o_custkey",
            F.col("o_orderkey").alias("snapshot_id"),
            F.col("o_orderdate").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
            F.col("o_totalprice").alias("snapshot_value"),
        )

    # the pre-existing materialized history (snapshots <= cutoff)
    scd2(orders.filter(F.col("o_orderdate") <= cutoff)).write.mode(
        "overwrite"
    ).parquet(hist_dir)
    history = spark.read.parquet(hist_dir)
    delta = orders.filter(F.col("o_orderdate") > cutoff)

    new_versions = scd2(delta)
    # first delta snapshot per key closes that key's open history row
    first_delta = delta.groupBy("o_custkey").agg(
        F.min(F.struct("o_orderdate", "o_orderkey")).alias("f")
    ).select("o_custkey", F.col("f.o_orderdate").alias("close_at"))
    closed = (
        history.join(F.broadcast(first_delta), "o_custkey", "left")
        .select(
            "o_custkey",
            "snapshot_id",
            "valid_from",
            F.when(
                F.col("is_current") & F.col("close_at").isNotNull(),
                F.col("close_at"),
            )
            .otherwise(F.col("valid_to"))
            .alias("valid_to"),
            (F.col("is_current") & F.col("close_at").isNull()).alias(
                "is_current"
            ),
            "snapshot_value",
        )
    )
    return closed.unionByName(new_versions)


@op(
    "sink_csv_gz_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    category=CAT,
)
def sink_csv_gz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's staging format as a SINK: gzipped CSV batches
    (insight-server stages .csv.gz; scan_csv_tolerant reads them —
    this op closes the loop by producing them). events → csv.gz →
    schema-explicit read-back → aggregate, hash-matched against the
    parquet source, so any row or value the text round trip altered
    fails the oracle (doubles survive via shortest-repr round-trip
    guarantee; gzip is splittable per FILE, so parallelism = #files —
    which is why the writer keeps the source partitioning instead of
    coalescing to one giant unsplittable .gz).
    """
    out = scratch_dir("igis-csvgz-")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").option("header", True).option(
        "compression", "gzip"
    ).csv(out)
    files = [f for f in os.listdir(out) if f.endswith(".csv.gz")]
    if not files:
        raise RuntimeError(f"no .csv.gz parts written under {out}")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = spark.read.option("header", True).schema(schema).csv(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


BINARY_SCAN_DOCS = 64


@op(
    "scan_binary_files",
    oracle=f"""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {BINARY_SCAN_DOCS}
    """,
    category=CAT,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source — how image/audio/video corpora actually
    enter Spark: one opaque payload per file, with path/length
    metadata, feeding the mm_* operators. The fixture materializes
    {BINARY_SCAN_DOCS} documents as individual .bin files (bounded
    driver-side write — fixture setup, not the data path), then scans
    them back distributed and hash-checks doc id (path-derived), byte
    length, and content md5 against the source-of-truth table.

    Scale notes: binaryFile lists files on the driver but READS them
    in executors (one partition per file up to maxPartitionBytes);
    `pathGlobFilter` prunes at listing time. The whole-payload column
    means one file = one row — for 100 TB of small images, pack
    payloads into parquet binary columns instead (mm_decode_features'
    layout); binaryFile is the ingest edge, not the storage format.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BINARY_SCAN_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    tmp = scratch_dir("igis-binscan-")
    for r in docs:
        with open(f"{tmp}/{r.doc_id:05d}.bin", "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(tmp)
    )
    return scanned.select(
        F.regexp_extract(F.col("path"), r"(\d{5})\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


PYDS_N_FILES = 4096


@op(
    "scan_python_datasource",
    oracle=f"""
    WITH manifest AS (
        SELECT i AS file_id,
               CAST(i % 16 AS INTEGER) AS shard,
               (i * 2654435761) % 1000000 AS size_bytes
        FROM generate_series(0, {PYDS_N_FILES - 1}) AS t(i)
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           CAST(max(size_bytes) AS BIGINT) AS max_bytes
    FROM manifest GROUP BY shard
    """,
    category=CAT,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python Data Source API (Spark 4,
    SPARK-44076) — the extension point a proprietary-protocol reader
    (gpfdist-class parallel unload, internal REST feeds, bespoke
    manifest services) implements to become a first-class
    `spark.read.format(...)` source: schema declaration, partition
    planning (one independent split per task — executors fetch their
    slice, the driver never touches data), and per-split row
    iteration, all in Python (Arrow-batched by the runtime).

    The registered source synthesizes a deterministic file-manifest
    relation, so the full path — registration, option passing, split
    planning, distributed read, downstream aggregation — is
    hash-checked against DuckDB rebuilding the same relation from
    generate_series. sources/pyds.py documents the contract.
    """
    from insight_gp_import_spark.sources.pyds import register_manifest_source

    register_manifest_source(spark)
    manifest = (
        spark.read.format("igis_manifest")
        .option("n", str(PYDS_N_FILES))
        .option("splits", "8")
        .load()
    )
    return manifest.groupBy("shard").agg(
        F.count("*").alias("n_files"),
        F.sum("size_bytes").alias("total_bytes"),
        F.max("size_bytes").alias("max_bytes"),
    )


@op(
    "scan_xml_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
               AS sum_value_e4,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM events WHERE event_id < 4000
    GROUP BY event_type
    """,
    category=CAT,
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format breadth: native XML (Spark 4 absorbed spark-xml,
    SPARK-44265) — the interchange format monitoring agents and
    enterprise feeds still emit. events slice → per-partition XML
    files (rowTag records) → schema-explicit distributed read-back →
    aggregate hash-matched against the parquet source, proving the
    round trip alters nothing (same gate as scan_orc_roundtrip /
    sink_csv_gz_roundtrip).

    Values survive as integer 1e-4 units (floats through a TEXT
    format re-parse are the classic corruption point — integers make
    the hash prove exactness). The read declares an explicit schema:
    XML inference is a full extra pass at 100 TB and type-drifts on
    partial data (§2.X rule 6)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 4000)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 10000).cast("bigint").alias("value_e4"),
        )
    )
    out = scratch_dir("igis-xml-") + "/events_xml"
    ev.write.format("xml").option("rowTag", "event").mode("overwrite").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema("event_id bigint, event_type string, value_e4 bigint")
        .load(out)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum("value_e4").alias("sum_value_e4"),
        F.max("event_id").alias("max_id"),
    )


@op(
    "scan_text_roundtrip",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
           min(md5(text)) AS min_md5
    FROM documents
    GROUP BY lang
    """,
    category=CAT,
)
def scan_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text as a source/sink pair (``spark.read.text`` /
    ``df.write.text``) — the rawest ingest format (server logs before
    any parser, one record per line), completing the format matrix
    next to csv.gz / jsonl / orc / xml / binaryFile / parquet.

    Each document serializes to ONE tab-framed line
    (lang\\tdoc_id\\ttext — the corpus has no newlines or tabs inside
    text, asserted by the round-trip itself), is written as plain
    .txt parts preserving source parallelism, read back with the
    schemaless single-`value`-column text reader, and re-parsed with
    JVM split/substring. The oracle aggregates the ORIGINAL parquet —
    so any character the text round trip mangled (encoding, trailing
    whitespace, line splitting) flips a doc's md5 and fails the
    min_md5 hash-match. At 100 TB: .txt is line-splittable, so this
    path scales like CSV without the quoting machinery — which is
    exactly why raw-log ingest uses it.
    """
    out = scratch_dir("igis-text-")
    docs = load_table(spark, sf_dir, "documents")
    line = F.concat_ws(
        "\t",
        F.col("lang"),
        F.col("doc_id").cast("string"),
        F.col("text"),
    )
    docs.select(line.alias("value")).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    parsed = back.select(
        F.split_part(F.col("value"), F.lit("\t"), F.lit(1)).alias("lang"),
        F.split_part(F.col("value"), F.lit("\t"), F.lit(2))
        .cast("bigint")
        .alias("doc_id"),
        # text may itself contain no tabs (corpus invariant) but use
        # substring-after-second-tab to be structurally exact anyway
        F.expr(
            "substring(value, length(split_part(value, '\t', 1))"
            " + length(split_part(value, '\t', 2)) + 3)"
        ).alias("text"),
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text").cast("bigint")).alias("total_chars"),
        F.min(F.md5(F.col("text"))).alias("min_md5"),
    )


@op(
    "scan_csv_multiline_quoted",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
           min(md5(replace(text, ' ', chr(10)))) AS min_md5
    FROM documents
    GROUP BY lang
    """,
    category=CAT,
)
def scan_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV with EMBEDDED NEWLINES in quoted fields — the nastiest
    mainstream CSV nuance (default line-split readers shred such
    rows into garbage; the reference's staging format is CSV, so a
    loader that can't do this corrupts real uploads silently). The op
    derives a multiline text column (spaces → newlines), writes
    quoted CSV, reads it back with ``multiLine=true``, and aggregates
    — the oracle computes the SAME md5s from the parquet source, so
    one shredded row fails the min_md5 match.

    The cost model is the honest part: multiLine CSV is NOT
    line-splittable (a parser can't know mid-file whether it's inside
    quotes), so Spark reads each FILE whole — parallelism = #files,
    exactly like gzip (sink_csv_gz_roundtrip note). The writer keeps
    source partitioning for that reason. This is why staging formats
    that need splittability escape newlines instead (scan_text_
    roundtrip's tab-framing) — both conventions now exist in-repo
    with their trade-offs stated.
    """
    out = scratch_dir("igis-mlcsv-")
    docs = load_table(spark, sf_dir, "documents")
    ml = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.regexp_replace("text", " ", "\n").alias("mltext"),
    )
    ml.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("mltext", T.StringType()),
        ]
    )
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .schema(schema)
        .csv(out)
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min(F.md5("mltext")).alias("min_md5"),
    )


@op(
    "scan_partitioned_pruned",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS om,
           o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_c
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') IN ('1996-03', '1996-04')
    GROUP BY 1, 2
    """,
    category=CAT,
)
def scan_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition PRUNING round trip: write orders
    partitioned by order month (`om=YYYY-MM/` directories), read back
    with a partition predicate, aggregate — hash-matched against the
    unpartitioned source under the same filter, so a pruned-away OR
    double-read row fails the oracle. sink_parquet_partitioned proves
    the layout exists; this op proves the layout is USED: the month
    filter never touches data files outside the two matching
    directories (PartitionFilters in the scan node — the listing-time
    skip that makes a 100 TB table behave like its 2-month slice;
    partition pruning is directory-level, BEFORE footer stats).

    The partition column comes back from directory names;
    type-inference is pinned off-path by selecting it as the string it
    is (yyyy-MM is not a parseable date — no inference ambiguity).
    Month granularity bounds directory count (~84 here, ~1200 at a
    century of data) — the partition-explosion guardrail per-day
    layouts violate at fact scale.
    """
    out = scratch_dir("igis-part-")
    orders = load_table(spark, sf_dir, "orders")
    orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("om"),
    ).write.mode("overwrite").partitionBy("om").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("om").isin("1996-03", "1996-04"))
        .groupBy("om", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("sum_price_c"),
        )
    )


@op(
    "scan_csv_corrupt_rescue",
    oracle="""
    WITH feed AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 37 = 0 THEN 'corrupt' ELSE 'good' END
                   AS disposition,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        FROM orders
    )
    SELECT disposition,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN disposition = 'good' THEN price_c ELSE 0 END)
                AS BIGINT) AS good_value_c,
           CAST(sum(CASE WHEN disposition = 'good' THEN o_custkey ELSE 0 END)
                AS BIGINT) AS good_cust_sum
    FROM feed GROUP BY disposition
    """,
    category=CAT,
)
def scan_csv_corrupt_rescue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV parse with the rescued-record column: a staged
    file where every 37th order line is deliberately mangled (too few
    fields, non-numeric price) is read with an explicit schema +
    `columnNameOfCorruptRecord` — bad lines land in `_corrupt` with
    all data columns NULL instead of killing the load (the
    reference-loader reject path at PARSE time, upstream of
    pipeline_dq_quarantine's SEMANTIC rules). The oracle recomputes
    which keys were mangled from the clean relation, so a row
    mis-classified in EITHER direction, or a good row mis-parsed,
    fails the hash.

    FAILFAST is the other documented mode (die on first bad line);
    DROPMALFORMED silently loses accounting, which a loader must
    never do — hence rescue + explicit disposition. THE PRUNING TRAP
    (caught by this very oracle): under CSV column pruning the parser
    only materializes referenced tokens, so a query that skips the
    mangled column never SEES the malformed value and quietly reports
    every row good — the accounting must therefore consume every data
    column (the good_cust_sum output is that guarantee, not
    decoration). Distributed parse, one small agg; value sums in
    exact cents over the good rows only.
    """
    tmp = scratch_dir("igis-rescue-")
    orders = load_table(spark, sf_dir, "orders")
    line = F.when(
        F.col("o_orderkey") % 37 == 0,
        F.concat(F.col("o_orderkey").cast("string"), F.lit(",oops")),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.concat(
                (
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                    / F.lit(100)
                ).cast("bigint"),
                F.lit("."),
                F.lpad(
                    (
                        F.round(F.col("o_totalprice") * 100).cast("bigint")
                        % 100
                    ).cast("string"),
                    2,
                    "0",
                ),
            ),
        )
    )
    orders.select(line.alias("value")).write.mode("overwrite").text(tmp)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = spark.read.csv(
        tmp,
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )
    judged = back.select(
        F.when(F.col("_corrupt").isNotNull(), "corrupt")
        .otherwise("good")
        .alias("disposition"),
        F.when(
            F.col("_corrupt").isNull(),
            F.round(F.col("o_totalprice") * 100).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("price_c"),
        # consumes o_orderkey AND o_custkey: defeats parser column
        # pruning so malformed tokens are actually parsed (see
        # docstring), and audits key integrity of the good rows
        F.when(F.col("_corrupt").isNull(), F.col("o_custkey"))
        .otherwise(F.lit(0))
        .alias("ck"),
        F.coalesce(F.col("o_orderkey"), F.lit(0)).alias("ok"),
    )
    return judged.groupBy("disposition").agg(
        (F.count("*") + F.sum("ok") * 0).alias("n_rows"),
        F.sum("price_c").alias("good_value_c"),
        F.sum("ck").alias("good_cust_sum"),
    )


@op(
    "sink_jsonl_roundtrip",
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(len(text)) AS BIGINT) AS sum_len
    FROM documents
    GROUP BY lang, source
    """,
    category=CAT,
)
def sink_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write → read → aggregate, hash-matched against the
    parquet source — completes the format round-trip matrix
    (parquet/ORC/CSV-gz/XML/text/binary all have oracled round trips;
    JSONL is THE interchange format for document corpora, so proving
    the engine's JSON codec doesn't mangle text — quotes, unicode,
    embedded newlines-as-escapes — matters more here than anywhere).
    sum(len(text)) after the trip is the mangling detector: any
    escape-handling asymmetry changes a length.

    Schema-explicit read-back (inference is a second full pass at
    100 TB — never pay it for a schema you wrote yourself). JSONL is
    splittable (one object per line) so the read parallelizes like
    CSV; columnar it is not, which is why this is the EXCHANGE format
    while parquet remains the processing format (the round trip is
    exactly that boundary).
    """
    out = scratch_dir("igis-jsonl-")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").json(out)
    back = spark.read.json(out, schema=docs.schema)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_len"),
    )


@op(
    "scan_recursive_lookup",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
    FROM orders GROUP BY o_orderstatus
    """,
    category=CAT,
)
def scan_recursive_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recursiveFileLookup: data scattered across ARBITRARY nested
    directories (teamA/2024/x.parquet, teamB/legacy/deep/y.parquet —
    the "files landed wherever" reality of shared drop zones) read as
    ONE dataset with a single reader option — no partition-directory
    naming required, unlike scan_partitioned_pruned's om=… layout
    (the two are mutually exclusive: recursive lookup disables
    partition inference, which is exactly right for unstructured
    drops).

    Three status slices written to three differently-shaped nested
    paths, read back via ONE recursive scan; the oracle on the flat
    source proves no file was missed or double-read (file listing is
    driver metadata — O(files), the 100 TB cost is the listing, which
    is why real lakes front this with a manifest; ingest_manifest_
    dedup is that next step).
    """
    base = scratch_dir("igis-recur-")
    orders = load_table(spark, sf_dir, "orders")
    slices = [
        ("P", os.path.join(base, "teamA", "2024")),
        ("O", os.path.join(base, "teamB", "legacy", "deep")),
        ("F", os.path.join(base, "adhoc")),
    ]
    for status, path in slices:
        orders.filter(F.col("o_orderstatus") == status).write.mode(
            "overwrite"
        ).parquet(path)
    back = spark.read.option("recursiveFileLookup", "true").parquet(base)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("rev_c"),
    )


@op(
    "scan_glob_filtered",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_custkey) AS BIGINT) AS cust_sum
    FROM orders GROUP BY o_orderstatus
    """,
    category=CAT,
)
def scan_glob_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pathGlobFilter ingest hygiene: a drop zone strewn with the junk
    real landing dirs accumulate — `_SUCCESS` markers, `.tmp`
    half-writes, `.crc` sidecars, a stray `.csv` — read with
    `pathGlobFilter=*.parquet` so ONLY the data files load (without
    it the mixed-format dir either corrupts the read or kills the
    job). The oracle on the clean source proves the junk contributed
    zero rows AND no parquet file was skipped — both failure
    directions hashed.

    The filter applies at driver-side LISTING time (before any task
    launches, unlike a post-read filter) — at 100 TB dir scale this
    is the difference between skipping a million junk files for free
    and scheduling tasks against them. The .tmp file here is REAL
    parquet bytes under a junk name: a suffix-trusting reader would
    double-count, which is exactly what the hash would catch.
    """
    base = scratch_dir("igis-glob-")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    orders.write.mode("overwrite").parquet(base)
    # junk the drop zone: a half-write (REAL parquet bytes, junk name),
    # a marker, and a stray csv
    real = [f for f in os.listdir(base) if f.endswith(".parquet")]
    shutil.copy(
        os.path.join(base, real[0]), os.path.join(base, "part-dup.tmp")
    )
    with open(os.path.join(base, "_LOADING"), "w") as fh:
        fh.write("marker")
    with open(os.path.join(base, "stray.csv"), "w") as fh:
        fh.write("a,b\n1,2\n")
    back = spark.read.option("pathGlobFilter", "*.parquet").parquet(base)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum("o_custkey").alias("cust_sum"),
    )


_FOOTER_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


@op(
    "scan_parquet_footer_stats",
    oracle="""
    SELECT 'documents' AS tbl, CAST(count(*) AS BIGINT) AS num_rows,
           true AS row_groups_consistent
    FROM documents
    UNION ALL
    SELECT 'embeddings', CAST(count(*) AS BIGINT), true FROM embeddings
    UNION ALL
    SELECT 'events', CAST(count(*) AS BIGINT), true FROM events
    UNION ALL
    SELECT 'lineitem', CAST(count(*) AS BIGINT), true FROM lineitem
    UNION ALL
    SELECT 'orders', CAST(count(*) AS BIGINT), true FROM orders
    ORDER BY tbl
    """,
    category=CAT,
)
def scan_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER-vs-CONTENT audit: per table, the row count the
    footer CLAIMS (never a data scan — pyarrow ParquetFile.metadata,
    O(files) driver-side catalog work, zero Spark jobs) checked
    against the rows actually present, plus the footer-internal law
    that per-row-group counts sum to the file total. A footer that
    lies is a corrupt or truncated write — and every engine that
    plans off metadata (row-group pruning, split sizing, this
    engine's own scans) silently mis-plans on it; at 100 TB this
    audit is the cheap tier that runs BEFORE any data-tier DQ op
    can even be trusted (dq_header_detail_reconcile needs row counts
    — THIS is what certifies row counts).

    The oracle side is the content tier: DuckDB counts the same
    parquet through its own reader, so footer num_rows ==
    content count(*) is verified by two INDEPENDENT parsers (the
    fn_aes_roundtrip law pattern: the invariant, not a reimplementation,
    is what's compared); row_groups_consistent mirrors as literal
    true. Row-group geometry (split parallelism at scale) is read
    and checked en route.
    """
    import pyarrow.parquet as pq

    rows = []
    for t in _FOOTER_TABLES:
        md = pq.ParquetFile(f"{sf_dir}/{t}.parquet").metadata
        rg_sum = sum(md.row_group(i).num_rows for i in range(md.num_row_groups))
        rows.append((t, md.num_rows, rg_sum == md.num_rows))
    return spark.createDataFrame(
        rows, "tbl string, num_rows bigint, row_groups_consistent boolean"
    ).orderBy("tbl")


@op(
    "scan_modified_after",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE doc_id % 2 = 1
    GROUP BY lang ORDER BY lang
    """,
    category=CAT,
)
def scan_modified_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental pickup by FILE MTIME: `modifiedAfter` on the
    parquet source reads only files newer than the checkpoint — the
    zero-infrastructure incremental-load pattern for feeds that drop
    files into one directory (ingest_manifest_dedup tracks lineage
    in a manifest TABLE; mtime pickup is the cruder tier below it —
    exactly what the reference's directory-watching loader did
    between full manifests, and still the only option on shares
    where you can't write state).

    The op builds its own two-generation fixture: an 'old' batch
    (even doc_ids) and a 'new' batch (odd doc_ids) written to one
    directory, mtimes FORCED with os.utime (old ← T−2h, new ← T)
    so the test can't pass by write-order accident; the read uses
    modifiedAfter = T−1h and must see EXACTLY the odd-id rows —
    which is what the oracle declares from the source table, so a
    filter that silently reads everything (the common modifiedAfter
    misspelling failure: unknown options are IGNORED by Spark
    sources) fails the hash, not just a count. Rollup by lang keeps
    the declared relation small; mtime forcing is O(files) driver
    metadata.
    """
    import time as _time

    docs = load_table(spark, sf_dir, "documents")
    base = scratch_dir("igis-mtime-")
    old_dir, new_dir = f"{base}/batch=old", f"{base}/batch=new"
    docs.filter(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(old_dir)
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("overwrite").parquet(new_dir)
    now = _time.time()
    for d, ts in ((old_dir, now - 7200), (new_dir, now)):
        for fn in os.listdir(d):
            os.utime(os.path.join(d, fn), (ts, ts))
    cutoff = _time.strftime(
        "%Y-%m-%dT%H:%M:%S", _time.gmtime(now - 3600)
    )
    picked = (
        spark.read.option("recursiveFileLookup", "true")
        .option("modifiedAfter", cutoff)
        .parquet(base)
    )
    return (
        picked.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


@op(
    "sink_parquet_zstd",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS ext_c,
           CAST(sum(l_linenumber) AS BIGINT) AS line_sum
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    category=CAT,
)
def sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zstd-compressed parquet roundtrip: write the fact with
    `compression=zstd`, read it back, prove content identity via the
    pricing rollup — codec choice as a first-class, verified sink
    option (zstd IS the 100 TB default: ~30 % smaller than snappy at
    comparable scan speed, and at petabyte scan volumes the size cut
    is a direct egress/IO bill cut; snappy remains the write-hot
    default only where CPU is the constraint). The written files are
    ASSERTED to carry the `.zstd.parquet` suffix — Spark silently
    falls back on a misspelled codec name, so the op fails loudly
    rather than 'passing' on snappy.

    Roundtrip oracle over the SOURCE relation (sink_jsonl pattern):
    the declared rollup must survive write→read bit-exactly (cents
    sums, integer line sums). One write job + one read job; the
    rollup is map-combined.
    """
    li = load_table(spark, sf_dir, "lineitem")
    out = scratch_dir("igis-zstd-")
    li.write.mode("overwrite").option("compression", "zstd").parquet(out)
    names = [f for f in os.listdir(out) if f.endswith(".parquet")]
    if not any(".zstd." in f for f in names):
        raise AssertionError(f"zstd codec not applied; files: {names[:3]}")
    back = spark.read.parquet(out)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.round(F.col("l_extendedprice") * 100))
            .cast("bigint")
            .alias("ext_c"),
            F.sum("l_linenumber").cast("bigint").alias("line_sum"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


CSV_NULL_TOKEN = "\\N"  # MySQL-dump convention, the classic interop snag


@op(
    "scan_csv_null_tokens",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
           CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS was_nulled
    FROM documents ORDER BY doc_id
    """,
    category=CAT,
)
def scan_csv_null_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom NULL-token CSV roundtrip: write with nulls encoded as a
    sentinel (MySQL's '\\N' dump convention) and read back with
    `nullValue` so they return as REAL nulls — the interop knob
    every cross-system CSV handoff trips on (without it the reader
    yields the literal string and every IS NULL predicate, null
    count and COALESCE downstream silently lies; with the wrong
    token, genuine data matching the sentinel is DESTROYED — both
    failure modes are why parquet exists, and why the CSV path must
    still be verified when a legacy feed forces it).

    Nulls are INJECTED deterministically (doc_id % 7 on the lang
    column) so the roundtrip has real nulls to lose; the oracle
    declares the expected post-roundtrip relation from the source
    (law-style: the writer/reader pair must reproduce it exactly,
    including the was_nulled audit column computed BEFORE the trip).
    One write + one read job; schema explicit on read-back (CSV
    inference would widen doc_id).
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("lang"))
        .alias("lang"),
        F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0).alias("was_nulled"),
    )
    out = scratch_dir("igis-csvnull-")
    (
        staged.write.mode("overwrite")
        .option("header", "true")
        .option("nullValue", CSV_NULL_TOKEN)
        .csv(out)
    )
    back = (
        spark.read.schema("doc_id bigint, lang string, was_nulled int")
        .option("header", "true")
        .option("nullValue", CSV_NULL_TOKEN)
        .csv(out)
    )
    return back.orderBy("doc_id")


@op(
    "scan_ignore_corrupt_files",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
    category=CAT,
)
def scan_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-level corruption resilience: a staging directory seeded
    with the real parquet batch PLUS a garbage `.parquet` (torn
    write / partial upload — the thing object stores hand you
    weekly at 100 TB fleet size), read with
    `spark.sql.files.ignoreCorruptFiles` so the batch survives —
    scan_csv_corrupt_rescue handles corrupt ROWS inside parseable
    files; this handles files whose FOOTER is gone, where no
    row-level rescue can even start. The oracle pins the exact
    clean-batch rollup: if the option were misspelled the read
    would throw (fail-closed), and if corruption silently DROPPED
    good files the hash would catch the loss — both failure modes
    covered.

    The option is set per-op and restored in a finally (engine
    config hygiene: a leaked true would mask real corruption for
    every later op in the session — the hazard THIS op exists to
    contain). One copy + one read job; the garbage file costs one
    footer-parse failure, logged and skipped.
    """
    src = load_table(spark, sf_dir, "documents")
    staged = scratch_dir("igis-corrupt-")
    src.write.mode("overwrite").parquet(staged)
    with open(os.path.join(staged, "part-torn-write.parquet"), "wb") as fh:
        fh.write(b"PAR1 this is not a parquet footer / torn upload \x00\xff")
    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        back = spark.read.parquet(staged)
        out = (
            back.groupBy("lang")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .orderBy("lang")
        )
        # materialize BEFORE restoring the conf: the scan must run
        # while ignoreCorruptFiles is active (lazy evaluation trap)
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
    return spark.createDataFrame(
        rows, "lang string, n_docs bigint, sum_chars bigint"
    ).orderBy("lang")


@op(
    "scan_wholetext_files",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(text)) + count(*) - 1 AS BIGINT) AS file_chars
    FROM documents
    GROUP BY source ORDER BY source
    """,
    category=CAT,
)
def scan_wholetext_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`wholetext` reads: one staged file PER SOURCE (newline-joined
    docs), read back as ONE ROW PER FILE — the ingestion mode for
    formats where the file IS the record (a YAML config, a log
    bundle, one legal document per file: line-oriented text readers
    shred exactly what must stay whole, and wholetext is the knob
    that stops them). The readback must reproduce each source
    file's exact character count — docs' chars plus the n−1 joining
    newlines, which the oracle computes from the SOURCE relation
    (law style: the writer/reader pair is certified without DuckDB
    touching a file).

    Writing stays EXECUTOR-SIDE end to end (round-4 fix: the previous
    formulation collected per-source blobs to the driver, bounded here
    by |sources| but unbounded at 100 TB): repartition("source") +
    sortWithinPartitions gives one deterministic doc_id-ordered task
    per source, and write.partitionBy("source").text() emits exactly
    one file per source with one doc per line — bytes never visit the
    driver. The text sink terminates every line, so the readback
    strips exactly ONE trailing newline to recover the
    newline-JOINED form the law oracle prices. The wholetext read
    parallelizes per file — which is precisely its scale CAVEAT: one
    task per file, so at 100 TB you use it for many medium files,
    never one giant one (stated).
    """
    docs = load_table(spark, sf_dir, "documents")
    # The join/split law assumes no document contains a newline;
    # assert it loudly instead of letting a future multiline corpus
    # surface as a confusing oracle count mismatch (round-3 advice).
    assert (
        docs.filter(F.col("text").contains("\n")).limit(1).count() == 0
    ), "scan_wholetext_files: corpus gained multiline docs; the \\n-join law no longer holds"
    base = scratch_dir("igis-wholetext-")
    (
        docs.select("source", "doc_id", F.col("text").alias("value"))
        .repartition("source")
        .sortWithinPartitions("source", "doc_id")
        .select("source", "value")
        .write.mode("overwrite")
        .partitionBy("source")
        .text(base)
    )
    # kwarg, NOT .option("wholetext", "true"): the string-valued option
    # is silently ignored in this lineage (the scan_modified_after
    # ignored-option trap again) — probed: option form yields one row
    # per LINE, kwarg yields one per file. The oracle's row count
    # would catch a regression either way.
    back = spark.read.text(base, wholetext=True)
    joined = F.when(
        F.col("value").endswith("\n"),
        F.expr("substring(value, 1, length(value) - 1)"),
    ).otherwise(F.col("value"))
    return (
        back.select(F.col("source").cast("string").alias("source"), joined.alias("value"))
        .select(
            "source",
            (F.size(F.split("value", "\n", -1))).alias("n_docs"),
            F.length("value").alias("file_chars"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint"),
            F.col("file_chars").cast("bigint"),
        )
        .orderBy("source")
    )


@op(
    "scan_parquet_merge_schema",
    oracle="""
    SELECT CASE WHEN event_id % 2 = 0 THEN 'legacy' ELSE 'current' END
               AS generation,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
    category=CAT,
)
def scan_parquet_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema-merge read (``mergeSchema=true``): one dataset
    whose files were written by TWO generations of a producer — legacy
    files lack the ``event_type`` column, current files carry it — read
    back as ONE DataFrame with the union schema and NULLs where a file
    predates the column. This is the reader-side half of schema
    evolution (schema_evolution_union solves it when you can enumerate
    and align the frames yourself; mergeSchema is what you reach for
    when the files simply coexist in a directory, the normal state of
    a years-old 100-TB lake).

    The LAW oracle: merged row count, per-generation NULL-column
    counts and user cardinality must equal facts computed from the
    source directly — a reader that dropped legacy rows, defaulted the
    missing column to anything but NULL, or double-read a footer all
    hash-fail. mergeSchema costs a footer read per file (documented:
    that is why it is off by default; at 100 TB you turn it on once,
    resolve, and write back a pinned schema).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    root = scratch_dir("igis-merge-")
    ev.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id").write.parquet(
        f"{root}/gen=legacy"
    )
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(f"{root}/gen=current")
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(root)
    assert set(merged.columns) == {"event_id", "user_id", "event_type"}, (
        "mergeSchema must surface the union schema"
    )
    return (
        merged.select(
            F.when(F.col("event_id") % 2 == 0, "legacy")
            .otherwise("current")
            .alias("generation"),
            "user_id",
            "event_type",
        )
        .groupBy("generation")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_type"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("generation")
    )


MCSV_ROWS = 12
MCSV_SEP = "||"


@op(
    "scan_csv_multichar_delimiter",
    oracle=f"""
    SELECT CAST(r.range AS BIGINT) AS id,
           'desc_' || r.range || ', with | pipe' AS description,
           CAST(r.range * 7 AS BIGINT) AS qty
    FROM range({MCSV_ROWS}) r
    """,
    category=CAT,
)
def scan_csv_multichar_delimiter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-character delimiter CSV read (``sep='||'``, Spark 3.0+,
    SPARK-24540): the export format legacy feeds actually use when
    their text values contain commas AND single pipes — a single-char
    separator would shred the description field here, which is exactly
    what the fixture proves (every value embeds ', with | pipe': both
    a comma and a LONE pipe, so only the true two-char separator
    parses the row at the right arity).

    Closed-form fixture law like the other scan fixtures: the parse
    must reproduce the generator relation exactly — a reader that
    split on single '|', trimmed the embedded comma, or dropped a row
    hash-fails. Schema is explicit (inference over exotic delimiters
    is the classic silent-string-everything trap, documented).
    """
    tmp = scratch_dir("igis-mcsv-")
    path = os.path.join(tmp, "export.csv")
    lines = [
        MCSV_SEP.join([str(i), f"desc_{i}, with | pipe", str(i * 7)])
        for i in range(MCSV_ROWS)
    ]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("description", T.StringType()),
            T.StructField("qty", T.LongType()),
        ]
    )
    return spark.read.csv(path, schema=schema, sep=MCSV_SEP)
