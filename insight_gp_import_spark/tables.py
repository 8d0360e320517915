"""Schema-checked loaders for the test corpus (TESTDATA.md / FIXTURES.md).

Tables: ``region nation customer supplier part orders lineitem events
documents embeddings`` — the exact view names the verify driver
pre-registers in DuckDB (__spark_entry__.py:34-35).

The one special case is ``events``: its ``ts`` column is parquet
TIMESTAMP(NANOS), unreadable by stock Spark 4.1.2. The verified recipe
(SURVEY.md §1.3, probe-1) reads it as a long via
``spark.sql.legacy.parquet.nanosAsLong`` and truncates ns→µs with
``timestamp_micros(ts div 1000)`` — bit-exact with DuckDB's own ns→µs
truncation (integer div, never ``/``: see load_events).

At 100 TB these loaders are where partition discovery and predicate
pushdown happen: we always go through ``spark.read.parquet`` (vectorized
reader, row-group pruning) and never infer schemas in oracled queries.

This module also makes every partition-count decision of the package:
:func:`spread_scan` widens an under-split scan, :func:`shape_writers`
sizes a database load, and :func:`shuffle_width` reads the session's
shuffle width.
"""

from __future__ import annotations

import weakref

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_gp_import_spark.session import ensure_events_read_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Catalog cache: DataFrames are immutable logical plans, so the scan
# relation for a given (session, dir, table) can be built once and
# reused — spark.read.parquet costs ~100ms of driver-side file listing
# + footer schema read PER CALL otherwise, which dominates small-query
# latency. Outer key is the session object held WEAKLY: when a session
# is stopped and dropped, its scan entries (whose plans reference the
# dead session) are reclaimed instead of pinned for process lifetime,
# and a fresh session can never alias them.
_SCAN_CACHE: weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]
_SCAN_CACHE = weakref.WeakKeyDictionary()


_PYFILE_SESSIONS: weakref.WeakSet = weakref.WeakSet()


def _ensure_worker_importable(spark: SparkSession) -> None:
    """Ship this package to Python WORKERS via addPyFile (once per
    session). Defensive for sessions we did not build (the
    ensure_events_read_confs philosophy): the driver can import the
    package from sys.path manipulation, but worker processes inherit
    only PYTHONPATH/cwd from the JVM — a driver launched from a
    foreign cwd runs every JVM-side op fine and then fails EXACTLY
    the five python-worker ops (mapInPandas, Python UDTF/data-source,
    transformWithState) with ModuleNotFoundError when cloudpickle
    tries to resolve module-level references. Root-caused from a
    full-sweep run with cwd=/tmp; addPyFile-distributed zips are
    appended to worker sys.path per task, so even already-spawned
    reused workers pick it up."""
    if spark in _PYFILE_SESSIONS:
        return
    import hashlib
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))

    # The zip is named by a CONTENT HASH of the package sources and
    # lives in a per-user 0700 directory (round-3 advice): addPyFile
    # zips land at worker sys.path[1], AHEAD of PYTHONPATH, so a
    # stale fixed-name zip from an older checkout would silently
    # shadow the live source in every Python worker — undermining the
    # very parity gates this shipping exists for. A content-addressed
    # name can never be stale, a 0700 private dir can't be pre-planted
    # by another local user, and mkstemp + os.replace makes the
    # install atomic under concurrent sessions.
    srcs = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                srcs.append((os.path.relpath(full, os.path.dirname(pkg_dir)), full))
    srcs.sort()
    h = hashlib.md5()
    for rel, full in srcs:
        h.update(rel.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    cache_dir = os.path.join(
        tempfile.gettempdir(), f"igis-pyfiles-{os.getuid()}"
    )
    os.makedirs(cache_dir, mode=0o700, exist_ok=True)
    os.chmod(cache_dir, 0o700)
    zpath = os.path.join(cache_dir, f"igis_pkg_{h.hexdigest()}.zip")
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(dir=cache_dir, suffix=".zip.tmp")
        try:
            with os.fdopen(fd, "wb") as raw, zipfile.ZipFile(raw, "w") as zf:
                for rel, full in srcs:
                    zf.write(full, rel)
            os.replace(tmp, zpath)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
    spark.sparkContext.addPyFile(zpath)
    _PYFILE_SESSIONS.add(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table; applies the events ns-timestamp recipe.
    Scans are memoized per (session, sf_dir, table)."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_worker_importable(spark)
    per_session = _SCAN_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    df = per_session.get(key)
    if df is None:
        if name == "events":
            df = _load_events_uncached(spark, sf_dir)
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        per_session[key] = df
    return df


def _scan_splits(df: DataFrame) -> int | None:
    """Lower bound on the scan-split count of ``df``'s input, or None
    for a streaming plan (``inputFiles()`` raises AnalysisException
    there) — callers leave such a plan as it is.

    The file count alone lower-bounds splits, so it is returned without
    statting once it rules the layout well split. Below that, the
    listing's bytes bound the count too: Spark packs scan splits at
    ``maxPartitionBytes``, so a file of S bytes yields at least
    ceil(S / maxPartitionBytes) splits, and a table compacted into a
    few multi-GB files is never mistaken for an under-split one.
    Parquet splits at row-group granularity, so a single-row-group file
    can run as fewer tasks than this estimate; that errs toward leaving
    the plan unchanged. A non-file source (``createDataFrame``) lists
    no files and estimates 0."""
    try:
        files = df.inputFiles()
    except AnalysisException:
        return None
    spark = df.sparkSession
    sc = spark.sparkContext
    if len(files) * 2 > sc.defaultParallelism:
        return len(files)
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    hconf = sc._jsc.hadoopConfiguration()
    est = 0
    for f in files:
        p = sc._jvm.org.apache.hadoop.fs.Path(f)
        size = p.getFileSystem(hconf).getFileStatus(p).getLen()
        est += max(1, -(-size // max_bytes))
    return est


def shuffle_width(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int (Spark rejects a
    non-numeric value when it is set)."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _keyed_width(spark: SparkSession) -> int:
    """Width of a keyed repartition that a following groupBy/window on
    the same keys reuses: at least one partition per core, and never
    narrower than the exchange it replaces."""
    return max(spark.sparkContext.defaultParallelism, shuffle_width(spark))


def spread_scan(df: DataFrame, *cols: str) -> DataFrame:
    """Fan an under-split scan out to the session's cores before heavy
    per-row work (gram explodes, codec decodes, JSON parsing,
    similarity kernels). The corpus files are single-row-group parquet,
    so every scan is one task whatever the core count, and that task
    serializes all work up to the first exchange.

    The scan counts as under-split when its estimated splits
    (:func:`_scan_splits`) times 2 are at most ``defaultParallelism``;
    the ×2 hysteresis leaves borderline layouts unchanged. Otherwise —
    always at production scale — and for streaming plans, ``df`` is
    returned as it is and no shuffle is added.

    With no ``cols`` the widen is a round-robin
    ``repartition(defaultParallelism)`` (retry-deterministic: Spark
    sorts before a round-robin repartition, SPARK-23207). With ``cols``
    it hash-partitions on them to :func:`_keyed_width`, so a following
    groupBy/window on the same keys reuses the exchange: same shuffle
    count, wider reduce side, and no single-task map stage. Apply only
    where per-row work dominates the scan; for a cheap scan+aggregate
    the added exchange costs more than the single-task map side.

    A non-file source (``createDataFrame``) estimates 0 splits and is
    widened: its parallelism is unknowable without a plan-to-RDD
    conversion, and one exchange of id-sized rows is cheaper than a
    single-core codec stage."""
    est = _scan_splits(df)
    spark = df.sparkSession
    dp = spark.sparkContext.defaultParallelism
    if est is None or est * 2 > dp:
        return df
    if cols:
        return df.repartition(_keyed_width(spark), *cols)
    return df.repartition(dp)


def shape_writers(df: DataFrame, n: int) -> DataFrame:
    """Exactly ``n`` writer tasks for a parallel database load (one
    connection each). The file count lower-bounds scan splits, so with
    at least ``n`` files ``coalesce(n)`` narrows without a shuffle.
    Otherwise (few files, or a non-file source that lists none) a
    round-robin ``repartition(n)`` costs one exchange of the batch and
    gives ``n`` evenly sized writers: a skewed coalesced partition
    would serialize the tail of the load on one connection."""
    if len(df.inputFiles()) >= n:
        return df.coalesce(n)
    return df.repartition(n)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as a proper TIMESTAMP (µs), parity-safe vs
    DuckDB (memoized like every other table)."""
    return load_table(spark, sf_dir, "events")


def _load_events_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize ``ts`` to TIMESTAMP(µs) whatever the file stores.

    Two generations of the corpus exist: TIMESTAMP(NANOS) (read as long
    via nanosAsLong, truncated ns→µs) and native TIMESTAMP(µs) (read as
    TIMESTAMP_NTZ when not UTC-adjusted; cast is value-preserving under
    the session's UTC zone). ns→µs MUST be integer division (``div``):
    ``ts/1000`` would promote to double, whose 53-bit mantissa cannot
    represent ~1.7e18 ns exactly — the rounding error shows up as ±1µs
    on raw timestamps (caught by stream_session parity). ``div``
    truncates exactly like DuckDB."""
    ensure_events_read_confs(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = raw.schema["ts"].dataType.typeName()
    if ts_type == "long":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # NTZ→TIMESTAMP reinterprets wall-clock in the session zone; only
    # value-preserving because ensure_events_read_confs pinned UTC above.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))
