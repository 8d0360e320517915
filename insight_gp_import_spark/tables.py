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
"""

from __future__ import annotations

import weakref

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


def _max_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes (handles both a
    plain number and a size string like "128m"/"1g")."""
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return int(
            spark.sparkContext._jvm.org.apache.spark.network.util
            .JavaUtils.byteStringAsBytes(raw)
        )
    except Exception:
        return 128 * 1024 * 1024


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Estimated scan-split count for ``df``'s input, or None when the
    probe cannot answer (streaming relations, un-stat-able files) —
    callers must treat None as "well split" so the only error mode is a
    MISSED spread, never an added shuffle of a large table.

    r13 (VERDICT item 1): file COUNT alone lower-bounds split count —
    a 100 TB table compacted into a few multi-GB files passes a
    count-only gate and would eat a pointless full round-robin exchange
    at production scale. So when the file count alone cannot rule the
    layout under-split, the same (cached) listing's BYTES bound the
    split count from below too: Spark packs scan splits at
    ``maxPartitionBytes`` granularity, so a file of S bytes yields at
    least ceil(S / maxPartitionBytes) splits. (Parquet row-group
    granularity can make REAL tasks fewer than the byte estimate — a
    single-row-group 2 GB file is one effective task — but that errs
    toward returning the plan unchanged, the safe direction.)
    ``openCostInBytes`` packing of many tiny files is ignored: it only
    matters past the file-count gate, where the answer is already
    decided."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    return estimate_splits_from_files(df.sparkSession, files)


def estimate_splits_from_files(
    spark: SparkSession, files: list[str]
) -> int | None:
    """Byte-bounded split estimate for a known input-file list (the
    core of :func:`_estimated_scan_splits`; shared with
    operators/multimodal._spread_for_python). Returns the bare file
    count without statting when that alone already rules the layout
    well split (count lower-bounds splits)."""
    sc = spark.sparkContext
    target = sc.defaultParallelism
    if len(files) * 2 > target:
        return len(files)
    max_bytes = _max_partition_bytes(spark)
    try:
        jvm = sc._jvm
        hconf = sc._jsc.hadoopConfiguration()
        est = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            size = p.getFileSystem(hconf).getFileStatus(p).getLen()
            est += max(1, -(-int(size) // max_bytes))
        return est
    except Exception:
        return None


def _undersplit_target(df: DataFrame) -> int | None:
    """defaultParallelism when ``df``'s scan is under-split (estimated
    splits × 2 ≤ parallelism — the ×2 hysteresis keeps borderline
    layouts unchanged), else None."""
    est = _estimated_scan_splits(df)
    if est is None:
        return None
    target = df.sparkSession.sparkContext.defaultParallelism
    if est * 2 <= target:
        return target
    return None


def spread_scan(df: DataFrame) -> DataFrame:
    """Fan a narrow-split relation out to session parallelism before
    heavy per-row work (optimization guide §2.5, "input skew": one
    unsplittable file serializes every downstream JVM/Python operation
    until the first exchange — the sf corpora are single-row-group
    parquet files, so every scan is exactly one task regardless of
    core count).

    Scale-adaptive, never a local[32] constant: the probe estimates the
    scan's split count from the plan's input-file listing — file count
    when that alone proves the layout well split, plus a byte-based
    bound (Σ ceil(size / maxPartitionBytes), r13 — see
    :func:`_estimated_scan_splits`) so a few-large-files production
    layout can never be mistaken for an under-split one. When the
    source already provides at least half the session's default
    parallelism in estimated splits — always true at production scale —
    the plan is returned unchanged and no shuffle is added. The keyless
    round-robin repartition is retry-deterministic (Spark sorts before
    repartition, SPARK-23207). Apply ONLY where per-row work dominates
    the scan (gram explodes, codec decodes, JSON parsing, similarity
    kernels): for cheap scan+aggregate plans the added exchange costs
    more than the single-task map side. Plans where ``inputFiles()``
    itself fails (streaming relations) are left untouched."""
    target = _undersplit_target(df)
    if target is not None:
        return df.repartition(target)
    return df


def spread_scan_by(df: DataFrame, *cols: str) -> DataFrame:
    """Keyed variant of :func:`spread_scan`: when the source is
    under-split, hash-repartition by ``cols`` to
    max(defaultParallelism, shuffle.partitions) so that a following
    groupBy/window on the same keys REUSES the exchange (same shuffle
    count, wider reduce side, and the single-task map stage
    disappears). Gated on the same split-estimate probe (byte-bounded,
    r13): at production split counts this is a no-op, preserving
    map-side partial aggregation where it actually combines."""
    spark = df.sparkSession
    if _undersplit_target(df) is None:
        return df
    sc = spark.sparkContext
    try:
        shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        shuffle = sc.defaultParallelism
    target = max(sc.defaultParallelism, shuffle)
    return df.repartition(target, *cols)


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


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
