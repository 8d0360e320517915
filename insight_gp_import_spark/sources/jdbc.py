"""JDBC batch sink — the Greenplum/Postgres load path (SURVEY.md §2.A
``sink_jdbc_gp``).

The reference loads CSV batches into Greenplum through gpfdist-backed
external tables: GP segments pull rows in parallel, so load bandwidth
scales with segments, not with the loader process. The Spark-native
equivalent keeps the same property from the other side: ``numPartitions``
concurrent executor connections, each INSERTing its own partition with
``batchsize``-row batches. For Greenplum specifically, JDBC is the
portable path; the fast path on a real deployment is staging parquet/CSV
to the segments and using gpfdist — out of scope here (no Greenplum in
the test environment).

The plumbing IS exercised end-to-end, though: Spark ships Apache Derby
(an embedded JDBC database), so ``operators/scans.py::sink_jdbc_gp``
runs the full write→read-back round trip through a real JDBC driver —
same ``df.write.jdbc`` / ``spark.read.jdbc`` code paths a Greenplum
deployment would use, just a different url/driver pair.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from insight_gp_import_spark.tables import shape_writers

DEFAULT_BATCH_SIZE = 10_000


@dataclass(frozen=True)
class JdbcSinkConfig:
    url: str  # e.g. jdbc:postgresql://gp-master:5432/insight
    table: str
    mode: str = "append"  # append | overwrite (snapshot replace)
    num_partitions: int = 8  # concurrent writer connections
    batch_size: int = DEFAULT_BATCH_SIZE
    properties: dict[str, str] = field(default_factory=dict)

    def jdbc_properties(self) -> dict[str, str]:
        props = {
            "batchsize": str(self.batch_size),
            # GP/Postgres: multi-row INSERTs per round trip
            "reWriteBatchedInserts": "true",
            **self.properties,
        }
        return props


def write_jdbc(df: DataFrame, cfg: JdbcSinkConfig) -> None:
    """Execute the batched parallel JDBC write (requires a reachable DB)."""
    shaped = shape_writers(df, cfg.num_partitions)
    (
        shaped.write.mode(cfg.mode).jdbc(
            url=cfg.url, table=cfg.table, properties=cfg.jdbc_properties()
        )
    )


def read_jdbc_partitioned(
    spark,
    cfg: JdbcSinkConfig,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
) -> DataFrame:
    """Parallel JDBC source: ``num_partitions`` concurrent range-scan
    queries over ``partition_column`` (the standard Spark JDBC split —
    each task reads WHERE lo <= col < hi). Without this, a JDBC read is
    a single connection and the whole table serializes through it."""
    return spark.read.jdbc(
        url=cfg.url,
        table=cfg.table,
        column=partition_column,
        lowerBound=lower_bound,
        upperBound=upper_bound,
        numPartitions=cfg.num_partitions,
        properties=cfg.jdbc_properties(),
    )


def _get_connection(spark, cfg: "JdbcSinkConfig"):
    """Raw JDBC connection that honors cfg credentials. The stage write
    goes through df.write.jdbc (which passes properties), so the DDL
    helpers must too — user/password/driver in cfg.properties would
    otherwise be silently dropped and the swap would fail auth on any
    credentialed server (the actual Greenplum/Postgres target)."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in cfg.jdbc_properties().items():
        props.setProperty(k, v)
    driver = cfg.properties.get("driver")
    if driver:
        # Ensure the driver class registers with DriverManager even when
        # only Spark's isolated classloader has seen the jar so far.
        jvm.java.lang.Class.forName(driver)
    return jvm.java.sql.DriverManager.getConnection(cfg.url, props)


def _run_statements(spark, cfg: "JdbcSinkConfig", statements: list[str]) -> None:
    """Execute DDL over a raw JDBC connection in ONE transaction (both
    Derby and Greenplum/Postgres support transactional DDL, so the
    swap below is all-or-nothing)."""
    conn = _get_connection(spark, cfg)
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        for s in statements:
            st.execute(s)
        conn.commit()
    finally:
        conn.close()


def _table_exists(spark, cfg: "JdbcSinkConfig", table: str) -> bool:
    conn = _get_connection(spark, cfg)
    try:
        md = conn.getMetaData()
        # getTables takes a LIKE pattern: '_'/'%' are wildcards, so e.g.
        # 'live_batch' would otherwise match 'liveXbatch' and the false
        # positive would emit DROP TABLE for a non-existent table,
        # aborting the swap. Escape when the dialect supports it, but
        # some (Derby: getSearchStringEscape() == "") don't — so always
        # re-check each candidate's TABLE_NAME against the literal name.
        esc = md.getSearchStringEscape()
        pat = table
        if esc:
            pat = (
                table.replace(esc, esc + esc)
                .replace("_", esc + "_")
                .replace("%", esc + "%")
            )
        # upper for folding dialects (Derby), lower for Postgres/GP.
        for cand in (pat.upper(), pat.lower()):
            rs = md.getTables(None, None, cand, None)
            while rs.next():
                if rs.getString("TABLE_NAME").lower() == table.lower():
                    return True
        return False
    finally:
        conn.close()


def _rename_stmt(url: str, src: str, dst: str) -> str:
    # Derby spells it RENAME TABLE; Greenplum/Postgres ALTER TABLE.
    if url.startswith("jdbc:derby"):
        return f"RENAME TABLE {src} TO {dst}"
    return f"ALTER TABLE {src} RENAME TO {dst}"


def write_jdbc_atomic(spark, df: DataFrame, cfg: JdbcSinkConfig) -> None:
    """Staging-table swap: the crash-safe batch load (SURVEY §1.1 —
    the reference's per-batch DB load must either fully land or fully
    retry; a half-written live table is the one unacceptable state).

    1. The batch is written to ``<table>__stage`` (overwrite — a
       leftover stage from a crashed previous attempt is simply
       clobbered, which is what makes RETRY idempotent).
    2. The stage is swapped into place with DROP+RENAME in one DDL
       transaction.

    A failure during (1) — executor death, constraint violation,
    network cut — leaves the LIVE table untouched: readers never see
    a partial batch, and the retry path is "run the same call again".
    The swap itself moves only catalog metadata, so the window where
    work happens is all on the staging side. On Greenplum the same
    two steps run with ALTER TABLE RENAME inside a transaction.
    """
    from dataclasses import replace

    stage = f"{cfg.table}__stage"
    write_jdbc(df, replace(cfg, table=stage, mode="overwrite"))
    stmts = []
    if _table_exists(spark, cfg, cfg.table):
        stmts.append(f"DROP TABLE {cfg.table}")
    stmts.append(_rename_stmt(cfg.url, stage, cfg.table))
    _run_statements(spark, cfg, stmts)
