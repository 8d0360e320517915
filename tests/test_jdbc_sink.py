"""Tests for the JDBC sink (SURVEY.md §2.A sink_jdbc_gp): config/
shaping units plus a real write→read-back round trip through embedded
Derby (the JDBC driver Spark ships for its Hive metastore)."""

from __future__ import annotations

import pytest

from insight_gp_import_spark.sources import JdbcSinkConfig
from insight_gp_import_spark.tables import load_table, shape_writers

SF = "/root/testdata/sf0.001"


def test_jdbc_properties_batching():
    cfg = JdbcSinkConfig(url="jdbc:postgresql://gp:5432/insight", table="t")
    props = cfg.jdbc_properties()
    assert props["batchsize"] == "10000"
    assert props["reWriteBatchedInserts"] == "true"


def test_jdbc_properties_override():
    cfg = JdbcSinkConfig(
        url="jdbc:postgresql://gp:5432/insight",
        table="t",
        batch_size=500,
        properties={"user": "gpadmin"},
    )
    props = cfg.jdbc_properties()
    assert props["batchsize"] == "500"
    assert props["user"] == "gpadmin"


def test_prepare_exact_writer_count_narrow(spark):
    df = load_table(spark, SF, "lineitem").repartition(16)
    shaped = shape_writers(df, 4)
    assert shaped.rdd.getNumPartitions() == 4


def test_prepare_widens_with_repartition(spark):
    df = load_table(spark, SF, "region").coalesce(1)
    shaped = shape_writers(df, 8)
    assert shaped.rdd.getNumPartitions() == 8


def test_prepare_multifile_source_takes_coalesce_path(spark, tmp_path):
    """When the scan provably has >= num_partitions splits (file count
    is the Connect-safe lower bound), shaping narrows WITHOUT a
    shuffle: the shaped plan must contain a Coalesce node and no
    exchange above the scan."""
    out = str(tmp_path / "many")
    load_table(spark, SF, "lineitem").repartition(16).write.parquet(out)
    df = spark.read.parquet(out)
    assert len(df.inputFiles()) >= 4
    shaped = shape_writers(df, 4)
    assert shaped.rdd.getNumPartitions() == 4
    plan = shaped._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" in plan and "Exchange" not in plan


def test_prepare_no_rdd_materialization():
    """Neither sink nor their writer shaping in tables.py touches
    df.rdd (plan-to-RDD conversion per call; unavailable under Spark
    Connect), and the COPY sink runs no RDD action: foreachPartition
    tasks start a second Python worker pool beside the one the
    SQL/Arrow operators share."""
    import ast
    import inspect

    import insight_gp_import_spark.sources.jdbc as jdbc_mod
    import insight_gp_import_spark.sources.pgwire as pgwire_mod
    import insight_gp_import_spark.tables as tables_mod

    for mod in (jdbc_mod, pgwire_mod, tables_mod):
        tree = ast.parse(inspect.getsource(mod))
        rdd_calls = [
            n.attr for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr in ("rdd", "foreachPartition")
        ]
        assert not rdd_calls, (mod.__name__, rdd_calls)


def test_jdbc_round_trip_derby(spark):
    """sink_jdbc_gp: every (nationkey, count, sum) group after the
    Derby round trip equals the same aggregate computed parquet-side,
    and the read-back is split across parallel range partitions."""
    from pyspark.sql import functions as F

    from insight_gp_import_spark.operators.scans import sink_jdbc_gp

    got = {
        r.c_nationkey: (r.n_customers, round(r.sum_acctbal, 2))
        for r in sink_jdbc_gp(spark, SF).collect()
    }
    want = {
        r.c_nationkey: (r.n, round(r.s, 2))
        for r in load_table(spark, SF, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"), F.sum("c_acctbal").alias("s"))
        .collect()
    }
    assert got == want


def _read_live(spark, cfg):
    from insight_gp_import_spark.sources.jdbc import _table_exists

    if not _table_exists(spark, cfg, cfg.table):
        return None
    return {
        (r.k, r.v)
        for r in spark.read.jdbc(
            url=cfg.url, table=cfg.table, properties=cfg.jdbc_properties()
        ).collect()
    }


def test_table_exists_escapes_like_wildcards(spark, tmp_path):
    """'_' in a table name is a single-char LIKE wildcard in
    DatabaseMetaData.getTables — unescaped, 'live_batch' would match a
    table named 'liveXbatch' and the swap would DROP a non-existent
    table. The helper must escape, so only the literal name matches."""
    from pyspark.sql import functions as F

    from insight_gp_import_spark.sources import JdbcSinkConfig, write_jdbc
    from insight_gp_import_spark.sources.jdbc import _table_exists

    cfg = JdbcSinkConfig(
        url=f"jdbc:derby:{tmp_path}/escdb;create=true",
        table="liveXbatch",
        num_partitions=1,
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    write_jdbc(spark.range(3).select(F.col("id").alias("k")), cfg)
    assert _table_exists(spark, cfg, "liveXbatch")
    assert not _table_exists(spark, cfg, "live_batch")


def test_jdbc_atomic_swap_and_crash_mid_write(spark, tmp_path):
    """Round-4 verdict item 8: kill-mid-write + retry idempotence.

    A batch write that dies partway (simulated with a row-level
    exception inside the write plan) must leave the LIVE table exactly
    as it was — no partial batch — and the plain retry must fully land
    the new batch with no duplicate rows from the failed attempt.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from insight_gp_import_spark.sources import JdbcSinkConfig, write_jdbc_atomic

    cfg = JdbcSinkConfig(
        url=f"jdbc:derby:{tmp_path}/chaosdb;create=true",
        table="live_batch",
        num_partitions=2,
        batch_size=10,
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )

    batch1 = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_jdbc_atomic(spark, batch1, cfg)
    assert _read_live(spark, cfg) == {(i, 2 * i) for i in range(100)}

    # batch 2 "crashes" mid-write: a UDF throws on one row, after other
    # rows/partitions may already have been INSERTed into the stage.
    def boom(k):
        if k == 150:
            raise RuntimeError("simulated executor death mid-write")
        return k * 3

    boom_udf = F.udf(boom, LongType())
    poisoned = spark.range(100, 200).select(
        F.col("id").alias("k"), boom_udf(F.col("id")).alias("v")
    )
    try:
        write_jdbc_atomic(spark, poisoned, cfg)
        raise AssertionError("poisoned write unexpectedly succeeded")
    except Exception as e:  # noqa: BLE001 - py4j wraps the task failure
        assert "simulated executor death" in str(e) or "SparkException" in type(e).__name__

    # live table untouched by the failed attempt
    assert _read_live(spark, cfg) == {(i, 2 * i) for i in range(100)}

    # retry (same call, fixed batch) fully replaces — and the rows the
    # crashed attempt DID stage must not leak in as duplicates.
    batch2 = spark.range(100, 200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    write_jdbc_atomic(spark, batch2, cfg)
    assert _read_live(spark, cfg) == {(i, 3 * i) for i in range(100, 200)}


# ---------------------------------------------------------------------------
# Postgres/Greenplum wire-protocol leg (r11 verdict item 6): no pgjdbc
# jar ships with Spark and the box has no network, so the GP dialect is
# exercised through the pure-stdlib v3 COPY loader against the
# in-process stub server — real sockets, real protocol framing, real
# parallel per-partition connections.
# ---------------------------------------------------------------------------


def test_pgwire_copy_round_trip_parallel(spark):
    from insight_gp_import_spark.sources import (
        PgCopyConfig,
        PgWireStubServer,
        write_postgres_copy,
    )

    df = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    with PgWireStubServer() as srv:
        cfg = PgCopyConfig(host=srv.host, port=srv.port,
                           table="orders_live", num_partitions=4)
        write_postgres_copy(df, cfg)
        landed = srv.tables["orders_live"]
        want = {tuple(str(v) for v in r) for r in df.collect()}
        got = {tuple(r) for r in landed}
        assert len(landed) == df.count()
        assert got == want  # exact landed relation, stringified compare
        # one connection per non-empty partition — the parallel-load shape
        assert srv.connections == 4
        # each writer COPYed inside its own transaction
        begins = sum(s.upper().startswith("BEGIN") for s in srv.statements)
        commits = sum(s.upper().startswith("COMMIT") for s in srv.statements)
        assert begins == commits == 4


def test_pgwire_copy_null_and_escapes(spark):
    """COPY text framing survives the values that break naive loaders:
    NULLs, tabs, newlines, backslashes."""
    from insight_gp_import_spark.sources import (
        PgCopyConfig,
        PgWireStubServer,
        write_postgres_copy,
    )

    df = spark.createDataFrame(
        [(1, "plain"), (2, None), (3, "tab\there"), (4, "nl\nhere"),
         (5, "back\\slash"), (6, "\\N literal")],
        "id int, payload string",
    )
    with PgWireStubServer() as srv:
        cfg = PgCopyConfig(host=srv.host, port=srv.port,
                           table="tricky", num_partitions=2)
        write_postgres_copy(df, cfg)
        got = {r[0]: r[1] for r in srv.tables["tricky"]}
    assert got["2"] is None
    assert got["3"] == "tab\there"
    assert got["4"] == "nl\nhere"
    assert got["5"] == "back\\slash"
    assert got["6"] == "\\N literal"


def test_pgwire_copy_text_pinned_per_type(spark):
    """The exact landed text of each simple type the COPY sink carries.
    Timestamps land as the session-zone wall clock with no zone suffix
    (the form of the ``events.ts`` column), decimals keep their scale,
    binary lands as bytea hex, and a NULL of any type lands as NULL."""
    from insight_gp_import_spark.sources import (
        PgCopyConfig,
        PgWireStubServer,
        write_postgres_copy,
    )

    df = spark.sql(r"""
        SELECT * FROM VALUES
          (CAST(9007199254740993 AS BIGINT), CAST(0.1 AS DOUBLE),
           CAST(-1234.50 AS DECIMAL(12,2)), 'tab\there\nnl back\\slash',
           true, DATE '2024-02-29', TIMESTAMP '2024-03-05 06:07:08.123456',
           CAST(NULL AS STRING), X'00FF10'),
          (CAST(-1 AS BIGINT), CAST(1e300 AS DOUBLE), CAST(0 AS DECIMAL(12,2)),
           '', false, DATE '1970-01-01', TIMESTAMP '1969-12-31 23:59:59.5', 'x',
           X''),
          (CAST(0 AS BIGINT), CAST(-2.5 AS DOUBLE), CAST(99.99 AS DECIMAL(12,2)),
           'a', true, DATE '2000-01-01', TIMESTAMP '2024-03-05 06:07:00', '',
           X'5C'),
          (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        AS t(b, d, dec, s, flag, day, ts, n, bin)
    """)
    want = [
        ("9007199254740993", "0.1", "-1234.50", "tab\there\nnl back\\slash",
         "t", "2024-02-29", "2024-03-05 06:07:08.123456", None, "\\x00ff10"),
        ("-1", "1e+300", "0.00", "", "f", "1970-01-01",
         "1969-12-31 23:59:59.500000", "x", "\\x"),
        ("0", "-2.5", "99.99", "a", "t", "2000-01-01", "2024-03-05 06:07:00", "",
         "\\x5c"),
        (None,) * 9,
    ]
    with PgWireStubServer() as srv:
        cfg = PgCopyConfig(host=srv.host, port=srv.port,
                           table="pinned", num_partitions=1)
        acked = write_postgres_copy(df, cfg)
        assert sorted(srv.tables["pinned"], key=repr) == sorted(want, key=repr)
    assert acked == len(want)


def test_pgwire_copy_short_ack_raises(spark):
    """A server that acknowledges fewer rows than were sent fails the
    write before its transaction commits."""
    from insight_gp_import_spark.sources import (
        PgCopyConfig,
        PgWireStubServer,
        write_postgres_copy,
    )

    class ShortAckStub(PgWireStubServer):
        def _land(self, table, rows):
            return super()._land(table, rows[:-1])  # loses a row

    df = spark.range(10).selectExpr("id AS k")
    with ShortAckStub() as srv:
        cfg = PgCopyConfig(host=srv.host, port=srv.port,
                           table="short", num_partitions=1)
        with pytest.raises(Exception, match="acknowledged 'COPY 9' for 10 rows"):
            write_postgres_copy(df, cfg)
        # the writer raised before COMMIT: its transaction never committed
        assert not any(s.upper().startswith("COMMIT") for s in srv.statements)


@pytest.mark.parametrize(
    "expr",
    ["array(id) AS col", "map(id, id) AS col", "named_struct('a', id) AS col"],
)
def test_pgwire_copy_rejects_complex_columns(spark, expr):
    """Arrays, maps and structs have no Greenplum column type: the sink
    names the column and raises before any connection opens."""
    from insight_gp_import_spark.sources import (
        PgCopyConfig,
        PgWireStubServer,
        write_postgres_copy,
    )

    df = spark.range(3).selectExpr("id", expr)
    with PgWireStubServer() as srv:
        cfg = PgCopyConfig(host=srv.host, port=srv.port,
                           table="nested", num_partitions=2)
        with pytest.raises(ValueError, match="'col'"):
            write_postgres_copy(df, cfg)
        assert srv.connections == 0


def test_pgwire_sockets_disable_nagle():
    """Both ends of the wire set TCP_NODELAY: each COPY frame is one
    small write followed by a wait for the reply, which Nagle's
    algorithm holds back until the peer's delayed ACK."""
    import socket

    from insight_gp_import_spark.sources import PgWireClient, PgWireStubServer

    seen = []

    class RecordingStub(PgWireStubServer):
        def _handle_query(self, conn, sql):
            seen.append(conn.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))
            super()._handle_query(conn, sql)

    with RecordingStub() as srv:
        c = PgWireClient(srv.host, srv.port)
        try:
            assert c.sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
            c.query("BEGIN")
        finally:
            c.close()
    assert seen and all(seen)


def test_gp_create_table_ddl(spark):
    from insight_gp_import_spark.sources import gp_create_table_ddl

    df = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate"
    )
    ddl = gp_create_table_ddl(df, "orders_gp", distributed_by=("o_orderkey",))
    assert ddl.startswith("CREATE TABLE orders_gp (")
    assert "o_orderkey bigint" in ddl
    assert "o_totalprice double precision" in ddl
    assert "o_orderstatus text" in ddl
    assert ddl.endswith("DISTRIBUTED BY (o_orderkey)")

    stage = gp_create_table_ddl(df, "orders_stage")
    assert stage.endswith("DISTRIBUTED RANDOMLY")

    with pytest.raises(ValueError):
        gp_create_table_ddl(df, "t", distributed_by=("nope",))


def test_pgwire_stub_accepts_ddl_and_records_statements():
    """The DDL leg of write_jdbc_atomic's dialect (ALTER TABLE RENAME)
    goes through the stub as plain statements — the GP spelling, not
    Derby's RENAME TABLE."""
    from insight_gp_import_spark.sources import PgWireClient, PgWireStubServer
    from insight_gp_import_spark.sources.jdbc import _rename_stmt

    stmt = _rename_stmt("jdbc:postgresql://gp:5432/x", "t__stage", "t")
    assert stmt == "ALTER TABLE t__stage RENAME TO t"
    with PgWireStubServer() as srv:
        c = PgWireClient(srv.host, srv.port)
        c.query("CREATE TABLE t__stage (id integer) DISTRIBUTED BY (id)")
        c.query(stmt)
        c.close()
        assert "t__stage" in srv.tables
        assert stmt in srv.statements
