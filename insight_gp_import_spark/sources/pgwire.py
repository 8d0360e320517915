"""Pure-stdlib PostgreSQL wire-protocol (v3) COPY loader + in-process
stub server — the Greenplum/Postgres DIALECT leg of ``sink_jdbc_gp``
(r11 verdict item 6).

The environment has no Greenplum, no network, and Spark ships no
postgres JDBC driver jar, so the pgjdbc/PostgresDialect path cannot be
exercised here at all. What CAN be exercised offline is the protocol
and dialect themselves:

- ``write_postgres_copy(df, cfg)`` loads a DataFrame over the real v3
  wire protocol with ``COPY <table> FROM STDIN`` — one connection per
  non-empty partition, each writer a ``mapInArrow`` task (the same
  parallel-writers shape as ``write_jdbc``), text COPY encoding with
  the documented escape rules. On a real Greenplum this is the FAST
  path (COPY through the master; gpfdist-parallel external tables are
  its scale-out sibling), and the client below speaks to an actual
  server unchanged: startup → AuthenticationOk (trust) → simple Query
  → CopyInResponse → CopyData stream → CopyDone → CommandComplete
  (whose ``COPY n`` count is checked against the rows sent).
- ``PgWireStubServer`` is a threaded in-process server speaking enough
  of the v3 protocol for that exchange (startup/SSLRequest, BEGIN/
  COMMIT, CREATE TABLE, COPY ... FROM STDIN) and records rows per
  table so tests can assert the exact landed relation.
- ``gp_create_table_ddl`` renders the Greenplum DDL dialect from a
  Spark schema: type mapping plus the GP-specific ``DISTRIBUTED BY``
  clause (the distribution key IS the Greenplum data model; a load
  path that can't spell it isn't a GP load path).

Protocol reference: PostgreSQL docs "Frontend/Backend Protocol",
message formats chapter (public documentation; implemented from the
spec, not from any driver source).
"""

from __future__ import annotations

import socket
import struct
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame

from insight_gp_import_spark.tables import shape_writers

_PROTO_V3 = 196608  # 3.0
_SSL_REQUEST = 80877103
_GSSENC_REQUEST = 80877104


# ---------------------------------------------------------------------------
# COPY text-format encoding (exact rules from the COPY docs)
# ---------------------------------------------------------------------------

_COPY_ESCAPES = {
    "\\": "\\\\",
    "\b": "\\b",
    "\f": "\\f",
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
    "\v": "\\v",
}


def copy_encode_value(v) -> str:
    """One value in COPY TEXT format: ``\\N`` for NULL, ``t``/``f`` for
    booleans, backslash-escaped control characters for strings."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, bytes):
        return "\\\\x" + v.hex()
    s = str(v)
    out = []
    for ch in s:
        out.append(_COPY_ESCAPES.get(ch, ch))
    return "".join(out)


def copy_decode_value(s: str):
    """Inverse of :func:`copy_encode_value` for the stub server (keeps
    everything textual — the tests compare against stringified Spark
    rows, exactly like the driver's hash protocol)."""
    if s == "\\N":
        return None
    out = []
    i = 0
    rev = {v[1]: k for k, v in _COPY_ESCAPES.items()}
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            out.append(rev.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def copy_encode_row(row) -> bytes:
    return ("\t".join(copy_encode_value(v) for v in row) + "\n").encode()


# ---------------------------------------------------------------------------
# Greenplum DDL dialect
# ---------------------------------------------------------------------------

_SPARK_TO_GP = {
    "byte": "smallint",
    "short": "smallint",
    "integer": "integer",
    "int": "integer",
    "long": "bigint",
    "bigint": "bigint",
    "float": "real",
    "double": "double precision",
    "string": "text",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "bytea",
}


def gp_type(spark_type: str) -> str:
    """Map a Spark simple type name (``df.dtypes`` form) to the
    Greenplum/Postgres column type. Decimals pass through with their
    precision/scale (same spelling both sides)."""
    t = spark_type.lower()
    if t.startswith("decimal"):
        return t
    if t not in _SPARK_TO_GP:
        raise ValueError(f"no GP mapping for Spark type {spark_type!r}")
    return _SPARK_TO_GP[t]


def gp_create_table_ddl(
    df: DataFrame,
    table: str,
    distributed_by: tuple[str, ...] | None = None,
) -> str:
    """CREATE TABLE in the Greenplum dialect. ``distributed_by`` names
    the distribution key (co-locates joins/aggs on the segments —
    choose the highest-cardinality join key); ``None`` renders
    ``DISTRIBUTED RANDOMLY`` (round-robin, the safe default for stage
    tables that are only scanned once)."""
    cols = ", ".join(f"{name} {gp_type(t)}" for name, t in df.dtypes)
    if distributed_by:
        missing = set(distributed_by) - {n for n, _ in df.dtypes}
        if missing:
            raise ValueError(f"distribution key not in schema: {sorted(missing)}")
        dist = f"DISTRIBUTED BY ({', '.join(distributed_by)})"
    else:
        dist = "DISTRIBUTED RANDOMLY"
    return f"CREATE TABLE {table} ({cols}) {dist}"


# ---------------------------------------------------------------------------
# v3 client (pure stdlib — runs inside executor tasks)
# ---------------------------------------------------------------------------


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("server closed mid-message")
        buf += chunk
    return buf


def _read_msg(sock: socket.socket) -> tuple[bytes, bytes]:
    tag = _recv_exact(sock, 1)
    (length,) = struct.unpack("!i", _recv_exact(sock, 4))
    return tag, _recv_exact(sock, length - 4)


def _send_msg(sock: socket.socket, tag: bytes, payload: bytes = b"") -> None:
    sock.sendall(tag + struct.pack("!i", len(payload) + 4) + payload)


class PgWireClient:
    """Minimal v3 frontend: trust-auth startup, simple Query, COPY IN.

    Speaks to any Postgres-family server (Greenplum included — GP's
    master speaks the identical protocol); the stub below is just the
    offline stand-in."""

    def __init__(self, host: str, port: int, user: str = "gpadmin",
                 database: str = "insight") -> None:
        self.sock = socket.create_connection((host, port), timeout=30)
        # Every message is one small write followed by a wait for the
        # reply; with Nagle on, that write waits for the peer's delayed ACK.
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        params = (
            b"user\x00" + user.encode() + b"\x00"
            b"database\x00" + database.encode() + b"\x00\x00"
        )
        payload = struct.pack("!i", _PROTO_V3) + params
        self.sock.sendall(struct.pack("!i", len(payload) + 4) + payload)
        self._until_ready()

    def _until_ready(self) -> str:
        """Read up to ReadyForQuery; returns the last CommandComplete tag
        (``""`` if none came)."""
        done = ""
        while True:
            tag, body = _read_msg(self.sock)
            if tag == b"E":
                raise RuntimeError(f"server error: {body!r}")
            if tag == b"R":
                (code,) = struct.unpack("!i", body[:4])
                if code != 0:
                    raise RuntimeError(f"auth method {code} unsupported (trust only)")
            elif tag == b"C":
                done = body.rstrip(b"\x00").decode()
            elif tag == b"Z":
                return done
            # 'S' ParameterStatus / 'K' BackendKeyData / 'N': skip

    def query(self, sql: str) -> None:
        _send_msg(self.sock, b"Q", sql.encode() + b"\x00")
        self._until_ready()

    def copy_rows(self, table: str, columns: list[str], rows) -> int:
        """COPY ``rows`` into ``table`` over one CopyData stream; returns
        the row count, after checking that the server's ``COPY n``
        acknowledgement matches the rows sent (raises if it does not)."""
        collist = ", ".join(columns)
        _send_msg(
            self.sock, b"Q",
            f"COPY {table} ({collist}) FROM STDIN".encode() + b"\x00",
        )
        tag, body = _read_msg(self.sock)
        if tag == b"E":
            raise RuntimeError(f"COPY rejected: {body!r}")
        if tag != b"G":
            raise RuntimeError(f"expected CopyInResponse, got {tag!r}")
        n = 0
        buf = bytearray()
        for row in rows:
            buf += copy_encode_row(row)
            n += 1
            if len(buf) >= 1 << 16:  # 64 KiB CopyData frames
                _send_msg(self.sock, b"d", bytes(buf))
                buf.clear()
        if buf:
            _send_msg(self.sock, b"d", bytes(buf))
        _send_msg(self.sock, b"c")  # CopyDone
        done = self._until_ready()
        if done != f"COPY {n}":
            raise RuntimeError(
                f"COPY into {table}: server acknowledged {done!r} for {n} rows sent"
            )
        return n

    def close(self) -> None:
        try:
            _send_msg(self.sock, b"X")
        finally:
            self.sock.close()


@dataclass(frozen=True)
class PgCopyConfig:
    host: str
    port: int
    table: str
    user: str = "gpadmin"
    database: str = "insight"
    num_partitions: int = 8


def _copy_partition(host, port, table, cols, user, database, rows) -> int:
    rows = list(rows)
    if not rows:
        return 0  # no empty connections: mirrors JDBC's skip of empty tasks
    c = PgWireClient(host, port, user=user, database=database)
    try:
        c.query("BEGIN")
        n = c.copy_rows(table, cols, rows)
        c.query("COMMIT")
    finally:
        c.close()
    return n


def _arrow_rows(batches):
    """Row tuples of Python values from Arrow record batches, as the COPY
    text encoder takes them. Spark hands ``TimestampType`` over
    zone-aware in the session zone; it lands as that zone's wall clock
    with no zone suffix, the text a ``timestamp`` column parses."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        cols = []
        for col in batch.columns:
            if pa.types.is_timestamp(col.type) and col.type.tz is not None:
                col = pc.local_timestamp(col)
            cols.append(col.to_pylist())
        yield from zip(*cols)


def write_postgres_copy(df: DataFrame, cfg: PgCopyConfig) -> int:
    """Parallel COPY load: exactly ``num_partitions`` writer tasks
    (same shaping rule as the JDBC sink), each COPYing its partition
    over its own wire connection in one transaction. Returns the number
    of rows the server acknowledged.

    Every column must have a Greenplum type (:func:`gp_type`); arrays,
    maps and structs raise ``ValueError`` before any connection opens.

    The writers are ``mapInArrow`` tasks, each yielding its row count
    to be summed here, so they run in the Python worker pool every
    other SQL/Arrow operator shares. An RDD action (``foreachPartition``)
    would not: Spark serves RDD tasks from a pool of their own, a
    second daemon whose workers stay resident beside the first.

    Scale note: on a 1000-executor cluster this is N concurrent COPYs
    through the GP master — the right default for batch loads; raising
    throughput beyond the master's ingest ceiling is gpfdist territory,
    declared out of scope (no cluster here)."""
    for name, spark_type in df.dtypes:
        try:
            gp_type(spark_type)
        except ValueError:
            raise ValueError(
                f"column {name!r} of type {spark_type!r} has no Greenplum type"
            ) from None
    shaped = shape_writers(df, cfg.num_partitions)
    cols = shaped.columns
    host, port, table = cfg.host, cfg.port, cfg.table
    user, database = cfg.user, cfg.database

    def copy_batches(batches):
        import pyarrow as pa

        n = _copy_partition(host, port, table, cols, user, database,
                            _arrow_rows(batches))
        yield pa.record_batch([pa.array([n], pa.int64())], names=["n"])

    return sum(r.n for r in shaped.mapInArrow(copy_batches, "n long").collect())


# ---------------------------------------------------------------------------
# In-process stub server (tests / offline dialect coverage)
# ---------------------------------------------------------------------------


class PgWireStubServer:
    """Threaded v3 backend speaking exactly enough protocol for the
    loader above: SSLRequest refusal, trust startup, BEGIN/COMMIT,
    CREATE TABLE (recorded as DDL text), COPY ... FROM STDIN (rows
    recorded). Everything lands in ``self.tables`` /
    ``self.statements`` under a lock for test assertions."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0) -> None:
        self._srv = socket.create_server((host, port))
        self.host, self.port = self._srv.getsockname()
        self.tables: dict[str, list[tuple]] = {}
        self.statements: list[str] = []
        self.connections = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)

    # -- lifecycle ---------------------------------------------------------
    def __enter__(self) -> "PgWireStubServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        try:
            self._srv.close()
        except OSError:
            pass

    # -- protocol ----------------------------------------------------------
    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            with self._lock:
                self.connections += 1
            threading.Thread(
                target=self._serve_conn, args=(conn,), daemon=True
            ).start()

    def _serve_conn(self, conn: socket.socket) -> None:
        try:
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            # startup phase: length-prefixed, untagged
            (length,) = struct.unpack("!i", _recv_exact(conn, 4))
            body = _recv_exact(conn, length - 4)
            (code,) = struct.unpack("!i", body[:4])
            while code in (_SSL_REQUEST, _GSSENC_REQUEST):
                conn.sendall(b"N")  # SSL/GSS not supported — plaintext
                (length,) = struct.unpack("!i", _recv_exact(conn, 4))
                body = _recv_exact(conn, length - 4)
                (code,) = struct.unpack("!i", body[:4])
            if code != _PROTO_V3:
                conn.close()
                return
            _send_msg(conn, b"R", struct.pack("!i", 0))  # AuthenticationOk
            _send_msg(conn, b"S", b"server_version\x009.4.26 (Greenplum stub)\x00")
            _send_msg(conn, b"K", struct.pack("!ii", 1, 1))  # BackendKeyData
            _send_msg(conn, b"Z", b"I")  # ReadyForQuery, idle
            while True:
                tag, body = _read_msg(conn)
                if tag == b"X":
                    return
                if tag != b"Q":
                    _send_msg(conn, b"E", b"SFATAL\x00Munsupported message\x00\x00")
                    return
                self._handle_query(conn, body.rstrip(b"\x00").decode())
        except (ConnectionError, OSError, struct.error):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def _land(self, table: str, rows: list[tuple]) -> int:
        """Record one COPY's rows; returns the count to acknowledge."""
        with self._lock:
            self.tables.setdefault(table, []).extend(rows)
        return len(rows)

    def _handle_query(self, conn: socket.socket, sql: str) -> None:
        s = sql.strip()
        with self._lock:
            self.statements.append(s)
        up = s.upper()
        if up.startswith("COPY") and "FROM STDIN" in up:
            # COPY <table> (c1, c2, ...) FROM STDIN
            head = s[4:].strip()
            table = head.split("(")[0].strip().split()[0]
            ncols = head[head.index("(") + 1:head.index(")")].count(",") + 1
            # CopyInResponse: text format, ncols columns, per-col format 0
            _send_msg(
                conn, b"G",
                struct.pack("!bh", 0, ncols) + struct.pack("!h", 0) * ncols,
            )
            data = bytearray()
            while True:
                tag, body = _read_msg(conn)
                if tag == b"d":
                    data += body
                elif tag == b"c":
                    break
                elif tag == b"f":  # CopyFail
                    _send_msg(conn, b"Z", b"I")
                    return
            rows = [
                tuple(copy_decode_value(v) for v in line.split("\t"))
                for line in data.decode().splitlines()
                if line
            ]
            landed = self._land(table, rows)
            _send_msg(conn, b"C", f"COPY {landed}".encode() + b"\x00")
        elif up.startswith(("BEGIN", "COMMIT", "ROLLBACK")):
            _send_msg(conn, b"C", up.split()[0].encode() + b"\x00")
        elif up.startswith(("CREATE", "DROP", "ALTER")):
            if up.startswith("CREATE TABLE"):
                name = s.split()[2].split("(")[0]
                with self._lock:
                    self.tables.setdefault(name, [])
            _send_msg(conn, b"C", up.split()[0].encode() + b"\x00")
        else:
            _send_msg(conn, b"E", b"SERROR\x00Mstub: unsupported statement\x00\x00")
            _send_msg(conn, b"Z", b"I")
            return
        _send_msg(conn, b"Z", b"I")
