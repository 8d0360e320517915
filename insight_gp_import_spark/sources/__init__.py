"""External sources/sinks beyond the parquet test corpus."""

from insight_gp_import_spark.sources.jdbc import (  # noqa: F401
    JdbcSinkConfig,
    read_jdbc_partitioned,
    write_jdbc,
    write_jdbc_atomic,
)
from insight_gp_import_spark.sources.pgwire import (  # noqa: F401
    PgCopyConfig,
    PgWireClient,
    PgWireStubServer,
    gp_create_table_ddl,
    write_postgres_copy,
)
