"""What one pass of each workload runs, and how its results are checked.

A pass is a list of steps run in a seeded order. An op step calls a
registered operator and collects its DataFrame. The load step, run by
``corpus_prep`` only, is the paper's load path: drain the newly landed
staged file with the micro-batch ingest loop, then COPY the new batch
into a Greenplum wire stub and append it over JDBC to an embedded Derby
database.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
from bench import BENCH_QUERIES

# B1-B10 of the project's bench suite: short analytic queries whose wall
# time is mostly planning and job dispatch.
QUERY_MIX = tuple(BENCH_QUERIES.values())

# LLM-data-pipeline ops whose time goes to shuffles, executor CPU and
# Python workers rather than to planning.
CORPUS_PREP = (
    "sim_knn_join",
    "text_bigram_logprob",
    "udtf_python_tokenize",
)

WORKLOADS = {"query_mix": QUERY_MIX, "corpus_prep": CORPUS_PREP}
# Workloads whose passes also run the load step.
LOADING = {"corpus_prep"}

LOAD_STEP = "load"
STAGED_FILES = 64
COPY_TABLE = "events_load"
LOAD_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")
JDBC_COLUMNS = ("event_id", "user_id", "value")


def pass_steps(workload: str) -> list[str]:
    return [*WORKLOADS[workload], *([LOAD_STEP] if workload in LOADING else [])]


class Loader:
    """One staged events file lands before each pass; the pass's load
    step ingests it and writes it to both warehouse sinks."""

    def __init__(self, spark, work: str, data_dir: str, seed: int, cores: int) -> None:
        from insight_gp_import_spark.sources.pgwire import PgWireStubServer

        self.spark = spark
        self.cores = cores
        self.staged = os.path.join(work, "staged")
        self.landing = os.path.join(work, "landing")
        self.checkpoint = os.path.join(work, "ingest_ckpt")
        self.target = os.path.join(work, "ingest_target")
        self.derby_url = f"jdbc:derby:{os.path.join(work, 'derby_db')};create=true"
        os.makedirs(self.landing)
        self.chunk_rows = _stage_events(data_dir, self.staged, seed)
        self.landed_rows = 0
        self.batches = 0
        self.stub = PgWireStubServer().__enter__()

    def close(self) -> None:
        self.stub.__exit__(None, None, None)

    def land_next(self) -> None:
        """Move the next staged file into the watched directory (the
        producer's side; not part of any timed step)."""
        if self.batches >= len(self.chunk_rows):
            raise RuntimeError("all staged files already landed")
        name = f"part-{self.batches:03d}.parquet"
        os.rename(os.path.join(self.staged, name), os.path.join(self.landing, name))
        self.landed_rows += self.chunk_rows[self.batches]

    def ingest(self) -> None:
        from insight_gp_import_spark.streaming import (
            idempotent_parquet_writer,
            read_events_stream,
            run_ingest_loop,
        )

        run_ingest_loop(
            read_events_stream(self.spark, self.landing),
            self.checkpoint,
            idempotent_parquet_writer(self.target),
        )
        self.batches += 1

    def new_batch(self):
        return self.spark.read.parquet(
            os.path.join(self.target, f"_batch={self.batches - 1}")
        ).select(*LOAD_COLUMNS)

    def copy(self, batch) -> None:
        from insight_gp_import_spark.sources.pgwire import PgCopyConfig, write_postgres_copy

        write_postgres_copy(
            batch,
            PgCopyConfig(self.stub.host, self.stub.port, COPY_TABLE, num_partitions=self.cores),
        )

    def jdbc(self, batch) -> None:
        from insight_gp_import_spark.sources.jdbc import write_jdbc

        write_jdbc(batch.select(*JDBC_COLUMNS), self._jdbc_cfg())

    def _jdbc_cfg(self):
        from insight_gp_import_spark.sources.jdbc import JdbcSinkConfig

        return JdbcSinkConfig(
            url=self.derby_url,
            table=COPY_TABLE.upper(),
            mode="append",
            num_partitions=self.cores,
            properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        )

    def copied_rows(self) -> int:
        return len(self.stub.tables.get(COPY_TABLE, ()))

    def check(self) -> list[str]:
        """Every landed row reached each sink exactly once."""
        from pyspark.sql import functions as F

        problems = []
        stub_rows = self.stub.tables.get(COPY_TABLE, [])
        stub_ids = {r[0] for r in stub_rows}
        if len(stub_rows) != self.landed_rows or len(stub_ids) != self.landed_rows:
            problems.append(
                f"COPY stub holds {len(stub_rows)} rows / {len(stub_ids)} keys, "
                f"{self.landed_rows} landed"
            )
        ingested = self.spark.read.parquet(self.target).agg(
            F.count("*").alias("n"), F.countDistinct("event_id").alias("k")
        ).collect()[0]
        if ingested.n != self.landed_rows or ingested.k != self.landed_rows:
            problems.append(
                f"ingest target holds {ingested.n} rows / {ingested.k} keys, "
                f"{self.landed_rows} landed"
            )
        cfg = self._jdbc_cfg()
        derby = self.spark.read.jdbc(cfg.url, cfg.table, properties=cfg.jdbc_properties())
        got = derby.agg(F.count("*").alias("n"), F.countDistinct("event_id").alias("k")).collect()[0]
        if got.n != self.landed_rows or got.k != self.landed_rows:
            problems.append(
                f"JDBC table holds {got.n} rows / {got.k} keys, {self.landed_rows} landed"
            )
        return problems


def _stage_events(data_dir: str, staged: str, seed: int) -> list[int]:
    """Split the corpus events table into STAGED_FILES files by a seeded
    permutation of its rows; returns the row count of each file. File
    sizes do not depend on the seed, only which rows each one holds."""
    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    order = np.random.default_rng(seed).permutation(events.num_rows)
    os.makedirs(staged)
    sizes = []
    for i, idx in enumerate(np.array_split(order, STAGED_FILES)):
        pq.write_table(events.take(np.sort(idx)), os.path.join(staged, f"part-{i:03d}.parquet"))
        sizes.append(len(idx))
    return sizes
