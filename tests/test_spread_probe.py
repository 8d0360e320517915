"""spread_scan / spread_scan_by split-probe tests (r13 VERDICT item 1).

The r12 probe gated on bare file count, which LOWER-bounds split count:
a production table compacted into a few multi-GB parquet files would
falsely count as under-split and eat a full round-robin shuffle. The
r13 probe bounds splits from the listing's bytes too
(Σ ceil(size / maxPartitionBytes)). These tests pin both directions
without writing gigabytes: shrinking ``maxPartitionBytes`` below the
file size makes a small fixture file byte-equivalent to a large
production file.
"""

from __future__ import annotations

import pytest

from insight_gp_import_spark.tables import (
    _estimated_scan_splits,
    load_table,
    spread_scan,
    spread_scan_by,
)

SF10 = "/root/testdata/sf0.1"
MPB_KEY = "spark.sql.files.maxPartitionBytes"


@pytest.fixture
def mpb(spark):
    old = spark.conf.get(MPB_KEY)
    yield spark
    spark.conf.set(MPB_KEY, old)


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_undersplit_single_small_file_spreads(spark):
    """The regime the helper exists for: one single-row-group file on a
    many-core session gets the round-robin widen."""
    df = load_table(spark, SF10, "documents")
    assert _estimated_scan_splits(df) == 1
    out = spread_scan(df)
    assert "RoundRobinPartitioning" in _plan(out)
    outk = spread_scan_by(df, "doc_id")
    assert "hashpartitioning(doc_id" in _plan(outk)


def test_few_large_files_is_noop(mpb):
    """VERDICT item 1's scenario: few files whose BYTES imply plenty of
    splits (a compacted production layout) must pass through unchanged
    — no exchange added. Simulated by shrinking maxPartitionBytes well
    below the fixture file's size (11 MB lineitem / 64 KB splits
    ≈ 170 estimated splits on ≤ 32-core parallelism)."""
    spark = mpb
    spark.conf.set(MPB_KEY, str(64 * 1024))
    df = load_table(spark, SF10, "lineitem")
    est = _estimated_scan_splits(df)
    assert est is not None and est * 2 > spark.sparkContext.defaultParallelism
    assert spread_scan(df) is df
    assert spread_scan_by(df, "l_orderkey") is df

