"""Partition sizing in tables.py: the split probe behind spread_scan,
and the rule that no other module decides a partition count.

File count only LOWER-bounds split count: a production table compacted
into a few multi-GB parquet files would falsely count as under-split
and eat a full round-robin shuffle. The probe therefore bounds splits
from the listing's bytes too (Σ ceil(size / maxPartitionBytes)). These
tests pin both directions without writing gigabytes: shrinking
``maxPartitionBytes`` below the file size makes a small fixture file
byte-equivalent to a large production file.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

import insight_gp_import_spark
from insight_gp_import_spark.tables import _scan_splits, load_table, spread_scan

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
    assert _scan_splits(df) == 1
    out = spread_scan(df)
    assert "RoundRobinPartitioning" in _plan(out)
    outk = spread_scan(df, "doc_id")
    assert "hashpartitioning(doc_id" in _plan(outk)


def test_few_large_files_is_noop(mpb):
    """Few files whose BYTES imply plenty of splits (a compacted
    production layout) pass through unchanged — no exchange added.
    Simulated by shrinking maxPartitionBytes well below the fixture
    file's size (11 MB lineitem / 64 KB splits ≈ 170 estimated splits
    on ≤ 32-core parallelism)."""
    spark = mpb
    spark.conf.set(MPB_KEY, str(64 * 1024))
    df = load_table(spark, SF10, "lineitem")
    est = _scan_splits(df)
    assert est is not None and est * 2 > spark.sparkContext.defaultParallelism
    assert spread_scan(df) is df
    assert spread_scan(df, "l_orderkey") is df


def test_streaming_plan_passes_through(spark):
    """inputFiles() raises AnalysisException on a readStream plan: the
    probe has nothing to estimate and the plan is left as it is."""
    df = spark.readStream.format("rate").load()
    assert _scan_splits(df) is None
    assert spread_scan(df) is df
    assert spread_scan(df, "value") is df


def test_local_collection_is_widened(spark):
    """A createDataFrame frame lists no files, estimates 0 splits and is
    widened round-robin, like an under-split file scan."""
    df = spark.createDataFrame([(i,) for i in range(8)], "id long")
    assert _scan_splits(df) == 0
    assert "RoundRobinPartitioning" in _plan(spread_scan(df))


def test_probe_failure_propagates(spark, monkeypatch):
    """Only the streaming AnalysisException means "no estimate"; any
    other failure of the listing is a real error and surfaces."""
    df = load_table(spark, SF10, "documents")

    def broken():
        raise RuntimeError("listing failed")

    monkeypatch.setattr(df, "inputFiles", broken)
    with pytest.raises(RuntimeError, match="listing failed"):
        spread_scan(df)


# Only these modules may read the session's parallelism, a plan's
# input files or the shuffle width; every other module sizes through
# tables.py.
SIZING_MODULES = {"tables.py", "session.py", "streaming/runtime.py"}


def test_one_module_decides_widths():
    pkg = pathlib.Path(insight_gp_import_spark.__file__).parent
    readers = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel in SIZING_MODULES:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("defaultParallelism", "inputFiles")
            ) or (
                isinstance(node, ast.Constant)
                and node.value == "spark.sql.shuffle.partitions"
            ):
                readers.append(f"{rel}:{node.lineno}")
    assert not readers, readers
