"""Differential oracle pre-flight: every declared op vs DuckDB.

Local replica of the driver's t2 gate (SURVEY.md §5.2). Runs at sf0.01
(the driver's scale) by default; set IGIS_PARITY_SF10=1 to also shield
against size-dependent flake at sf0.1 (§2.X rule 7).
"""

from __future__ import annotations

import os

import pytest

from insight_gp_import_spark.compare import compare
from insight_gp_import_spark.registry import load_all_ops

OPS = load_all_ops()

SF_DIRS = ["/root/testdata/sf0.01"]
if os.environ.get("IGIS_PARITY_SF10"):
    SF_DIRS.append("/root/testdata/sf0.1")


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", sorted(OPS))
def test_oracle_parity(spark, name, sf_dir):
    o = OPS[name]
    df = o.fn(spark, sf_dir)
    res = compare(name, df, o.oracle, sf_dir)
    assert res.ok, f"{name} @ {sf_dir}: {res.detail}"
