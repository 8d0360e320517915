"""Regression tests for the type-hardened local parity gate.

A DuckDB ``sum(int)`` oracle column is HUGEINT. When its values equal
Spark's BIGINT output, the driver's serialization-sensitive value-hash
still rejects it (agg_funnel_conversion failed that way), while a plain
int() collapse in the local compare would pass it. These tests pin that
the hardened gate (compare.declared_types / type_family) reproduces the
driver's behavior locally, pre-declaration.
"""

from __future__ import annotations

import pytest

from insight_gp_import_spark.compare import (
    _canon_duck_type,
    compare,
    duckdb_connect,
    declared_types,
    type_family,
)

SF = "/root/testdata/sf0.01"


def test_bare_int_sum_oracle_fails_gate(spark):
    """The exact r1 failure shape: values equal, declared types diverge."""
    df = spark.sql("SELECT CAST(5 AS BIGINT) AS n_regions")
    # DuckDB sum(1) over 5 region rows = HUGEINT 5 — value-equal to Spark.
    res = compare("hugeint_probe", df, "SELECT sum(1) AS n_regions FROM region", SF)
    assert not res.ok
    assert "declared-type" in res.detail and "hugeint" in res.detail


def test_cast_bigint_sum_oracle_passes_gate(spark):
    df = spark.sql("SELECT CAST(5 AS BIGINT) AS n_regions")
    res = compare(
        "bigint_probe", df,
        "SELECT CAST(sum(1) AS BIGINT) AS n_regions FROM region", SF,
    )
    assert res.ok, res.detail


def test_integer_width_within_family_passes(spark):
    """Width-only int diffs hash-matched in r1 (e.g. count vs int col) — allowed."""
    df = spark.sql("SELECT CAST(5 AS INT) AS n")
    res = compare(
        "width_probe", df, "SELECT CAST(5 AS BIGINT) AS n FROM region LIMIT 1", SF
    )
    assert res.ok, res.detail


def test_declared_types_probe():
    con = duckdb_connect(SF)
    try:
        t = declared_types(
            con,
            "SELECT sum(1) AS h, CAST(sum(1) AS BIGINT) AS b, avg(1) AS d,"
            "       r_name AS s FROM region GROUP BY r_name",
        )
    finally:
        con.close()
    assert t == {"h": "hugeint", "b": "bigint", "d": "double", "s": "string"}


@pytest.mark.parametrize(
    "duck,canon",
    [
        ("HUGEINT", "hugeint"),
        ("BIGINT", "bigint"),
        ("VARCHAR", "string"),
        ("DOUBLE[]", "array<double>"),
        ("DECIMAL(38,2)", "decimal(38,2)"),
    ],
)
def test_canon_duck_type(duck, canon):
    assert _canon_duck_type(duck) == canon


def test_type_family_distinguishes_hugeint():
    assert type_family("hugeint") != type_family("bigint")
    assert type_family("int") == type_family("bigint")
    assert type_family("array<bigint>") == type_family("array<int>")
    assert type_family("array<hugeint>") != type_family("array<bigint>")
