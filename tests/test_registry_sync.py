"""Contract-sync invariants: the SURVEY.md §2 operator inventory, the
registry and the driver contract (``__spark_entry__``) must expose the
SAME op set, so neither the documented contract nor the driver's view
can silently drift from the code.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# §2 rows that document library surface, not registered operators.
NON_OP_ROWS = {"resize_images"}


def _survey_section2() -> str:
    text = (REPO / "SURVEY.md").read_text()
    start = text.index("\n## 2. Operator inventory")
    end = text.index("\n## 3.", start)
    return text[start:end]


def _registry():
    from insight_gp_import_spark.registry import load_all_ops

    return load_all_ops()


def test_survey_table_rows_match_registry():
    """Every §2 table row's id is a registered op (or a declared
    library row), and every registered op has a §2 table row."""
    sec2 = _survey_section2()
    table_ids = set(re.findall(r"^\| `([a-z0-9_]+)`", sec2, flags=re.M))
    registry_ids = set(_registry())

    ghost_rows = table_ids - registry_ids - NON_OP_ROWS
    assert not ghost_rows, f"§2 table rows with no registered op: {sorted(ghost_rows)}"

    undocumented = registry_ids - table_ids
    assert not undocumented, f"registered ops with no §2 table row: {sorted(undocumented)}"


def test_driver_contract_exposes_every_op(spark):
    """entry() returns rows, queries() lists every registered op, and
    every op has a DuckDB twin in oracle_sql()."""
    import __spark_entry__ as contract

    assert contract.entry(spark).take(1)

    registry = _registry()
    assert list(contract.queries()) == list(registry)
    no_twin = [
        n for n, o in registry.items()
        if not (isinstance(o.oracle, str) and o.oracle.strip())
    ]
    assert not no_twin, f"ops without a DuckDB twin: {no_twin}"
    assert set(contract.oracle_sql()) == set(contract.queries())


def test_op_bodies_call_plain_functions():
    """An op that builds on another op calls its plain function (what
    ``@op`` returns), never the registered wrapper: the wrapper flushes
    the tracked persists, and a flush mid-plan-build would drop the
    outer op's caches."""
    import ast

    hits = []
    for path in sorted((REPO / "insight_gp_import_spark" / "operators").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "fn"
                and isinstance(node.value, ast.Subscript)
            ):
                hits.append(f"{path.name}:{node.lineno}")
    assert not hits, f"op bodies calling a registered wrapper: {hits}"
