"""tools/ops.py end to end, one cold CLI run per Spark-using case."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"


def _ops_cli(*args: str, env: dict | None = None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "ops.py"), *args],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )


def test_check_passes():
    p = _ops_cli("check", "agg_hash_groupby", "--sf", SF)
    assert p.returncode == 0, p.stderr[-2000:]
    rows = [json.loads(ln) for ln in p.stdout.splitlines() if ln.startswith("{")]
    assert [(r["op"], r["sf"], r["status"]) for r in rows] == [
        ("agg_hash_groupby", "sf0.01", "PASS")
    ]


def test_check_unknown_op_starts_no_jvm():
    # With no java to launch, any attempt to start Spark would fail with
    # a gateway error before the op-name check could report.
    p = _ops_cli("check", "no_such_op", env=os.environ | {"JAVA_HOME": "/nonexistent"})
    assert p.returncode != 0
    assert "unknown op(s): no_such_op" in p.stderr
    assert "JAVA_GATEWAY" not in p.stderr + p.stdout


def test_profile_prints_one_json_line():
    p = _ops_cli("profile", "--ops", "agg_hash_groupby", "--sf", SF)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.splitlines()
    assert len(lines) == 1, p.stdout
    rec = json.loads(lines[0])
    assert rec["op"] == "agg_hash_groupby"
    assert rec["noop_sec"] > 0
    assert rec["plan"]["Exchange"] >= 1


def test_normalize_plan_masks_session_counters():
    # no Spark: the normalizer is plain text in, text out
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "ops_cli", os.path.join(REPO, "tools", "ops.py")
    )
    ops = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ops)
    dump = (
        "(3) Exchange\n"
        "Arguments: hashpartitioning(l_orderkey#{a}L, 8), ENSURE_REQUIREMENTS, "
        "[plan_id={p}]\n"
        "(1) Scan ExistingRDD\n"
        "Arguments: [t_pm#{b}], MapPartitionsRDD[{r}] at applySchemaToPythonRDD\n"
        "(2) Scan csv\n"
        "Location: InMemoryFileIndex [file:/tmp/igis-scratch-{root}/igis-compact-src-{d}/events]\n"
    )
    one = ops.normalize_plan(
        dump.format(a=12, b=7, p=132, r=127, root="q3_x9k2a", d="abcdefgh")
    )
    two = ops.normalize_plan(
        dump.format(a=905, b=88, p=1727, r=350, root="0b7_ztr1", d="k2j_9m0p")
    )
    assert one == two
    assert "l_orderkey#NL, 8)" in one
    assert "[plan_id=N]" in one and "MapPartitionsRDD[N]" in one
    # the scratch root and the per-call directory are random; the op's
    # directory prefix and the path below it are plan content
    assert "file:/tmp/igis-scratch-N/igis-compact-src-N/events]" in one
    # operator numbers and literals are plan shape, not counters
    assert one.startswith("(3) Exchange\n") and "(1) Scan ExistingRDD" in one
