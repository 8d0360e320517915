"""Op scratch directories: every op that stages or sinks files makes its
directory through ``scratch.scratch_dir``, under one per-process root
that is removed at interpreter exit."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys

import insight_gp_import_spark

PKG = pathlib.Path(insight_gp_import_spark.__file__).parent


def test_operators_make_dirs_only_through_scratch_dir():
    calls = []
    for path in sorted((PKG / "operators").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "mkdtemp"
            ):
                calls.append(f"{path.name}:{node.lineno}")
    assert not calls, calls


def test_scratch_root_under_tmpdir_and_removed_at_exit(tmp_path):
    code = (
        "import os\n"
        "from insight_gp_import_spark.scratch import scratch_dir\n"
        "a, b = scratch_dir('igis-a-'), scratch_dir('igis-b-')\n"
        "open(os.path.join(a, 'f'), 'w').write('x')\n"
        "assert os.path.dirname(a) == os.path.dirname(b)\n"
        "print(os.path.dirname(a))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=os.environ | {"TMPDIR": str(tmp_path)},
        cwd=PKG.parent,
        check=True,
        capture_output=True,
        text=True,
    ).stdout.strip()
    assert os.path.dirname(out) == str(tmp_path)
    assert not os.path.exists(out)
    assert list(tmp_path.iterdir()) == []
