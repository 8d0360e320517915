"""The shared pair primitives of ``operators/pairs.py``: the blocked-GEMM
cosine kernel checked against numpy brute force on a multi-block run,
and the rules that each primitive is written once and that operators
cache only through ``registry.tracked_persist``."""

from __future__ import annotations

import ast
import pathlib
import re

import numpy as np
import pytest

import insight_gp_import_spark
from conftest import SF01 as SF
from insight_gp_import_spark.operators import training_dedup as td
from insight_gp_import_spark.operators.pairs import cosine_self_pairs, hash_blocks
from insight_gp_import_spark.tables import load_table

PKG = pathlib.Path(insight_gp_import_spark.__file__).parent

# 990 of sf0.01's 124 750 pairs have cosine > 0.3: enough to reach
# every tile of a 64-vector blocking
T = 0.3


@pytest.mark.parametrize(
    "score", [lambda s: s, td._round4_half_up], ids=["identity", "half_up"]
)
def test_cosine_self_pairs_cross_block_tiles(spark, monkeypatch, score):
    # sf0.01's 500 vectors fit one 512-vector block; 64 gives ~8 blocks,
    # so cross-block tiles run next to the same-block triangles
    monkeypatch.setattr(td, "SWEEP_BLOCK", 64)
    emb = load_table(spark, SF, "embeddings")
    got = {
        (r.v1, r.v2): r.sim
        for r in cosine_self_pairs(emb, td.SWEEP_BLOCK, T, score).collect()
    }

    rows = sorted(emb.select("vec_id", "embedding").collect())
    ids = np.array([r.vec_id for r in rows])
    E = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.sqrt((E * E).sum(axis=1))
    sims = score((E @ E.T) / np.outer(norms, norms))
    ii, jj = np.nonzero(np.triu(sims > T, k=1))
    want = {(ids[i], ids[j]): sims[i, j] for i, j in zip(ii, jj)}

    assert got.keys() == want.keys()
    assert max(abs(got[k] - want[k]) for k in want) < 1e-12
    bid = {
        it.vec_id: r.bid
        for r in hash_blocks(emb, "vec_id", "embedding", 64, "bid", "items").collect()
        for it in r["items"]
    }
    assert len(set(bid.values())) > 1
    assert any(bid[a] != bid[b] for a, b in got)


def test_pair_primitives_written_once():
    """The hash blocking, the increasing-pairs expansion, the set bitmap
    pack and the bounded vocabulary probe live only in
    operators/pairs.py."""
    patterns = {
        "hash blocking": re.compile(r"pmod\(hash\("),
        "increasing-pairs expansion": re.compile(r"slice\([^,]+, i \+ 2,"),
        "bitmap pack": re.compile(r"shiftleft\(1L, CAST\(x % 64"),
        "vocabulary probe": re.compile(r"MAX_VOCAB\s*\+\s*1"),
    }
    found = {name: [] for name in patterns}
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        for name, pat in patterns.items():
            if pat.search(text):
                found[name].append(path.relative_to(PKG).as_posix())
    assert found == {name: ["operators/pairs.py"] for name in patterns}


def test_operators_cache_only_through_tracked_persist():
    """A bare .cache()/.persist() in an op body is never released: the
    op returns a lazy plan, so only the registry can unpersist it (at
    the next op call)."""
    calls = []
    for path in sorted((PKG / "operators").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("cache", "persist")
            ):
                calls.append(f"{path.name}:{node.lineno}")
    assert not calls, calls
