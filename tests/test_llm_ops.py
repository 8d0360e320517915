"""Unit/property tests for the LLM-pipeline ops that the oracle can't
fully grade: MinHash-LSH recall vs the exact jaccard ground truth, and
dedup idempotence (SURVEY.md §5.2.4).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from insight_gp_import_spark.registry import load_all_ops

SF = "/root/testdata/sf0.01"
OPS = load_all_ops()


def test_minhash_recall_vs_exact(spark):
    """LSH candidates, post-verified with exact jaccard, must recover
    most true near-dup pairs (precision is 1.0 by construction)."""
    exact = {
        (r.d1, r.d2) for r in OPS["dedup_near_jaccard"].fn(spark, SF).collect()
    }
    approx = {
        (r.d1, r.d2) for r in OPS["dedup_near_minhash"].fn(spark, SF).collect()
    }
    assert exact, "ground truth empty — fixture changed?"
    assert approx <= exact, "minhash emitted a non-duplicate pair (precision < 1)"
    recall = len(approx) / len(exact)
    assert recall >= 0.5, f"minhash recall {recall:.3f} too low"


def test_dedup_exact_idempotent(spark):
    """dedup(dedup(x)) == dedup(x): survivors contain no duplicate hash."""
    surv = OPS["dedup_exact"].fn(spark, SF)
    assert surv.groupBy("content_md5").count().filter(F.col("count") > 1).count() == 0


def test_dedup_exact_survivors_cover_all_content(spark):
    """Every distinct content hash has exactly one survivor."""
    from insight_gp_import_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    n_distinct = docs.select(F.md5("text")).distinct().count()
    assert OPS["dedup_exact"].fn(spark, SF).count() == n_distinct


def test_allpairs_jaccard_branch_equivalence(spark, monkeypatch):
    """The three set representations (V<=64 bigint mask, kh-keyed
    fixed-width-bitmap verify, kh-keyed array_intersect verify) must
    produce the IDENTICAL pair relation — representation is a plan
    choice, never a result change. The sf0.01 corpus (V=31) naturally
    takes the mask branch; a probe that reports the vocabulary padded
    past 64 forces the bitmap branch, and a zero bitmap cap the arrays
    branch."""
    from insight_gp_import_spark.operators import llm, pairs

    base = llm._doc_token_sets(spark, SF)
    vocab = pairs.bounded_vocab(base.select(F.explode("arr").alias("tok")))
    assert len(vocab) <= 64, "fixture vocab grew past the mask branch"

    def rel():
        return {
            (r.d1, r.d2, r.jaccard)
            for r in llm.allpairs_jaccard_pairs(base).collect()
        }

    mask = rel()
    # unused ids only widen the bitmaps; every real token keeps one bit
    padded = sorted(vocab + [f"~pad{i:02d}" for i in range(64)])
    monkeypatch.setattr(llm, "bounded_vocab", lambda col_df: padded)
    bitmap = rel()
    monkeypatch.undo()
    monkeypatch.setattr(pairs, "BITMAP_MAX_VOCAB", 0)
    arrays = rel()
    assert mask, "pair relation empty — fixture changed?"
    assert mask == bitmap
    assert mask == arrays


def test_kh_branches_match_mask_branch_on_corpus(spark, monkeypatch):
    """Every local corpus has V=31, so the oracle gates reach only the
    mask branch. 40 single-token filler docs push V to 71 (kh-keyed
    bitmap verify; a zero bitmap cap gives the array verify) and add no
    pair, so over the corpus docs all three set representations must
    return the same relation, for each set-similarity entry point."""
    from insight_gp_import_spark.operators import llm, pairs
    from insight_gp_import_spark.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    filler = spark.createDataFrame(
        [(10**9 + i, f"filler{i:02d}") for i in range(40)], "doc_id long, text string"
    )
    plain = llm.token_sets_from_docs(docs)
    wide = llm.token_sets_from_docs(docs.unionByName(filler))

    keys = []
    real_set_jaccard = llm._set_jaccard

    def spy(sets_in):
        sj = real_set_jaccard(sets_in)
        keys.append(sj.key)
        return sj

    monkeypatch.setattr(llm, "_set_jaccard", spy)
    bitmaps = []
    real_set_bitmaps = llm.set_bitmaps
    monkeypatch.setattr(
        llm, "set_bitmaps", lambda *a: bitmaps.append(1) or real_set_bitmaps(*a)
    )

    def pairs_of(fn, sets):
        return {
            (r.d1, r.d2, r.jaccard) for r in fn(sets).collect() if r.d2 < 10**9
        }

    def adjacency(sets):
        edges, memb = llm.jaccard_set_adjacency(sets)
        # an edge is undirected: its orientation follows the set key's
        # order, which differs between representations
        return (
            {tuple(sorted((r.s1, r.s2))) for r in edges.collect()},
            {(r.sid, r.doc_id) for r in memb.collect() if r.doc_id < 10**9},
        )

    def run(sets):
        return (
            pairs_of(llm.allpairs_jaccard_pairs, sets),
            pairs_of(llm.minhash_pairs, sets),
            adjacency(sets),
        )

    mask = run(plain)
    assert keys == ["m"] * 3 and not bitmaps
    bitmap = run(wide)
    assert keys[3:] == ["kh"] * 3 and len(bitmaps) == 3
    monkeypatch.setattr(pairs, "BITMAP_MAX_VOCAB", 0)
    arrays = run(wide)
    assert keys[6:] == ["kh"] * 3 and len(bitmaps) == 3
    assert all(mask[:2]) and all(mask[2]), "relation empty — fixture changed?"
    assert bitmap == mask
    assert arrays == mask


def test_set_identity_pipe_token_no_alias(spark):
    """Round-10 ADVICE regression: tokens are space-split, so '|' is a
    legal token byte — {'a|b','c'} and {'a','b','c'} are DIFFERENT sets
    (jaccard 1/4) whose old '|'-joined md5 keys collided, merging the
    groups and emitting a spurious jaccard-1.0 pair. _keyed_set_groups
    must keep them distinct in BOTH dedup formulations."""
    from insight_gp_import_spark.operators.llm import (
        allpairs_jaccard_pairs,
        minhash_pairs,
        token_sets_from_docs,
    )

    rows = [(1, "a|b c"), (2, "a b c")]
    # 63 unique filler tokens push V past 64 so allpairs takes the
    # kh-keyed branch (the mask64 branch was never alias-prone)
    rows += [(10 + i, f"filler{i:03d}") for i in range(63)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sets = token_sets_from_docs(docs)

    for fn in (minhash_pairs, allpairs_jaccard_pairs):
        pairs = {(r.d1, r.d2) for r in fn(sets).collect()}
        assert (1, 2) not in pairs, f"{fn.__name__} aliased pipe-token sets"


def test_knn_tile_topk_tie_merge_lossless(spark, monkeypatch):
    """r10 GEMM-tile kNN: per-tile top-k under (−sim, neighbor_id)
    must merge losslessly across tiles, including sim TIES at the
    k-boundary (duplicate corpus vectors) — ties resolve to the
    LOWEST neighbor ids, exactly like the full-pair window did."""
    import insight_gp_import_spark.operators.llm as llm

    monkeypatch.setattr(llm, "KNN_BLOCK", 2)  # force multi-tile merge
    dup = [1.0, 0.0]  # three identical corpus vectors -> 3-way tie
    rows_p = [(100, [1.0, 0.0])]
    rows_c = [(1, dup), (2, [0.0, 1.0]), (3, dup), (4, [0.6, 0.8]),
              (5, dup), (6, [0.9, 0.1])]
    probes = spark.createDataFrame(
        rows_p, "probe_id long, pv array<double>")
    corpus = spark.createDataFrame(
        rows_c, "neighbor_id long, cv array<double>")
    out = llm._knn_tile_topk(probes, corpus, 3)
    got = sorted(
        (r.probe_id, r.neighbor_id, round(r.raw_sim, 6))
        for r in out.collect()
    )
    # global top-3 = the three identical vectors (sim 1.0), lowest ids
    top3 = sorted(got, key=lambda t: (-t[2], t[1]))[:3]
    assert [(p, n) for p, n, _ in top3] == [(100, 1), (100, 3), (100, 5)]
    # every tile emitted <= k rows per probe and the tie trio is intact
    assert all(s <= 1.0 + 1e-12 for _, _, s in got)
    # r11 ADVICE item 2: bitwise-identical vector pairs must get
    # bitwise-identical raw_sim regardless of which tile computed them
    # (selection is GEMM, but emitted sims come from the shape-
    # independent einsum kernel)
    dup_sims = {r.raw_sim for r in out.collect() if r.neighbor_id in (1, 3, 5)}
    assert len(dup_sims) == 1


def test_knn_tile_topk_zero_norm_guard(spark, monkeypatch):
    """r11 ADVICE item 1: a zero-norm vector yields NaN cosine (0/0),
    which argsort would silently drop from the tile top-k AND which
    cannot round-trip Arrow (pandas NaN → null) to reproduce the
    NaN-greatest ordering the oracle uses — so the op must fail loudly
    on zero-norm embeddings instead of silently changing membership."""
    import pytest

    import insight_gp_import_spark.operators.llm as llm

    monkeypatch.setattr(llm, "KNN_BLOCK", 2)
    rows_p = [(100, [1.0, 0.0])]
    rows_c = [(1, [0.0, 0.0]), (2, [0.0, 1.0]), (3, [0.6, 0.8]),
              (4, [0.9, 0.1]), (5, [1.0, 0.0])]
    probes = spark.createDataFrame(
        rows_p, "probe_id long, pv array<double>")
    corpus = spark.createDataFrame(
        rows_c, "neighbor_id long, cv array<double>")
    with pytest.raises(Exception) as exc:
        llm._knn_tile_topk(probes, corpus, 2).collect()
    assert "zero-norm" in str(exc.value)
