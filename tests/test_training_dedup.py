"""Unit tests for the rows-only scale-path dedup/ANN ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insight_gp_import_spark.operators import training_dedup as td
from insight_gp_import_spark.registry import load_all_ops
from insight_gp_import_spark.tables import load_table

SF = "/root/testdata/sf0.01"
OPS = load_all_ops()


def test_simhash_pairs_within_hamming(spark):
    """Every emitted pair respects the hamming bound (post-filter), and
    hamming is consistent with recomputed fingerprints."""
    out = OPS["dedup_simhash"].fn(spark, SF)
    rows = out.collect()
    assert rows, "no simhash near-dup pairs found at sf0.01"
    assert all(0 <= r.hamming <= td.SIMHASH_MAX_HAMMING for r in rows)


def test_simhash_banding_is_lossless(spark):
    """hamming ≤ 3 over 4 bands of 15 bits ⇒ ≥1 identical band, so LSH
    candidates must contain EVERY qualifying pair: verify against a
    brute-force all-pairs hamming scan over the shared signature
    helper (the DuckDB oracle recomputes the fingerprints a THIRD way,
    so signature bugs can't self-confirm here)."""
    docs = load_table(spark, SF, "documents")
    sigs = td.simhash_signatures(docs)
    a = sigs.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"))
    b_ = sigs.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"))
    brute = (
        a.join(b_, F.col("d1") < F.col("d2"))
        .withColumn("hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
        .filter(F.col("hamming") <= td.SIMHASH_MAX_HAMMING)
    )
    want = {(r.d1, r.d2) for r in brute.collect()}
    got = {(r.d1, r.d2) for r in OPS["dedup_simhash"].fn(spark, SF).collect()}
    assert got == want


def test_ann_full_probe_equals_brute_force(spark, monkeypatch):
    """Probing ALL centroids must reproduce the exact brute-force
    top-k — the ANN structure loses nothing when nprobe=ncentroids."""
    monkeypatch.setattr(td, "N_PROBE", td.N_CENTROIDS)
    ann = [tuple(r) for r in OPS["ann_ivf_topk"].fn(spark, SF).collect()]
    brute = [tuple(r) for r in OPS["sim_search_topk"].fn(spark, SF).collect()]
    assert ann == brute


def test_ann_partial_probe_contract(spark):
    """nprobe < ncentroids: k rows, sims are a subset of legal corpus
    sims, descending order, no query vector."""
    from insight_gp_import_spark.operators.llm import QUERY_VEC_ID, TOPK

    rows = OPS["ann_ivf_topk"].fn(spark, SF).collect()
    assert len(rows) == TOPK
    assert all(r.vec_id != QUERY_VEC_ID for r in rows)
    sims = [r.sim for r in rows]
    assert sims == sorted(sims, reverse=True)
    brute = OPS["sim_search_topk"].fn(spark, SF).collect()
    # ANN can't beat exact search
    assert max(sims) <= max(r.sim for r in brute) + 1e-9


def test_embed_cosine_symmetric_bounds(spark):
    out = OPS["dedup_embed_cosine"].fn(spark, SF).collect()
    assert out, "no embed near-dup pairs at sf0.01 (threshold drifted?)"
    assert all(r.v1 < r.v2 for r in out)
    assert all(td.EMBED_DUP_THRESHOLD < r.sim <= 1.0 for r in out)


def test_lsh_full_probe_equals_brute_force(spark):
    """probe_all=True disables bucket pruning; the LSH structure must
    then reproduce the exact brute-force top-k."""
    full = [tuple(r) for r in td.lsh_topk(spark, SF, probe_all=True).collect()]
    brute = [tuple(r) for r in OPS["sim_search_topk"].fn(spark, SF).collect()]
    assert full == brute


def test_lsh_retrieves_planted_near_duplicate(spark):
    """The LSH dedup contract: a true near-duplicate of the query
    (cosine ~0.9996) must share a bucket in >=1 table and rank #1.
    Built on a literal corpus: the query vector, a tiny perturbation of
    it, and its negation (cosine -1, must not outrank)."""
    from insight_gp_import_spark.operators.llm import (
        QUERY_VEC_ID,
        _fetch_query_vector,
    )

    qvec = _fetch_query_vector(SF, QUERY_VEC_ID)
    near = [x + (0.02 if i % 2 == 0 else -0.02) for i, x in enumerate(qvec)]
    far = [-x for x in qvec]
    planes = td._lsh_planes()
    rows = [(1001, 0, near), (1002, 1, far)]
    corpus = (
        spark.createDataFrame(
            rows, "vec_id BIGINT, label INT, embedding ARRAY<FLOAT>"
        )
        .withColumn("lsh_qv", F.expr(td._LSH_QV_SQL))
        .select("vec_id", "label", "embedding", *td._lsh_code_cols(planes))
    )
    import math

    qq = [math.floor(x * td.LSH_Q_SCALE + 0.5) for x in qvec]
    qcodes = [
        sum(
            (1 << b)
            for b in range(td.LSH_BITS)
            if sum(a * c for a, c in zip(qq, planes[t * td.LSH_BITS + b])) > 0
        )
        for t in range(td.LSH_TABLES)
    ]
    got = corpus.collect()
    near_row = next(r for r in got if r.vec_id == 1001)
    matches = sum(
        near_row[f"lsh_code{t}"] == qcodes[t] for t in range(td.LSH_TABLES)
    )
    # cosine ~0.9996 -> per-bit collision prob ~0.99; all 8 tables match
    assert matches >= 1, (matches, qcodes)


def test_lsh_partial_probe_contract(spark):
    """Default probing: k rows max, no query vector, descending sims,
    never beating exact search; pruning must actually prune."""
    from insight_gp_import_spark.operators.llm import QUERY_VEC_ID, TOPK

    rows = OPS["ann_lsh_topk"].fn(spark, SF).collect()
    assert 0 < len(rows) <= TOPK
    assert all(r.vec_id != QUERY_VEC_ID for r in rows)
    sims = [r.sim for r in rows]
    assert sims == sorted(sims, reverse=True)
    brute = OPS["sim_search_topk"].fn(spark, SF).collect()
    assert max(sims) <= max(r.sim for r in brute) + 1e-9


def test_embed_lsh_full_probe_equals_exact(spark):
    """probe_all=True disables bucket blocking: the verify stage must
    then reproduce dedup_embed_cosine exactly (pair-for-pair)."""
    emb = load_table(spark, SF, "embeddings")
    full = {tuple(r) for r in td.embed_lsh_pairs(emb, probe_all=True).collect()}
    exact = {tuple(r) for r in OPS["dedup_embed_cosine"].fn(spark, SF).collect()}
    assert full == exact


def test_embed_lsh_precision_is_one(spark):
    """Bucket blocking may lose pairs but must never invent one: every
    emitted pair is a true cosine near-dup (approx ⊆ exact)."""
    approx = {
        (r.v1, r.v2) for r in OPS["dedup_embed_lsh"].fn(spark, SF).collect()
    }
    exact = {
        (r.v1, r.v2) for r in OPS["dedup_embed_cosine"].fn(spark, SF).collect()
    }
    assert exact, "ground truth empty — threshold drifted?"
    assert approx <= exact, "LSH emitted a non-duplicate pair (precision < 1)"


def test_embed_lsh_retrieves_planted_near_duplicate(spark):
    """The dedup contract at the real operating point (cosine ~1): a
    planted near-duplicate pair must collide in >=1 table and survive
    verification; the negated vector (cosine -1) must not appear."""
    from insight_gp_import_spark.operators.llm import (
        QUERY_VEC_ID,
        _fetch_query_vector,
    )

    qvec = _fetch_query_vector(SF, QUERY_VEC_ID)
    near = [x + (0.02 if i % 2 == 0 else -0.02) for i, x in enumerate(qvec)]
    far = [-x for x in qvec]
    corpus = spark.createDataFrame(
        [(1, qvec), (2, near), (3, far)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    pairs = {(r.v1, r.v2) for r in td.embed_lsh_pairs(corpus).collect()}
    assert (1, 2) in pairs, pairs
    assert all(3 not in p for p in pairs), pairs


def test_dedup_cluster_consistent_with_pairs(spark):
    """Every near-dup pair must land in one cluster (that is the
    transitivity contract), and exactly one survivor exists per
    cluster — the min doc_id."""
    from insight_gp_import_spark.operators.llm import dedup_near_jaccard

    labels = {
        r.doc_id: r.cluster_id
        for r in OPS["dedup_cluster"].fn(spark, SF).collect()
    }
    pairs = dedup_near_jaccard(spark, SF).select("d1", "d2").collect()
    assert pairs
    for r in pairs:
        assert labels[r.d1] == labels[r.d2], (r.d1, r.d2)
    from collections import defaultdict

    members = defaultdict(list)
    for doc, c in labels.items():
        members[c].append(doc)
    for c, docs in members.items():
        assert c == min(docs), (c, min(docs))


def test_kmeans_lloyd_invariants(spark):
    """Lloyd's must cover all vectors, keep k clusters, and its
    objective (inertia) must be non-increasing across iterations."""
    n_vecs = load_table(spark, SF, "embeddings").count()
    assigned, inertias = td.kmeans_lloyd_iterations(spark, SF)
    sizes = {r.cluster_id: r.n_members
             for r in OPS["embed_kmeans_lloyd"].fn(spark, SF).collect()}
    assert sum(sizes.values()) == n_vecs
    assert set(sizes) <= set(range(td.KMEANS_K))
    assert all(b <= a * (1 + 1e-9) for a, b in zip(inertias, inertias[1:])), inertias


def test_kmeans_k1_centroid_is_global_mean(spark):
    """With k=1 the first update step lands on the global mean: the
    final inertia equals the total squared deviation from the mean
    (numpy-checked), a closed-form correctness anchor."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings").select("embedding").collect()
    X = np.array([r.embedding for r in emb], dtype=np.float64)
    expect = float(((X - X.mean(axis=0)) ** 2).sum())
    _, inertias = td.kmeans_lloyd_iterations(spark, SF, k=1, iters=2)
    assert abs(inertias[-1] - expect) / expect < 1e-9, (inertias, expect)


def test_bigstar_equals_label_propagation(spark):
    """dedup_cluster (driver-side union-find at this SF) and
    dedup_cluster_bigstar (large-star/small-star) must produce
    identical clusterings (same survivors, same components)."""
    a = {r.doc_id: r.cluster_id
         for r in OPS["dedup_cluster"].fn(spark, SF).collect()}
    b = {r.doc_id: r.cluster_id
         for r in OPS["dedup_cluster_bigstar"].fn(spark, SF).collect()}
    assert a == b


def test_pca_power_matches_numpy(spark):
    """Two numpy anchors: (a) planted dominant direction -> the
    distributed power iteration must recover the exact eigenvector;
    (b) real corpus (near-degenerate spectrum) -> the Rayleigh
    quotient must land in [lambda_3, lambda_1], the top of the
    spectrum."""
    import numpy as np

    # (a) planted spike: base noise + strong rank-1 direction
    rng = np.random.RandomState(7)
    d = td.EMBED_DIM
    u = np.zeros(d); u[3] = 1.0
    X = rng.normal(0, 0.05, (300, d)) + rng.normal(0, 1.0, (300, 1)) * u
    df = spark.createDataFrame(
        [(row.tolist(),) for row in X], "embedding array<double>"
    )
    v, eigval, n = td._pca_power(df, iters=8)
    Xc = X - X.mean(axis=0)
    vals, vecs = np.linalg.eigh(Xc.T @ Xc / len(X))
    assert n == 300
    assert abs(float(np.dot(v, vecs[:, -1]))) > 0.999
    assert abs(eigval - vals[-1]) / vals[-1] < 0.01, (eigval, vals[-1])

    # (b) real corpus: quotient inside the top of the spectrum
    emb = load_table(spark, SF, "embeddings").select("embedding").collect()
    Xr = np.array([r.embedding for r in emb], dtype=np.float64)
    Xrc = Xr - Xr.mean(axis=0)
    rvals = np.linalg.eigvalsh(Xrc.T @ Xrc / len(Xr))
    _, req, rn = td.pca_power_top_component(spark, SF)
    assert rn == len(Xr)
    # 12 rounds at gap ratio 0.987 cannot cross lambda_2; landing
    # above lambda_3 (top ~5% of the 64-value spectrum) shows the
    # iterate concentrated in the top subspace.
    assert rvals[-3] - 1e-9 <= req <= rvals[-1] + 1e-9, (req, rvals[-3:])


def test_kmeans_quantized_matches_float(spark):
    """The oracled integer-quantized Lloyd (round-6) must agree with the
    float library path: identical cluster sizes, inertia within the
    quantization error envelope (~1e-4 relative)."""
    q = OPS["embed_kmeans_lloyd"].fn(spark, SF).collect()
    f_assigned, f_inertias = td.kmeans_lloyd_iterations(spark, SF)
    f_sizes = {
        r.cluster_id: r.n for r in
        f_assigned.groupBy("cluster_id").count().withColumnRenamed("count", "n").collect()
    }
    assert {r.cluster_id: r.n_members for r in q} == f_sizes
    q_total = sum(r.inertia for r in q)
    # f_inertias[-1] is the objective of the PREVIOUS iterate's centroids;
    # compare against the float assignment's actual final d2 sum instead
    f_total = f_assigned.agg(F.sum("d2").alias("s")).collect()[0].s
    assert abs(q_total - f_total) / f_total < 1e-3, (q_total, f_total)


def test_pca_quantized_matches_float(spark):
    """Quantized power iteration (oracled, round-6) vs the float library
    path: Rayleigh quotient within 1% relative and strongly-parallel
    final iterates. Bounds are loose because the corpus spectrum is
    near-degenerate (top eigenvalues within 1.3%), so the tiny
    quantization perturbation legitimately shifts the slow-converging
    iterate between the leading directions."""
    import math

    row = OPS["embed_pca_power"].fn(spark, SF).collect()[0]
    v, eigval, n = td.pca_power_top_component(spark, SF)
    assert row.n_vectors == n
    assert abs(row.top_eigenvalue - eigval) / eigval < 1e-2
    qv, ss, nq, nq_n = td.pca_power_quantized(spark, SF)
    dot = sum((q / td.PCA_V_SCALE) * x for q, x in zip(qv, v))
    qn = math.sqrt(sum((q / td.PCA_V_SCALE) ** 2 for q in qv))
    assert abs(dot) / qn > 0.99, (dot, qn)


def test_ngram_verify_branches_agree(spark, monkeypatch):
    """The vocab-conditional verify branches (fixed-width bitmap vs
    routed packed-gram arrays, incl. the giant-pair banding) must
    produce IDENTICAL verified pairs — representation and routing are
    plan choices, never semantics (r8 verdict item 3). Forcing
    pairs.BITMAP_MAX_VOCAB=0 exercises the array branch and
    NGRAM_SPLIT_GRAMS=8 forces every pair through the banded giant-
    pair path, which the small-vocab gate SFs otherwise never touch."""
    from insight_gp_import_spark.operators import pairs

    sf = "/root/testdata/sf0.001"
    fn = OPS["dedup_ngram_jaccard"].fn
    default = {(r.d1, r.d2): r.jaccard for r in fn(spark, sf).collect()}
    assert default  # non-degenerate fixture

    monkeypatch.setattr(pairs, "BITMAP_MAX_VOCAB", 0)
    routed = {(r.d1, r.d2): r.jaccard for r in fn(spark, sf).collect()}
    assert routed == default

    monkeypatch.setattr(td, "NGRAM_SPLIT_GRAMS", 8)
    banded = {(r.d1, r.d2): r.jaccard for r in fn(spark, sf).collect()}
    assert banded == default


def test_ngram_verify_routed_total_over_zero_overlap_pairs(spark, monkeypatch):
    """_ngram_verify_routed is the exact-verify primitive: a candidate
    pair with EMPTY gram intersection must come back with shared = 0,
    not vanish (r8 ADVICE — the banded giant-pair groupBy emits no row
    for such a pair, so the join back must be a left join with
    coalesce, never an inner join)."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(td, "NGRAM_SPLIT_GRAMS", 2)  # route via banding
    # docs 1/2 share grams; docs 3/4 share none.
    gd = spark.createDataFrame(
        [(1, "abc"), (1, "bcd"), (1, "cde"),
         (2, "abc"), (2, "bcd"), (2, "xyz"),
         (3, "foo"), (3, "oof"), (3, "ofo"),
         (4, "bar"), (4, "arb"), (4, "rba")],
        "doc_id long, g string",
    )
    cs = spark.createDataFrame(
        [(1, 2, 3, 3), (3, 4, 3, 3)], "d1 long, d2 long, n1 long, n2 long"
    )
    got = {
        (r.d1, r.d2): r.shared
        for r in td._ngram_verify_routed(cs, gd).collect()
    }
    assert got == {(1, 2): 2, (3, 4): 0}
    # And the small-pair (array_intersect) branch agrees on totality.
    monkeypatch.setattr(td, "NGRAM_SPLIT_GRAMS", 4096)
    got_small = {
        (r.d1, r.d2): r.shared
        for r in td._ngram_verify_routed(cs, gd).collect()
    }
    assert got_small == got


def test_sweep_gemm_pairs_match_hof_pairs(spark):
    """The sweep's blocked-GEMM pair stage (cosine_self_pairs scored by
    _round4_half_up) must emit the IDENTICAL (v2, sim_r) multiset as a
    zip_with/aggregate HOF self-join — representation is a plan choice,
    never semantics. The HOF twin is built inline here as the ground
    truth."""
    from collections import Counter

    from insight_gp_import_spark.operators.pairs import cosine_self_pairs

    emb = load_table(spark, SF, "embeddings")
    t0 = td.SWEEP_THRESHOLDS_PM[0] / 1000.0
    got = Counter(
        (r.v2, r.sim)
        for r in cosine_self_pairs(
            emb, td.SWEEP_BLOCK, t0, td._round4_half_up
        ).collect()
    )

    nrm = F.expr(
        "sqrt(aggregate(zip_with(embedding, embedding,"
        " (p, q) -> cast(p as double) * cast(q as double)), 0.0D,"
        " (acc, v) -> acc + v))"
    )
    sides = emb.select("vec_id", "embedding", nrm.alias("nrm"))
    a = sides.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = sides.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.expr(
        "aggregate(zip_with(ea, eb,"
        " (p, q) -> cast(p as double) * cast(q as double)), 0.0D,"
        " (acc, v) -> acc + v)"
    )
    want = Counter(
        (r.v2, r.sim_r)
        for r in (
            a.join(b, F.col("v1") < F.col("v2"))
            .select("v2", F.round(dot / (F.col("na") * F.col("nb")), 4).alias("sim_r"))
            .filter(F.col("sim_r") > t0)
        ).collect()
    )
    assert got == want
    assert got  # non-degenerate fixture


def test_sweep_spine_tier_matches_oracle(spark, monkeypatch):
    """The sampled tier (n > SWEEP_EXACT_MAX -> vec_id % s = 0 spine)
    must agree with a DuckDB twin computing the same spine — forced by
    shrinking the gate below the sf0.1 corpus (n=2000, gate=300 ->
    s=7, 286-row spine). Counts and ppm are then SAMPLE statistics on
    an identical deterministic subset in both engines."""
    import re

    import duckdb

    gate = 300
    monkeypatch.setattr(td, "SWEEP_EXACT_MAX", gate)
    sf = "/root/testdata/sf0.1"
    sdf = OPS["embed_dedup_threshold_sweep"].fn(spark, sf)
    scols = sorted(sdf.columns)
    srows = sorted(
        tuple(str(v) for v in r) for r in sdf.select(*scols).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT *"
        f" FROM read_parquet('{sf}/embeddings.parquet')"
    )
    sql = re.sub(
        r"ceil\(n_all / \d+\.0\)",
        f"ceil(n_all / {gate}.0)",
        OPS["embed_dedup_threshold_sweep"].oracle,
    )
    cur = con.execute(sql)
    desc = [d[0] for d in cur.description]
    order = sorted(range(len(desc)), key=lambda i: desc[i])
    drows = sorted(
        tuple(str(r[i]) for i in order) for r in cur.fetchall()
    )
    assert scols == sorted(desc)
    assert srows == drows
    # the spine genuinely engaged: fewer pairs than the exact tier
    monkeypatch.setattr(td, "SWEEP_EXACT_MAX", 8192)
    full = {
        r.threshold_pm: r.n_pairs
        for r in OPS["embed_dedup_threshold_sweep"].fn(spark, sf).collect()
    }
    sampled = {int(r[3]): int(r[0]) for r in (tuple(x) for x in srows)}
    assert sum(sampled.values()) < sum(full.values())


def test_dedup_cluster_local_vs_distributed_cc(spark, monkeypatch):
    """dedup_cluster's bounded-collect union-find branch (fires at
    every test SF) and its distributed large-star/small-star branch
    (CC_LOCAL_MAX_EDGES=0 forces it) must produce the IDENTICAL
    (doc_id, cluster_id, is_survivor) relation — the CC engine is a
    plan choice, never a result change."""
    rel_local = {
        (r.doc_id, r.cluster_id, r.is_survivor)
        for r in OPS["dedup_cluster"].fn(spark, SF).collect()
    }
    monkeypatch.setattr(td, "CC_LOCAL_MAX_EDGES", 0)
    rel_loop = {
        (r.doc_id, r.cluster_id, r.is_survivor)
        for r in OPS["dedup_cluster"].fn(spark, SF).collect()
    }
    assert rel_local == rel_loop
    assert rel_local  # fixture sanity: non-empty


@pytest.mark.parametrize("name", ["dedup_cluster_bigstar", "dedup_cluster"])
def test_cc_round_cap_raises(spark, monkeypatch, name):
    """Star contraction takes 3 rounds at sf0.01 (the third confirms the
    fixpoint). A cap below that must raise, naming the op, instead of
    returning unconverged labels; CC_LOCAL_MAX_EDGES=0 sends
    dedup_cluster down the same distributed path."""
    monkeypatch.setattr(td, "CC_LOCAL_MAX_EDGES", 0)
    monkeypatch.setattr(td, "BIGSTAR_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match=f"^{name}: .*BIGSTAR_MAX_ROUNDS=2"):
        OPS[name].fn(spark, SF).collect()
