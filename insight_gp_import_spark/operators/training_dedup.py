"""Scale-path dedup and similarity-search operators: SimHash, embedding
cosine near-dup, and IVF-style ANN.

Together with llm.py's exact/jaccard/minhash family this completes the
dedup toolbox a training-data pipeline needs:

- exact (hash groupBy)           → llm.dedup_exact
- token-set jaccard, exact       → llm.dedup_near_jaccard
- MinHash+LSH (set similarity)   → llm.dedup_near_minhash
- SimHash (weighted fingerprint) → dedup_simhash (here)
- embedding cosine               → dedup_embed_cosine (exact baseline,
                                   here) / dedup_embed_lsh (LSH-blocked
                                   scale path, here)
- ANN search                     → ann_ivf_topk (here) vs brute-force
                                   llm.sim_search_topk
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_gp_import_spark.operators.llm import (
    JACCARD_PAIRS_SQL,
    QUERY_VEC_ID,
    TOPK,
    _dot,
    _dot_sql,
    _fetch_query_vector,
    _lit_vec_sql,
    _cosine,
    _norm,
    char_trigram_zip_expr,
)
from insight_gp_import_spark.operators.pairs import (
    bitmap_overlap,
    bounded_vocab,
    cosine_self_pairs,
    set_bitmaps,
)
from insight_gp_import_spark.registry import op, tracked_persist
from insight_gp_import_spark.tables import load_table, shuffle_width, spread_scan

CAT = "training-dedup"

SIMHASH_BITS = 60  # 30 md5-nibble sign bits from each of two salted md5s
SIMHASH_BANDS = 4  # 15 bits per band
SIMHASH_MAX_HAMMING = 3


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) 60-bit SimHash fingerprints.

    Bit b = sign of the per-doc Sum of +-1 votes, where token t votes
    +1 on bit b iff the b-th hex nibble of its salted md5 is >= '8'
    (the nibble high bit): bits 0-29 read md5(t), bits 30-59 read
    md5('simhash2:' || t). md5 nibbles are engine-portable (round-4:
    the original xxhash64 formulation had no DuckDB twin, which is the
    ONLY reason this op was rows-only), and 60 bits keeps every
    shiftleft below the 1<<63 sign trap (embed_binary_sign_pack's
    lesson). Term frequency weights votes (explode, no distinct) —
    classic Charikar SimHash.
    """
    # r12 (guide §1.2 per-task work): the sign-bit reads are INTEGER
    # ops, not 60 per-token substring comparisons. Each md5's first 30
    # hex nibbles are decoded once into two 60-bit longs via
    # conv(hex, 16, 10); nibble i (1-indexed in its 15-char chunk)
    # lands at bits [4·(15−i), 4·(15−i)+3], so its high bit — exactly
    # the old `substring(src, pos, 1) >= '8'` test, since md5 hex is
    # lowercase and '8'..'9' < 'a'..'f' in ASCII — is bit 63−4i.
    # The ±1 vote sum folds to 2·Σbit − n_tokens, so the aggregate is
    # 60 bit-extract sums plus one count, all codegen integer ops.
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        *[
            F.conv(F.substring(m, start, 15), 16, 10)
            .cast("long")
            .alias(f"h{c}")
            for c, (m, start) in enumerate(
                [
                    (F.md5("tok"), 1),
                    (F.md5("tok"), 16),
                    (F.md5(F.concat(F.lit("simhash2:"), F.col("tok"))), 1),
                    (F.md5(F.concat(F.lit("simhash2:"), F.col("tok"))), 16),
                ]
            )
        ],
    )

    def bit(b: int):
        pos = (b % 30) + 1  # 1-indexed nibble within its md5's first 30
        chunk = (2 if b >= 30 else 0) + (0 if pos <= 15 else 1)
        i = pos if pos <= 15 else pos - 15  # 1-indexed within the chunk
        return F.shiftright(F.col(f"h{chunk}"), 63 - 4 * i).bitwiseAND(
            F.lit(1)
        )

    bitsums = toks.groupBy("doc_id").agg(
        F.count("*").alias("nt"),
        *[F.sum(bit(b)).alias(f"s{b}") for b in range(SIMHASH_BITS)],
    )
    fp = None
    for b in range(SIMHASH_BITS):
        # sign of the ±1 vote sum: 2·Σbit − n > 0
        one = F.when(
            2 * F.col(f"s{b}") - F.col("nt") > 0, F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(one, b)
        fp = term if fp is None else fp + term
    return bitsums.select("doc_id", fp.alias("simhash"))


_SIMHASH_FP_SQL = f"""
    WITH stoks AS (
        SELECT doc_id,
               md5(t) AS m1,
               md5('simhash2:' || t) AS m2
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents)
    ), sums AS (
        SELECT doc_id, b.i AS bit,
               SUM(CASE WHEN substr(CASE WHEN b.i < 30 THEN m1 ELSE m2 END,
                               (b.i % 30) + 1, 1) >= '8'
                        THEN 1 ELSE -1 END) AS s
        FROM stoks, (SELECT unnest(range({SIMHASH_BITS})) AS i) b
        GROUP BY doc_id, b.i
    ), fp AS (
        SELECT doc_id,
               SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit
                        ELSE 0 END) AS h
        FROM sums GROUP BY doc_id
    )
"""


@op(
    "dedup_simhash",
    oracle=f"""
    {_SIMHASH_FP_SQL}
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h, b.h)) <= {SIMHASH_MAX_HAMMING}
    """,
    category=CAT,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (oracled r4; was rows-only solely because
    xxhash64 had no DuckDB twin — the fingerprint now reads md5-nibble
    sign bits, identical on both engines, see simhash_signatures).

    Near-dups = fingerprints within Hamming distance <= 3, found by
    LSH banding on 15-bit quarters (any identical quarter -> candidate;
    a pair with hamming <= 3 differs in <= 3 quarters, so >= 1 matches
    — banding is LOSSLESS at this threshold, unlike MinHash banding).
    The oracle is the NAIVE all-pairs hamming scan over independently
    recomputed fingerprints — a banding bug (wrong chunk math, lost
    candidates) hash-fails instantly.

    One exploded-token aggregation computes all 60 bit-sums map-side
    (partial agg); candidates self-join on (band, 15-bit chunk) with
    ids+fingerprint only; the final filter is one xor+bit_count. All
    JVM builtins.
    """
    # r12: persist the fingerprints — the banding candidate join is a
    # SELF-join of chunks, so the exploded-token 60-bit-sum aggregation
    # otherwise runs twice over the corpus (guide §2.4). 16 bytes/doc.
    sigs = tracked_persist(
        # spread_scan: the 64-bit-sum signature aggregation is per-row
        # heavy and the one-row-group scan would serialize it (r12).
        simhash_signatures(spread_scan(load_table(spark, sf_dir, "documents")))
    )
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 15 * i).bitwiseAND(F.lit(0x7FFF))
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "chunk"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(r, ["band", "chunk"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("d1"),
            F.col("r.doc_id").alias("d2"),
            F.col("l.simhash").alias("h1"),
            F.col("r.simhash").alias("h2"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        cand.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("d1", "d2", "hamming")
    )


EMBED_DUP_THRESHOLD = 0.4  # random synthetic embeddings: max pair sim ~0.51


@op(
    "dedup_embed_cosine",
    oracle=f"""
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           round(CAST(list_cosine_similarity(a.embedding, b.embedding)
                      AS DOUBLE), 4) AS sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE)
          > {EMBED_DUP_THRESHOLD}
    """,
    category=CAT,
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (semantic dedup): all pairs with
    cosine > threshold. Norms are precomputed per vector BEFORE the
    self-join so each pair costs one dot product. The quadratic join is
    the exact baseline ONLY — the registered 100 TB scale path is
    ``dedup_embed_lsh`` (same verify step, candidates blocked on shared
    LSH bucket codes instead of all pairs); this op exists as its
    ground-truth oracle and for small corpora.

    Library note (round 4): ``insight_gp_import_spark.dedup.
    embed_dup_pairs`` defaults to the LSH-blocked plan; this all-pairs
    twin is opt-in via ``exact=True``."""
    return embed_allpairs_cosine(load_table(spark, sf_dir, "embeddings"))


def embed_allpairs_cosine(emb: DataFrame) -> DataFrame:
    """Exact all-pairs cosine > threshold over a (vec_id, embedding)
    frame — the quadratic ground-truth twin of ``embed_lsh_pairs``.

    The pairs come from the blocked-GEMM kernel
    :func:`~insight_gp_import_spark.operators.pairs.cosine_self_pairs`
    (1.5 s at sf0.1's 2000×64 corpus, against 83 s for a
    BroadcastNestedLoopJoin over an interpreted zip_with/aggregate
    fold). The raw sim is compared with the threshold and rounded by
    F.round in the plan, so rounding semantics are Spark's."""
    cand = cosine_self_pairs(emb, SWEEP_BLOCK, EMBED_DUP_THRESHOLD, lambda s: s)
    return cand.select("v1", "v2", F.round("sim", 4).alias("sim"))


N_CENTROIDS = 16
N_PROBE = 4

IVF_Q_SCALE = 10**6  # per-component quantization — integer-exact dots
IVF_SIM_SCALE = 10**9  # assignment-similarity quantization (round-9)

_IVF_QV_SQL = (
    "transform(embedding, x -> "
    f"cast(floor(cast(x as double) * {IVF_Q_SCALE} + 0.5D) as bigint))"
)
# (dot/s)*scale evaluated left-to-right: identical double ops in both
# engines given identical integer inputs (int->double exact < 2^53,
# *, /, sqrt all correctly rounded IEEE).
_IVF_SIMQ_SPARK = (
    "cast(floor(dot / sqrt(cast(nsq as double) * cast(cnsq as double))"
    f" * {IVF_SIM_SCALE}.0D + 0.5D) as bigint)"
)

_IVF_ASSIGN_CTE = f"""
    comp AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {IVF_Q_SCALE}
                          + 0.5) AS BIGINT) AS qv
        FROM embeddings
    ), vnorm AS (
        SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS nsq
        FROM comp GROUP BY 1
    ), cdots AS (
        SELECT v.vec_id, c.vec_id AS centroid_id,
               CAST(sum(v.qv * c.qv) AS BIGINT) AS dot
        FROM comp v JOIN comp c ON c.d = v.d AND c.vec_id < {N_CENTROIDS}
        GROUP BY 1, 2
    ), csims AS (
        SELECT t.vec_id, t.centroid_id,
               CAST(floor(t.dot / sqrt(CAST(nv.nsq AS DOUBLE)
                                       * CAST(nc.nsq AS DOUBLE))
                          * {IVF_SIM_SCALE}.0 + 0.5) AS BIGINT) AS simq
        FROM cdots t
        JOIN vnorm nv ON nv.vec_id = t.vec_id
        JOIN vnorm nc ON nc.vec_id = t.centroid_id
    )"""

ANN_IVF_TOPK_SQL = f"""
    WITH {_IVF_ASSIGN_CTE},
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY simq DESC, centroid_id) AS rk
            FROM csims) WHERE rk = 1
    ), probe AS (
        SELECT centroid_id FROM csims WHERE vec_id = {QUERY_VEC_ID}
        ORDER BY simq DESC, centroid_id LIMIT {N_PROBE}
    ), qdots AS (
        SELECT v.vec_id, CAST(sum(v.qv * q.qv) AS BIGINT) AS dot
        FROM comp v JOIN comp q ON q.d = v.d AND q.vec_id = {QUERY_VEC_ID}
        GROUP BY 1
    ), qsims AS (
        SELECT t.vec_id,
               CAST(floor(t.dot / sqrt(CAST(nv.nsq AS DOUBLE)
                                       * CAST(nq.nsq AS DOUBLE))
                          * {IVF_SIM_SCALE}.0 + 0.5) AS BIGINT) AS qsimq
        FROM qdots t
        JOIN vnorm nv ON nv.vec_id = t.vec_id
        JOIN vnorm nq ON nq.vec_id = {QUERY_VEC_ID}
    )
    SELECT e.vec_id, e.label,
           CAST(floor(qs.qsimq / {IVF_SIM_SCALE // 10**4}.0 + 0.5) AS BIGINT)
               / 10000.0 AS sim
    FROM embeddings e
    JOIN assign a ON a.vec_id = e.vec_id
                 AND a.centroid_id IN (SELECT centroid_id FROM probe)
    JOIN qsims qs ON qs.vec_id = e.vec_id
    WHERE e.vec_id != {QUERY_VEC_ID}
    ORDER BY qs.qsimq DESC, e.vec_id
    LIMIT {TOPK}
    """


def _ivf_csims(emb: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, simq): quantized cosine of every vector
    against every coarse centroid, as an exact BIGINT sort key.

    Centroids are the first N_CENTROIDS corpus vectors — the
    deterministic stand-in for an offline k-means (the assignment /
    probe machinery is identical; Lloyd iterations would only move the
    centroid VALUES). Components are quantized to integers once, so
    each dot is an exact BIGINT fold whose value cannot depend on
    summation order, and the one float step (divide by the norm
    product, scale, floor) maps identical integers through identical
    IEEE ops in Spark, DuckDB, and driver-side Python — that is what
    makes bucket assignment oracle-able (round-5 upgrade of the
    former rows-only float-argmax version).

    Scale shape: the candidate relation carries (vec_id, centroid_id,
    simq) ONLY — embeddings never fan out 16x; the 16-row centroid
    side broadcasts.
    """
    q = emb.select("vec_id", F.expr(_IVF_QV_SQL).alias("qv")).withColumn(
        "nsq",
        F.expr("aggregate(zip_with(qv, qv, (p, q) -> p * q), 0L, (acc, v) -> acc + v)"),
    )
    cents = q.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("qv").alias("cqv"),
        F.col("nsq").alias("cnsq"),
    )
    return (
        q.crossJoin(F.broadcast(cents))
        .withColumn(
            "dot",
            F.expr("aggregate(zip_with(qv, cqv, (p, q) -> p * q), 0L, (acc, v) -> acc + v)"),
        )
        .withColumn("simq", F.expr(_IVF_SIMQ_SPARK))
        .select("vec_id", "centroid_id", "simq")
    )


@op("ann_ivf_topk", oracle=ANN_IVF_TOPK_SQL, category=CAT)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest-neighbor top-k.

    Scale path for sim_search_topk: vectors are bucketed by nearest
    coarse centroid (inverted file); the query probes only its
    N_PROBE closest centroids' buckets, scanning ~N_PROBE/N_CENTROIDS
    of the corpus. At 100 TB the assignment is precomputed at ingest
    and the probe is a partition-pruned scan (bucket = partition key),
    so query cost is independent of corpus size growth across buckets.

    Assignment, probe, AND the final candidate ranking all use the
    integer-quantized similarity (_ivf_csims construction): quantized
    components make every dot an exact BIGINT, and the single float
    step maps identical integers through identical IEEE ops in both
    engines — so top-k MEMBERSHIP is exactly reproducible, not just
    the structure (round-6 advice: the former raw-float final ranking
    could flip the selected set on sub-1e-7 boundary ties between
    Spark doubles and DuckDB float32 cosines). The displayed sim is a
    round-4 view derived FROM the quantized key (floor-div in integer
    space), never a separately-computed float. Probing all centroids
    still reproduces brute-force top-k at 4-dp resolution
    (unit-tested); quantization error is ~1e-6 per component, three
    orders below the display precision.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    csims = _ivf_csims(emb)
    probe_ids = [
        r.centroid_id
        for r in csims.filter(F.col("vec_id") == QUERY_VEC_ID)
        .orderBy(F.desc("simq"), "centroid_id")
        .limit(N_PROBE)
        .collect()
    ]
    w = Window.partitionBy("vec_id").orderBy(F.desc("simq"), "centroid_id")
    cand_ids = (
        csims.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") == 1)
        .filter(F.col("centroid_id").isin(probe_ids))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
    )
    qvec = _fetch_query_vector(sf_dir, QUERY_VEC_ID)
    # quantize the query exactly as the engines quantize stored vectors:
    # floor(double(x) * SCALE + 0.5) — identical IEEE ops driver-side
    qq = [math.floor(float(x) * IVF_Q_SCALE + 0.5) for x in qvec]
    qnsq = sum(v * v for v in qq)
    qlit = "array(" + ",".join(f"{v}L" for v in qq) + ")"
    disp_div = IVF_SIM_SCALE // 10**4
    return (
        emb.select("vec_id", "label", F.expr(_IVF_QV_SQL).alias("qv"))
        .withColumn(
            "nsq",
            F.expr(
                "aggregate(zip_with(qv, qv, (p, q) -> p * q),"
                " 0L, (acc, v) -> acc + v)"
            ),
        )
        .join(cand_ids, "vec_id")
        .withColumn(
            "dot",
            F.expr(
                f"aggregate(zip_with(qv, {qlit}, (p, q) -> p * q),"
                " 0L, (acc, v) -> acc + v)"
            ),
        )
        .withColumn(
            "qsimq",
            F.expr(
                "cast(floor(dot / sqrt(cast(nsq as double)"
                f" * cast({qnsq}L as double))"
                f" * {IVF_SIM_SCALE}.0D + 0.5D) as bigint)"
            ),
        )
        .orderBy(F.desc("qsimq"), "vec_id")
        .limit(TOPK)
        .select(
            "vec_id",
            "label",
            F.expr(
                f"cast(floor(qsimq / {disp_div}.0D + 0.5D) as bigint)"
                " / 10000.0D"
            ).alias("sim"),
        )
    )


NGRAM_K = 3
# jaccard > 0.9, expressed in integers: 10*shared > 9*union, and the
# AllPairs prefix length L = n - ceil(0.9 n) + 1 = n - (9n+9) div 10 + 1.
# Pure integer arithmetic on BOTH engines — no float ceil() divergence.
NGRAM_T_NUM, NGRAM_T_DEN = 9, 10
# verification-stage salting: pairs whose SMALLER side exceeds
# NGRAM_SPLIT_GRAMS route to the banded verify — their grams hash into
# NGRAM_VERIFY_BANDS bands so one giant intersection becomes B
# band-parallel rows (the sum of per-band partial counts is the exact
# intersection size; routing never changes the result, only the
# task-level distribution)
NGRAM_SPLIT_GRAMS = 4096
NGRAM_VERIFY_BANDS = 16


@op(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH grams AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, length(text) - {NGRAM_K - 1}),
                                     i -> substr(text, i, {NGRAM_K}))) AS g
        FROM documents
        WHERE n_chars >= {NGRAM_K}
    ), freq AS (
        SELECT g, count(*) AS dfreq FROM grams GROUP BY g
    ), ranked AS (
        SELECT g, row_number() OVER (ORDER BY dfreq, g) AS grank FROM freq
    ), gd AS (
        SELECT doc_id, grams.g, grank FROM grams JOIN ranked ON grams.g = ranked.g
    ), sized AS (
        SELECT doc_id, count(*) AS n FROM gd GROUP BY doc_id
    ), pos AS (
        SELECT doc_id, g,
               row_number() OVER (PARTITION BY doc_id ORDER BY grank) AS pos
        FROM gd
    ), pref AS (
        SELECT p.doc_id, p.g, s.n
        FROM pos p JOIN sized s ON p.doc_id = s.doc_id
        WHERE p.pos <= s.n - (({NGRAM_T_NUM} * s.n + {NGRAM_T_NUM}) // {NGRAM_T_DEN}) + 1
    ), cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM pref a JOIN pref b ON a.g = b.g
        WHERE a.doc_id < b.doc_id
          AND {NGRAM_T_DEN} * least(a.n, b.n) >= {NGRAM_T_NUM} * greatest(a.n, b.n)
    ), sets AS (
        SELECT doc_id, list(g) AS gs, count(*) AS n FROM gd GROUP BY doc_id
    )
    SELECT d1, d2, round(shared * 1.0 / (n1 + n2 - shared), 4) AS jaccard
    FROM (
        SELECT d1, d2, len(list_intersect(s1.gs, s2.gs)) AS shared,
               s1.n AS n1, s2.n AS n2
        FROM cand
        JOIN sets s1 ON cand.d1 = s1.doc_id
        JOIN sets s2 ON cand.d2 = s2.doc_id
    )
    WHERE {NGRAM_T_DEN} * shared > {NGRAM_T_NUM} * (n1 + n2 - shared)
    """,
    category=CAT,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character {NGRAM_K}-gram Jaccard near-dup pairs (> 0.9), EXACT,
    via AllPairs prefix filtering (Bayardo et al., WWW'07) — the
    scalable exact similarity join.

    Order all grams globally by (document frequency asc, gram asc);
    a pair with jaccard ≥ t must share its globally-smallest common
    gram within BOTH prefixes of length n - ceil(t·n) + 1, so joining
    only the prefixes (≈ n/10 of each doc's grams, and the RAREST ones
    — tiny join groups) finds every candidate; exact verification runs
    on candidates only. At 100 TB this turns the quadratic gram join
    into one proportional to true near-duplication.
    """
    cand, gd = ngram_candidates(spark, sf_dir)
    # VERIFICATION. Measured on the 10x corpus (129 M candidate pairs),
    # the wall is shuffle VOLUME: each candidate carries two gram sets
    # through the verify join. One bounded vocabulary probe (plan
    # choice only, never results) picks the representation:
    #
    # - SMALL VOCABULARY (V <= pairs.BITMAP_MAX_VOCAB): each doc's gram
    #   set becomes a fixed-width bitmap (ceil(V/64) longs, 11 words at
    #   the 10x corpus's V=648 against ~1.7 KB gram arrays), verified by
    #   popcount(AND): ~20x less shuffle, O(V/64) per pair, and doc size
    #   no longer matters, so no giant-pair routing is needed.
    # - LARGE VOCABULARY (word/shingle spaces): bitmaps would dwarf the
    #   sets, so keep packed-gram arrays and SIZE-ROUTE giant pairs into
    #   hash-banded partial intersections (_ngram_verify_routed).
    #
    # Both compute the identical exact `shared`. cs (ids + sizes only)
    # is persisted because the verify, and in the routed branch both its
    # halves, consume it; without it each consumer recomputes the whole
    # AllPairs candidate join (measured 2x verify wall at 1x SF).
    cs = tracked_persist(cand)
    vocab = bounded_vocab(gd.select("g"))
    if vocab is None:
        verified = _ngram_verify_routed(cs, gd)
    else:
        bm = set_bitmaps(gd, ["doc_id"], "g", vocab)
        b1 = bm.select(F.col("doc_id").alias("d1"), F.col("bm").alias("bm1"))
        b2 = bm.select(F.col("doc_id").alias("d2"), F.col("bm").alias("bm2"))
        verified = (
            cs.join(b1, "d1")
            .join(b2, "d2")
            .select(
                "d1",
                "d2",
                "n1",
                "n2",
                bitmap_overlap("bm1", "bm2").cast("bigint").alias("shared"),
            )
        )
    union = F.col("n1") + F.col("n2") - F.col("shared")
    return (
        verified.withColumn("union_n", union)
        .filter(NGRAM_T_DEN * F.col("shared") > NGRAM_T_NUM * F.col("union_n"))
        .select(
            "d1",
            "d2",
            F.round(F.col("shared") / F.col("union_n"), 4).alias("jaccard"),
        )
    )


def _ngram_verify_routed(cs: DataFrame, gd: DataFrame) -> DataFrame:
    """Exact candidate verification for LARGE gram vocabularies:
    packed-gram arrays with giant pairs split into hash-banded partial
    intersections (sum of per-band counts == exact intersection size
    because the bands partition the gram space).

    Grams are INT-PACKED here — {NGRAM_K} codepoints x 21 bits
    injectively into one BIGINT — so the per-pair set arrays shuffle
    8-byte longs instead of string cells (the measured spill driver)
    and array_intersect compares longs. Packing happens in THIS branch
    only, on the ~|distinct (doc, gram)| relation, not at the explode
    site where it would run on every gram POSITION (measured: +35 s on
    the 10x candidates stage for nothing when the bitmap branch wins
    anyway)."""
    pack = (
        "cast(ascii(substring(g, 1, 1)) as bigint) * 4398046511104"
        " + ascii(substring(g, 2, 1)) * 2097152"
        " + ascii(substring(g, 3, 1))"
    )
    gd = gd.select("doc_id", F.expr(pack).alias("g"))
    small_pairs = cs.filter(F.least("n1", "n2") <= NGRAM_SPLIT_GRAMS)
    large_pairs = cs.filter(F.least("n1", "n2") > NGRAM_SPLIT_GRAMS)

    sets = gd.groupBy("doc_id").agg(F.collect_set("g").alias("gs"))
    s1 = sets.select(F.col("doc_id").alias("d1"), F.col("gs").alias("gs1"))
    s2 = sets.select(F.col("doc_id").alias("d2"), F.col("gs").alias("gs2"))
    small = (
        small_pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1", "d2", "n1", "n2",
            F.size(F.array_intersect("gs1", "gs2")).cast("bigint").alias("shared"),
        )
    )

    large_docs = (
        large_pairs.select(F.col("d1").alias("doc_id"))
        .union(large_pairs.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    banded = (
        gd.join(large_docs, "doc_id")
        .withColumn("band", F.pmod(F.hash("g"), F.lit(NGRAM_VERIFY_BANDS)))
        .groupBy("doc_id", "band")
        .agg(F.collect_set("g").alias("gs"))
    )
    b1 = banded.select(
        F.col("doc_id").alias("d1"), "band", F.col("gs").alias("gs1")
    )
    b2 = banded.select(
        F.col("doc_id").alias("d2"), "band", F.col("gs").alias("gs2")
    )
    banded_sums = (
        large_pairs.select("d1", "d2")
        .join(b1, "d1")
        .join(b2, ["d2", "band"])
        .select(
            "d1", "d2",
            F.size(F.array_intersect("gs1", "gs2")).alias("sh"),
        )
        .groupBy("d1", "d2")
        .agg(F.sum("sh").cast("bigint").alias("shared"))
    )
    # LEFT join from large_pairs (r8 ADVICE): a pair whose banded
    # intersection is empty emits no banded_sums row at all — an inner
    # join would silently DROP it, when exact verification must return
    # shared = 0. dedup_ngram_jaccard's downstream filter requires
    # shared > 0 either way, but this helper is the exact-verify
    # primitive and must be total over its candidate input.
    large = (
        large_pairs.select("d1", "d2", "n1", "n2")
        .join(banded_sums, ["d1", "d2"], "left")
        .select(
            "d1", "d2", "n1", "n2",
            F.coalesce(F.col("shared"), F.lit(0).cast("bigint")).alias("shared"),
        )
    )
    return small.unionByName(large)



def ngram_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """AllPairs prefix-filter candidate stage of ``dedup_ngram_jaccard``
    (cand, gd) — exposed (round-7 verdict item 3) so the sf1 scale
    stress can measure candidate volume separately from verified pairs.
    Pure code motion; the op's plan is unchanged."""
    # r12: the sf corpora are one-row-group parquet — the scan is a
    # single task and the gram explode below serialized on one core
    # (measured 1.9 s of the op's 7.3 s at sf0.1). spread_scan fans the
    # 5k docs across the session's cores; no-op at production split
    # counts.
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").filter(
            F.col("n_chars") >= NGRAM_K
        )
    )
    # r12 (guide §1.2): gram generation via one split + zip_with — the
    # per-element substring form re-seeks UTF-8 offsets, O(len²)/doc
    # (see llm.char_trigram_zip_expr; measured 1.8× on this stage).
    grams = (
        docs.select("doc_id", F.split("text", "").alias("cs"))
        .select(
            "doc_id",
            F.explode(F.expr(char_trigram_zip_expr("cs"))).alias("g"),
        )
        .distinct()
    )
    freq = grams.groupBy("g").agg(F.count("*").alias("dfreq"))
    # Rarest-first order per doc comes straight from the (dfreq, g)
    # tuple inside the per-doc window — never a global rank, which
    # would be an un-partitioned Window.orderBy: a single-task sort of
    # the whole gram-frequency table (billions of rows at 100 TB). The
    # dfreq join reuses the groupBy's g-partitioning (no broadcast
    # hint: AQE converts when the vocab is actually small).
    #
    # r12 optimization (guide §5: cache what many consumers reuse):
    # gd is consumed by FOUR independent subtrees (sized, pos, and the
    # caller's verify reads it once or twice) and Spark reuses none of
    # them (measured: the pre-persist plan held 24 parquet scans and
    # 12 Generate nodes — the full text-explode re-run per consumer,
    # 0 ReusedExchange). Persisting the (doc_id, gram, dfreq) relation
    # — ids and 3-char grams, never the text payload — computes the
    # explode+distinct+freq join ONCE; MEMORY_AND_DISK spills instead
    # of OOMing at scale, and the registry flushes it at the next op.
    gd = tracked_persist(grams.join(freq, "g"))
    sized = gd.groupBy("doc_id").agg(F.count("*").alias("n"))
    pos = gd.select(
        "doc_id",
        "g",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("dfreq", "g"))
        .alias("pos"),
    )
    prefix_len = F.col("n") - F.expr(
        f"({NGRAM_T_NUM} * n + {NGRAM_T_NUM}) div {NGRAM_T_DEN}"
    ) + 1
    # pref feeds BOTH sides of the candidate self-join; without a
    # persist the per-doc window + size join runs twice (same measured
    # no-reuse behavior as gd above). ~n/10 of the grams — tiny.
    pref = tracked_persist(
        pos.join(sized, "doc_id")
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "g", "n", "pos")
    )
    a = pref.select(
        F.col("doc_id").alias("d1"),
        "g",
        F.col("n").alias("pn1"),
        F.col("pos").alias("p1"),
    )
    b = pref.select(
        F.col("doc_id").alias("d2"),
        "g",
        F.col("n").alias("pn2"),
        F.col("pos").alias("p2"),
    )
    # length filter (part of AllPairs): J ≥ t forces set sizes within
    # t — prune size-incompatible pairs inside the join, before the
    # expensive distinct+verify (3× wall-clock here; lossless)
    #
    # POSITIONAL filter (round 9 — PPJoin, Xiao et al., WWW'08): for a
    # qualifying pair let g* be its smallest shared gram in the global
    # (dfreq, g) order that lands in BOTH prefixes. Positions are
    # per-doc ranks in that same total order, so g* attains min(p1)
    # AND min(p2) simultaneously over the pair's matched rows — and
    # every shared gram smaller than a both-prefix match is itself a
    # both-prefix match (if u < w with w inside a prefix, u's position
    # is smaller still on both sides), so the overlap BEFORE g* is
    # exactly zero. Hence overlap ≤ 1 + min(n1 − min p1, n2 − min p2);
    # pairs whose bound can't reach the threshold's minimum overlap
    # o_min = ⌊NUM·(n1+n2)/(NUM+DEN)⌋ + 1 (strict J > t) are pruned
    # LOSSLESSLY before they ever reach the verify join. The groupBy
    # replaces the old .distinct() — same shuffle key, two extra ints
    # per row — and cand now carries (n1, n2), saving the caller two
    # size joins at candidate cardinality.
    o_min = F.expr(
        f"({NGRAM_T_NUM} * (n1 + n2)) div {NGRAM_T_NUM + NGRAM_T_DEN} + 1"
    )
    cand = (
        a.join(b, "g")
        .filter(
            (F.col("d1") < F.col("d2"))
            & (
                NGRAM_T_DEN * F.least("pn1", "pn2")
                >= NGRAM_T_NUM * F.greatest("pn1", "pn2")
            )
        )
        .groupBy("d1", "d2")
        .agg(
            F.min("pn1").alias("n1"),
            F.min("pn2").alias("n2"),
            F.min("p1").alias("mp1"),
            F.min("p2").alias("mp2"),
        )
        .filter(
            1 + F.least(F.col("n1") - F.col("mp1"), F.col("n2") - F.col("mp2"))
            >= o_min
        )
        .select("d1", "d2", "n1", "n2")
    )
    return cand, gd


# --- signed-random-projection LSH ANN (complements ann_ivf_topk) ------------

LSH_TABLES = 8
LSH_BITS = 8
_LSH_DIM = 64


LSH_Q_SCALE = 10**6  # per-component quantization for integer-exact dots
# components quantized ONCE, then every hyperplane dot is an exact
# BIGINT sum of +-qv — the sign can never depend on float summation
# order, which is what makes the bucket codes portable enough to
# oracle (round-4 upgrade; raw-float dots were summation-order-
# dependent in principle even though md5 planes were deterministic)
_LSH_QV_SQL = (
    "transform(embedding, x -> "
    f"cast(floor(cast(x as double) * {LSH_Q_SCALE} + 0.5D) as bigint))"
)


def _lsh_planes() -> list[list[int]]:
    """LSH_TABLES x LSH_BITS deterministic +-1 hyperplanes, derived from
    md5 so every run (and every engine) sees the same planes — no RNG
    (SURVEY.md §2.X rule 5). Integer-valued: dots against quantized
    components stay in exact BIGINT arithmetic."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"lsh:{t}:{b}:{d}".encode()).digest()[0] % 2 == 0
            else -1
            for d in range(_LSH_DIM)
        ]
        for t in range(LSH_TABLES)
        for b in range(LSH_BITS)
    ]


def _lsh_code_cols(planes: list[list[int]]) -> list:
    """One LSH bucket-code column per table: bit b of table t's code =
    sign(qv · plane[t*B+b]) over the ``lsh_qv`` quantized-component
    column (callers add it via ``_LSH_QV_SQL``). All JVM-side
    expressions; every dot is an exact BIGINT fold."""
    cols = []
    for t in range(LSH_TABLES):
        code = F.lit(0).cast("long")
        for b in range(LSH_BITS):
            plane = planes[t * LSH_BITS + b]
            sgn = "array(" + ", ".join(f"{x}L" for x in plane) + ")"
            dot = F.expr(
                f"aggregate(zip_with(lsh_qv, {sgn}, (p, q) -> p * q),"
                " 0L, (acc, v) -> acc + v)"
            )
            code = code + (
                F.when(dot > 0, F.lit(1 << b)).otherwise(0).cast("long")
            )
        cols.append(code.alias(f"lsh_code{t}"))
    return cols


def lsh_topk(
    spark: SparkSession, sf_dir: str, *, probe_all: bool = False
) -> DataFrame:
    """Library form of ann_lsh_topk with a ``probe_all`` escape hatch:
    True disables bucket pruning, making the result provably identical
    to brute-force ``sim_search_topk`` (unit-tested)."""
    import math

    planes = _lsh_planes()
    qvec = _fetch_query_vector(sf_dir, QUERY_VEC_ID)
    qq = [math.floor(x * LSH_Q_SCALE + 0.5) for x in qvec]
    qcodes = [
        sum(
            (1 << b)
            for b in range(LSH_BITS)
            if sum(a * c for a, c in zip(qq, planes[t * LSH_BITS + b])) > 0
        )
        for t in range(LSH_TABLES)
    ]
    emb = load_table(spark, sf_dir, "embeddings")
    coded = emb.withColumn("lsh_qv", F.expr(_LSH_QV_SQL)).select(
        "vec_id", "label", "embedding", *_lsh_code_cols(planes)
    )
    if probe_all:
        cand = coded
    else:
        match = None
        for t in range(LSH_TABLES):
            m = F.col(f"lsh_code{t}") == F.lit(qcodes[t])
            match = m if match is None else (match | m)
        cand = coded.filter(match)
    qn = sum(x * x for x in qvec) ** 0.5
    sim = F.expr(
        f"{_dot_sql('embedding', _lit_vec_sql(qvec))}"
        f" / (sqrt({_dot_sql('embedding', 'embedding')}) * {qn!r}D)"
    )
    return (
        cand.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("raw_sim", sim)
        .orderBy(F.desc("raw_sim"), "vec_id")
        .limit(TOPK)
        .select("vec_id", "label", F.round("raw_sim", 4).alias("sim"))
    )


_LSH_CODES_CTE = f"""
    planes AS (
        SELECT t.range AS t, b.range AS b, d.range AS d,
               CASE WHEN substr(md5('lsh:' || t.range || ':' || b.range
                                    || ':' || d.range), 2, 1)
                    IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1
                    END AS sgn
        FROM range({LSH_TABLES}) t, range({LSH_BITS}) b, range({_LSH_DIM}) d
    ), comp AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {LSH_Q_SCALE}
                          + 0.5) AS BIGINT) AS qv
        FROM embeddings
    ), bits AS (
        SELECT c.vec_id, p.t, p.b, CAST(sum(p.sgn * c.qv) AS BIGINT) AS s
        FROM comp c JOIN planes p ON p.d = c.d
        GROUP BY 1, 2, 3
    ), codes AS (
        SELECT vec_id, t,
               CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS BIGINT) AS code
        FROM bits GROUP BY 1, 2
    )"""


ANN_LSH_TOPK_SQL = f"""
    WITH {_LSH_CODES_CTE},
    qcodes AS (SELECT t, code FROM codes WHERE vec_id = {QUERY_VEC_ID}),
    cand AS (
        SELECT DISTINCT c.vec_id
        FROM codes c JOIN qcodes q ON q.t = c.t AND q.code = c.code
        WHERE c.vec_id != {QUERY_VEC_ID}
    ), q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label,
           round(CAST(list_cosine_similarity(e.embedding, q.embedding)
                      AS DOUBLE), 4) AS sim
    FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
    ORDER BY CAST(list_cosine_similarity(e.embedding, q.embedding)
                  AS DOUBLE) DESC, e.vec_id
    LIMIT {TOPK}
    """


@op("ann_lsh_topk", oracle=ANN_LSH_TOPK_SQL, category=CAT)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via signed-random-projection LSH (rows-only: bucket
    pruning is approximate by design, so no SQL oracle).

    LSH_TABLES hash tables x LSH_BITS bits: bit = sign of the dot with a
    deterministic md5-derived +-1 hyperplane; a vector is a candidate iff
    it shares at least one table's full bucket code with the query. The
    candidate set is then ranked by exact cosine.

    Scale shape: codes are computed in the scan projection (JVM
    expressions, no shuffle); for a SINGLE query the bucket match is a
    pushable OR-of-equalities scan filter, for a query BATCH it becomes
    an equi-join on (table, bucket) — either way the brute-force scan
    over the full corpus is replaced by ~corpus/2^LSH_BITS per table.
    Recall depends on data geometry: on true near-duplicates (cosine
    near 1, the dedup use case) bucket-collision probability per table
    is (1 - theta/pi)^LSH_BITS ~ 1; on this synthetic corpus the best
    match to the query is only cosine 0.37, so tests assert structural
    contracts (planted near-dup retrieved; probe_all == brute force)
    rather than data-dependent recall.
    """
    return lsh_topk(spark, sf_dir)


def embed_lsh_pairs(emb: DataFrame, *, probe_all: bool = False) -> DataFrame:
    """Library form of ``dedup_embed_lsh``: LSH-blocked embedding
    near-dup pairs over any (vec_id, embedding) DataFrame.

    ``probe_all=True`` disables bucket blocking, making the result
    provably identical to the all-pairs ``dedup_embed_cosine``
    (unit-tested) — the same escape hatch ``lsh_topk`` exposes.
    """
    planes = _lsh_planes()
    coded = emb.withColumn("lsh_qv", F.expr(_LSH_QV_SQL)).select(
        "vec_id", *_lsh_code_cols(planes)
    )
    if probe_all:
        a = coded.select(F.col("vec_id").alias("v1"))
        b = coded.select(F.col("vec_id").alias("v2"))
        cand = a.join(b, F.col("v1") < F.col("v2"))
    else:
        # (vec_id, table, code) rows ONLY — the embedding payload stays
        # out of the banding shuffle; it is joined back for verification
        # r12 (guide §2.4): persisted — the candidate join is a
        # SELF-join of bands, so the 8 hyperplane code projections
        # otherwise evaluate twice over the corpus.
        bands = tracked_persist(
            coded.select(
                "vec_id",
                F.posexplode(
                    F.array(*[F.col(f"lsh_code{t}") for t in range(LSH_TABLES)])
                ).alias("tbl", "code"),
            )
        )
        l, r = bands.alias("l"), bands.alias("r")
        cand = (
            l.join(r, ["tbl", "code"])
            .filter(F.col("l.vec_id") < F.col("r.vec_id"))
            .select(
                F.col("l.vec_id").alias("v1"), F.col("r.vec_id").alias("v2")
            )
            .dropDuplicates(["v1", "v2"])
        )
    # r12: persisted — consumed by BOTH verification join sides, so
    # the scan + norm computation otherwise runs twice.
    sides = tracked_persist(
        emb.select("vec_id", "embedding", _norm("embedding").alias("nrm"))
    )
    g1 = sides.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    g2 = sides.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cand.join(g1, "v1")
        .join(g2, "v2")
        .withColumn("sim", _dot("ea", "eb") / (F.col("na") * F.col("nb")))
        .filter(F.col("sim") > EMBED_DUP_THRESHOLD)
        .select("v1", "v2", F.round("sim", 4).alias("sim"))
    )


DEDUP_EMBED_LSH_SQL = f"""
    WITH {_LSH_CODES_CTE},
    cand AS (
        SELECT DISTINCT l.vec_id AS v1, r.vec_id AS v2
        FROM codes l JOIN codes r
          ON l.t = r.t AND l.code = r.code AND l.vec_id < r.vec_id
    )
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           round(CAST(list_cosine_similarity(a.embedding, b.embedding)
                      AS DOUBLE), 4) AS sim
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.v1
    JOIN embeddings b ON b.vec_id = c.v2
    WHERE CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE)
          > {EMBED_DUP_THRESHOLD}
    """


@op("dedup_embed_lsh", oracle=DEDUP_EMBED_LSH_SQL, category=CAT)
def dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with LSH bucket blocking — the
    registered 100 TB scale path for semantic dedup (rows-only: bucket
    blocking is approximate by design).

    Candidates are pairs sharing at least one of LSH_TABLES full
    signed-random-projection bucket codes (reusing ann_lsh_topk's
    deterministic md5-derived hyperplanes); exact cosine verification
    runs on candidates only, so precision vs dedup_embed_cosine is 1.0
    by construction and recall is the quality metric.

    Scale shape: codes are scan-projection expressions (no shuffle);
    the banding shuffle carries (vec_id, table, code) triples — never
    the embedding payload, which joins back only for the ~true-dup-
    proportional candidate set. Candidate volume per table is bounded
    by bucket occupancy (corpus / 2^LSH_BITS on spread data); widen
    LSH_BITS to trade recall for sparser buckets. At the true near-dup
    operating point (cosine ≥ 0.9, the dedup use case) per-table
    collision is ≈ (1 − θ/π)^8 ≈ 0.29, so 8 tables give ≈ 0.94 recall;
    unit tests pin the probe_all≡all-pairs identity, precision 1.0, and
    planted-near-dup retrieval rather than data-dependent recall on
    this synthetic corpus (whose 0.4-threshold pairs are far below the
    real operating point).
    """
    return embed_lsh_pairs(load_table(spark, sf_dir, "embeddings"))


EMBED_DIM = 64
OUTLIER_SIM_THRESHOLD = 0.1


@op(
    "embed_outlier_centroid",
    oracle=f"""
    WITH dims AS (
        SELECT label, i, sum(embedding[i]) AS c
        FROM embeddings, generate_series(1, {EMBED_DIM}) AS t(i)
        GROUP BY label, i
    ), cents AS (
        SELECT label, list(c ORDER BY i) AS cent FROM dims GROUP BY label
    )
    SELECT e.vec_id, e.label,
           round(CAST(list_cosine_similarity(
                     CAST(e.embedding AS DOUBLE[]), c.cent) AS DOUBLE),
                 4) AS sim,
           round(CAST(list_cosine_similarity(
                     CAST(e.embedding AS DOUBLE[]), c.cent) AS DOUBLE),
                 4) < {OUTLIER_SIM_THRESHOLD} AS is_outlier
    FROM embeddings e JOIN cents c USING (label)
    """,
    category=CAT,
)
def embed_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation: flag examples far from their class
    centroid (mislabeled / noisy candidates). Cosine to the per-label
    SUM vector — same direction as the mean, so the similarity is
    identical and no count division enters the float math.

    Scale shape: the centroid agg is one map-side-combined shuffle of
    {EMBED_DIM} partial sums per label (bytes ∝ labels × dim, not
    rows); centroids broadcast back; per-row cosine is JVM zip_with /
    aggregate math inside the scan stage. The outlier flag compares
    the ROUNDED similarity in both engines, so flag parity follows
    from sim parity (float-sum ordering drift lives below the 4th
    decimal).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.groupBy("label").agg(
        F.array(
            *[F.sum(F.col("embedding").getItem(i)) for i in range(EMBED_DIM)]
        ).alias("cent")
    )
    sim = F.round(_cosine("embedding", "cent"), 4)
    return (
        emb.join(F.broadcast(cents), "label")
        .select(
            "vec_id",
            "label",
            sim.alias("sim"),
            (sim < OUTLIER_SIM_THRESHOLD).alias("is_outlier"),
        )
    )


# DuckDB-side connected components for the cluster-family oracles —
# r10 bounded reformulation (r9 verdict item 5). The original
# `WITH RECURSIVE walk(node, label)` spec enumerates EVERY (node,
# reaching-label) pair, i.e. Θ(Σ |C|²) rows — at the 10× corpus the
# near-dup graph has ~49.8 M directed edges and clique-like components
# of ~10³ members, so the walk spilled >70 GB and never completed
# (PARITY_r09). This builder unrolls min-label propagation + pointer
# jumping instead: per round, (a) every node takes the min label over
# its closed neighborhood (one |E|-row join), then (b) chases its
# label's label (one |V|-row join) — reach grows geometrically, so
# CC_ORACLE_ROUNDS=12 covers any component of diameter ≲ 2¹². The
# result is EXACT whenever propagation has reached its fixpoint, and
# the fixpoint is CHECKED, not assumed: one extra propagation round
# feeds a sentinel row (doc_id = -1) emitted only on non-convergence —
# a row the Spark side can never produce, so an insufficient bound
# hash-FAILS loudly instead of passing silently. At a propagation
# fixpoint labels are constant per component and equal the component
# minimum (min-monotone, member-id-valued), matching the recursive
# spec exactly.
CC_ORACLE_ROUNDS = 12


def _cc_labels_cte(
    rounds: int = CC_ORACLE_ROUNDS, pairs_sql: str = JACCARD_PAIRS_SQL
) -> tuple[str, str, str]:
    """(with_clause, labels_cte_name, sentinel_predicate) for the
    unrolled connected-components computation over the near-dup pair
    graph. `sentinel_predicate` is an EXISTS(...) that is true iff one
    more propagation round would still change a label.

    ``pairs_sql`` is the embedded near-dup pair relation; the default
    (naive AllPairs-free formulation) is the registered oracle, and
    insight_gp_import_spark/banded_oracles.py re-instantiates the SAME
    unrolled propagation over the prefix-banded pair SQL for sf1
    certification (r11 verdict item 2) — everything downstream of the
    pair CTE is byte-identical between the two, so pair-relation
    equivalence implies cluster-relation equivalence."""
    # every CTE is MATERIALIZED: DuckDB 1.0 inlines plain CTEs per
    # reference, and the pointer-jump self-join references each level
    # twice — un-materialized, the plan (and the parquet-open count)
    # doubles per round, i.e. 2^rounds copies of the whole chain.
    parts = [
        f"pairs AS MATERIALIZED (SELECT * FROM ({pairs_sql}) jp)",
        "edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM pairs"
        " UNION SELECT d2 AS src, d1 AS dst FROM pairs)",
        "l0 AS MATERIALIZED"
        " (SELECT doc_id AS node, doc_id AS label FROM documents)",
    ]
    prev = "l0"
    for i in range(1, rounds + 1):
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT node, min(label) AS label FROM ("
            f"SELECT node, label FROM {prev}"
            f" UNION ALL SELECT e.dst AS node, l.label"
            f" FROM {prev} l JOIN edges e ON l.node = e.src"
            f") GROUP BY node)"
        )
        parts.append(
            f"l{i} AS MATERIALIZED"
            f" (SELECT a.node, least(a.label, b.label) AS label"
            f" FROM p{i} a JOIN p{i} b ON a.label = b.node)"
        )
        prev = f"l{i}"
    parts.append(
        f"chk AS MATERIALIZED (SELECT node, min(label) AS label FROM ("
        f"SELECT node, label FROM {prev}"
        f" UNION ALL SELECT e.dst AS node, l.label"
        f" FROM {prev} l JOIN edges e ON l.node = e.src"
        f") GROUP BY node)"
    )
    sentinel = (
        f"EXISTS (SELECT 1 FROM chk c JOIN {prev} f ON c.node = f.node"
        f" AND c.label <> f.label)"
    )
    return "WITH " + ",\n    ".join(parts), prev, sentinel


_CC_WITH, _CC_LABELS, _CC_SENTINEL = _cc_labels_cte()


def _cluster_oracle_sql(cc: tuple[str, str, str]) -> str:
    """Cluster-oracle text over a (with, labels, sentinel) CC triple —
    shared verbatim between the registered (naive-pairs) oracle and the
    banded sf1 twin so the tail can never drift between them."""
    w, labels, sentinel = cc
    return f"""
    {w}
    SELECT node AS doc_id, label AS cluster_id,
           node = label AS is_survivor
    FROM {labels}
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), NULL
    WHERE {sentinel}
    """


CLUSTER_ORACLE_SQL = _cluster_oracle_sql((_CC_WITH, _CC_LABELS, _CC_SENTINEL))


@op(
    "dedup_cluster",
    oracle=CLUSTER_ORACLE_SQL,
    category=CAT,
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the step
    that turns PAIRS into dedup DECISIONS. Transitivity matters: if
    A~B and B~C, keeping "one of each pair" independently can keep
    both A and C; clustering keeps exactly one survivor (min doc_id)
    per component. Every doc appears (singletons are their own
    cluster), so downstream filtering is one semi-join on is_survivor.

    Components run on the DISTINCT-SET graph of
    :func:`jaccard_set_adjacency` (a few thousand set nodes at sf0.1
    instead of millions of doc pairs) and transfer to docs exactly
    through its membership: min doc_id per component == min sid per
    set component, because sid is each set's minimum member. Labels
    are exact BIGINT doc_ids on every path.

    The set-pair count picks the algorithm. Up to ``CC_LOCAL_MAX_EDGES``
    pairs the edges are collected once and a driver-side min-root
    union-find labels them: at KB-scale state a distributed loop is
    nothing but per-round scheduling. Above it the same edges run
    through large-star/small-star (:func:`_cc_star_labels`, O(log² n)
    rounds whatever the component diameter). The oracle is an
    independent formulation (DuckDB unrolled min-label + pointer-jump
    propagation with a checked convergence sentinel, _cc_labels_cte).
    """
    from insight_gp_import_spark.operators.llm import (
        _doc_token_sets,
        jaccard_set_adjacency,
    )

    sedges, memb = jaccard_set_adjacency(_doc_token_sets(spark, sf_dir))
    # tracked_persist, not a bare cache(): the registry flushes it at
    # the next op call, so a 500-op sweep never accumulates edge sets
    # in the block manager. Set pairs are unique by construction, so
    # no .distinct().
    sedges = tracked_persist(sedges)
    if sedges.count() <= CC_LOCAL_MAX_EDGES:
        labels = _cc_local_labels(spark, sedges)
    else:
        labels = _cc_star_labels(sedges, "dedup_cluster")
    return _doc_clusters(spark, sf_dir, memb, labels)


# Collect-and-union-find threshold for the CC family's set-level edge
# relation: 1M (s1, s2) BIGINT pairs ≈ 16 MB on the driver — the same
# bounded-collect class as broadcast build sides, far under
# spark.driver.maxResultSize. Tests set it to 0 to force the
# distributed path and pin branch equivalence.
CC_LOCAL_MAX_EDGES = 1_000_000

# Star contraction converges in O(log² n) rounds; reaching this many
# without a fixpoint raises instead of returning partial labels.
BIGSTAR_MAX_ROUNDS = 30


def _cc_local_labels(spark: SparkSession, sedges: DataFrame) -> DataFrame:
    """(node, label) for every node of the (s1, s2) pair relation via
    driver-side union-find with min-root unions: the root of every
    tree is its component's minimum node seen so far, so after all
    unions find(x) is exactly the component minimum — the labeling
    :func:`_cc_star_labels` produces. ``toArrow()`` moves the pairs as
    Arrow buffers, ~8× faster than row ``collect()`` at sf0.1's 511k
    pairs."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    tbl = sedges.toArrow()
    nodes: set[int] = set()
    for x, y in zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()):
        nodes.add(x)
        nodes.add(y)
        a, b = find(x), find(y)
        if a != b:
            if b < a:
                a, b = b, a
            parent[b] = a  # larger root attaches under smaller: root=min
    return F.broadcast(
        spark.createDataFrame(
            [(n, find(n)) for n in nodes], "node long, label long"
        )
    )


def _cc_star_labels(sedges: DataFrame, op_name: str) -> DataFrame:
    """(node, label = component minimum) for every non-minimum node of
    the (s1, s2) pair relation, via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Component minima have no row; the caller's coalesce
    labels them as themselves.

    Min-label propagation needs rounds ~ graph DIAMETER (a 10⁶-node
    chain needs 10⁶ rounds); large-star hangs every larger neighbor
    off the neighborhood minimum and small-star flattens the remaining
    chains, contracting any component in O(log² n) rounds. Each round
    is two keyed aggregations over the edge set, with its lineage cut
    by localCheckpoint; the fixpoint is a star per component pointing
    at its minimum. No fixpoint within ``BIGSTAR_MAX_ROUNDS`` raises a
    RuntimeError naming ``op_name``."""
    # the (u, v) relation is canonicalized u < v and unique by
    # construction, so no .distinct(); the localCheckpoint cuts the
    # AllPairs lineage.
    edges = sedges.select(
        F.least("s1", "s2").alias("u"), F.greatest("s1", "s2").alias("v")
    ).localCheckpoint()
    # the fixpoint test needs |new| == |old|, and the previous round's
    # count is already known: one count job per round (which also
    # materializes the lazy checkpoint below), and the exceptAll probe
    # only runs once the counts match.
    n_edges = edges.count()

    for _ in range(BIGSTAR_MAX_ROUNDS):
        # Large-star: per node u (over BOTH directions), every neighbor
        # v > u re-attaches to m = min(N(u) ∪ {u}).
        bidir = edges.union(edges.select("v", "u")).toDF("u", "v")
        mins = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        after_large = (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Small-star: direct edges high→low; per hi, all smaller
        # neighbors AND hi itself attach to m = min of the smaller set.
        hilo = after_large.select(
            F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
        ).distinct()
        smins = hilo.groupBy("hi").agg(F.min("lo").alias("m"))
        after_small = (
            hilo.join(smins, "hi")
            .select(F.col("lo").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("hi").alias("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Both relations are distinct sets, so A ⊆ B ∧ |A| = |B| ⟺
        # A = B: one exceptAll direction, skipped while the counts
        # differ.
        n_new = after_small.count()
        if (
            n_new == n_edges
            and after_small.exceptAll(edges).limit(1).count() == 0
        ):
            break
        edges, n_edges = after_small, n_new
    else:
        raise RuntimeError(
            f"{op_name}: connected components reached no fixpoint within "
            f"BIGSTAR_MAX_ROUNDS={BIGSTAR_MAX_ROUNDS} star rounds"
        )
    # at the fixpoint every non-minimum node carries exactly one edge,
    # to its component minimum; groupBy(min) is belt-and-braces.
    return after_small.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("label")
    )


def _doc_clusters(
    spark: SparkSession, sf_dir: str, memb: DataFrame, labels: DataFrame
) -> DataFrame:
    """(doc_id, cluster_id, is_survivor) for every document from the
    (sid, doc_id) membership and the set-level (node, label) relation:
    connected sets carry their component minimum, an edgeless set's
    members cluster at its sid (its min member), and docs without a
    set row fall back to themselves."""
    root = F.coalesce("label", "sid", "doc_id")
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(tracked_persist(memb), "doc_id", "left")
        .join(labels.withColumnRenamed("node", "sid"), "sid", "left")
        .select(
            "doc_id",
            root.alias("cluster_id"),
            (F.col("doc_id") == root).alias("is_survivor"),
        )
    )


LEV_BLOCK_CHARS = 10  # n_chars blocking bucket width
LEV_PREFIX = 60  # edit distance computed on this prefix
LEV_MAX_DIST = 20


@op(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, CAST(n_chars // {LEV_BLOCK_CHARS} AS BIGINT) AS blk,
               substring(text, 1, {LEV_PREFIX}) AS pfx
        FROM documents
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2, levenshtein(a.pfx, b.pfx) AS dist
    FROM d a JOIN d b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= {LEV_MAX_DIST}
    """,
    category=CAT,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by edit distance — the typo-tolerant member
    of the dedup family (exact / jaccard / minhash / simhash / embed /
    ngram / levenshtein). Levenshtein is O(len²) per pair, so it NEVER
    runs all-pairs: candidate pairs are blocked on (lang, n_chars
    bucket) first — two docs within edit distance d differ in length by
    at most d, so same-bucket blocking is near-lossless at small d —
    and the distance runs on a fixed prefix to bound per-pair cost.

    Scale: the self-join keys on (lang, blk), shuffling each block to
    one reducer — block sizes are bounded (docs per lang x 10-char
    length band), so no block exceeds a partition. Both engines run the
    identical blocked formulation (classic unweighted edit distance in
    both: verified parity at sf0.01 and sf0.1).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / F.lit(LEV_BLOCK_CHARS)).cast("long").alias("blk"),
        F.substring("text", 1, LEV_PREFIX).alias("pfx"),
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # r12 (guide §1.2 per-task work): the THRESHOLD form of
        # levenshtein runs the banded O(k·n) algorithm with early exit
        # instead of the full O(n²) table, returning -1 for pairs whose
        # distance exceeds k — so `dist >= 0` ≡ the old
        # `dist <= LEV_MAX_DIST`, with identical distances for every
        # surviving pair.
        .withColumn(
            "dist",
            F.levenshtein(F.col("a.pfx"), F.col("b.pfx"), LEV_MAX_DIST),
        )
        .filter(F.col("dist") >= 0)
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            "dist",
        )
    )


@op(
    "dedup_cluster_bigstar",
    oracle=CLUSTER_ORACLE_SQL,
    category=CAT,
)
def dedup_cluster_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_cluster's components with the distributed path forced:
    large-star/small-star (:func:`_cc_star_labels`) on the
    distinct-set graph at every size, so the O(log² n)-round algorithm
    the large-corpus path relies on is hash-checked on its own against
    the SAME independent DuckDB oracle (_cc_labels_cte)."""
    from insight_gp_import_spark.operators.llm import (
        _doc_token_sets,
        jaccard_set_adjacency,
    )

    sedges, memb = jaccard_set_adjacency(_doc_token_sets(spark, sf_dir))
    labels = _cc_star_labels(sedges, "dedup_cluster_bigstar")
    return _doc_clusters(spark, sf_dir, memb, labels)


KMEANS_K = 4
KMEANS_ITERS = 5


def kmeans_lloyd_iterations(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> tuple[DataFrame, list[float]]:
    """Library core for embed_kmeans_lloyd: returns (assignments df,
    per-iteration inertia history). Deterministic throughout: init
    centroids are the k lowest vec_ids' vectors, assignment tie-break
    is the lowest cluster id (array_position returns the FIRST match).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    init = emb.orderBy("vec_id").limit(k).collect()
    centroids = [[float(x) for x in r.embedding] for r in init]

    def dist_to(c: list[float]):
        lit = F.array(*[F.lit(x) for x in c])
        return F.aggregate(
            F.zip_with("embedding", lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        )

    inertias: list[float] = []
    assigned = None
    for _ in range(iters):
        dists = F.array(*[dist_to(c) for c in centroids])
        assigned = emb.select(
            "vec_id",
            "embedding",
            (F.array_position(dists, F.array_min(dists)) - 1).alias("cluster_id"),
            F.array_min(dists).alias("d2"),
        )
        stats = assigned.groupBy("cluster_id").agg(
            F.count("*").alias("n"),
            F.sum("d2").alias("inertia"),
            *[
                F.sum(F.col("embedding").getItem(i)).alias(f"s{i}")
                for i in range(EMBED_DIM)
            ],
        ).collect()
        inertias.append(sum(r.inertia for r in stats))
        centroids = [
            [r[f"s{i}"] / r.n for i in range(EMBED_DIM)]
            for r in sorted(stats, key=lambda r: r.cluster_id)
        ]
    return assigned, inertias


def _kmeans_oracle_sql(k: int, iters: int) -> str:
    """Unrolled-CTE DuckDB twin of the quantized Lloyd loop (same
    technique as graph_pagerank_unrolled: a FIXED iteration count is a
    constant, so each Lloyd step is one dist/assign/update CTE trio).
    All arithmetic is BIGINT-exact: quantized components, integer
    squared distances, truncating integer division for the centroid
    update — so every iteration is bit-reproducible across engines."""
    q2_div = (IVF_Q_SCALE * IVF_Q_SCALE) // 100  # round-2 display divisor
    ctes = [
        f"""comp AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {IVF_Q_SCALE}
                          + 0.5) AS BIGINT) AS qv
        FROM embeddings
    ), seeds AS (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
        FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
    ), cent0 AS (
        SELECT s.cid, c.d, c.qv AS cq
        FROM seeds s JOIN comp c ON c.vec_id = s.vec_id
    )"""
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""dist{i} AS (
        SELECT v.vec_id, c.cid,
               CAST(sum((v.qv - c.cq) * (v.qv - c.cq)) AS BIGINT) AS d2
        FROM comp v JOIN cent{i - 1} c ON c.d = v.d
        GROUP BY 1, 2
    ), assign{i} AS (
        SELECT vec_id, cid, d2 FROM (
            SELECT vec_id, cid, d2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rk
            FROM dist{i}) WHERE rk = 1
    )""")
        if i < iters:
            # truncating division (DuckDB // truncates toward zero,
            # matching the Spark driver's trunc-div helper)
            ctes.append(f"""cent{i} AS (
        SELECT a.cid, v.d,
               CAST(CAST(sum(v.qv) AS BIGINT)
                    // CAST(count(*) AS BIGINT) AS BIGINT) AS cq
        FROM assign{i} a JOIN comp v ON v.vec_id = a.vec_id
        GROUP BY 1, 2
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT CAST(cid AS BIGINT) AS cluster_id,
           count(*) AS n_members,
           CAST(floor(CAST(sum(d2) AS DOUBLE) / {q2_div}.0 + 0.5) AS BIGINT)
               / 100.0 AS inertia
    FROM assign{iters}
    GROUP BY cid
    ORDER BY cid
    """


def _trunc_div(s: int, n: int) -> int:
    """Truncate-toward-zero integer division (Python // floors)."""
    return -((-s) // n) if s < 0 else s // n


def kmeans_lloyd_quantized(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Integer-exact Lloyd: the oracled twin of kmeans_lloyd_iterations.

    Components quantize once to BIGINT (floor(x·10⁶ + 0.5) — the same
    IVF_Q_SCALE as ann_ivf_topk), so squared distances are exact BIGINT
    folds, assignment argmin has no float ambiguity (tie-break = lowest
    cluster id), and centroid updates are truncating integer divisions.
    Every iteration is therefore bit-reproducible in DuckDB SQL —
    what upgraded this op from rows-only to hash-oracled (round-6).
    Quantization error vs the float path is ≤ 5e-7 per component.

    Returns the final (vec_id, cluster_id, d2) assignment frame.
    """
    # r12 (guide §2.4/§5): persist the quantized vectors — the Lloyd
    # loop re-reads them every iteration (init probe + `iters`
    # assignment/update passes + the op's final aggregate), so the
    # parquet scan + quantization expression otherwise re-runs 7x.
    emb = tracked_persist(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.expr(_IVF_QV_SQL).alias("qv")
        )
    )
    init = emb.orderBy("vec_id").limit(k).collect()
    # (cid, centroid) pairs ordered by cid — survives empty clusters
    cents: list[tuple[int, list[int]]] = [
        (i, [int(v) for v in r.qv]) for i, r in enumerate(init)
    ]
    # r13 measured-and-REVERTED (session 1 tried reading centroids from
    # a broadcast one-row relation so every round's codegen is
    # byte-identical; the measured plan gained a per-iteration
    # createDataFrame + BroadcastExchange + BroadcastNestedLoopJoin
    # over a Scan ExistingRDD — which also breaks whole-stage codegen
    # of the assignment projection — and the op REGRESSED 2.6 → 3.8 s
    # min at sf0.1. Inlined literal centroids keep the single fused
    # projection; the per-round Janino recompile they cost is cheaper
    # than the broadcast-join machinery at every measured scale, and
    # at 100 TB the per-round compile is amortized over the corpus
    # pass either way.)
    assigned = None
    for it in range(iters):
        dists = F.expr(
            "transform(array("
            + ",".join(
                "array(" + ",".join(f"{v}L" for v in c) + ")" for _, c in cents
            )
            + "), c -> aggregate(zip_with(qv, c, "
            "(a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v))"
        )
        cid_lits = F.array(*[F.lit(cid).cast("long") for cid, _ in cents])
        assigned = emb.select(
            "vec_id",
            "qv",
            F.element_at(
                cid_lits, F.array_position(dists, F.array_min(dists)).cast("int")
            ).alias("cluster_id"),
            F.array_min(dists).alias("d2"),
        )
        if it < iters - 1:
            stats = assigned.groupBy("cluster_id").agg(
                F.count("*").alias("n"),
                *[
                    F.sum(F.col("qv").getItem(i)).alias(f"s{i}")
                    for i in range(EMBED_DIM)
                ],
            ).collect()
            cents = [
                (
                    int(r.cluster_id),
                    [_trunc_div(int(r[f"s{i}"]), int(r.n)) for i in range(EMBED_DIM)],
                )
                for r in sorted(stats, key=lambda r: r.cluster_id)
            ]
    return assigned.select("vec_id", "cluster_id", "d2")


@op(
    "embed_kmeans_lloyd",
    oracle=_kmeans_oracle_sql(KMEANS_K, KMEANS_ITERS),
    category=CAT,
)
def embed_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus — the
    clustering primitive behind semantic-dedup bucketing, corpus
    curation (topic balance), and IVF coarse quantizers (ann_ivf_topk
    consumes exactly such centroids). k=4, 5 iterations, deterministic
    init (k lowest vec_ids) and tie-break (lowest cluster id).

    Round-6 upgrade (verdict item 4): the op now runs the
    integer-quantized Lloyd loop (kmeans_lloyd_quantized), which a
    fixed-iteration unrolled-CTE DuckDB oracle reproduces bit-exactly —
    full rows+schema+hash parity instead of rows-only. The float
    library path (kmeans_lloyd_iterations) remains for high-precision
    library use; both agree on cluster sizes and inertia to ~1e-4
    relative (unit-tested).

    Scale shape: one pass per iteration — assignment is a JVM
    expression against BROADCAST centroid literals (k×dim BIGINTs,
    never a join), and the update is one map-side-combined groupBy
    producing k×(dim+2) numbers; the only driver-side object is that
    k-row stats result (same bounded-collect class as ann_ivf_topk's
    probe ids). Embeddings never reshuffle. Inertia sums d2 as
    decimal(38,0) (exact — worst case exceeds int64 at 100× scale);
    the round-2 display derives from the exact integer by floor-div,
    identical IEEE ops in both engines."""
    assigned = kmeans_lloyd_quantized(spark, sf_dir)
    q2_div = (IVF_Q_SCALE * IVF_Q_SCALE) // 100
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.expr(
                "cast(floor(cast(sum(cast(d2 as decimal(38,0))) as double)"
                f" / {q2_div}.0D + 0.5D) as bigint) / 10"
                "0.0D"
            ).alias("inertia"),
        )
        .orderBy("cluster_id")
    )


PCA_ITERS = 12


def pca_power_top_component(
    spark: SparkSession, sf_dir: str, iters: int = PCA_ITERS
) -> tuple[list[float], float, int]:
    """embed_pca_power's corpus entry point (see _pca_power)."""
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    return _pca_power(emb, iters)


def _pca_power(emb: DataFrame, iters: int = PCA_ITERS) -> tuple[list[float], float, int]:
    """Library core: top principal component of an `embedding`
    array column by distributed power iteration. Returns (unit
    eigenvector, Rayleigh quotient vᵀCv of the covariance
    C=(X-µ)ᵀ(X-µ)/n, n_vectors). Deterministic: fixed all-ones init,
    fixed iteration count — no RNG (§2.X rule 5). Convergence rate is
    (λ₂/λ₁)ᵗ: on spectra with a dominant direction it locks on in a
    handful of rounds (unit-tested on a planted spike); on
    near-isotropic data the Rayleigh quotient still climbs
    monotonically into the top of the spectrum (unit-tested on the
    corpus, whose top eigenvalues sit within 1.3% of each other)."""
    import math

    n = emb.count()
    mean_row = emb.agg(
        *[F.avg(F.col("embedding").getItem(i)).alias(f"m{i}") for i in range(EMBED_DIM)]
    ).collect()[0]
    mu = [mean_row[f"m{i}"] for i in range(EMBED_DIM)]

    v = [1.0 / math.sqrt(EMBED_DIM)] * EMBED_DIM
    eigval = 0.0
    for _ in range(iters):
        # s = (x-µ)·v per row, then per-dim Σ s·(x-µ): one map-combined
        # agg of EMBED_DIM+1 sums — the only driver object is 65 numbers.
        mu_lit = F.array(*[F.lit(m) for m in mu])
        v_lit = F.array(*[F.lit(x) for x in v])
        centered = F.zip_with("embedding", mu_lit, lambda a, b: a.cast("double") - b)
        s = F.aggregate(
            F.zip_with(centered, v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        row = emb.select(s.alias("s"), centered.alias("c")).agg(
            F.sum(F.col("s") * F.col("s")).alias("ss"),
            *[
                F.sum(F.col("s") * F.col("c").getItem(i)).alias(f"w{i}")
                for i in range(EMBED_DIM)
            ],
        ).collect()[0]
        w = [row[f"w{i}"] / n for i in range(EMBED_DIM)]
        eigval = row["ss"] / n
        norm = math.sqrt(sum(x * x for x in w)) or 1.0
        v = [x / norm for x in w]
    return v, eigval, n


PCA_V_SCALE = 10**6  # eigenvector-component quantization per iteration


def _pca_oracle_sql(iters: int) -> str:
    """Unrolled-CTE DuckDB twin of the quantized power iteration.

    Per iteration, three CTEs: s per vector (exact BIGINT dot of
    centered components with the quantized iterate), w per dimension
    (exact HUGEINT Σ s·c), and the next iterate qv (the ONE float step:
    w/||w||·V, where ||w|| is a sqrt over a fixed-order float fold —
    list(… ORDER BY d) + list_reduce — so identical exact integers map
    through identical IEEE ops in both engines; Spark's driver loop
    folds in the same d order). Same technique family as
    graph_pagerank_unrolled and _kmeans_oracle_sql."""
    import math as _math

    qv0 = int(_math.floor(PCA_V_SCALE / _math.sqrt(EMBED_DIM) + 0.5))
    eig_div = (IVF_Q_SCALE * IVF_Q_SCALE) // 10**4  # round-4 display
    ctes = [
        f"""qcomp AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {IVF_Q_SCALE}
                          + 0.5) AS BIGINT) AS qx
        FROM embeddings
    ), mu AS MATERIALIZED (
        SELECT d, CAST(CAST(sum(qx) AS BIGINT)
                       // CAST(count(*) AS BIGINT) AS BIGINT) AS m
        FROM qcomp GROUP BY d
    ), cc AS MATERIALIZED (
        SELECT q.vec_id, q.d, q.qx - m.m AS c
        FROM qcomp q JOIN mu m ON m.d = q.d
    ), qv0 AS MATERIALIZED (
        SELECT CAST(unnest(generate_series(0, {EMBED_DIM - 1})) AS BIGINT) AS d,
               CAST({qv0} AS BIGINT) AS qval
    )"""
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""sv{i} AS MATERIALIZED (
        SELECT c.vec_id, CAST(sum(c.c * v.qval) AS BIGINT) AS s
        FROM cc c JOIN qv{i - 1} v ON v.d = c.d
        GROUP BY 1
    ), w{i} AS MATERIALIZED (
        SELECT c.d, sum(CAST(s.s AS HUGEINT) * c.c) AS w
        FROM cc c JOIN sv{i} s ON s.vec_id = c.vec_id
        GROUP BY 1
    ), qv{i} AS MATERIALIZED (
        SELECT w.d,
               CAST(floor(CAST(w.w AS DOUBLE) / nrm.nrm * {PCA_V_SCALE}.0
                          + 0.5) AS BIGINT) AS qval
        FROM w{i} w CROSS JOIN (
            SELECT sqrt(list_reduce(
                list_transform(list(CAST(w AS DOUBLE) ORDER BY d),
                               x -> x * x),
                (a, b) -> a + b)) AS nrm
            FROM w{i}) nrm
    )""")
    return f"""
    WITH {', '.join(ctes)},
    sfin AS (
        SELECT c.vec_id, CAST(sum(c.c * v.qval) AS BIGINT) AS s
        FROM cc c JOIN qv{iters} v ON v.d = c.d
        GROUP BY 1
    ), agg AS (
        SELECT CAST(sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS DOUBLE)
                   AS ssd,
               CAST(count(*) AS BIGINT) AS n
        FROM sfin
    ), nq AS (
        SELECT CAST(sum(qval * qval) AS DOUBLE) AS nqd FROM qv{iters}
    ), head AS (
        SELECT max(CASE WHEN d = 0 THEN qval END) AS q0,
               max(CASE WHEN d = 1 THEN qval END) AS q1,
               max(CASE WHEN d = 2 THEN qval END) AS q2,
               max(CASE WHEN d = 3 THEN qval END) AS q3
        FROM qv{iters}
    )
    SELECT a.n AS n_vectors,
           CAST(floor(a.ssd / CAST(a.n AS DOUBLE) / nq.nqd / {eig_div}.0
                      + 0.5) AS BIGINT) / 10000.0 AS top_eigenvalue,
           CAST(floor(h.q0 / 100.0 + 0.5) AS BIGINT) / 10000.0 AS c0,
           CAST(floor(h.q1 / 100.0 + 0.5) AS BIGINT) / 10000.0 AS c1,
           CAST(floor(h.q2 / 100.0 + 0.5) AS BIGINT) / 10000.0 AS c2,
           CAST(floor(h.q3 / 100.0 + 0.5) AS BIGINT) / 10000.0 AS c3
    FROM agg a, nq, head h
    """


def pca_power_quantized(
    spark: SparkSession, sf_dir: str, iters: int = PCA_ITERS
) -> tuple[list[int], int, int, int]:
    """Integer-exact power iteration: the oracled twin of _pca_power.

    Components and the iterate are quantized to BIGINT; per-iteration
    s (vector dot) and w (Σ s·centered) are EXACT integer folds (w as
    decimal(38,0) — products exceed int64), so summation order cannot
    matter. The one float step per iteration — normalize w and requantize
    — runs driver-side over the 64 exact integers in ascending-d order,
    bit-matching the oracle's fixed-order list fold. Driver state is 64
    numbers per round (same bounded class as the float path).

    Returns (final quantized iterate, SS=Σs² exact, NQ=Σqv² exact, n).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.expr(_IVF_QV_SQL).alias("qx")
    )
    # r12 optimization: one pass for n + per-dim sums (was two jobs)
    sums = emb.agg(
        F.count("*").alias("_n"),
        *[F.sum(F.col("qx").getItem(i)).alias(f"s{i}") for i in range(EMBED_DIM)],
    ).collect()[0]
    n = int(sums["_n"])
    mu = [_trunc_div(int(sums[f"s{i}"]), n) for i in range(EMBED_DIM)]
    mu_lit = "array(" + ",".join(f"{m}L" for m in mu) + ")"
    cent = emb.select(
        F.expr(f"zip_with(qx, {mu_lit}, (a, b) -> a - b)").alias("c")
    )
    # r12 optimization (guide §1.2 step 1 — fix the distributed
    # algorithm): the old loop ran `iters`+1 SEQUENTIAL Spark jobs,
    # each a 64-column decimal aggregate over the same centered
    # vectors (~35 s at sf0.1, dominated by per-job codegen of the
    # 64-aggregate expressions and job overhead, not data). But every
    # per-iteration reduction is linear algebra over the SAME Gram
    # matrix: w = Σ s·c with s = c·v is exactly (Σ c·cᵀ)·v = G·v, and
    # the final SS = Σ s² = vᵀ·G·v. So ONE distributed pass builds the
    # exact integer G (upper triangle, 2080 entries) and all `iters`
    # iterations — and SS — run driver-side on 64×64 Python bigints:
    # the identical integers in the identical order, so the oracle
    # hash is unchanged (proved by parity at both SFs). Driver state
    # is 2 080 numbers — the same bounded class as before.
    #
    # Exactness: per ≤8192-row chunk the int64 partial Gram is
    # overflow-safe for max|c| < 3.3e7 (8192·M² < 2^63), asserted
    # fail-loud below; chunk partials are summed as decimal(38,0) in
    # Spark (exact) and as Python ints on the driver (exact).
    def _gram_chunks(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            col = pdf["c"]
            for lo in range(0, len(col), 8192):
                a = np.array(list(col.iloc[lo : lo + 8192]), dtype=np.int64)
                if a.size == 0:
                    continue
                m = int(np.abs(a).max())
                if m >= 33_000_000:  # 8192 * m^2 must stay < 2^63
                    raise ValueError(
                        f"centered component {m} exceeds the int64-exact "
                        "Gram chunk bound; shrink the chunk or widen"
                    )
                g = a.T @ a  # exact int64 under the asserted bound
                iu, ju = np.triu_indices(a.shape[1])
                yield pd.DataFrame(
                    {"i": iu.astype("int32"), "j": ju.astype("int32"),
                     "p": g[iu, ju]}
                )

    grows = (
        cent.mapInPandas(_gram_chunks, "i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("g"))
        .collect()
    )
    G = [[0] * EMBED_DIM for _ in range(EMBED_DIM)]
    for r in grows:
        v = int(r["g"])
        G[r["i"]][r["j"]] = v
        G[r["j"]][r["i"]] = v

    qv = [int(math.floor(PCA_V_SCALE / math.sqrt(EMBED_DIM) + 0.5))] * EMBED_DIM
    for _ in range(iters):
        # exact integer w = G·v — the same Σ s·cᵢ integers the old
        # per-iteration decimal aggregate produced
        w = [sum(G[i][k] * qv[k] for k in range(EMBED_DIM)) for i in range(EMBED_DIM)]
        acc = 0.0
        for x in w:  # fixed d-ascending fold — mirrors list_reduce
            xd = float(x)
            acc += xd * xd
        nrm = math.sqrt(acc)
        qv = [
            int(math.floor(float(x) / nrm * float(PCA_V_SCALE) + 0.5)) for x in w
        ]
    # SS = Σ (c·qv)² = qvᵀ·G·qv, exact in Python ints
    ss = sum(
        qv[i] * G[i][k] * qv[k] for i in range(EMBED_DIM) for k in range(EMBED_DIM)
    )
    return qv, ss, sum(x * x for x in qv), n


@op("embed_pca_power", oracle=_pca_oracle_sql(PCA_ITERS), category=CAT)
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus via distributed
    POWER ITERATION — the dimensionality probe behind whitening,
    anisotropy correction (all-but-the-top, Mu & Viswanath ICLR'18),
    and drift monitoring of embedding spaces. No library solver: each
    iteration is one Spark aggregation computing (X-µ)ᵀ(X-µ)v as
    Σ sᵢ·(xᵢ-µ) with sᵢ = (xᵢ-µ)·v — the matrix is never
    materialized, the driver only ever holds dim+1 numbers per round.

    At 100 TB the per-iteration cost is one corpus pass (map-combined
    partial sums per partition); iterations are bounded (spectral-gap
    convergence, 12 fixed here).

    Round-6 upgrade (verdict item 4): the op runs the integer-quantized
    iteration (pca_power_quantized) whose per-round sums are EXACT
    (BIGINT/decimal) and whose single float step folds identical
    integers in a fixed order — reproduced bit-for-bit by an unrolled
    12-CTE DuckDB oracle, so this is now full rows+schema+hash parity
    instead of rows-only. Output: n_vectors, the round-4 Rayleigh
    quotient, and the first four component values (c0..c3, round-4,
    derived from the quantized iterate by integer floor-div — not
    string formatting, which engines render differently). The float
    library path (_pca_power) remains for high-precision use; numpy
    pins its correctness (planted-spike eigenvector recovery; corpus
    Rayleigh quotient within [λ₃, λ₁] of the exact spectrum), and a
    unit test asserts quantized-vs-float agreement."""
    qv, ss, nq, n = pca_power_quantized(spark, sf_dir)
    eig_div = (IVF_Q_SCALE * IVF_Q_SCALE) // 10**4
    eig = math.floor(float(ss) / float(n) / float(nq) / float(eig_div) + 0.5) / 1e4
    heads = [math.floor(qv[d] / 100.0 + 0.5) / 1e4 for d in range(4)]
    return spark.createDataFrame(
        [(n, eig, *heads)],
        "n_vectors long, top_eigenvalue double, "
        "c0 double, c1 double, c2 double, c3 double",
    )


# ---- pipeline_ann_index_build: capstone #5 (embedding family) ----

IDX_DIMS = 16   # Matryoshka prefix (embed_truncate_renorm's cut)
IDX_BITS = 8    # one 8-bit SRP code -> <=256 buckets


def _idx_plane_signs() -> list[list[int]]:
    """IDX_BITS deterministic ±1 hyperplanes over the truncated prefix,
    md5-derived (no RNG, §2.X rule 5) — same scheme as _lsh_planes but
    over IDX_DIMS."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"idx:{b}:{d}".encode()).digest()[0] % 2 == 0 else -1
            for d in range(IDX_DIMS)
        ]
        for b in range(IDX_BITS)
    ]


def _signed_sum(signs: list[int], elem: str) -> str:
    """Σ sᵢ·eᵢ as an EXPLICIT left-to-right ± chain (e₁ − e₂ + e₃ …).

    The parse tree fixes the double-addition order identically in any
    SQL engine, so the sign test that follows is bit-deterministic —
    the property that lets an LSH bucket assignment be ORACLED (the
    ann_* ops are rows-only because their recall is approximate, not
    because the code arithmetic had to be)."""
    terms = []
    for i, s in enumerate(signs, start=1):
        e = elem.format(i=i)
        terms.append(("+ " if s > 0 else "- ") + e if terms else ("" if s > 0 else "- ") + e)
    return " ".join(terms)


def _idx_code_sql(elem: str) -> str:
    """The 8-bit bucket code as one integer expression (engine-neutral
    given an element accessor template like 'CAST(embedding[{i}] AS DOUBLE)')."""
    bits = [
        f"(CASE WHEN {_signed_sum(signs, elem)} > 0 THEN {1 << b} ELSE 0 END)"
        for b, signs in enumerate(_idx_plane_signs())
    ]
    return " + ".join(bits)


@op(
    "pipeline_ann_index_build",
    oracle=f"""
    WITH coded AS (
        SELECT vec_id, label,
               {_idx_code_sql("CAST(embedding[{i}] AS DOUBLE)")} AS bucket,
               sqrt(list_aggregate(
                   list_transform(embedding[1:{IDX_DIMS}],
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   'sum'))
               / sqrt(list_aggregate(
                   list_transform(embedding,
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   'sum')) AS retention
        FROM embeddings
    ), by_label AS (
        SELECT bucket, label, CAST(count(*) AS BIGINT) AS n
        FROM coded GROUP BY bucket, label
    ), mode_l AS (
        SELECT bucket, label AS mode_label
        FROM (SELECT bucket, label, n,
                     row_number() OVER (PARTITION BY bucket
                                        ORDER BY n DESC, label) AS rn
              FROM by_label)
        WHERE rn = 1
    ), stats AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs,
               round(avg(retention), 4) AS avg_retention
        FROM coded GROUP BY bucket
    )
    SELECT s.bucket, s.n_vecs, m.mode_label, s.avg_retention
    FROM stats s JOIN mode_l m ON s.bucket = m.bucket
    """,
    category=CAT,
)
def pipeline_ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFTH capstone (embedding family): build the ANN index manifest
    in ONE declarative plan — Matryoshka-truncate to {IDX_DIMS} dims
    (embed_truncate_renorm), assign every vector an {IDX_BITS}-bit
    signed-random-projection bucket over the truncated prefix
    (ann_lsh_topk's machinery), and emit the per-bucket index manifest:
    population, dominant label, and mean retention (how much signal
    the truncation kept for the vectors routed there). This is the
    build side whose probe side is ann_lsh_topk/ann_ivf_topk.

    Why this is ORACLED when the ann_* ops are rows-only: approximate
    RECALL can't have a SQL twin, but the index CONSTRUCTION is exact —
    each hash bit is an explicit left-to-right ± chain over the
    prefix components, so the double-addition parse order (and hence
    every sign test) is bit-identical in both engines. No RNG: planes
    are md5-derived constants inlined into both spellings.

    Scale shape: coding + retention are scan-stage expressions (zero
    Python); the manifest reduces to ≤2^{IDX_BITS} buckets via
    map-combined aggregates; the mode-label window runs per bucket
    over a |buckets|×|labels| relation. At 100 TB the coded relation
    is what you'd range-partition by bucket and sink via
    sink_parquet_partitioned — the manifest itself stays tiny forever.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    code = _idx_code_sql("CAST(element_at(embedding, {i}) AS DOUBLE)")
    prefix = f"slice(embedding, 1, {IDX_DIMS})"
    retention = F.expr(
        f"sqrt({_dot_sql(prefix, prefix)}) / sqrt({_dot_sql('embedding', 'embedding')})"
    )
    coded = emb.select(
        "vec_id",
        "label",
        F.expr(code).alias("bucket"),
        retention.alias("retention"),
    )
    by_label = coded.groupBy("bucket", "label").agg(F.count("*").alias("n"))
    w = Window.partitionBy("bucket").orderBy(F.desc("n"), "label")
    mode_l = (
        by_label.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("bucket", F.col("label").alias("mode_label"))
    )
    stats = coded.groupBy("bucket").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("retention"), 4).alias("avg_retention"),
    )
    return stats.join(mode_l, "bucket").select(
        "bucket", "n_vecs", "mode_label", "avg_retention"
    )


@op(
    "embed_centroid_drift",
    oracle=f"""
    WITH dims AS (
        SELECT label, vec_id % 2 AS side, i, sum(embedding[i]) AS c
        FROM embeddings, generate_series(1, {EMBED_DIM}) AS t(i)
        GROUP BY label, side, i
    ), cents AS (
        SELECT label, side, list(c ORDER BY i) AS cent,
               CAST(count(DISTINCT i) AS BIGINT) AS nd
        FROM dims GROUP BY label, side
    ), sized AS (
        SELECT label, vec_id % 2 AS side, CAST(count(*) AS BIGINT) AS n
        FROM embeddings GROUP BY label, side
    )
    SELECT a.label,
           s0.n AS n_even, s1.n AS n_odd,
           round(CAST(list_cosine_similarity(a.cent, b.cent) AS DOUBLE), 4)
               AS centroid_sim,
           round(1 - round(CAST(list_cosine_similarity(a.cent, b.cent)
                                AS DOUBLE), 4), 4) AS drift
    FROM (SELECT * FROM cents WHERE side = 0) a
    JOIN (SELECT * FROM cents WHERE side = 1) b USING (label)
    JOIN (SELECT * FROM sized WHERE side = 0) s0 USING (label)
    JOIN (SELECT * FROM sized WHERE side = 1) s1 USING (label)
    """,
    category=CAT,
)
def embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING DRIFT monitor: per label, the cosine between the
    even-vec_id and odd-vec_id half-corpus centroids (1−cos = drift)
    — the retraining tripwire every embedding pipeline watches (a
    healthy class's split halves point the same way; drift >ε means
    the label's geometry shifted mid-corpus, an upstream encoder or
    data change; embed_outlier_centroid flags single bad EXAMPLES,
    this flags bad CLASSES — the A/B split is the same hash-split
    discipline as dq_ks_drift, one modality up).

    Same scale shape as the outlier op: one map-combined shuffle of
    {EMBED_DIM}-dim partial sums per (label, side) — bytes ∝ labels ×
    2 × dim, never rows — then the cosine runs between SUM vectors
    (same direction as means; no count division enters the float
    math) on the |labels|-row join. Drift derives from the ROUNDED
    sim (§2.X flag rule).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sided = emb.select(
        "label", (F.col("vec_id") % 2).alias("side"), "embedding"
    )
    cents = sided.groupBy("label", "side").agg(
        F.array(
            *[F.sum(F.col("embedding").getItem(i)) for i in range(EMBED_DIM)]
        ).alias("cent"),
        F.count("*").alias("n"),
    )
    a = cents.filter(F.col("side") == 0).select(
        "label", F.col("cent").alias("cent0"), F.col("n").alias("n_even")
    )
    b = cents.filter(F.col("side") == 1).select(
        "label", F.col("cent").alias("cent1"), F.col("n").alias("n_odd")
    )
    sim = F.round(_cosine("cent0", "cent1"), 4)
    return a.join(b, "label").select(
        "label",
        "n_even",
        "n_odd",
        sim.alias("centroid_sim"),
        F.round(1 - sim, 4).alias("drift"),
    )


def _survivor_quality_oracle_sql(cc: tuple[str, str, str]) -> str:
    """Survivor-quality oracle text over a CC triple — shared verbatim
    between the registered oracle and the banded sf1 twin (see
    _cluster_oracle_sql)."""
    w, labels, sentinel = cc
    return f"""
    {w},
    clusters AS (
        SELECT node AS doc_id, label AS cluster_id FROM {labels}
    ),
    scored AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars
        FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           -- survivor = min doc_id among the cluster-max-n_chars rows;
           -- window form of the original correlated max-subquery
           -- (r10: the correlated form re-evaluated the scored CTE
           -- chain per row in DuckDB — 5x the sibling oracles' wall)
           CAST(min(doc_id) FILTER (WHERE n_chars = mx) AS BIGINT)
               AS survivor_doc_id,
           CAST(max(n_chars) AS BIGINT) AS survivor_chars
    FROM (
        SELECT cluster_id, doc_id, n_chars,
               max(n_chars) OVER (PARTITION BY cluster_id) AS mx
        FROM scored
    ) s
    GROUP BY cluster_id
    HAVING count(*) >= 2
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
           CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
    WHERE {sentinel}
    """


@op(
    "dedup_survivor_quality",
    oracle=_survivor_quality_oracle_sql((_CC_WITH, _CC_LABELS, _CC_SENTINEL)),
    category=CAT,
)
def dedup_survivor_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-aware survivor selection: within each near-dup cluster,
    keep the LONGEST member (n_chars argmax, min-doc_id tie-break) —
    the C4/CCNet keep-longest policy, versus dedup_cluster's min-id
    survivor (an ID policy keeps whichever duplicate happened to be
    crawled first; a curation pipeline wants the most complete copy,
    and on truncated-crawl duplicates the two policies genuinely
    disagree). Only multi-member clusters are reported — the
    singleton majority has nothing to decide.

    Reuses dedup_cluster's components verbatim, then one argmax per cluster via the
    struct-max trick (max (n_chars, −doc_id) — one aggregate, no
    window, no self-join); the cluster relation is tiny versus the
    corpus, so policy selection costs nothing at 100 TB. The oracle
    recomputes the clusters through the independent unrolled
    propagation (_cc_labels_cte) plus a correlated-subquery argmax.
    """
    clusters = dedup_cluster(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    scored = clusters.join(docs, "doc_id")
    agg = scored.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.struct(
                F.col("n_chars").alias("q"), (-F.col("doc_id")).alias("nd")
            )
        ).alias("m"),
    )
    return (
        agg.filter(F.col("n_members") >= 2)
        .select(
            "cluster_id",
            "n_members",
            (-F.col("m.nd")).cast("bigint").alias("survivor_doc_id"),
            F.col("m.q").cast("bigint").alias("survivor_chars"),
        )
    )


SWEEP_THRESHOLDS_PM = (400, 450, 500, 550)  # permille; 400 = production cut

# Spine gate: above this corpus size the sweep runs on the
# deterministic 1-in-s spine vec_id % s = 0, s = ceil(n/GATE) —
# the declared, SQL-portable sampled tier that caps the pair stage at
# GATE²/2 comparisons no matter how large the corpus. At every test SF
# (n <= 2000) s = 1 and the spine is the whole corpus, so the exact
# small-corpus semantics are unchanged.
SWEEP_EXACT_MAX = 8192
SWEEP_BLOCK = 512  # vectors per matmul block (~128 KB of float32)


def _round4_half_up(sims):
    """Round to 1e-4 as copysign(floor(|x|·10⁴ + 0.5)): HALF-UP, the
    F.round rule. The only exact-boundary values a cosine can take are
    dyadics like 1/32, whose 5th decimal is 5; numpy's HALF_EVEN
    np.round would round those differently from the JVM and the
    oracle."""
    import numpy as np

    return np.copysign(np.floor(np.abs(sims) * 1e4 + 0.5), sims) / 1e4


@op(
    "embed_dedup_threshold_sweep",
    oracle=f"""
    WITH allc AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM embeddings),
    sp AS (
        SELECT greatest(1, CAST(ceil(n_all / {SWEEP_EXACT_MAX}.0) AS BIGINT))
            AS s
        FROM allc
    ), samp AS (
        SELECT vec_id, embedding FROM embeddings, sp WHERE vec_id % sp.s = 0
    ), pairs AS (
        SELECT b.vec_id AS v2,
               round(CAST(list_cosine_similarity(a.embedding, b.embedding)
                          AS DOUBLE), 4) AS sim_r
        FROM samp a JOIN samp b ON a.vec_id < b.vec_id
        WHERE round(CAST(list_cosine_similarity(a.embedding, b.embedding)
                         AS DOUBLE), 4) > {SWEEP_THRESHOLDS_PM[0]} / 1000.0
    ), th AS (
        SELECT unnest({list(SWEEP_THRESHOLDS_PM)}) AS t_pm
    ), hits AS (
        SELECT th.t_pm,
               CAST(count(p.sim_r) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT p.v2) AS BIGINT) AS n_removed
        FROM th LEFT JOIN pairs p ON p.sim_r > th.t_pm / 1000.0
        GROUP BY th.t_pm
    ), corpus AS (SELECT CAST(count(*) AS BIGINT) AS n FROM samp)
    SELECT h.t_pm AS threshold_pm,
           coalesce(h.n_pairs, 0) AS n_pairs,
           coalesce(h.n_removed, 0) AS n_removed,
           CAST((coalesce(h.n_removed, 0) * 1000000) // c.n AS BIGINT)
               AS removal_ppm
    FROM hits h CROSS JOIN corpus c
    ORDER BY threshold_pm
    """,
    category=CAT,
)
def embed_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold sensitivity sweep: duplicate-pair count, docs
    removed (min-id survivor convention: the GREATER id of a pair is
    the casualty) and corpus removal rate in ppm at four candidate
    cosine cuts — the table a data lead reads BEFORE choosing the
    production threshold (dedup_embed_cosine executes ONE cut; a cut
    chosen without its sensitivity curve is folklore: the elbow
    where removal_ppm collapses is the signal/noise boundary, and a
    cliff between adjacent cuts means the threshold sits inside a
    similarity mode — exactly what you must know at 100 TB where a
    1 % removal error is a terabyte).

    One pair pass filtered at the LOOSEST cut first — the sweep
    never multiplies the pair join by |thresholds|, it multiplies
    only the few survivors; per-threshold membership compares the
    ROUNDED sim (round-before-compare on both sides, §2.X flag rule)
    so band edges cannot disagree; threshold rows LEFT-join so a cut
    with zero survivors still reports its zero. Removal counts are
    distinct-id aggregates; shares integer ppm.

    Scale tier (a quadratic HOF self-join costs ~8 µs/pair, Θ(n²)):

    1. DECLARED SPINE — above ``SWEEP_EXACT_MAX`` vectors the sweep
       runs on the deterministic spine ``vec_id % s = 0`` with
       ``s = ceil(n / SWEEP_EXACT_MAX)``, capping the pair stage at
       GATE²/2 comparisons at ANY corpus size; counts and removal_ppm
       are then spine-sample statistics (the curve SHAPE — the elbow a
       data lead reads — is what survives sampling; an exact
       full-corpus pair count over 100 TB of embeddings is neither
       computable nor what the decision needs). The spine is plain
       integer arithmetic, bit-identical in the DuckDB oracle, and
       s = 1 (exact) at every test SF.
    2. BLOCKED GEMM — the pair pass under the gate is
       :func:`~insight_gp_import_spark.operators.pairs.cosine_self_pairs`
       scored by :func:`_round4_half_up`, ~100× less per-pair cost than
       the interpreted zip_with/aggregate tree.
    """
    e = load_table(spark, sf_dir, "embeddings")
    sp = e.agg(F.count("*").alias("n_all")).select(
        F.expr(
            f"greatest(1L, cast(ceil(n_all / {SWEEP_EXACT_MAX}.0D)"
            " as bigint))"
        ).alias("s")
    )
    samp = (
        e.crossJoin(F.broadcast(sp))
        .filter(F.expr("vec_id % s = 0"))
        .select("vec_id", "embedding")
    )
    pairs = cosine_self_pairs(
        samp, SWEEP_BLOCK, SWEEP_THRESHOLDS_PM[0] / 1000.0, _round4_half_up
    ).select("v2", F.col("sim").alias("sim_r"))
    th = spark.createDataFrame(
        [(t,) for t in SWEEP_THRESHOLDS_PM], "t_pm int"
    )
    hits = (
        F.broadcast(th)
        .join(pairs, pairs.sim_r > th.t_pm / 1000.0, "left")
        .groupBy("t_pm")
        .agg(
            F.count("sim_r").cast("bigint").alias("n_pairs"),
            F.countDistinct("v2").cast("bigint").alias("n_removed"),
        )
    )
    # ppm denominator = the SPINE size (sample statistics are reported
    # against the sampled corpus; identical to the full corpus at s=1).
    corpus = samp.agg(F.count("*").cast("bigint").alias("n"))
    return (
        hits.crossJoin(F.broadcast(corpus))
        .select(
            F.col("t_pm").alias("threshold_pm"),
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.expr("(coalesce(n_removed, 0) * 1000000) div n")
            .cast("bigint")
            .alias("removal_ppm"),
        )
        .orderBy("threshold_pm")
    )


SNM_WINDOW = 5


@op(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH clean AS (
        SELECT c_custkey AS rid, c_name AS nm,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        FROM customer
    ), dirty AS (
        SELECT c_custkey + 1000000000 AS rid,
               CASE WHEN c_custkey % 5 = 0 THEN c_name || 'X'
                    ELSE c_name END AS nm,
               CAST(round(c_acctbal * 100) AS BIGINT)
                   + (c_custkey * 7919) % 21 - 10 AS bal_c
        FROM customer
    ), allrec AS (
        SELECT * FROM clean UNION ALL SELECT * FROM dirty
    ), ranked AS (
        SELECT rid, nm, bal_c,
               CAST(row_number() OVER (ORDER BY nm, bal_c, rid) AS BIGINT)
                   AS r
        FROM allrec
    ), cand AS (
        SELECT a.rid AS r1, b.rid AS r2,
               (abs(a.bal_c - b.bal_c) <= 10 AND
                (a.nm = b.nm OR a.nm = b.nm || 'X' OR b.nm = a.nm || 'X'))
                   AS matched
        FROM ranked a JOIN ranked b
          ON b.r > a.r AND b.r <= a.r + {SNM_WINDOW}
    ), truth AS (
        SELECT CAST(count(*) AS BIGINT) AS n_true FROM clean
    )
    SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
           CAST(sum(CASE WHEN matched
                          AND abs(r1 - r2) = 1000000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true_found,
           CAST((sum(CASE WHEN matched
                           AND abs(r1 - r2) = 1000000000 THEN 1 ELSE 0 END)
                 * 1000000) // (SELECT n_true FROM truth) AS BIGINT)
               AS recall_ppm
    FROM cand
    """,
    category=CAT,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández–Stolfo): sort all records
    by a fuzzy key, compare only within a sliding window of
    {SNM_WINDOW} — the OTHER classic blocking strategy, evaluated on
    the SAME degraded-copy fixture as join_record_linkage_score so
    the two methods' recall is directly comparable (hash blocking
    bounds candidates by the block key's accuracy; SNM bounds them
    by sort-key locality — a mutated LAST character survives a name
    sort, a mutated FIRST character defeats it, which is exactly why
    production SNM runs MULTIPLE passes with different keys —
    stated, one pass shown). Ground truth rides the surrogate-key
    offset, so recall is measured, not estimated.

    One global ORDER by the fuzzy key is inherent to the method (it
    IS the sorted method), but not a one-task sort: the rank comes
    from the _exact_global_rank bucket-offset kernel over an
    LCP-stripped byte-prefix proxy (r9), and the r..r+{SNM_WINDOW}
    neighborhood is an equi-join on broadcast rank offsets, so
    candidate volume is exactly n·w and no stage is quadratic or
    single-task. Match scoring reuses the linkage op's field rules;
    all counts integer with ppm recall.
    """
    c = load_table(spark, sf_dir, "customer")
    clean = c.select(
        F.col("c_custkey").alias("rid"),
        F.col("c_name").alias("nm"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c"),
    )
    dirty = c.select(
        (F.col("c_custkey") + 1000000000).alias("rid"),
        F.when(
            F.col("c_custkey") % 5 == 0, F.concat(F.col("c_name"), F.lit("X"))
        )
        .otherwise(F.col("c_name"))
        .alias("nm"),
        (
            F.round(F.col("c_acctbal") * 100).cast("bigint")
            + (F.col("c_custkey") * 7919) % 21
            - 10
        ).alias("bal_c"),
    )
    allrec = clean.unionAll(dirty)
    # r9 (plan guard follow-through): the global fuzzy-key ORDER is
    # inherent to SNM, but the one-task sort is not — rank via the
    # bucket-offset kernel. The bucket proxy packs 7 bytes of nm AFTER
    # the longest common prefix of min(nm)/max(nm) (every row shares
    # any prefix common to the global min and max, so stripping it is
    # order-neutral; without it the constant 'Customer#' head would
    # collapse all rows into one bucket). Byte packing is monotone for
    # single-byte-codepoint keys (this fixture is ASCII); collisions
    # only cost balance, never order (kernel order_cols contract).
    lcp_len = F.expr(
        "aggregate(sequence(1, least(length(lo), length(hi))), 0,"
        " (acc, i) -> CASE WHEN acc = i - 1"
        " AND substring(lo, i, 1) = substring(hi, i, 1)"
        " THEN i ELSE acc END)"
    )
    bounds = allrec.agg(
        F.min("nm").alias("lo"), F.max("nm").alias("hi")
    ).select(lcp_len.alias("lcp"))
    pack = " + ".join(
        f"coalesce(ascii(substring(nm, lcp + {1 + i}, 1)), 0)"
        f" * {256 ** (6 - i)}"
        for i in range(7)
    )
    staged = allrec.crossJoin(F.broadcast(bounds)).withColumn(
        "pk", F.expr(f"cast({pack} as bigint)")
    )
    from insight_gp_import_spark.operators.aggregation import (
        _exact_global_rank,
    )

    ranked = (
        _exact_global_rank(
            staged, "pk", "rid", "r", order_cols=["nm", "bal_c", "rid"]
        )
        .withColumn("r", F.col("r").cast("bigint"))
        .drop("pk", "lcp")
    )
    # rank-band neighborhood as SNM_WINDOW broadcast OFFSETS: an
    # equi-join on r + off == b.r (one rank-keyed exchange, n·w rows)
    # — never the former non-equi (b.r > a.r AND b.r <= a.r + w)
    # range join, which degrades to a BroadcastNestedLoopJoin with
    # O(n²) predicate evaluations.
    off = spark.range(1, SNM_WINDOW + 1).select(F.col("id").alias("off"))
    a, b = ranked.alias("a"), ranked.alias("b")
    matched = (
        (F.abs(F.col("a.bal_c") - F.col("b.bal_c")) <= 10)
        & (
            (F.col("a.nm") == F.col("b.nm"))
            | (F.col("a.nm") == F.concat(F.col("b.nm"), F.lit("X")))
            | (F.col("b.nm") == F.concat(F.col("a.nm"), F.lit("X")))
        )
    )
    cand = (
        a.crossJoin(F.broadcast(off))
        .withColumn("rb", F.col("a.r") + F.col("off"))
        .join(b, F.col("rb") == F.col("b.r"))
        .select(
            F.col("a.rid").alias("r1"),
            F.col("b.rid").alias("r2"),
            matched.alias("matched"),
        )
    )
    truth_n = clean.count()
    return cand.agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("matched"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched"),
        F.sum(
            F.when(
                F.col("matched")
                & (F.abs(F.col("r1") - F.col("r2")) == 1000000000),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_true_found"),
        F.expr(
            f"(sum(CASE WHEN matched AND abs(r1 - r2) = 1000000000"
            f" THEN 1 ELSE 0 END) * 1000000) div {truth_n}"
        )
        .cast("bigint")
        .alias("recall_ppm"),
    )
