"""LLM-data-pipeline operators (SURVEY.md §2.J) — dedup, similarity
search, embeddings, multimodal join, text analysis.

These are the north-star extensions a 100 TB training-data pipeline
needs on top of the reference's ETL surface. Design rules:

- All hot-path math stays JVM-side (``transform``/``aggregate``/
  ``zip_with`` array expressions, no Python UDFs) so whole-stage
  codegen applies.
- Cosine math is done in DOUBLE (cast every float element) — verified
  bit-parity with DuckDB's ``list_cosine_similarity`` at 4 dp (probe-3).
- Near-dup jaccard groups docs by identical token-set BEFORE the pair
  join: the pair join runs on distinct sets (3 935 at sf0.1) instead of
  docs (5 000), and at 100 TB this is the difference between joining
  content fingerprints and joining the corpus. MinHash/LSH is the
  scale path (candidates ∝ true dups, not corpus²).
"""

from __future__ import annotations

from functools import lru_cache
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_gp_import_spark.operators.pairs import (
    bitmap_overlap,
    bounded_vocab,
    hash_blocks,
    increasing_pairs,
    join_gids,
    set_bitmaps,
)
from insight_gp_import_spark.registry import op, tracked_persist
from insight_gp_import_spark.tables import load_table, spread_scan

CAT = "llm"

JACCARD_THRESHOLD = 0.8
# exact rational form of the threshold for the AllPairs prefix/length
# filters (integer math, no float ceil)
JACCARD_T_NUM, JACCARD_T_DEN = 4, 5


def _dot_sql(x: str, y: str) -> str:
    """Dot product of two float-array SQL expressions in double — a
    single-pass JVM expression (zip_with + aggregate, codegen'd, no
    shuffle). Built as ONE SQL string: the Column-API equivalent costs
    hundreds of py4j round-trips per lambda and measurably dominates
    small-query latency (~140ms per plan build)."""
    return (
        f"aggregate(zip_with({x}, {y}, (p, q) -> cast(p as double) * cast(q as double)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def _dot(x: str, y: str) -> Column:
    return F.expr(_dot_sql(x, y))


def _norm(x: str) -> Column:
    return F.expr(f"sqrt({_dot_sql(x, x)})")


def _cosine(a: str, b: str) -> Column:
    """Cosine similarity of two float-array columns, in double.

    Parity with DuckDB list_cosine_similarity proven at 4 dp (probe-3).
    Hot paths should NOT call this per pair — precompute each side's
    norm once per vector (``_norm``) and divide a single ``_dot``:
    3× fewer array passes, and the norm of a join side is computed
    |side| times instead of |side₁|·|side₂| times.
    """
    return F.expr(
        f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


def _lit_vec_sql(vec: list[float]) -> str:
    """A float list as a SQL double-array literal (repr is the shortest
    round-trip form, parsed back to the identical double)."""
    return "array(" + ", ".join(repr(x) + "D" for x in vec) + ")"


@lru_cache(maxsize=64)
def _fetch_query_vector(sf_dir: str, vec_id: int) -> list[float]:
    """Driver-side fetch of one embedding row via pyarrow — query
    parameters (like fitted model params) don't deserve a Spark job.
    Memoized: the testdata files are immutable, and re-reading the
    parquet footer per invocation was measurable bench overhead on a
    ~150 ms query (B8 runs this 4× per bench)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir}/embeddings.parquet",
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "==", vec_id)],
    )
    # tuple: immutable so the memoized value can be shared safely
    return tuple(float(x) for x in tbl.column("embedding")[0].as_py())


def char_trigram_zip_expr(cs: str) -> str:
    """SQL expression: char-3-gram array from a pre-split chars array
    column (``split(text, '')``), via zip_with over the array and its
    shifted selves — ONE pass per doc. The direct form
    ``transform(sequence(1, length(text)-2), i -> substring(text,i,3))``
    re-seeks the UTF-8 byte offset of codepoint i on every element
    (UTF8String.substring is O(i)), i.e. O(len²) per doc — measured
    1.8× slower at sf0.1 (r12). Bit-identical output (both split on
    codepoints; verified exceptAll-empty both ways). ``greatest(0, …)``
    guards sub-3-char strings (empty result, like DuckDB's
    generate_series; no such docs exist in any test corpus)."""
    n = f"greatest(0, size({cs}) - 2)"
    return (
        f"zip_with(zip_with(slice({cs}, 1, {n}), slice({cs}, 2, {n}),"
        f" (a, b) -> concat(a, b)), slice({cs}, 3, {n}),"
        f" (ab, c) -> concat(ab, c))"
    )


def token_sets_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, arr sorted-distinct-token-array, k set-key, n set-size)
    from any (doc_id, text) frame — the df-level entry the library
    dispatch (insight_gp_import_spark.dedup) builds on."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    return (
        toks.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("tok")).alias("arr"))
        .select(
            "doc_id",
            "arr",
            F.array_join("arr", "|").alias("k"),
            F.size("arr").alias("n"),
        )
    )


def _doc_token_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: the corpus files are one-row-group parquet, so the tokenize
    # explode inside token_sets_from_docs would run in a single task;
    # spread_scan fans the docs across cores (no-op at production
    # split counts — see tables.spread_scan).
    return token_sets_from_docs(
        spread_scan(load_table(spark, sf_dir, "documents"))
    )


@op(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm_text,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_md5,
           length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS n_chars_norm
    FROM documents
    """,
    category=CAT,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text form for dedup: lower, collapse whitespace, trim.

    Builtins only (lower/regexp_replace are codegen'd); the md5 of the
    normal form is the content-address used by dedup_exact. NB DuckDB's
    regexp_replace needs the explicit 'g' flag; Spark's is global.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.md5(norm).alias("content_md5"),
        F.length(norm).alias("n_chars_norm"),
    )


@op(
    "dedup_exact",
    oracle="""
    SELECT doc_id, md5(text) AS content_md5
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
    category=CAT,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: exact dedup by content hash — survivor set, min doc_id wins.

    hash-groupBy shuffle on the md5 key; at 100 TB this is the cheapest
    dedup (one shuffle of (hash, id) pairs, never the payload — column
    pruning keeps `text` out of the exchange).

    r12 optimization (guide §2.3 "aggregate before you shuffle"): the
    survivor rule "first doc_id per hash" IS ``min(doc_id) group by
    hash``, so a HashAggregate with map-side partial aggregation
    replaces the old row_number window (which shuffled EVERY (hash, id)
    row and sorted each partition). The exchange now carries at most
    one pre-aggregated row per distinct hash per map task, and the
    reduce side does no sort. Result-identical: row_number()=1 ordered
    by doc_id ≡ min(doc_id).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "content_md5")
    )


# shared with dedup_cluster's oracle (which embeds the pair relation as
# a CTE under its recursive connected-components walk)
JACCARD_PAIRS_SQL = f"""
    WITH toks AS MATERIALIZED (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), sets AS MATERIALIZED (
        -- set identity = the sorted token LIST itself (r10: the
        -- '|'-joined string key aliased sets whose tokens contain '|',
        -- the same hazard fixed Spark-side in _keyed_set_groups)
        SELECT doc_id, list_sort(list(tok)) AS karr, count(*) AS n
        FROM toks GROUP BY doc_id
    ), gs AS MATERIALIZED (
        -- sid = min member doc_id: injective (every doc owns exactly
        -- one token set), so the QUADRATIC pair stage below keys on
        -- BIGINTs; hashing the full LIST per pair row instead measured
        -- 23x slower at sf0.1 (349.5s vs 15.0s, identical output).
        -- The list appears as a key only here and in smap — once per
        -- distinct set / per doc, never per pair.
        SELECT karr, n, min(doc_id) AS sid FROM sets GROUP BY karr, n
    ), smap AS MATERIALIZED (
        SELECT s.doc_id, g.sid FROM sets s JOIN gs g USING (karr, n)
    ), g_toks AS MATERIALIZED (
        SELECT sid, n, unnest(karr) AS tok FROM gs
    ), pairs AS (
        SELECT a.sid AS s1, b.sid AS s2, a.n AS n1, b.n AS n2,
               count(*) AS shared
        FROM g_toks a JOIN g_toks b USING (tok)
        WHERE a.sid < b.sid
        GROUP BY 1, 2, 3, 4
    ), jac AS (
        SELECT s1, s2, shared * 1.0 / (n1 + n2 - shared) AS j
        FROM pairs
        WHERE shared * 1.0 / (n1 + n2 - shared) > {JACCARD_THRESHOLD}
    )
    SELECT least(m1.doc_id, m2.doc_id) AS d1,
           greatest(m1.doc_id, m2.doc_id) AS d2,
           round(j, 4) AS jaccard
    FROM jac
    JOIN smap m1 ON jac.s1 = m1.sid
    JOIN smap m2 ON jac.s2 = m2.sid
    UNION ALL
    SELECT x.doc_id AS d1, y.doc_id AS d2, 1.0 AS jaccard
    FROM smap x JOIN smap y USING (sid)
    WHERE x.doc_id < y.doc_id
    """


@op("dedup_near_jaccard", oracle=JACCARD_PAIRS_SQL, category=CAT)
def dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: token-set Jaccard > 0.8.

    Scale design, three layers (each lossless):

    1. Docs collapse to DISTINCT token-sets first — identical sets are
       jaccard-1 without any join; the pair search runs on set keys
       and doc pairs are expanded back at the end.
    2. A set's key is a BIGINT mask or md5(min member doc_id), so the
       (possibly multi-KB) token set never travels as a join key (see
       ``_set_jaccard``).
    3. AllPairs prefix filtering (``_allpairs_candidates``): the
       candidate join touches only the rarest ≈ (1−t)·n tokens of each
       set, so stop-words do not join every set with every set, and
       exact verification runs on candidates only.

    The oracle is deliberately the NAIVE all-token-join formulation —
    an independent plan computing the same relation is a stronger
    differential check than a mirrored one.

    This is the EXACT twin. The default near-dup entry point,
    ``insight_gp_import_spark.dedup.near_dup_pairs``, dispatches to the
    MinHash-banded plan unless ``exact=True``.
    """
    return allpairs_jaccard_pairs(_doc_token_sets(spark, sf_dir))


def _keyed_set_groups(sets_in: DataFrame) -> DataFrame:
    """(kh, sid, arr, n, docs), persisted: one row per DISTINCT token
    set, ``docs`` its sorted member doc_ids and ``sid`` the smallest.

    Set identity is the sorted token ARRAY itself. A '|'-joined string
    key would alias two distinct sets whose tokens contain '|' (tokens
    are space-split, so {'a|b'} and {'a', 'b'} collide) and emit a
    spurious jaccard-1.0 pair. ``kh = md5(sid)`` is injective because
    each doc owns exactly one token set, so group minima are distinct
    across groups; every consumer uses kh only as an opaque join/order
    key, never as content. The persist serves the candidate join, the
    verify and the expansion, which would otherwise each re-run the
    corpus tokenization."""
    return tracked_persist(
        sets_in.select("doc_id", "arr")
        .groupBy("arr")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .select(
            F.md5(F.element_at("docs", 1).cast("string")).alias("kh"),
            F.element_at("docs", 1).alias("sid"),
            "arr",
            F.size("arr").alias("n"),
            "docs",
        )
    )


# the set bits of a V ≤ 64 mask m, as ascending token ids
_MASK_GIDS = "filter(sequence(0, 63), b -> (shiftright(m, b) & 1) = 1)"


class _SetJaccard(NamedTuple):
    key: str  # "m" (BIGINT mask) or "kh"
    jac: DataFrame  # (<key>1, <key>2, j) surviving set pairs, <key>1 < <key>2
    groups: DataFrame  # (<key>, sid, docs, arr, ...) one row per distinct set
    members: DataFrame  # (<key>, docs) each set's sorted member doc_ids


def _set_jaccard(sets_in: DataFrame) -> _SetJaccard:
    """Exact jaccard > t over the DISTINCT token sets of a (doc_id, arr)
    frame.

    One bounded vocabulary probe picks the set representation. Every
    branch computes the same exact (shared, n1, n2) integers, so the
    choice never changes a result:

    - V ≤ 64, key ``m``: a set IS one BIGINT mask, bit i for token i of
      the sorted vocab. The mask is injective, so it is the set
      identity; candidate keys are longs, and the verify needs no join
      (shared = bit_count(m1 & m2), each size = bit_count(m)).
    - V ≤ ``pairs.BITMAP_MAX_VOCAB``, key ``kh``: candidates verify
      against fixed-width bitmaps, ceil(V/64) longs per set instead of
      the token arrays, whatever the doc size.
    - larger vocabularies: array_intersect of the token arrays.

    All branches take their candidates from
    :func:`_allpairs_candidates`."""
    vocab = bounded_vocab(sets_in.select(F.explode("arr").alias("tok")))
    if vocab is not None and len(vocab) <= 64:
        doc_mask = tracked_persist(
            join_gids(
                sets_in.select("doc_id", F.explode("arr").alias("tok")), "tok", vocab
            )
            .groupBy("doc_id")
            .agg(F.bit_or(F.expr("shiftleft(1L, gid)")).alias("m"))
        )
        # persisted: the dfreq aggregate and the ranking join both read it
        mtoks = tracked_persist(
            doc_mask.select("m")
            .distinct()
            .select(
                "m",
                F.bit_count("m").alias("n"),
                F.explode(F.expr(_MASK_GIDS)).alias("gid"),
            )
        )
        shared = F.bit_count(F.col("m1").bitwiseAND(F.col("m2")))
        jac = _over_threshold(
            _allpairs_candidates(mtoks),
            "m",
            shared,
            F.bit_count("m1"),
            F.bit_count("m2"),
        )
        # sorted members make element_at(docs, 1) the min doc_id. The
        # expansion reads mdocs itself: a rename directly over a cached
        # plan folds into the cache scan. arr is rebuilt from the mask
        # bits, so the md5 minhashes see exactly the original tokens.
        mdocs = tracked_persist(
            doc_mask.groupBy("m").agg(
                F.sort_array(F.collect_list("doc_id")).alias("docs")
            )
        )
        groups = mdocs.select(
            "m",
            F.element_at("docs", 1).alias("sid"),
            "docs",
            F.array(*[F.lit(t) for t in vocab]).alias("varr"),
        ).select(
            "m",
            "sid",
            "docs",
            F.expr(f"transform({_MASK_GIDS}, b -> element_at(varr, b + 1))").alias(
                "arr"
            ),
        )
        return _SetJaccard("m", jac, groups, mdocs)
    groups = _keyed_set_groups(sets_in)
    gs = groups.select("kh", "arr", "n")
    stoks = gs.select("kh", "n", F.explode("arr").alias("tok"))
    if vocab is None:
        side, c, shared = gs, "arr", F.size(F.array_intersect("arr1", "arr2"))
    else:
        side = set_bitmaps(stoks, ["kh", "n"], "tok", vocab)
        c, shared = "bm", bitmap_overlap("bm1", "bm2")
    s1, s2 = (
        side.select(
            F.col("kh").alias(f"kh{i}"),
            F.col(c).alias(f"{c}{i}"),
            F.col("n").alias(f"n{i}"),
        )
        for i in (1, 2)
    )
    jac = _over_threshold(
        _allpairs_candidates(stoks).join(s1, "kh1").join(s2, "kh2"),
        "kh",
        shared,
        F.col("n1"),
        F.col("n2"),
    )
    return _SetJaccard("kh", jac, groups, groups.select("kh", "docs"))


def _over_threshold(
    rel: DataFrame, key: str, shared: Column, n1: Column, n2: Column
) -> DataFrame:
    """(<key>1, <key>2, j) rows of ``rel`` with j = shared / union above
    the threshold."""
    return rel.select(
        f"{key}1", f"{key}2", (shared / (n1 + n2 - shared)).alias("j")
    ).filter(F.col("j") > JACCARD_THRESHOLD)


def allpairs_jaccard_pairs(sets_in: DataFrame) -> DataFrame:
    """Exact Jaccard > t doc pairs over a (doc_id, arr, k, n) token-set
    frame: :func:`_set_jaccard` on the distinct sets, expanded to doc
    pairs. The oracle stays the naive all-token join."""
    sj = _set_jaccard(sets_in)
    return _expand_set_pairs(sj.jac, sj.members, sj.key)


def _allpairs_candidates(stoks: DataFrame) -> DataFrame:
    """AllPairs prefix- and length-filtered candidate set pairs
    (<key>1, <key>2), <key>1 < <key>2, from a (key, n, tok) relation: one
    row per token of each distinct set of size n.

    Prefix theorem (Bayardo et al., WWW'07): order every set's tokens by
    one global total order; a pair with J ≥ t shares a token inside both
    prefixes of length n − ceil(t·n) + 1. Ordering rarest-first (by
    set-level document frequency, ties by token) keeps the prefix join
    on rare tokens, so candidates grow with true near-duplication, not
    with stop-word fan-out. Any total order is correct, which is why the
    mask branch may order by token id. The order is the (dfreq, tok)
    tuple inside a per-set window, never a global rank: that would be an
    un-partitioned window, a one-task sort of the whole vocabulary.
    Length filter: J ≥ t bounds the ratio of the two sizes by t."""
    key, _, tok = stoks.columns
    k1, k2 = f"{key}1", f"{key}2"
    freq = stoks.groupBy(tok).agg(F.count("*").alias("dfreq"))
    pos = stoks.join(freq, tok).select(
        key,
        tok,
        "n",
        F.row_number()
        .over(Window.partitionBy(key).orderBy("dfreq", tok))
        .alias("pos"),
    )
    prefix_len = (
        F.col("n")
        - F.expr(f"({JACCARD_T_NUM} * n + {JACCARD_T_NUM}) div {JACCARD_T_DEN}")
        + 1
    )
    # persisted: the candidate join is a SELF-join of pref, so the window
    # chain would otherwise run twice
    pref = tracked_persist(
        pos.filter(F.col("pos") <= prefix_len).select(key, tok, "n")
    )
    a = pref.select(F.col(key).alias(k1), tok, F.col("n").alias("pn1"))
    b = pref.select(F.col(key).alias(k2), tok, F.col("n").alias("pn2"))
    return (
        a.join(b, tok)
        .filter(
            (F.col(k1) < F.col(k2))
            & (
                JACCARD_T_DEN * F.least("pn1", "pn2")
                >= JACCARD_T_NUM * F.greatest("pn1", "pn2")
            )
        )
        .select(k1, k2)
        .distinct()
    )


def _expand_set_pairs(jac: DataFrame, members: DataFrame, key: str) -> DataFrame:
    """(<key>1, <key>2, j) set pairs → (d1, d2, jaccard) doc pairs, with
    ``members`` the (<key>, docs) member lists.

    Each set's member list is ONE row, so both attachment joins run at
    distinct-set cardinality, and the output-proportional fan-out is two
    cascaded explodes after them: no join shuffles pair-proportional
    volume, and no |da|×|db| struct array is built per row (that form
    cost ~0.7 s more on sf0.1's 2.49 M pairs). Docs sharing one set are
    the jaccard-1 pairs, enumerated from the sorted member list."""
    joined = jac.join(
        members.select(F.col(key).alias(f"{key}1"), F.col("docs").alias("da_arr")),
        f"{key}1",
    ).join(
        members.select(F.col(key).alias(f"{key}2"), F.col("docs").alias("db_arr")),
        f"{key}2",
    )
    cross = (
        joined.select(F.explode("da_arr").alias("da"), "db_arr", "j")
        .select("da", F.explode("db_arr").alias("db"), "j")
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
            F.round("j", 4).alias("jaccard"),
        )
    )
    same = members.select(increasing_pairs("docs", "d1", "d2").alias("p")).select(
        "p.d1", "p.d2", F.lit(1.0).alias("jaccard")
    )
    return cross.unionByName(same)


def jaccard_set_adjacency(sets_in: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Near-dup graph at DISTINCT-SET granularity, for the
    connected-components ops: (edges (s1, s2), membership (sid, doc_id)),
    sid being each distinct token set's minimum member doc_id.

    Components over the doc-pair graph == components over this set
    graph, expanded: docs sharing a set are one node (their mutual
    jaccard-1 pairs add nothing), and a cross-set doc pair survives the
    threshold iff its set pair does, so the labels (min doc_id per
    component = min sid per set component) transfer through membership.
    Both set keys read sid and the sorted member lists from the
    groups."""
    key, jac, groups, _ = _set_jaccard(sets_in)
    sm = groups.select(key, "sid")
    memb = groups.select("sid", F.explode("docs").alias("doc_id"))
    edges = (
        jac.join(
            sm.select(F.col(key).alias(f"{key}1"), F.col("sid").alias("s1")),
            f"{key}1",
        )
        .join(
            sm.select(F.col(key).alias(f"{key}2"), F.col("sid").alias("s2")),
            f"{key}2",
        )
        .select("s1", "s2")
    )
    return edges, memb


N_MINHASH = 32
N_BANDS = 8  # 4 rows per band


MINHASH_PAIRS_SQL = f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), sets AS (
        SELECT doc_id, list_sort(list(tok)) AS arr, count(*) AS n
        FROM toks GROUP BY doc_id
    ), mins AS (
        SELECT t.doc_id, s.s,
               min(md5(CAST(s.s AS VARCHAR) || '_' || t.tok)) AS mh
        FROM toks t CROSS JOIN (SELECT unnest(range({N_MINHASH})) AS s) s
        GROUP BY 1, 2
    ), bands AS (
        SELECT doc_id, CAST(s // {N_MINHASH // N_BANDS} AS INT) AS band,
               md5(string_agg(mh, '|' ORDER BY s)) AS bh
        FROM mins GROUP BY doc_id, s // {N_MINHASH // N_BANDS}
    ), cand AS (
        SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
        FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh
        WHERE l.doc_id < r.doc_id
    ), verified AS (
        SELECT c.d1, c.d2,
               len(list_intersect(s1.arr, s2.arr)) * 1.0
                 / (s1.n + s2.n - len(list_intersect(s1.arr, s2.arr))) AS j
        FROM cand c JOIN sets s1 ON s1.doc_id = c.d1
                    JOIN sets s2 ON s2.doc_id = c.d2
    )
    SELECT d1, d2, round(j, 4) AS jaccard
    FROM verified WHERE j > {JACCARD_THRESHOLD}
    """


@op("dedup_near_minhash", oracle=MINHASH_PAIRS_SQL, category=CAT)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs — the 100 TB scale path.

    32 md5-derived minhashes per doc computed in ONE pass (array_min
    over a transform — pure JVM expressions, no row explosion), banded
    8×4; docs sharing a band bucket are candidates; candidates are
    verified with exact jaccard (array_intersect) ≥ threshold, so
    precision is 1.0 and the op's recall vs dedup_near_jaccard is the
    quality metric (unit-tested). Candidate count scales with true
    duplication, not corpus² — that is the whole point of LSH.

    Deterministic (md5, no RNG) so results are stable across runs and
    engines — and therefore ORACLED (round 4, upgraded from rows-only):
    the DuckDB twin recomputes the same 32 md5 permutation-hashes, the
    same 8 band hashes, the same candidate equi-join and the same exact
    verification, so the driver hash certifies the ENTIRE LSH pipeline
    (a changed permutation seed, band layout, or a lost candidate all
    hash-fail). Oracling this op is what exposed the two-arg-lambda
    arity trap in the minhash builder (see _perm_hash).

    Library note (round 4): this banded plan is the DEFAULT of
    ``insight_gp_import_spark.dedup.near_dup_pairs``; the exact
    AllPairs twin is opt-in via ``exact=True``.
    """
    return minhash_pairs(_doc_token_sets(spark, sf_dir))


def minhash_pairs(sets_in: DataFrame) -> DataFrame:
    """Banded-MinHash near-dup pairs over a (doc_id, arr) token-set
    frame: the scale path (see the op docstring).

    The output relation is {pairs: band-collide ∧ jaccard > t}, and both
    conjuncts are set-level properties, so the plan generates candidates
    from the cheaper one and filters by the other. Generating from the
    banding join measured 628 s on the 10× stress corpus (146 M
    set-level band candidates for 24.9 M true pairs).

    1. :func:`_set_jaccard` gives the exact jaccard > t set pairs; the
       prefix theorem makes them complete for that conjunct, and they
       grow with true near-duplication, not band-bucket volume.
    2. A band-collision filter on the survivors, exact by BUCKET
       LEADERS: per (band, bh) bucket the leader is the minimum member
       sid, and each set carries the 8-long array
       lb[b] = leader_sid·N_BANDS + b. Two sets share a band bucket ⟺
       their lb arrays overlap (a leader belongs to exactly one bucket
       per band, so equal lb values force the same (band, bh)); an
       arrays_overlap over 64-byte payloads at survivor volume replaces
       a 32-char md5 equi-join at bucket volume.
    3. :func:`_expand_set_pairs` maps surviving set pairs back to doc
       pairs; identical-set doc pairs (jaccard 1.0, band hashes
       trivially equal) come from its same-set branch.

    The md5 minhash and band-hash definitions, the threshold and the
    DuckDB oracle are those of the op; each filter is lossless for the
    output relation."""
    key, jac, groups, members = _set_jaccard(sets_in)
    # a mask set bands under its sid and maps back to m; a kh set bands
    # under kh with its sid joined on
    bid = "sid" if key == "m" else key
    bands = _band_hashes(groups, bid)
    if bid != "sid":
        bands = bands.join(groups.select(key, "sid"), key)
    # persisted: bands feeds the leader aggregate AND the lb join, so the
    # 32-minhash computation would otherwise run twice
    bands = tracked_persist(bands)
    leaders = bands.groupBy("band", "bh").agg(F.min("sid").alias("lsid"))
    lbv = (
        bands.join(leaders, ["band", "bh"])
        .groupBy(bid)
        .agg(F.collect_set(F.col("lsid") * N_BANDS + F.col("band")).alias("lb"))
    )
    if bid != key:
        lbv = groups.select(key, "sid").join(lbv, "sid").select(key, "lb")
    banded = (
        jac.join(
            lbv.select(F.col(key).alias(f"{key}1"), F.col("lb").alias("lb1")),
            f"{key}1",
        )
        .join(
            lbv.select(F.col(key).alias(f"{key}2"), F.col("lb").alias("lb2")),
            f"{key}2",
        )
        .filter(F.arrays_overlap("lb1", "lb2"))
        .select(f"{key}1", f"{key}2", "j")
    )
    return _expand_set_pairs(banded, members, key)


def minhash_candidates(sets_in: DataFrame) -> DataFrame:
    """Doc-level LSH banding candidates of ``minhash_pairs``, exposed so
    the scale stress can measure CANDIDATE volume separately from
    verified pairs. Computed as set-level banding + member expansion:
    the same relation as a doc-level banding join (identical sets share
    all 8 band hashes, so same-set member pairs are always candidates,
    and cross-set candidacy depends only on set content), without
    materializing the band join at doc cardinality. No final
    dropDuplicates is needed: set-level candidates are distinct, each
    doc belongs to exactly one set group (so a doc pair expands from
    exactly one set pair), and the same-set/cross-set unions are
    disjoint by construction."""
    grp = _keyed_set_groups(sets_in)
    reps = grp.select(F.col("sid").alias("doc_id"), "arr")
    cand = _band_candidates(reps)
    members = grp.select("sid", F.explode("docs").alias("m"))
    cross = (
        cand.select(F.col("d1").alias("s1"), F.col("d2").alias("s2"))
        .join(
            members.select(F.col("sid").alias("s1"), F.col("m").alias("da")),
            "s1",
        )
        .join(
            members.select(F.col("sid").alias("s2"), F.col("m").alias("db")),
            "s2",
        )
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
        )
    )
    x = members.select("sid", F.col("m").alias("d1"))
    y = members.select("sid", F.col("m").alias("d2"))
    same = (
        x.join(y, "sid")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
    )
    return cross.unionByName(same)


def _band_hashes(sets_in: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, bh) — the 8 banded-MinHash band hashes of each token
    set: 32 md5 permutation-minima computed in one pass, 4 per band,
    band hash = md5 of the '|'-joined minima. Shared by the candidate
    join (``_band_candidates``) and the bucket-leader collision filter
    (``minhash_pairs``)."""

    def _perm_hash(s: int):
        # A FACTORY, not `lambda t, s=s: ...`: PySpark decides a HOF
        # lambda's arity from its FULL signature, so a defaulted second
        # parameter turns transform's lambda into the (element, index)
        # form and the index Column OVERRIDES the default — the prefix
        # then stringifies a Column object whose auto-generated name
        # depends on a session-global counter (gate-caught while
        # oracling this op: the minhashes silently depended on how many
        # lambdas the session had built before).
        return lambda t: F.md5(F.concat(F.lit(f"{s}_"), t))

    mh = sets_in.select(
        id_col,
        *[
            F.array_min(F.transform("arr", _perm_hash(s))).alias(f"mh{s}")
            for s in range(N_MINHASH)
        ],
    )
    rows_per_band = N_MINHASH // N_BANDS
    return mh.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                f"mh{b * rows_per_band + r}"
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "bh"),
    )


def _band_candidates(sets_in: DataFrame) -> DataFrame:
    """The raw banded-MinHash candidate join over a (doc_id, arr)
    frame: equi-join of ``_band_hashes`` with itself on
    (band, band-hash), distinct (d1 < d2) pairs. Callers pass one
    representative per distinct set (``_keyed_set_groups``), never the
    full corpus."""
    bands = _band_hashes(sets_in.select("doc_id", "arr"))
    l, r = bands.alias("l"), bands.alias("r")
    return (
        l.join(r, ["band", "bh"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("d1"),
            F.col("r.doc_id").alias("d2"),
        )
        .dropDuplicates(["d1", "d2"])
    )


TOPK = 10
QUERY_VEC_ID = 0


@op(
    "sim_search_topk",
    oracle=f"""
    SELECT e.vec_id, e.label,
           round(CAST(list_cosine_similarity(e.embedding, q.embedding) AS DOUBLE), 4) AS sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE e.vec_id != {QUERY_VEC_ID}
    ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC, e.vec_id
    LIMIT {TOPK}
    """,
    category=CAT,
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: brute-force cosine top-k vs one query vector.

    The query vector is a 1-row broadcast (map-side, no shuffle of the
    corpus); ordering is on the RAW similarity with vec_id tie-break,
    rounding happens only in the projection (§2.X). At 100 TB this exact
    scan is the recall baseline; ann_ivf_topk is the scale path.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # the query vector is one row: fetch it driver-side (pyarrow row
    # lookup, no Spark job) and inline it as a LITERAL array, so the
    # plan is a single corpus scan + TakeOrdered — no second scan, no
    # broadcast exchange, no join. Python floats preserve the exact
    # float32 values the oracle's list_cosine_similarity sees.
    qvec = _fetch_query_vector(sf_dir, QUERY_VEC_ID)
    qn = sum(x * x for x in qvec) ** 0.5
    sim = F.expr(
        f"{_dot_sql('embedding', _lit_vec_sql(qvec))}"
        f" / (sqrt({_dot_sql('embedding', 'embedding')}) * {qn!r}D)"
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("raw_sim", sim)
        .orderBy(F.desc("raw_sim"), "vec_id")
        .limit(TOPK)
        .select("vec_id", "label", F.round("raw_sim", 4).alias("sim"))
    )


KNN_K = 3


@op(
    "sim_knn_join",
    oracle=f"""
    SELECT probe_id, neighbor_id, round(CAST(raw_sim AS DOUBLE), 4) AS sim, rank
    FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(p.embedding, c.embedding) AS raw_sim,
               row_number() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY list_cosine_similarity(p.embedding, c.embedding) DESC,
                            c.vec_id
               ) AS rank
        FROM (SELECT * FROM embeddings WHERE label = 0) p
        CROSS JOIN (SELECT * FROM embeddings WHERE label = 1) c
    )
    WHERE rank <= {KNN_K}
    """,
    category=CAT,
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join: label-0 probes against the label-1 corpus, k=3.

    A ``corpus.crossJoin(broadcast(probes))`` would evaluate
    |probes|·|corpus| interpreted zip_with/aggregate dot products
    (~µs/pair) and rank the full pair relation. Instead both sides are
    hash-blocked (:func:`~insight_gp_import_spark.operators.pairs.hash_blocks`),
    each block pair is one float64 GEMM, and each tile emits only its
    per-probe top-k, so the ranked relation is |probes|·⌈|corpus|/BLOCK⌉·k
    rows and the final window partitions by probe over that bounded set.
    Per-tile top-k under the total order (−sim, neighbor_id) is a
    lossless partial top-k merge (neighbor ids are unique).

    Neither side broadcasts: probe blocks replicate only against the
    tiny corpus block-ID list, and the tile join is an equi-join on the
    block id (no CartesianProduct in the plan). Numerics: float64
    products/sums exactly like the interpreted fold; GEMM
    summation-order deltas are sub-ulp against the 1e-4 rounding grain.

    Preconditions/determinism: zero-norm embeddings are rejected loudly
    inside the tile (cosine would be NaN, which argsort drops and Arrow
    nulls — unreproducible vs the oracle's NaN-greatest ordering);
    emitted sims are re-evaluated per selected pair with a
    tile-shape-independent einsum kernel, so bitwise-identical vectors
    tie exactly across tiles and the global (−sim, neighbor_id)
    tie-break is deterministic.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv")
    )
    corpus = emb.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    cand = _knn_tile_topk(probes, corpus, KNN_K)
    w = Window.partitionBy("probe_id").orderBy(F.desc("raw_sim"), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("probe_id", "neighbor_id", F.round("raw_sim", 4).alias("sim"), "rank")
    )


KNN_BLOCK = 1024  # vectors per GEMM tile side (~1.2 MB float64 at d=300)


def _knn_tile_topk(probes: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """(probe_id, neighbor_id, raw_sim) — per-(probe, corpus-block)
    top-k cosine candidates via one float64 GEMM per tile.

    Both sides are hash-blocked to ~KNN_BLOCK rows; probe blocks are
    replicated against the corpus BLOCK-ID list (a broadcast of nb_c
    integers — dim-sized, never the vectors) and the tile input is the
    equi-join of that expansion with the corpus blocks on the id, so
    the exchanged volume is |probes|·nb_c + |corpus| vectors. Inside a
    tile: stable argsort of −sim per probe row over columns pre-sorted
    by neighbor_id ⇒ exact top-k under (−sim, neighbor_id)."""
    import numpy as np
    import pandas as pd

    cblk = hash_blocks(corpus, "neighbor_id", "cv", KNN_BLOCK, "bid", "citems")
    pblk = hash_blocks(probes, "probe_id", "pv", KNN_BLOCK, "pbid", "pitems")
    tiles_in = pblk.crossJoin(F.broadcast(cblk.select("bid"))).join(cblk, "bid")

    def tiles(it):
        for pdf in it:
            p_out: list = []
            n_out: list = []
            s_out: list = []
            for pitems, citems in zip(pdf["pitems"], pdf["citems"]):
                pid = np.fromiter(
                    (r["probe_id"] for r in pitems), dtype=np.int64
                )
                P = np.array([r["pv"] for r in pitems], dtype=np.float64)
                nid = np.fromiter(
                    (r["neighbor_id"] for r in citems), dtype=np.int64
                )
                C = np.array([r["cv"] for r in citems], dtype=np.float64)
                # columns in neighbor_id order so the STABLE sort below
                # breaks sim ties by ascending id — the oracle's order
                ord_id = np.argsort(nid, kind="stable")
                nid = nid[ord_id]
                C = C[ord_id]
                pn = np.sqrt((P * P).sum(axis=1))
                cn = np.sqrt((C * C).sum(axis=1))
                # Zero-norm precondition guard: cosine to a zero vector
                # is NaN (0/0); argsort would silently DROP it from the
                # tile top-k (NaN sorts last), and NaN emitted from
                # mapInPandas does not round-trip Arrow anyway (pandas
                # NaN → null), so a zero-norm embedding cannot reproduce
                # the NaN-greatest ordering the oracle uses. Fail loudly
                # instead of silently changing top-k membership.
                if (pn == 0).any() or (cn == 0).any():
                    bad = np.concatenate(
                        [pid[pn == 0], nid[cn == 0]]
                    ).tolist()
                    raise ValueError(
                        "sim_knn_join: zero-norm embedding(s) "
                        f"{bad[:5]} — cosine is undefined (NaN) and "
                        "NaN does not survive Arrow; normalize or "
                        "filter zero vectors upstream"
                    )
                sims = (P @ C.T) / np.outer(pn, cn)
                kk = min(k, sims.shape[1])
                topk = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
                rows = np.repeat(np.arange(topk.shape[0]), kk)
                cols = topk.ravel()
                # Re-evaluate the SELECTED pairs with a tile-shape-
                # independent kernel (sequential einsum row-dot): GEMM
                # kernel paths vary with tile shape, so bitwise-identical
                # corpus vectors landing in different hash blocks could
                # get last-ulp-different sims and flip the (−sim, id)
                # tie-break at the global k boundary.
                # The einsum result depends only on the two vectors, so
                # duplicate vectors now tie exactly across tiles. GEMM
                # remains selection-only; at a sub-ulp GEMM selection
                # boundary the kept candidate is arbitrary among sims
                # that round to the same 1e-4 output grain.
                sel = np.einsum("ij,ij->i", P[rows], C[cols]) / (
                    pn[rows] * cn[cols]
                )
                p_out.append(np.repeat(pid, kk))
                n_out.append(nid[cols])
                s_out.append(sel)
            if p_out:
                yield pd.DataFrame(
                    {
                        "probe_id": np.concatenate(p_out),
                        "neighbor_id": np.concatenate(n_out),
                        "raw_sim": np.concatenate(s_out),
                    }
                )

    return tiles_in.mapInPandas(
        tiles, "probe_id long, neighbor_id long, raw_sim double"
    )


@op(
    "embed_normalize",
    oracle="""
    SELECT vec_id,
           round(norm, 4) AS norm,
           round(CAST(embedding[1] AS DOUBLE) / norm, 4) AS e0,
           round(CAST(embedding[2] AS DOUBLE) / norm, 4) AS e1,
           round(CAST(embedding[3] AS DOUBLE) / norm, 4) AS e2,
           round(CAST(embedding[4] AS DOUBLE) / norm, 4) AS e3
    FROM (
        SELECT vec_id, embedding,
               sqrt(list_aggregate(
                   list_transform(embedding,
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   'sum')) AS norm
        FROM embeddings
    )
    """,
    category=CAT,
)
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings; emit the norm and first 4 components as
    rounded scalar doubles (§2.X: no raw arrays in hashed output)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = emb.withColumn("norm", _norm("embedding"))
    comps = [
        F.round(F.element_at("embedding", i + 1).cast("double") / F.col("norm"), 4).alias(
            f"e{i}"
        )
        for i in range(4)
    ]
    return out.select("vec_id", F.round("norm", 4).alias("norm"), *comps)


@op(
    "multimodal_join",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars, round(CAST(raw_sim AS DOUBLE), 4) AS sim
    FROM (
        SELECT d.doc_id, d.lang, d.source, d.n_chars,
               list_cosine_similarity(e.embedding, q.embedding) AS raw_sim
        FROM documents d
        JOIN embeddings e ON d.doc_id = e.vec_id
        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        WHERE d.lang = 'en'
    )
    ORDER BY raw_sim DESC, doc_id
    LIMIT {TOPK}
    """,
    category=CAT,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unify text + vector modalities: documents⋈embeddings on
    doc_id=vec_id, filter by language, rank by similarity to the query
    vector. The doc⋈vec join is the multimodal-pipeline staple (text
    features + embedding features side by side)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _fetch_query_vector(sf_dir, QUERY_VEC_ID)
    qn = sum(x * x for x in qvec) ** 0.5
    return (
        docs.filter(F.col("lang") == "en")
        .join(emb, docs.doc_id == emb.vec_id)
        .withColumn(
            "raw_sim",
            F.expr(
                f"{_dot_sql('embedding', _lit_vec_sql(qvec))}"
                f" / (sqrt({_dot_sql('embedding', 'embedding')}) * {qn!r}D)"
            ),
        )
        .orderBy(F.desc("raw_sim"), "doc_id")
        .limit(TOPK)
        .select(
            "doc_id", "lang", "source", "n_chars", F.round("raw_sim", 4).alias("sim")
        )
    )


@op(
    "text_stats",
    oracle="""
    WITH toks AS (
        SELECT lang, source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), tok_stats AS (
        SELECT lang, source,
               count(*) AS n_tokens,
               count(DISTINCT tok) AS n_distinct_tokens
        FROM toks GROUP BY lang, source
    ), doc_stats AS (
        SELECT lang, source,
               count(*) AS n_docs,
               round(avg(n_chars), 4) AS avg_chars
        FROM documents GROUP BY lang, source
    )
    SELECT d.lang, d.source, n_docs, avg_chars, n_tokens, n_distinct_tokens
    FROM doc_stats d JOIN tok_stats t
      ON d.lang = t.lang AND d.source = t.source
    """,
    category=CAT,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus stats: doc count, avg length, token
    totals and distinct tokens — the profiling pass every corpus gets
    before filtering. Two partial aggregates joined on the group key
    (both shuffle once on the same key; AQE broadcasts the smaller)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    tok_stats = toks.groupBy("lang", "source").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
    )
    doc_stats = docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )
    return doc_stats.join(tok_stats, ["lang", "source"]).select(
        "lang", "source", "n_docs", "avg_chars", "n_tokens", "n_distinct_tokens"
    )


TFIDF_TOPK = 3


@op(
    "text_tfidf",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT count(*) AS n FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS raw_tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, round(raw_tfidf, 6) AS tfidf, rank
    FROM (
        SELECT doc_id, term, raw_tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY raw_tfidf DESC, term) AS rank
        FROM scored
    )
    WHERE rank <= {TFIDF_TOPK}
    """,
    category=CAT,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf with idf = ln(N/df); top-3 terms per doc (term-asc ties).

    The df table is tiny (≤ vocab) → broadcast back onto tf; the only
    real shuffles are the tf groupBy and the per-doc window.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.count()  # scalar; folded into the idf literal
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n)) / F.col("df"))).alias("raw_tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("raw_tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "term", F.round("raw_tfidf", 6).alias("tfidf"), "rank")
    )


@op(
    "embed_quantize_int8",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               embedding,
               -- CAST both sides: DuckDB 127.0/FLOAT divides in float32 and
               -- the float32 scale drifts vs Spark's double (caught at sf0.1)
               CAST(127.0 AS DOUBLE) / CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS scale
        FROM embeddings
    )
    SELECT vec_id,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(least(127, greatest(-127, floor(x * scale + 0.5))) AS BIGINT)
           )) AS BIGINT) AS sum_q,
           CAST(len(list_filter(embedding,
                x -> CAST(least(127, greatest(-127, floor(x * scale + 0.5))) AS BIGINT) <> 0
           )) AS BIGINT) AS nnz_q,
           CAST(floor(list_max(list_transform(embedding,
                x -> abs(x - least(127, greatest(-127, floor(x * scale + 0.5))) / scale)
           )) * 1e6 + 0.5) AS BIGINT) AS max_err_e6
    FROM q
    """,
    category=CAT,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth
    step before shipping an embedding corpus to an ANN index or a
    training shard (4× smaller than float32, 16× than float64).

    scale = 127/max|x| per vector; q = clamp(round-half-up(x·scale)).
    Rounding is spelled floor(x·scale + 0.5) — both engines execute
    the same IEEE double ops, whereas built-in round() is half-even in
    one engine and half-away in the other on exact .5 products (§2.X;
    same class as the money-math rule). Everything is a scan-stage
    array expression: zero shuffles, zero Python — at 100 TB this is
    pure whole-stage-codegen throughput. Output is scalar audit
    columns (checksum, nnz, max reconstruction error in integer ppm —
    built-in round() is half-even vs half-away across engines on 6th-
    decimal doubles, floor(x·1e6+0.5) is not), never the raw int8
    array (§2.X: no array hashing).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.withColumn(
        "scale",
        F.lit(127.0)
        / F.expr("array_max(transform(embedding, x -> abs(x)))"),
    )
    qexpr = "CAST(least(127, greatest(-127, floor(x * scale + 0.5))) AS BIGINT)"
    return q.select(
        "vec_id",
        F.expr(
            f"CAST(aggregate(transform(embedding, x -> {qexpr}), 0L, (a, b) -> a + b) AS BIGINT)"
        ).alias("sum_q"),
        F.expr(
            f"CAST(size(filter(embedding, x -> {qexpr} <> 0)) AS BIGINT)"
        ).alias("nnz_q"),
        F.expr(
            "CAST(floor(array_max(transform(embedding,"
            f" x -> abs(x - {qexpr} / scale))) * 1e6 + 0.5) AS BIGINT)"
        ).alias("max_err_e6"),
    )


RANGE_SIM_THRESHOLD = 0.30
TRUNC_DIMS = 16


@op(
    "sim_search_range",
    oracle=f"""
    SELECT e.vec_id, e.label,
           round(CAST(list_cosine_similarity(e.embedding, q.embedding)
                      AS DOUBLE), 4) AS sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings
                WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE e.vec_id != {QUERY_VEC_ID}
      AND round(CAST(list_cosine_similarity(e.embedding, q.embedding)
                     AS DOUBLE), 4) >= {RANGE_SIM_THRESHOLD}
    """,
    category=CAT,
)
def sim_search_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold (range) similarity search: EVERY vector within cosine
    ≥ {RANGE_SIM_THRESHOLD} of the query — the other half of the
    retrieval API next to sim_search_topk's fixed-K cut. Top-k answers
    "give me the best K no matter how bad"; range answers "give me
    everything actually similar" (dedup candidate pull, recall-bounded
    retrieval, near-dup audit).

    Same single-scan shape as sim_search_topk: the query vector is
    inlined as a literal array (driver-side pyarrow row fetch, no
    second Spark job), the dot/norm math is one codegen'd zip_with
    pass, and because there is no global K there is NO ordering step
    at all — a pure filtered scan, strictly cheaper than top-k at any
    scale. The threshold compares the ROUNDED similarity (both
    engines), so inclusion at the boundary is decided on the same
    4-dp value the row publishes (§2.X). At 100 TB: embarrassingly
    parallel; the LSH/IVF bucketed paths (ann_*) prune candidates
    when the corpus no longer fits a full scan budget.
    """
    qvec = _fetch_query_vector(sf_dir, QUERY_VEC_ID)
    qn = sum(x * x for x in qvec) ** 0.5
    sim = F.round(
        F.expr(
            f"{_dot_sql('embedding', _lit_vec_sql(qvec))}"
            f" / (sqrt({_dot_sql('embedding', 'embedding')}) * {qn!r}D)"
        ),
        4,
    )
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("sim", sim)
        .filter(F.col("sim") >= RANGE_SIM_THRESHOLD)
        .select("vec_id", "label", "sim")
    )


@op(
    "embed_truncate_renorm",
    oracle=f"""
    SELECT vec_id, label,
           round(pn, 4) AS prefix_norm,
           round(pn / fn, 4) AS retention,
           round(CAST(embedding[1] AS DOUBLE) / pn, 4) AS r0
    FROM (
        SELECT vec_id, label, embedding,
               sqrt(list_aggregate(
                   list_transform(embedding[1:{TRUNC_DIMS}],
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   'sum')) AS pn,
               sqrt(list_aggregate(
                   list_transform(embedding,
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   'sum')) AS fn
        FROM embeddings
    )
    """,
    category=CAT,
)
def embed_truncate_renorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation (Kusupati et al.,
    NeurIPS'22): keep the first {TRUNC_DIMS} of 64 dims and L2-renorm —
    the 4× cheaper index the MRL training regime is built for. Emits
    per-vector quality telemetry: the truncated norm, the retention
    ratio ‖prefix‖/‖full‖ (exactly the cosine between the full vector
    and its zero-padded truncation — how much signal the cut keeps),
    and the first renormed component as the §2.X scalar witness that
    the renorm plumbing is right (no raw arrays in hashed output).

    Scan-stage only: slice + one fused zip_with/aggregate pass per
    norm, no shuffle, no UDF. At 100 TB this is the projection you run
    BEFORE building the ANN index (ann_ivf_topk / ann_lsh_topk probe
    the 16-dim space 4× faster with retention-weighted confidence);
    pairing it with embed_quantize_int8 compounds to ~16× smaller
    index bytes.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    prefix = f"slice(embedding, 1, {TRUNC_DIMS})"
    pn = F.expr(f"sqrt({_dot_sql(prefix, prefix)})")
    fn = _norm("embedding")
    out = emb.withColumn("pn", pn).withColumn("fn", fn)
    return out.select(
        "vec_id",
        "label",
        F.round("pn", 4).alias("prefix_norm"),
        F.round(F.col("pn") / F.col("fn"), 4).alias("retention"),
        F.round(
            F.element_at("embedding", 1).cast("double") / F.col("pn"), 4
        ).alias("r0"),
    )


SIMHIST_OFFSET = 101


@op(
    "embed_sim_histogram",
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id,
               round(CAST(list_cosine_similarity(a.embedding, b.embedding)
                          AS DOUBLE), 4) AS sim
        FROM embeddings a
        JOIN embeddings b ON b.vec_id = a.vec_id + {SIMHIST_OFFSET}
    )
    SELECT CAST(floor(sim * 10) AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(min(sim), 4) AS lo_sim,
           round(max(sim), 4) AS hi_sim
    FROM pairs GROUP BY 1
    """,
    category=CAT,
)
def embed_sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-similarity histogram over a deterministic linear-probe
    pair sample (vec i ⋈ vec i+{SIMHIST_OFFSET}) — the geometry
    diagnostic run BEFORE choosing dedup/ANN thresholds: a healthy
    embedding space shows a unimodal bulk well below the near-dup
    band; a spike near 1.0 means duplicates, a shifted bulk means the
    threshold in dedup_embed_cosine is wrong for this corpus.

    The pair sample is a JOIN ON an ARITHMETIC KEY (no RNG, no
    quadratic blowup — exactly N−{SIMHIST_OFFSET} pairs at any scale;
    §2.X rule 5), so the whole diagnostic is one equi-join + one tiny
    histogram aggregate. Bucketing floors the ROUNDED sim — the same
    double in both engines. At 100 TB stride-sampling keeps this an
    O(N) probe where all-pairs would be O(N²).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    b = emb.select(
        (F.col("vec_id") - SIMHIST_OFFSET).alias("vec_id"),
        F.col("embedding").alias("eb"),
    )
    sim = F.round(
        F.expr(
            f"{_dot_sql('ea', 'eb')}"
            f" / (sqrt({_dot_sql('ea', 'ea')}) * sqrt({_dot_sql('eb', 'eb')}))"
        ),
        4,
    )
    pairs = a.join(b, "vec_id").select(sim.alias("sim"))
    return pairs.groupBy(
        F.floor(F.col("sim") * 10).cast("int").alias("bucket")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.round(F.min("sim"), 4).alias("lo_sim"),
        F.round(F.max("sim"), 4).alias("hi_sim"),
    )


@op(
    "embed_binary_sign_pack",
    oracle="""
    WITH bits AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(generate_series(1, 32),
                    i -> CASE WHEN embedding[i] >= 0
                              THEN 1::BIGINT << (i - 1) ELSE 0 END))
                    AS BIGINT) AS lo,
               CAST(list_sum(list_transform(generate_series(33, 64),
                    i -> CASE WHEN embedding[i] >= 0
                              THEN 1::BIGINT << (i - 33) ELSE 0 END))
                    AS BIGINT) AS hi
        FROM embeddings
    ), ref AS (
        SELECT lo AS lo0, hi AS hi0 FROM bits
        WHERE vec_id = (SELECT min(vec_id) FROM bits)
    )
    SELECT vec_id, lo, hi,
           CAST(bit_count(lo) + bit_count(hi) AS BIGINT) AS popcnt,
           CAST(bit_count(xor(lo, lo0)) + bit_count(xor(hi, hi0)) AS BIGINT)
               AS hamming_ref
    FROM bits CROSS JOIN ref
    """,
    category=CAT,
)
def embed_binary_sign_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (binary) embedding quantization: pack the 64 sign bits of
    each vector into two 32-bit words — the 32×-compression retrieval
    trick (binary codes + Hamming rerank) one tier below
    embed_quantize_int8's 4×, with the Hamming distance to a
    reference vector as the similarity proxy (sign-cosine: for
    random-projection-like embeddings, cos θ ≈ cos(π·hamming/64)).

    Signs of stored floats are EXACT (no arithmetic precedes the
    comparison; x ≥ 0 reads the sign bit, identical in any engine),
    so unlike the int8 path there is no scale double anywhere. Two
    32-bit halves dodge the 1<<63 BIGINT sign-bit trap. The packing
    runs in the scan projection (JVM aggregate over sequence —
    zero shuffles, zero Python); downstream, dedup_phash_hamming's
    banded blocking consumes exactly these words at 100 TB scale, and
    the 1-row reference broadcast mirrors sim_search_topk's shape.
    """
    e = load_table(spark, sf_dir, "embeddings")
    lo = F.expr(
        "aggregate(sequence(1, 32), 0L, (acc, i) -> acc + "
        "IF(element_at(embedding, i) >= 0, shiftleft(1L, i - 1), 0L))"
    )
    hi = F.expr(
        "aggregate(sequence(33, 64), 0L, (acc, i) -> acc + "
        "IF(element_at(embedding, i) >= 0, shiftleft(1L, i - 33), 0L))"
    )
    bits = e.select("vec_id", lo.alias("lo"), hi.alias("hi"))
    ref = (
        bits.orderBy("vec_id")
        .limit(1)
        .select(F.col("lo").alias("lo0"), F.col("hi").alias("hi0"))
    )
    return bits.crossJoin(F.broadcast(ref)).select(
        "vec_id",
        "lo",
        "hi",
        (F.bit_count("lo") + F.bit_count("hi"))
        .cast("bigint")
        .alias("popcnt"),
        (
            F.bit_count(F.col("lo").bitwiseXOR(F.col("lo0")))
            + F.bit_count(F.col("hi").bitwiseXOR(F.col("hi0")))
        )
        .cast("bigint")
        .alias("hamming_ref"),
    )


NORM_DEAD_EPS = "0.5"  # near-zero norm threshold (literal: exact both sides)


@op(
    "embed_norm_health",
    oracle=f"""
    WITH norms AS (
        SELECT vec_id, label,
               round(sqrt(CAST(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                    AS DOUBLE)), 4) AS nrm
        FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm,
           CAST(sum(CASE WHEN nrm < {NORM_DEAD_EPS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dead,
           CAST(min(vec_id) FILTER (WHERE nrm < {NORM_DEAD_EPS})
                AS BIGINT) AS first_dead_vec
    FROM norms GROUP BY label
    """,
    category=CAT,
)
def embed_norm_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding NORM health check: per label, the L2-norm range and
    the count of near-DEAD vectors (norm < {NORM_DEAD_EPS}) with the
    first offender's id — the encoder-sanity gate run before any
    similarity work (a dead vector cosines to ~anything; a norm
    range spanning orders of magnitude says the encoder was fed
    garbage or mixed checkpoints — embed_centroid_drift finds
    DIRECTION problems, this finds MAGNITUDE problems, and both run
    on the same scan).

    Norms are one JVM aggregate expression per row in the scan stage
    (zip_with-free: x² sum then sqrt), ROUNDED at 4 before the
    dead-threshold compare and min/max (§2.X flag rule — a raw
    float32-sum boundary would flip engine-dependently); the rollup
    is one map-combined pass; first_dead_vec uses the conditional-min
    idiom with nulls where a label is healthy.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.round(
        F.sqrt(
            F.expr(
                "aggregate(embedding, cast(0.0 as double),"
                " (acc, x) -> acc + cast(x as double) * cast(x as double))"
            )
        ),
        4,
    )
    norms = emb.select("vec_id", "label", nrm.alias("nrm"))
    dead = F.col("nrm") < float(NORM_DEAD_EPS)
    return norms.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
        F.sum(F.when(dead, 1).otherwise(0)).alias("n_dead"),
        F.min(F.when(dead, F.col("vec_id"))).alias("first_dead_vec"),
    )


MAT_QUERY_IDS = (0, 1, 2, 3, 4)
MAT_DIMS = 32  # prefix dims retained (of 64)
MAT_K = 10


@op(
    "embed_matryoshka_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE vec_id IN {MAT_QUERY_IDS}
    ), cand AS (
        SELECT q.qid, e.vec_id AS vid,
               CAST(list_cosine_similarity(e.embedding, q.qe) AS DOUBLE)
                   AS cos_full,
               CAST(list_cosine_similarity(e.embedding[1:{MAT_DIMS}],
                                           q.qe[1:{MAT_DIMS}]) AS DOUBLE)
                   AS cos_trunc
        FROM embeddings e JOIN q ON e.vec_id <> q.qid
    ), rf AS (
        SELECT qid, vid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_full DESC, vid) AS r
        FROM cand
    ), rt AS (
        SELECT qid, vid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_trunc DESC, vid) AS r
        FROM cand
    )
    SELECT rf.qid,
           CAST(count(rt.vid) AS BIGINT) AS overlap_at_{MAT_K},
           CAST(min(CASE WHEN rf.r = 1 THEN rf.vid END) AS BIGINT)
               AS top1_full,
           CAST(min(CASE WHEN rf.r = 1 THEN rf.vid END) =
                (SELECT vid FROM rt x
                 WHERE x.qid = rf.qid AND x.r = 1) AS BOOLEAN) AS top1_same
    FROM rf
    LEFT JOIN rt ON rt.qid = rf.qid AND rt.vid = rf.vid
                AND rt.r <= {MAT_K}
    WHERE rf.r <= {MAT_K}
    GROUP BY rf.qid
    ORDER BY rf.qid
    """,
    category=CAT,
)
def embed_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation eval: does retrieval survive keeping only
    the first {MAT_DIMS} of 64 dims? Per probe query: top-{MAT_K}
    overlap between full-dim and prefix-dim cosine rankings + top-1
    agreement — the measurement behind every 'store 2× less, rerank
    later' decision (embed_truncate_renorm SHIPS truncated vectors;
    this op is the eval gate that says whether you're allowed to,
    and MRL-trained embeddings are deployed exactly on this
    evidence).

    Probe set is {len(MAT_QUERY_IDS)} fixed ids (broadcast, so the
    candidate side streams once per probe — bounded Q·N work, the
    sim_knn_join shape, never N²); slicing is zero-copy on the
    array column; both rankings come off the SAME candidate pass
    (one scan, two windows partitioned by probe). Cosines are
    identical IEEE folds in both engines (probe-3 law sim_search
    relies on) with vec_id tie-breaks making each rank total;
    overlap/top-1 are then pure integer/bool aggregates.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(*MAT_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cand = (
        e.join(F.broadcast(q), e.vec_id != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("vid"),
            F.expr(
                f"{_dot_sql('embedding', 'qe')}"
                f" / (sqrt({_dot_sql('embedding', 'embedding')})"
                f" * sqrt({_dot_sql('qe', 'qe')}))"
            ).alias("cos_full"),
            F.expr(
                f"{_dot_sql(f'slice(embedding, 1, {MAT_DIMS})', f'slice(qe, 1, {MAT_DIMS})')}"
                f" / (sqrt({_dot_sql(f'slice(embedding, 1, {MAT_DIMS})', f'slice(embedding, 1, {MAT_DIMS})')})"
                f" * sqrt({_dot_sql(f'slice(qe, 1, {MAT_DIMS})', f'slice(qe, 1, {MAT_DIMS})')}))"
            ).alias("cos_trunc"),
        )
    )
    wq = Window.partitionBy("qid")
    rf = cand.select(
        "qid",
        "vid",
        F.row_number().over(wq.orderBy(F.desc("cos_full"), "vid")).alias("r"),
    ).filter(F.col("r") <= MAT_K)
    rt = cand.select(
        "qid",
        "vid",
        F.row_number().over(wq.orderBy(F.desc("cos_trunc"), "vid")).alias("r"),
    ).filter(F.col("r") <= MAT_K)
    t1f = rf.filter(F.col("r") == 1).select(
        "qid", F.col("vid").alias("top1_full")
    )
    t1t = rt.filter(F.col("r") == 1).select(
        "qid", F.col("vid").alias("top1_trunc")
    )
    overlap = (
        rf.alias("rf")
        .join(
            rt.select("qid", "vid").alias("rt"),
            (F.col("rf.qid") == F.col("rt.qid"))
            & (F.col("rf.vid") == F.col("rt.vid")),
            "left_semi",
        )
        .groupBy("qid")
        .agg(F.count("*").cast("bigint").alias(f"overlap_at_{MAT_K}"))
    )
    return (
        overlap.join(F.broadcast(t1f), "qid")
        .join(F.broadcast(t1t), "qid")
        .select(
            "qid",
            f"overlap_at_{MAT_K}",
            F.col("top1_full").cast("bigint").alias("top1_full"),
            (F.col("top1_full") == F.col("top1_trunc")).alias("top1_same"),
        )
        .orderBy("qid")
    )


HN_QUERY_IDS = (0, 1, 2, 3, 4)
HN_K = 5


@op(
    "embed_hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, label AS q_label, embedding AS qe
        FROM embeddings WHERE vec_id IN {HN_QUERY_IDS}
    ), cand AS (
        SELECT q.qid, q.q_label, e.vec_id AS vid, e.label AS neg_label,
               CAST(list_cosine_similarity(e.embedding, q.qe) AS DOUBLE) AS cos
        FROM embeddings e JOIN q ON e.label <> q.q_label
    ), ranked AS (
        SELECT qid, q_label, vid, neg_label, cos,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, vid) AS rnk
        FROM cand
    )
    SELECT qid, q_label, CAST(rnk AS BIGINT) AS rnk, vid, neg_label,
           round(cos, 4) AS cos
    FROM ranked WHERE rnk <= {HN_K}
    ORDER BY qid, rnk
    """,
    category=CAT,
)
def embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per probe vector, the top-{HN_K} most
    similar candidates with a DIFFERENT label — the contrastive-
    training step that decides retrieval-model quality (random
    negatives are trivially separable and teach nothing; the
    negatives that are nearly positive — high cosine, wrong class —
    carry all the gradient, per the dense-retrieval literature from
    DPR/ANCE onward; this op is the mining query those trainers run
    over the whole corpus every epoch).

    The label-mismatch predicate rides the broadcast probe join
    (bounded Q·N, the sim_knn_join shape), so mining cost is one
    candidate pass per probe batch regardless of corpus size — at
    100 TB the probe set batches through the same plan. One rank
    window per probe partition, vid tie-break total order; cosine
    rounded at 4 for DISPLAY only, after the rank (the order key is
    the identical IEEE fold both engines compute — the sim_search
    probe-3 law).
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(*HN_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
    )
    cand = e.join(F.broadcast(q), e.label != F.col("q_label")).select(
        "qid",
        "q_label",
        F.col("vec_id").alias("vid"),
        F.col("label").alias("neg_label"),
        F.expr(
            f"{_dot_sql('embedding', 'qe')}"
            f" / (sqrt({_dot_sql('embedding', 'embedding')})"
            f" * sqrt({_dot_sql('qe', 'qe')}))"
        ).alias("cos"),
    )
    ranked = cand.select(
        "qid",
        "q_label",
        "vid",
        "neg_label",
        "cos",
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(F.desc("cos"), "vid"))
        .cast("bigint")
        .alias("rnk"),
    )
    return (
        ranked.filter(F.col("rnk") <= HN_K)
        .select("qid", "q_label", "rnk", "vid", "neg_label",
                F.round("cos", 4).alias("cos"))
        .orderBy("qid", "rnk")
    )


CENTROID_Q_SCALE = 10000  # per-component quantization for exact sums


@op(
    "embed_label_centroid_separation",
    oracle=f"""
    WITH comp AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                          * {CENTROID_Q_SCALE} + 0.5) AS BIGINT) AS qv
        FROM embeddings
    ), cent AS (
        SELECT label, dim, CAST(sum(qv) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM comp GROUP BY 1, 2
    ), pairs AS (
        SELECT a.label AS l1, b.label AS l2,
               CAST(sum(a.s * b.s) AS BIGINT) AS dot,
               CAST(sum(a.s * a.s) AS BIGINT) AS n1sq,
               CAST(sum(b.s * b.s) AS BIGINT) AS n2sq
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT l1, l2,
           round(dot / (sqrt(n1sq * 1.0) * sqrt(n2sq * 1.0)), 6)
               AS centroid_cos
    FROM pairs ORDER BY l1, l2
    """,
    category=CAT,
)
def embed_label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separation matrix: pairwise cosine between LABEL
    CENTROIDS — the embedding-quality eval behind 'are these classes
    even separable' (near-orthogonal centroids = a classifier has
    something to learn; two centroids at cos 0.9 = merge the labels
    or fix the encoder; embed_centroid_drift watches ONE centroid
    move over time, this measures ALL pairs against each other —
    and on random synthetic vectors the whole matrix sits near 0,
    which is the calibrated no-structure baseline a real corpus is
    read against).

    Centroid determinism trick: per-component mean needs a float sum
    over rows — banned — so components are QUANTIZED once per row
    (floor(CAST(x AS DOUBLE)·10⁴ + 0.5) — TWO gate catches live in
    that expression: round() ties differ between engines, and
    without the explicit double cast each engine promotes the
    float32 product differently) and the centroid becomes
    an exact integer sum vector; the common count divides OUT of
    cosine (cos(S/n, T/m) = cos(S, T)), so means are never formed
    at all. Pairwise cosine then runs on the |labels|·|dims| integer
    table — dim-scale — with a single mirrored sqrt division
    rounded at 6.
    """
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("dim0", "v")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * CENTROID_Q_SCALE + 0.5)
        .cast("bigint")
        .alias("qv"),
    )
    cent = comp.groupBy("label", "dim").agg(
        F.sum("qv").cast("bigint").alias("s")
    )
    a, b = cent.alias("a"), cent.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(F.col("a.label").alias("l1"), F.col("b.label").alias("l2"))
        .agg(
            F.sum(F.col("a.s") * F.col("b.s")).cast("bigint").alias("dot"),
            F.sum(F.col("a.s") * F.col("a.s")).cast("bigint").alias("n1sq"),
            F.sum(F.col("b.s") * F.col("b.s")).cast("bigint").alias("n2sq"),
        )
    )
    return pairs.select(
        "l1",
        "l2",
        F.round(
            F.col("dot")
            / (F.sqrt(F.col("n1sq") * 1.0) * F.sqrt(F.col("n2sq") * 1.0)),
            6,
        ).alias("centroid_cos"),
    ).orderBy("l1", "l2")


ANISO_Q_SCALE = 10000


@op(
    "embed_anisotropy_score",
    oracle=f"""
    WITH comp AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                          * {ANISO_Q_SCALE} + 0.5) AS BIGINT) AS qv
        FROM embeddings
    ), sums AS (
        SELECT label, dim, CAST(sum(qv) AS BIGINT) AS s
        FROM comp GROUP BY 1, 2
    ), mean_sq AS (
        SELECT label, CAST(sum(s * s) AS BIGINT) AS s_sq
        FROM sums GROUP BY label
    ), qnorm AS (
        SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n
        FROM embeddings GROUP BY label
    ), rownorm AS (
        SELECT label, CAST(sum(qv * qv) AS BIGINT) AS q_tot
        FROM comp GROUP BY label
    )
    SELECT m.label, q.n,
           round(sqrt(m.s_sq * 1.0 / (q.n * r.q_tot)), 9) AS anisotropy
    FROM mean_sq m
    JOIN qnorm q ON q.label = m.label
    JOIN rownorm r ON r.label = m.label
    ORDER BY m.label
    """,
    category=CAT,
)
def embed_anisotropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy score per label: ‖mean vector‖ relative to the RMS
    vector norm — the representation-degeneration check (Ethayarajh
    2019 lineage: contextual embeddings collapse toward a shared
    direction, so random pairs look similar and cosine loses
    resolution; a score near 0 = isotropic/healthy, near 1 = the
    space has collapsed and every downstream cosine — search,
    dedup, hard negatives — is measuring the common direction, not
    content; embed_norm_health checks MAGNITUDE, this checks
    DIRECTION concentration — the axis it can't see).

    Score = √(‖Σv‖² / (n·Σ‖v‖²)): both quadratic forms are exact
    BIGINTs over the floor-quantized components (the centroid-
    separation device — quantization scale divides out of the
    ratio), so the only float is one sqrt of an integer ratio,
    rounded at 9. |labels|·|dims| intermediate, dim-scale.
    """
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("dim0", "v")
    ).select(
        "label",
        F.col("dim0").alias("dim"),
        F.floor(F.col("v").cast("double") * ANISO_Q_SCALE + 0.5)
        .cast("bigint")
        .alias("qv"),
    )
    sums = comp.groupBy("label", "dim").agg(
        F.sum("qv").cast("bigint").alias("s")
    )
    mean_sq = sums.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("s_sq")
    )
    qnorm = e.groupBy("label").agg(
        F.countDistinct("vec_id").cast("bigint").alias("n")
    )
    rownorm = comp.groupBy("label").agg(
        F.sum(F.col("qv") * F.col("qv")).cast("bigint").alias("q_tot")
    )
    return (
        mean_sq.join(qnorm, "label")
        .join(rownorm, "label")
        .select(
            "label",
            "n",
            F.round(
                F.sqrt(
                    F.col("s_sq") * 1.0 / (F.col("n") * F.col("q_tot"))
                ),
                9,
            ).alias("anisotropy"),
        )
        .orderBy("label")
    )


PROTO_TOP_K = 3


@op(
    "embed_prototype_selection",
    oracle=f"""
    WITH comp AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                          * {CENTROID_Q_SCALE} + 0.5) AS BIGINT) AS qv
        FROM embeddings),
    cent AS (
        SELECT label, dim, CAST(sum(qv) AS BIGINT) AS s
        FROM comp GROUP BY 1, 2),
    c2 AS (SELECT label, CAST(sum(s * s) AS BIGINT) AS c2
           FROM cent GROUP BY 1),
    member AS (
        SELECT comp.vec_id, comp.label,
               CAST(sum(comp.qv * cent.s) AS BIGINT) AS dot,
               CAST(sum(comp.qv * comp.qv) AS BIGINT) AS q2
        FROM comp JOIN cent
          ON cent.label = comp.label AND cent.dim = comp.dim
        GROUP BY 1, 2),
    scored AS (
        SELECT m.label, m.vec_id,
               round(m.dot / (sqrt(m.q2 * 1.0) * sqrt(c.c2 * 1.0)), 6)
                   AS proto_cos
        FROM member m JOIN c2 c ON c.label = m.label),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY label
                                     ORDER BY proto_cos DESC, vec_id) AS rank
        FROM scored)
    SELECT CAST(label AS BIGINT) AS label, CAST(rank AS BIGINT) AS rank,
           vec_id, proto_cos
    FROM ranked WHERE rank <= {PROTO_TOP_K} ORDER BY label, rank
    """,
    category=CAT,
)
def embed_prototype_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label PROTOTYPE selection: the top-K members closest (by
    cosine) to their own label centroid — the curation primitive
    behind 'show me what this cluster IS' (dataset cards, labeling
    QA, few-shot exemplar picking, and the seed step of
    prototype-based classifiers). Complements the diagnostics
    (centroid_separation says labels differ; anisotropy says
    directions aren't collapsed; THIS hands you the exemplars).

    Determinism end-to-end: components floor-quantized to integers at
    scale {CENTROID_Q_SCALE} (after the float32→DOUBLE cast — the
    promotion trap), centroids are exact integer component SUMS
    (never a float mean), member·centroid dot and both norms are
    exact BIGINT quadratic forms (bounds audited: |s|≤n·10⁴,
    Σs²·dims ≪ 2⁶³), and the only float is one cos division of
    agreed integers, round-6 BEFORE the rank with vec_id tie-break.
    Plan: posexplode in the scan stage, two (label,dim)-key
    aggregates, centroid broadcast back (10 labels × 64 dims), and
    a per-label window — no pairwise joins anywhere, linear in
    corpus size, which is what makes prototypes cheap even where
    all-pairs similarity is not.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * CENTROID_Q_SCALE + 0.5)
        .cast("bigint")
        .alias("qv"),
    )
    cent = comp.groupBy("label", "dim").agg(
        F.sum("qv").cast("bigint").alias("s")
    )
    c2 = cent.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("c2")
    )
    member = (
        comp.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("qv") * F.col("s")).cast("bigint").alias("dot"),
            F.sum(F.col("qv") * F.col("qv")).cast("bigint").alias("q2"),
        )
    )
    scored = member.join(F.broadcast(c2), "label").select(
        "label",
        "vec_id",
        F.round(
            F.col("dot") / (F.sqrt(F.col("q2") * 1.0) * F.sqrt(F.col("c2") * 1.0)),
            6,
        ).alias("proto_cos"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("proto_cos"), "vec_id")
    return (
        scored.select(
            "*", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= PROTO_TOP_K)
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("rank").cast("bigint").alias("rank"),
            "vec_id",
            "proto_cos",
        )
        .orderBy("label", "rank")
    )


DIMVAR_TOP_K = 16


@op(
    "embed_dims_variance_ranking",
    oracle=f"""
    WITH comp AS (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                          * {CENTROID_Q_SCALE} + 0.5) AS BIGINT) AS qv
        FROM embeddings),
    m AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(qv) AS BIGINT) AS s,
               CAST(sum(qv * qv) AS BIGINT) AS ss
        FROM comp GROUP BY 1),
    v AS (SELECT dim, n, CAST(n * ss - s * s AS BIGINT) AS var_num FROM m)
    SELECT CAST(dim AS BIGINT) AS dim, var_num,
           round(var_num / (1.0 * n * n)
                 / {CENTROID_Q_SCALE * CENTROID_Q_SCALE}.0, 9) AS variance,
           CAST(row_number() OVER (ORDER BY var_num DESC, dim) AS BIGINT)
               AS var_rank
    FROM v ORDER BY var_rank LIMIT {DIMVAR_TOP_K}
    """,
    category=CAT,
)
def embed_dims_variance_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION variance ranking of the embedding space — which
    coordinates carry signal. This is the measurement behind every
    truncation decision the embed family acts on:
    embed_truncate_renorm / matryoshka assume the PREFIX dims matter
    most; this table says whether that holds for a given model (if
    high-variance dims scatter across the index, prefix truncation is
    the wrong compression and dimension SELECTION beats it).

    Exact integer statistics: components quantized once (scale
    {CENTROID_Q_SCALE}), per-dim variance numerator n·Σq² − (Σq)² is
    an exact BIGINT identity — no float mean ever subtracted (the
    numerically-dumb-but-quantized-exact formulation; bound audited:
    n·Σq² ≈ 4·10¹⁵ at sf0.1, widen the quantization scale down before
    2⁶³ ever nears). The ranking window is over the 64-row per-dim
    aggregate — bounded by SCHEMA WIDTH, not data, so the
    single-partition rank is O(dims) by construction (the §2.X plan
    rule bans data-sized global windows, not schema-sized ones).
    Variance display = one rounded division of agreed integers.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * CENTROID_Q_SCALE + 0.5)
        .cast("bigint")
        .alias("qv"),
    )
    m = comp.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("qv").cast("bigint").alias("s"),
        F.sum(F.col("qv") * F.col("qv")).cast("bigint").alias("ss"),
    )
    v = m.select(
        "dim",
        "n",
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
        .cast("bigint")
        .alias("var_num"),
    )
    w = Window.orderBy(F.desc("var_num"), "dim")  # 64-row relation
    return (
        v.select(
            F.col("dim").cast("bigint").alias("dim"),
            "var_num",
            F.round(
                F.col("var_num")
                / (1.0 * F.col("n") * F.col("n"))
                / float(CENTROID_Q_SCALE) ** 2,
                9,
            ).alias("variance"),
            F.row_number().over(w).cast("bigint").alias("var_rank"),
        )
        .orderBy("var_rank")
        .limit(DIMVAR_TOP_K)
    )
