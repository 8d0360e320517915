"""Text-analysis operators for training-data curation: language ID,
quality scoring, token counting, document fingerprinting.

All four are pure built-in-function pipelines (no UDFs): at 100 TB
these run inside whole-stage codegen directly over the parquet scan,
embarrassingly parallel, no shuffle except the final small aggregates.

The corpus is synthetic (31-token shared vocabulary, ASCII only), so
the *predictions* are degenerate — the operators implement the real
formulations (stopword-set scoring, ratio features, shingle
fingerprints) and are graded on exact deterministic semantics via the
DuckDB oracles, not on linguistic accuracy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_gp_import_spark.operators.llm import char_trigram_zip_expr
from insight_gp_import_spark.registry import op, tracked_persist
from insight_gp_import_spark.tables import load_table, spread_scan

CAT = "training-text"

# distinct-stopword-presence scoring; tie-break by list order, all-zero → und
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "is", "to"],
    "de": ["der", "die", "und", "ist", "zu"],
    "es": ["el", "la", "los", "y", "es"],
    "fr": ["le", "les", "et", "est", "dans"],
}


def _sw_array_sql(words: list[str]) -> str:
    # DuckDB list literal (no array(...) constructor in DuckDB SQL)
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@op(
    "text_langid",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_intersect(string_split(text, ' '),
                                  {_sw_array_sql(LANG_STOPWORDS['en'])})) AS score_en,
               len(list_intersect(string_split(text, ' '),
                                  {_sw_array_sql(LANG_STOPWORDS['de'])})) AS score_de,
               len(list_intersect(string_split(text, ' '),
                                  {_sw_array_sql(LANG_STOPWORDS['es'])})) AS score_es,
               len(list_intersect(string_split(text, ' '),
                                  {_sw_array_sql(LANG_STOPWORDS['fr'])})) AS score_fr
        FROM documents
    )
    SELECT doc_id, lang, score_en, score_de, score_es, score_fr,
           CASE
               WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
               WHEN score_en >= score_de AND score_en >= score_es
                    AND score_en >= score_fr THEN 'en'
               WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
               WHEN score_es >= score_fr THEN 'es'
               ELSE 'fr'
           END AS predicted
    FROM scored
    """,
    category=CAT,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: score = number of distinct language
    stopwords present in the token set (array_intersect — set-based,
    JVM-side); argmax with a fixed tie-break order, 'und' when no
    evidence. The real-corpus upgrade is swapping the stopword lists
    for char-n-gram profiles — same plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }
    scored = docs.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_STOPWORDS],
    )
    s = {lang: F.col(f"score_{lang}") for lang in LANG_STOPWORDS}
    predicted = (
        F.when(F.greatest(*s.values()) == 0, "und")
        .when((s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return scored.withColumn("predicted", predicted)


@op(
    "text_quality",
    oracle="""
    SELECT doc_id,
           n_chars,
           n_tokens,
           round(CAST(alpha_chars AS DOUBLE) / n_chars, 4) AS alpha_ratio,
           round(CAST(space_chars AS DOUBLE) / n_chars, 4) AS space_ratio,
           round(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS chars_per_token,
           (n_chars >= 100 AND n_tokens >= 20
            AND CAST(alpha_chars AS DOUBLE) / n_chars > 0.7) AS passes
    FROM (
        SELECT doc_id, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars,
               length(regexp_replace(text, '[^ ]', '', 'g')) AS space_chars
        FROM documents
    )
    """,
    category=CAT,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, token count, alpha/space ratios, and a
    boolean gate — the keep/drop filter stage of a curation pipeline.
    Character-class counts via strip-and-measure (regexp_replace +
    length), identical formulation on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length(F.regexp_replace("text", "[^a-z]", "")).alias("alpha_chars"),
        F.length(F.regexp_replace("text", "[^ ]", "")).alias("space_chars"),
    )
    alpha_ratio = F.col("alpha_chars").cast("double") / F.col("n_chars")
    return feats.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(F.col("space_chars").cast("double") / F.col("n_chars"), 4).alias(
            "space_ratio"
        ),
        F.round(F.col("n_chars").cast("double") / F.col("n_tokens"), 4).alias(
            "chars_per_token"
        ),
        (
            (F.col("n_chars") >= 100) & (F.col("n_tokens") >= 20) & (alpha_ratio > 0.7)
        ).alias("passes"),
    )


# BPE-ish pre-tokenization: alpha runs, digit runs, single other non-space
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@op(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{BPE_PATTERN}')) AS bpe_tokens,
           round(CAST(n_chars AS DOUBLE)
                 / len(regexp_extract_all(text, '{BPE_PATTERN}')), 4)
               AS chars_per_bpe_token
    FROM documents
    """,
    category=CAT,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish
    pre-tokenizer regex (alpha runs / digit runs / single symbols) —
    the budget estimator for "how many training tokens is this corpus".
    regexp_count keeps it a pure codegen'd scan."""
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_count("text", F.lit(BPE_PATTERN))
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(F.col("n_chars").cast("double") / bpe, 4).alias(
            "chars_per_bpe_token"
        ),
    )


SHINGLE_K = 3


@op(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_min(shingles) AS fingerprint,
           len(list_distinct(shingles)) AS n_distinct_shingles
    FROM (
        SELECT doc_id,
               list_transform(
                   generate_series(1, len(toks) - {SHINGLE_K - 1}),
                   i -> md5(array_to_string(toks[i:i + {SHINGLE_K - 1}], ' '))
               ) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= {SHINGLE_K}
    )
    """,
    category=CAT,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: hash every token {SHINGLE_K}-gram, keep the
    minimum (winnowing with window = whole doc) plus the distinct
    shingle count. Content-defined, order-sensitive (unlike the token
    *set* ops), and the building block MinHash generalizes.

    Single JVM expression per row: transform over an index sequence,
    md5 per shingle, array_min — no explode, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    shingled = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).filter(F.size("toks") >= SHINGLE_K)
    shingles = F.expr(
        f"transform(sequence(1, size(toks) - {SHINGLE_K - 1}),"
        f" i -> md5(concat_ws(' ', slice(toks, i, {SHINGLE_K}))))"
    )
    return shingled.select(
        "doc_id",
        F.array_min(shingles).alias("fingerprint"),
        F.size(F.array_distinct(shingles)).alias("n_distinct_shingles"),
    )


NGRAM_TOP_K = 50


@op(
    "text_ngram_counts",
    oracle=f"""
    WITH arrs AS (
        SELECT string_split(text, ' ') AS arr FROM documents
    ), grams AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(arr) - 1),
                   i -> arr[i] || ' ' || arr[i + 1])) AS bigram
        FROM arrs
    )
    SELECT bigram, count(*) AS cnt
    FROM grams
    GROUP BY bigram
    ORDER BY cnt DESC, bigram
    LIMIT {NGRAM_TOP_K}
    """,
    category=CAT,
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token-bigram counts, top {NGRAM_TOP_K} — the
    n-gram statistics pass of a corpus analysis pipeline (vocabulary
    building, contamination screening, boilerplate spotting).

    Bigrams are built as one JVM transform over the token array (no
    self-join, no per-row Python), exploded, then hash-aggregated with
    map-side partial combine; the final top-K is TakeOrdered (per-
    partition heaps + driver merge), never a full sort. (cnt DESC,
    bigram) ordering makes the K-boundary deterministic (§2.X rule 4).
    """
    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select(F.split("text", " ").alias("arr"))
    grams = arrs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(arr) - 1),"
                " i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1)))"
            )
        ).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "bigram")
        .limit(NGRAM_TOP_K)
    )


@op(
    "pipeline_training_corpus",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang, n_chars, md5(text) AS h,
               len(string_split(text, ' ')) AS n_tokens,
               length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars,
               len(regexp_extract_all(text, '{BPE_PATTERN}')) AS bpe_tokens
        FROM documents
    ), surv AS (
        SELECT * FROM feats
        QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1
    ), kept AS (
        SELECT * FROM surv
        WHERE n_chars >= 100 AND n_tokens >= 20
          AND CAST(alpha_chars AS DOUBLE) / n_chars > 0.7
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           round(avg(n_chars), 2) AS avg_chars
    FROM kept GROUP BY lang
    """,
    category=CAT,
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone for the LLM-data side (the batch-load capstone's twin):
    exact-dedup survivors → quality gate → per-language token budget,
    composed as ONE declarative plan so the end-to-end chain is
    hash-checked, not just each stage.

    Scale shape: every per-doc feature (md5, token counts, alpha
    chars) is computed in the SCAN projection, so the dedup window
    shuffles scalars only — the text column never crosses the wire
    (same trick as dedup_exact). The quality filter runs before the
    final agg, and the per-lang agg is map-side combined. One plan,
    two shuffles (dedup hash, lang agg), zero Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length(F.regexp_replace("text", "[^a-z]", "")).alias("alpha_chars"),
        F.regexp_count("text", F.lit(BPE_PATTERN)).alias("bpe_tokens"),
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    surv = (
        feats.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    kept = surv.filter(
        (F.col("n_chars") >= 100)
        & (F.col("n_tokens") >= 20)
        & (F.col("alpha_chars").cast("double") / F.col("n_chars") > 0.7)
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


REP_THRESHOLD = 0.8  # distinct-bigram ratio below this => repetitive


@op(
    "text_repetition",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ), feats AS (
        SELECT doc_id,
               len(arr) AS n_tokens,
               round(CAST(len(list_distinct(arr)) AS DOUBLE) / len(arr), 6)
                   AS uniq_unigram_ratio,
               round(CAST(len(list_distinct(list_transform(
                         generate_series(1, len(arr) - 1),
                         i -> arr[i] || ' ' || arr[i + 1]))) AS DOUBLE)
                     / (len(arr) - 1), 6) AS uniq_bigram_ratio
        FROM arrs WHERE len(arr) >= 2
    )
    SELECT doc_id, n_tokens, uniq_unigram_ratio, uniq_bigram_ratio,
           uniq_bigram_ratio < {REP_THRESHOLD} AS is_repetitive
    FROM feats
    """,
    category=CAT,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition scoring (the Gopher/C4-style quality
    rule): distinct-unigram and distinct-bigram ratios per doc, with a
    repetition flag when the bigram ratio drops below
    {REP_THRESHOLD} — boilerplate, keyword-stuffed, and looped text
    all crater this ratio long before exact dedup would catch them.

    The flag compares the ROUNDED ratio (drift-proof, §2.X): both
    engines round to 6dp before the threshold test, so a float ulp
    can't flip the boolean. Pure JVM array expressions in the scan
    stage — per-doc work, zero shuffles.
    """
    # r12 (guide §1.2 per-task work): split ONCE into a projected
    # array — the old lambda re-ran split(text) per bigram ELEMENT
    # (Catalyst does not hoist element_at(split(...), i) out of
    # transform), O(tokens²) string splitting per doc. zip_with over
    # the array and its own tail is one pass; outputs verified
    # bit-identical (exceptAll both ways) at sf0.1. 2.4 s → 0.35 s.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n = F.size("toks")
    bigrams = F.expr(
        "zip_with(slice(toks, 1, size(toks) - 1),"
        " slice(toks, 2, size(toks) - 1), (a, b) -> concat(a, ' ', b))"
    )
    uni_ratio = F.round(
        F.size(F.array_distinct("toks")).cast("double") / n, 6
    )
    bi_ratio = F.round(
        F.size(F.array_distinct(bigrams)).cast("double") / (n - 1), 6
    )
    return docs.filter(n >= 2).select(
        "doc_id",
        n.alias("n_tokens"),
        uni_ratio.alias("uniq_unigram_ratio"),
        bi_ratio.alias("uniq_bigram_ratio"),
        (bi_ratio < REP_THRESHOLD).alias("is_repetitive"),
    )


SPAN_W = 10  # words per dedup chunk

@op(
    "text_dedup_span",
    oracle=f"""
    WITH chunks AS (
        SELECT doc_id,
               md5(c) AS chunk_key
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(0, CAST(floor(len(string_split(text, ' ')) / {SPAN_W}) AS INT) - 1),
                       i -> array_to_string(string_split(text, ' ')[i*{SPAN_W}+1 : i*{SPAN_W}+{SPAN_W}], ' ')
                   )) AS c
            FROM documents
            WHERE len(string_split(text, ' ')) >= {SPAN_W}
        )
    ), dup_keys AS (
        SELECT chunk_key
        FROM chunks
        GROUP BY chunk_key
        HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(d.chunk_key) AS BIGINT) AS n_dup_chunks,
           ROUND(count(d.chunk_key) * 1.0 / count(*), 4) AS dup_ratio
    FROM chunks c LEFT JOIN dup_keys d USING (chunk_key)
    GROUP BY c.doc_id
    """,
    category=CAT,
)
def text_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document span dedup (the C4/RefinedWeb paragraph-dedup step,
    word-chunked because this corpus has no newlines): fixed 10-word
    chunks, a chunk is duplicated if it occurs in ≥2 distinct docs;
    per-doc duplicated-span ratio drives the curation decision
    (drop doc / cut spans).

    Chunking is pure JVM array code in the scan stage
    (split → sequence → slice → concat_ws); the only shuffled payload
    is (doc_id, md5(chunk)) — 16-byte keys, never raw text, same
    fixed-width-key discipline as corpus_decontaminate. The dup-key set
    is an aggregate-then-broadcast-join; at 100 TB the chunk agg is the
    one real shuffle and it's map-side combinable.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = (
        docs.withColumn("words", F.split("text", " "))
        .filter(F.size("words") >= SPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, int(floor(size(words) / {SPAN_W})) - 1),"
                    f" i -> md5(concat_ws(' ', slice(words, i*{SPAN_W}+1, {SPAN_W}))))"
                )
            ).alias("chunk_key"),
        )
    )
    dup_keys = (
        chunks.groupBy("chunk_key")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("chunk_key")
    )
    flagged = chunks.join(
        F.broadcast(dup_keys.withColumn("is_dup", F.lit(1))), "chunk_key", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count("is_dup").alias("n_dup_chunks"),
        F.round(F.count("is_dup") / F.count("*"), 4).alias("dup_ratio"),
    )


BM25_TERMS = ["spark", "query", "join"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 50


def _bm25_oracle() -> str:
    tf_cols = ",\n               ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS tf_{t}"
        for t in BM25_TERMS
    )
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in BM25_TERMS
    )
    score = " + ".join(
        f"ln(1 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * (tf_{t} * ({BM25_K1} + 1))"
        f" / (tf_{t} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))"
        for t in BM25_TERMS
    )
    return f"""
    WITH per_doc AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               {tf_cols}
        FROM documents
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               avg(dl) AS avgdl,
               {df_cols}
        FROM per_doc
    )
    SELECT doc_id, CAST(dl AS BIGINT) AS dl,
           ROUND({score}, 4) AS bm25
    FROM per_doc CROSS JOIN stats
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """


@op("text_bm25_rank", oracle=_bm25_oracle(), category=CAT)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking for a fixed term query — the retrieval
    scorer behind decontamination-by-search and quality-by-query
    curation (Okapi BM25, k1=1.2, b=0.75).

    Per-doc tf and dl are scan-stage array expressions; the corpus
    statistics (N, avgdl, per-term df) are ONE 1-row aggregate
    broadcast back via cross join — the classic tiny-global-state
    pattern, so the big side is never reshuffled. The per-term score
    components are summed in fixed textual order (float addition is
    not associative; an explode-then-sum would be order-nondeterministic
    across engines). Top-k by (rounded score, doc_id) is a
    TakeOrderedAndProject — no global sort.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    per_doc = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        *[
            # NB: not F.filter + two-arg lambda — PySpark reads a second
            # lambda param as the element INDEX, not a closure variable.
            F.expr(f"size(filter(split(text, ' '), w -> w = '{t}'))").alias(
                f"tf_{t}"
            )
            for t in BM25_TERMS
        ],
    )
    stats = per_doc.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    score = None
    for t in BM25_TERMS:
        idf = F.log(
            F.lit(1)
            + (F.col("n_docs") - F.col(f"df_{t}") + F.lit(0.5))
            / (F.col(f"df_{t}") + F.lit(0.5))
        )
        comp = idf * (F.col(f"tf_{t}") * (BM25_K1 + 1)) / (
            F.col(f"tf_{t}")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
        score = comp if score is None else score + comp
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.col("dl").cast("bigint").alias("dl"),
            F.round(score, 4).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


CONT_N = 8  # token-shingle width (matches corpus_decontaminate)
CONT_SOURCE = "src0"  # the stand-in benchmark slice
CONT_THRESHOLD = 0.5


@op(
    "text_containment",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS arr FROM documents
    ), grams AS (
        SELECT doc_id, source,
               md5(unnest(list_transform(
                   generate_series(1, len(arr) - {CONT_N - 1}),
                   i -> array_to_string(arr[i:i + {CONT_N - 1}], ' ')))) AS gh
        FROM toks WHERE len(arr) >= {CONT_N}
    ), bench AS (
        SELECT DISTINCT doc_id AS bench_id, gh
        FROM grams WHERE source = '{CONT_SOURCE}'
    ), bsize AS (
        SELECT bench_id, CAST(count(*) AS BIGINT) AS n_bench
        FROM bench GROUP BY bench_id
    ), cand AS (
        SELECT DISTINCT doc_id, gh FROM grams WHERE source <> '{CONT_SOURCE}'
    ), shared AS (
        SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared
        FROM cand c JOIN bench b USING (gh) GROUP BY c.doc_id, b.bench_id
    )
    SELECT s.doc_id, s.bench_id, s.n_shared,
           round(CAST(s.n_shared AS DOUBLE) / z.n_bench, 4) AS containment,
           (round(CAST(s.n_shared AS DOUBLE) / z.n_bench, 4)
               >= {CONT_THRESHOLD}) AS is_contaminated
    FROM shared s JOIN bsize z USING (bench_id)
    """,
    category=CAT,
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRWISE containment (asymmetric Jaccard): what fraction of a
    benchmark document's {CONT_N}-gram shingles appear in each corpus
    document — quote-level contamination attribution. Complements
    corpus_decontaminate: that op flags corpus docs sharing ANY gram
    with the whole eval set; this one says WHICH eval item leaked and
    HOW MUCH of it (containment ≈ 1 → the eval item is quoted nearly
    verbatim; Jaccard would miss it when the host doc is much longer
    — that asymmetry is the point of containment, Broder '97).

    Scale shape: identical to corpus_decontaminate's — grams are md5'd
    JVM-side in the scan stage, the bench gram set (eval sets are
    small) broadcasts, and the only wide stage is the distinct +
    pair-group over fixed-width keys; the flag compares the ROUNDED
    ratio so flag parity follows from ratio parity (§2.X rule 1).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("arr"))
    grams = toks.filter(F.size("arr") >= CONT_N).select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(arr) - {CONT_N - 1}),"
                f" i -> md5(array_join(slice(arr, i, {CONT_N}), ' ')))"
            )
        ).alias("gh"),
    )
    bench = (
        grams.filter(F.col("source") == CONT_SOURCE)
        .select(F.col("doc_id").alias("bench_id"), "gh")
        .distinct()
    )
    bsize = bench.groupBy("bench_id").agg(F.count("*").alias("n_bench"))
    cand = (
        grams.filter(F.col("source") != CONT_SOURCE)
        .select("doc_id", "gh")
        .distinct()
    )
    shared = (
        cand.join(F.broadcast(bench), "gh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
    )
    containment = F.round(
        F.col("n_shared").cast("double") / F.col("n_bench"), 4
    )
    return shared.join(F.broadcast(bsize), "bench_id").select(
        "doc_id",
        "bench_id",
        "n_shared",
        containment.alias("containment"),
        (containment >= CONT_THRESHOLD).alias("is_contaminated"),
    )


@op(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS total FROM freq
    ), scored AS (
        SELECT t.doc_id,
               ln(CAST(f.n AS DOUBLE) / z.total) AS lp
        FROM toks t JOIN freq f USING (tok) CROSS JOIN tot z
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lp), 4) AS avg_logprob,
           (round(avg(lp), 4) < -9.0) AS is_surprising
    FROM scored GROUP BY doc_id
    """,
    category=CAT,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality signal (CCNet-style): per-document mean
    unigram log-probability under the corpus's own unigram model —
    documents of rare/garbled tokens score low and get flagged, the
    language-model-free stand-in for the KenLM perplexity filter
    (Wenzek et al., CCNet, LREC'20).

    Scale shape: the token-frequency model is ONE map-combined agg;
    the per-doc scoring join keys on the token. At test scale the
    vocabulary is small; at 100 TB the freq table is still ≪ corpus
    (Heaps' law) and Zipf makes the head tiny — broadcast the top-K
    head and shuffle only tail tokens, or pre-bucket both sides by
    token. avg(lp) sums doubles in engine order — drift lives below
    the 4th decimal at these magnitudes (§2.X rule 1, same bound as
    every avg op here); the flag compares the ROUNDED score.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    tot = freq.agg(F.sum("n").alias("total"))
    lp = F.log(F.col("n").cast("double") / F.col("total"))
    scored = toks.join(freq, "tok").crossJoin(F.broadcast(tot))
    avg_lp = F.round(F.avg(lp), 4)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        avg_lp.alias("avg_logprob"),
        (avg_lp < -9.0).alias("is_surprising"),
    )


SENT_SPLIT_RE = r"[.!?]+[ ]+"


@op(
    "text_sentence_split",
    oracle=f"""
    WITH parts AS (
        SELECT doc_id,
               list_filter(
                   list_transform(string_split_regex(text, '{SENT_SPLIT_RE}'),
                                  x -> trim(x)),
                   x -> length(x) > 0) AS sents
        FROM documents
    )
    SELECT doc_id,
           CAST(len(sents) AS BIGINT) AS n_sentences,
           CAST(coalesce(list_max(list_transform(sents, x -> length(x))), 0)
               AS BIGINT) AS max_sent_chars,
           round(CAST(coalesce(list_sum(list_transform(sents, x -> length(x))), 0)
                      AS DOUBLE)
                 / greatest(len(sents), 1), 4) AS avg_sent_chars
    FROM parts
    """,
    category=CAT,
)
def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (regex boundary split) + per-doc sentence
    stats — the preprocessing unit under sentence-level dedup, quality
    rules ('too few sentences', 'one giant sentence'), and
    sentence-window chunking for embedding models. Pure JVM: split +
    HOF trim/filter/length in the scan stage, zero shuffles, zero
    Python. The boundary regex lives in the Java∩RE2 dialect (same
    constraint as text_pii_mask); avg derives from exact integer
    char sums in the final projection (no agg-order drift), and
    empty-part filtering is explicit on both sides because trailing-
    empty behavior is the classic split() divergence across engines."""
    d = load_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(F.split("text", SENT_SPLIT_RE), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    lens = F.transform(sents, lambda x: F.length(x))
    total = F.aggregate(lens, F.lit(0).cast("bigint"), lambda a, x: a + x)
    n = F.size(sents)
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_sentences"),
        F.coalesce(F.array_max(lens), F.lit(0)).cast("bigint").alias(
            "max_sent_chars"
        ),
        F.round(
            total.cast("double") / F.greatest(n, F.lit(1)), 4
        ).alias("avg_sent_chars"),
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 100


@op(
    "text_collocation_pmi",
    oracle=f"""
    WITH arrs AS (
        SELECT string_split(text, ' ') AS arr FROM documents
    ), toks AS (
        SELECT unnest(arr) AS tok FROM arrs
    ), uni AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok
    ), n_tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn FROM uni
    ), pairs AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(arr) - 1),
                   i -> struct_pack(x := arr[i], y := arr[i + 1]))) AS p
        FROM arrs
    ), big AS (
        SELECT p.x AS x, p.y AS y, CAST(count(*) AS BIGINT) AS c_xy
        FROM pairs GROUP BY 1, 2
    ), b_tot AS (
        SELECT CAST(sum(c_xy) AS BIGINT) AS bb FROM big
    )
    SELECT x, y, c_xy,
           round(ln((CAST(c_xy AS DOUBLE) * nn * nn)
                    / (CAST(bb AS DOUBLE) * ux.n * uy.n)), 4) AS pmi
    FROM big
    JOIN uni ux ON big.x = ux.tok
    JOIN uni uy ON big.y = uy.tok
    CROSS JOIN n_tot CROSS JOIN b_tot
    WHERE c_xy >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, x, y
    LIMIT {PMI_TOP_K}
    """,
    category=CAT,
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over corpus token bigrams — the
    collocation detector (Church & Hanks, CL'90): phrases whose parts
    co-occur far above chance ("New York"-class units) surface with
    high PMI; text_ngram_counts' raw counts surface only frequency.
    Feeds tokenizer-vocabulary and boilerplate analysis.

    PMI = ln(P(x,y) / (P(x)P(y))) computed as one double expression
    ln(c_xy·N² / (B·c_x·c_y)) from exact BIGINT counts — both engines
    evaluate the identical argument before the single ln, so drift
    lives below the 4th decimal (§2.X rule 1, same bound as
    text_unigram_logprob). Scale shape: unigram and bigram models are
    each ONE map-combined agg over the scan; the scoring joins key on
    the token with a Zipf-head broadcast upgrade path (vocabulary ≪
    corpus by Heaps' law); min-count {PMI_MIN_COUNT} prunes the long
    tail BEFORE the joins; final top-{PMI_TOP_K} is TakeOrdered on the
    (rounded pmi, x, y) tuple — deterministic K-boundary, never a
    global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select(F.split("text", " ").alias("arr"))
    uni = (
        arrs.select(F.explode("arr").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    n_tot = uni.agg(F.sum("n").alias("nn"))
    big_all = (
        arrs.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 1),"
                    " i -> struct(element_at(arr, i) AS x,"
                    "             element_at(arr, i + 1) AS y))"
                )
            ).alias("p")
        )
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count("*").alias("c_xy"))
    )
    # B normalizes over ALL bigram occurrences; the min-count prune only
    # gates which pairs get scored/joined.
    b_tot = big_all.agg(F.sum("c_xy").alias("bb"))
    big = big_all.filter(F.col("c_xy") >= PMI_MIN_COUNT)
    ux = uni.select(F.col("tok").alias("x"), F.col("n").alias("nx"))
    uy = uni.select(F.col("tok").alias("y"), F.col("n").alias("ny"))
    scored = (
        big.join(ux, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(b_tot))
        .select(
            "x", "y", "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") * F.col("nn") * F.col("nn"))
                    / (F.col("bb").cast("double") * F.col("nx") * F.col("ny"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "x", "y").limit(PMI_TOP_K)


@op(
    "text_readability",
    oracle="""
    WITH feats AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
               CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT)
                   AS sentences,
               CAST(greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
                   AS BIGINT) AS syllables
        FROM documents
    )
    , exact AS (
        SELECT doc_id, lang, words, sentences, syllables,
               206835 * sentences * words - 1015 * words * words
                   - 84600 * syllables * sentences AS num,
               1000 * sentences * words AS den
        FROM feats
    )
    SELECT doc_id, lang, words, sentences, syllables,
           CAST(CASE WHEN num >= 0
                     THEN (200 * num + den) // (2 * den)
                     ELSE -((200 * (-num) + den) // (2 * den))
                END AS BIGINT) AS flesch_c,
           CASE
             WHEN num >= 0 AND (200 * num + den) // (2 * den) >= 7000 THEN 'easy'
             WHEN num >= 0 AND (200 * num + den) // (2 * den) >= 4000 THEN 'standard'
             ELSE 'hard'
           END AS band
    FROM exact
    """,
    category=CAT,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring per document (Flesch '48, the
    classic readability metric): words/sentence and vowel-group
    syllable approximation → 206.835 − 1.015·W/S − 84.6·Syl/W, banded
    for corpus-mix dashboards. Complements text_quality's surface
    ratios with a linguistic-difficulty axis (quality filters often
    keep "hard" academic text but drop "hard" garbled text — the two
    gates disagree exactly where a corpus curator should look).

    Pure scan-stage arithmetic: three regexp/split counts per row
    (JVM regexp engines; identical patterns both engines), exact
    BIGINT counts, banding on the ROUNDED score so the label can
    never disagree with the published number (§2.X). Zero shuffles,
    zero UDFs — at 100 TB this runs at scan speed alongside the other
    per-doc feature ops in one fused codegen stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("words"),
        F.greatest(
            F.lit(1), F.regexp_count("text", F.lit(r"[.!?]+"))
        ).cast("bigint").alias("sentences"),
        F.greatest(
            F.lit(1), F.regexp_count(F.lower("text"), F.lit(r"[aeiouy]+"))
        ).cast("bigint").alias("syllables"),
    )
    # Exact rational arithmetic: flesch = num/den with integer num/den,
    # emitted as half-up-rounded centi-points — no double ever exists, so
    # there is no round-half boundary for the engines to disagree on
    # (the double formulation lost parity at a true-value .xx5 at sf0.1).
    num = (
        F.lit(206835) * F.col("sentences") * F.col("words")
        - F.lit(1015) * F.col("words") * F.col("words")
        - F.lit(84600) * F.col("syllables") * F.col("sentences")
    )
    den = F.lit(1000) * F.col("sentences") * F.col("words")
    pos_c = F.expr(
        "(200 * num + den) div (2 * den)"
    )
    neg_c = -F.expr("(200 * (-num) + den) div (2 * den)")
    exact = feats.withColumn("num", num).withColumn("den", den)
    flesch_c = F.when(F.col("num") >= 0, pos_c).otherwise(neg_c).cast("bigint")
    return exact.select(
        "doc_id", "lang", "words", "sentences", "syllables",
        flesch_c.alias("flesch_c"),
        F.when((F.col("num") >= 0) & (flesch_c >= 7000), "easy")
        .when((F.col("num") >= 0) & (flesch_c >= 4000), "standard")
        .otherwise("hard")
        .alias("band"),
    )


@op(
    "text_novelty_score",
    oracle="""
    WITH arrs AS (
        SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ), doc_grams AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(arr) - 1),
                                     i -> arr[i] || ' ' || arr[i + 1])) AS g
        FROM arrs
    ), per_doc AS (
        SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c_dg
        FROM doc_grams GROUP BY doc_id, g
    ), global_g AS (
        SELECT g, CAST(sum(c_dg) AS BIGINT) AS c_g FROM per_doc GROUP BY g
    )
    SELECT doc_id,
           CAST(sum(c_dg) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN c_g = c_dg THEN c_dg ELSE 0 END) AS BIGINT)
               AS n_unique_here,
           round(CAST(sum(CASE WHEN c_g = c_dg THEN c_dg ELSE 0 END)
                      AS DOUBLE) / sum(c_dg), 4) AS novelty
    FROM per_doc JOIN global_g USING (g)
    GROUP BY doc_id
    """,
    category=CAT,
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's bigram
    occurrences that exist NOWHERE else in the corpus (corpus count ==
    own count) — high novelty marks genuinely original text, near-zero
    novelty marks boilerplate/template families BEFORE pairwise dedup
    even runs (the cheap corpus-level prefilter for
    dedup_near_jaccard's candidate generation; text_containment
    answers the same question against an external benchmark, this
    answers it against the corpus itself).

    Shape: per-(doc, bigram) counts → global bigram counts (two
    map-combined aggs over one explode), then a token-keyed join back
    — the text_unigram_logprob scale pattern with the same Zipf-head
    broadcast upgrade path. The uniqueness test (c_g == c_dg) is
    exact integer equality; only the published ratio is a rounded
    double.
    """
    # r12 (guide §1.2 per-task work): the old lambda re-ran
    # split(text) per ELEMENT (element_at(split(...), i) inside
    # transform is not hoisted by Catalyst) — O(tokens²) string
    # splitting per doc. Split once, zip the array with its own tail:
    # one pass, bit-identical bigrams (verified exceptAll-empty both
    # ways at sf0.1; 2.9 s → 0.44 s for the gram stage). spread_scan:
    # one-row-group input, heavy per-row work.
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("g"),
    )
    # r12 (guide §2.4): the global bigram count is a WINDOW over the
    # per-(doc, bigram) relation partitioned by bigram — one shuffle on
    # g, no self-referencing join, and the explode + first aggregate
    # evaluate exactly once (the old groupBy + join-back re-ran them on
    # both join sides). Same exact integers per row.
    per_doc = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c_dg"))
    scored = per_doc.withColumn(
        "c_g", F.sum("c_dg").over(Window.partitionBy("g"))
    )
    unique_here = F.when(F.col("c_g") == F.col("c_dg"), F.col("c_dg")).otherwise(
        F.lit(0)
    )
    return (
        scored
        .groupBy("doc_id")
        .agg(
            F.sum("c_dg").alias("n_bigrams"),
            F.sum(unique_here).alias("n_unique_here"),
            F.round(
                F.sum(unique_here).cast("double") / F.sum("c_dg"), 4
            ).alias("novelty"),
        )
    )


LANGID_PROFILE_K = 20


@op(
    "text_langid_ngram",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, lang,
               unnest(list_distinct(list_transform(
                   generate_series(1, length(text) - 2),
                   i -> substr(text, i, 3)))) AS g
        FROM documents
    ), lang_counts AS (
        SELECT lang AS plang, g, CAST(count(*) AS BIGINT) AS n
        FROM grams GROUP BY lang, g
    ), profile AS (
        SELECT plang, g FROM (
            SELECT plang, g,
                   row_number() OVER (PARTITION BY plang
                                      ORDER BY n DESC, g) AS rn
            FROM lang_counts
        ) WHERE rn <= {LANGID_PROFILE_K}
    ), scores AS (
        SELECT gr.doc_id, p.plang, CAST(count(*) AS BIGINT) AS score
        FROM grams gr JOIN profile p ON gr.g = p.g
        GROUP BY gr.doc_id, p.plang
    ), best AS (
        SELECT doc_id, plang AS predicted, score FROM (
            SELECT doc_id, plang, score,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, plang) AS rn
            FROM scores
        ) WHERE rn = 1
    )
    SELECT d.doc_id, d.lang,
           coalesce(b.predicted, 'und') AS predicted,
           coalesce(b.score, 0) AS score,
           (coalesce(b.predicted, 'und') = d.lang) AS is_correct
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    """,
    category=CAT,
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language ID, SELF-TRAINED — the upgrade
    text_langid's docstring promises (Cavnar & Trenkle '94 n-gram
    profiles instead of stopword lists): top-{LANGID_PROFILE_K}
    trigrams per labeled language become the profile, every document
    is scored by distinct-trigram overlap, argmax with a fixed
    tie-break. Train and apply are ONE declarative plan — the
    feature-pipeline pattern (fit on the corpus, transform the
    corpus) with no collect between the stages.

    Scale shape: the profile relation is |langs|×K rows → broadcast
    to the scoring join, so the trigram stream shuffles only for the
    per-(doc, lang) count; distinct-per-doc trigrams bound the
    explode. Scores are exact integer counts; tie-breaks are total
    ((score, plang) and (n, g)) so the argmax can't flap between
    engines (§2.X rule 2). The synthetic corpus shares one
    vocabulary, so ACCURACY is degenerate — semantics, not accuracy,
    is what the oracle grades (module docstring contract).
    """
    docs = load_table(spark, sf_dir, "documents")
    # r12: the distinct-trigram explode is the expensive stage and is
    # referenced TWICE (profile fit + scoring join) — persist it so
    # fit and predict share one tokenization pass (guide §2.4).
    # r12b: one-pass zip_with gram build (llm.char_trigram_zip_expr;
    # the substring form is O(len²)/doc) over a spread scan (one-
    # row-group input would serialize the explode on one core).
    grams = tracked_persist(
        spread_scan(docs)
        .select("doc_id", "lang", F.split("text", "").alias("cs"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.array_distinct(F.expr(char_trigram_zip_expr("cs")))
            ).alias("g"),
        )
    )
    lang_counts = grams.groupBy(
        F.col("lang").alias("plang"), "g"
    ).agg(F.count("*").alias("n"))
    wp = Window.partitionBy("plang").orderBy(F.desc("n"), "g")
    profile = (
        lang_counts.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= LANGID_PROFILE_K)
        .select("plang", "g")
    )
    scores = (
        grams.join(F.broadcast(profile), "g")
        .groupBy("doc_id", "plang")
        .agg(F.count("*").alias("score"))
    )
    wb = Window.partitionBy("doc_id").orderBy(F.desc("score"), "plang")
    best = (
        scores.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("plang").alias("predicted"), "score")
    )
    return (
        docs.select("doc_id", "lang")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("predicted", F.lit("und")).alias("predicted"),
            F.coalesce("score", F.lit(0)).alias("score"),
            (F.coalesce("predicted", F.lit("und")) == F.col("lang")).alias(
                "is_correct"
            ),
        )
    )


ZIPF_TOP_R = 200


@op(
    "text_zipf_slope",
    oracle=f"""
    WITH freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    ), ranked AS (
        SELECT tok, n,
               row_number() OVER (ORDER BY n DESC, tok) AS r
        FROM freq
        ORDER BY n DESC, tok
        LIMIT {ZIPF_TOP_R}
    ), logs AS (
        SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
        FROM ranked
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM logs
    )
    SELECT k AS n_ranks,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) AS zipf_slope,
           ((k * sxy - sx * sy) / (k * sxx - sx * sx) < -0.5) AS looks_zipfian
    FROM m
    """,
    category=CAT,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law check: OLS slope of log-frequency on log-rank over the
    top-{ZIPF_TOP_R} vocabulary — natural corpora slope ≈ −1;
    machine-generated/templated corpora flatten toward 0. The
    corpus-health diagnostic curators run before trusting any
    token-level statistic (a broken slope means the tokenizer or the
    source is wrong, not the model).

    Ranking note: the global rank window runs AFTER a top-R cut
    (TakeOrdered on (n DESC, tok)), so the single-ordered-window
    relation is {ZIPF_TOP_R} rows — never the full vocabulary (the
    AllPairs global-window lesson, applied). Doubles appear only in
    the log-moment regression, computed with the identical expression
    both engines (text_collocation_pmi's single-ln bound); the slope
    itself is the agg_regression closed form on logs.
    """
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    top = freq.orderBy(F.desc("n"), "tok").limit(ZIPF_TOP_R)
    w = Window.orderBy(F.desc("n"), "tok")
    ranked = top.withColumn("r", F.row_number().over(w))
    logs = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    m = logs.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("k").alias("n_ranks"),
        F.round(slope, 4).alias("zipf_slope"),
        (slope < -0.5).alias("looks_zipfian"),
    )


# OCR-lookalike folding: digit-for-letter confusables → canonical letter
CONFUSABLE_FROM = "0135"
CONFUSABLE_TO = "oles"


@op(
    "text_confusable_normalize",
    oracle=f"""
    SELECT doc_id,
           md5(translate(lower(text), '{CONFUSABLE_FROM}', '{CONFUSABLE_TO}'))
               AS canon_md5,
           CAST(length(text)
                - length(regexp_replace(text, '[{CONFUSABLE_FROM}]', '', 'g'))
                AS BIGINT) AS n_confusables,
           (length(text)
            - length(regexp_replace(text, '[{CONFUSABLE_FROM}]', '', 'g')) > 0)
               AS was_folded
    FROM documents
    """,
    category=CAT,
)
def text_confusable_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR-confusable canonicalization: fold digit-for-letter
    lookalikes (0→o, 1→l, 3→e, 5→s) before hashing — the
    normalization pass that lets exact dedup catch OCR'd and
    leet-obfuscated duplicates that byte-level md5 misses
    (text_normalize handles case/whitespace; this handles glyph
    confusion — both feed dedup_exact's content key).

    ``translate`` is the right tool (single-pass char map, not N
    regexp passes) and exists in both engines with identical
    semantics — the hash-match pins that, plus the §2.X rule that
    only the md5 of the canonical text ships (raw normalized text
    never reaches the output). The confusable COUNT comes from
    strip-and-measure (text_quality's pattern). Scan-stage, zero
    shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    folded = F.translate(F.lower("text"), CONFUSABLE_FROM, CONFUSABLE_TO)
    n_conf = F.length("text") - F.length(
        F.regexp_replace("text", f"[{CONFUSABLE_FROM}]", "")
    )
    return docs.select(
        "doc_id",
        F.md5(folded).alias("canon_md5"),
        n_conf.cast("bigint").alias("n_confusables"),
        (n_conf > 0).alias("was_folded"),
    )


BOILER_MIN_DOCS = 2


@op(
    "text_boilerplate_sentences",
    oracle=f"""
    WITH sents AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   list_filter(string_split_regex(text, '[.!?]+[ ]+'),
                               s -> trim(s) != ''),
                   s -> md5(trim(s))))) AS sh
        FROM documents
    )
    SELECT sh AS sentence_md5,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM sents
    GROUP BY sh
    HAVING count(*) >= {BOILER_MIN_DOCS}
    """,
    category=CAT,
)
def text_boilerplate_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: sentences appearing (as exact content) in
    ≥{BOILER_MIN_DOCS} distinct documents — headers, footers, license
    blurbs, template chrome. The output IS the removal list
    text_dedup_span consumes, produced corpus-wide instead of
    per-pair; C4-style pipelines run exactly this pass
    (Raffel et al., JMLR'20 §2.2 de-boilerplating lineage).

    Sentence segmentation reuses text_sentence_split's regex contract
    (punctuation-run + space, explicit empty-part filtering — the
    trailing-empty divergence documented there); per-doc DISTINCT
    before counting so one doc repeating its own footer can't fake
    corpus-wide boilerplate. Only md5s of sentences ship or shuffle
    (§2.X rule 3 — raw text stays in the scan stage). One explode +
    one map-combined count at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    sents = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(filter(split(text, '[.!?]+[ ]+'),"
                    " s -> trim(s) != ''), s -> md5(trim(s)))"
                )
            )
        ).alias("sh"),
    )
    return (
        sents.groupBy(F.col("sh").alias("sentence_md5"))
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
    )


@op(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id, n_chars,
               unnest(string_split_regex(text, '')) AS ch
        FROM documents
    ), freq AS (
        SELECT doc_id, CAST(max(n_chars) AS BIGINT) AS n,
               ch, CAST(count(*) AS BIGINT) AS k
        FROM chars WHERE ch != '' GROUP BY doc_id, ch
    )
    SELECT doc_id, n,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(-sum((CAST(k AS DOUBLE) / n)
                      * ln(CAST(k AS DOUBLE) / n)), 4) AS char_entropy,
           (round(-sum((CAST(k AS DOUBLE) / n)
                       * ln(CAST(k AS DOUBLE) / n)), 4) < 2.0) AS is_repetitive
    FROM freq GROUP BY doc_id, n
    """,
    category=CAT,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    compressibility proxy quality filters use where no compressor is
    available in-engine: natural prose sits near ~4 bits/char
    (ln ≈ 2.8 nats), keyboard-mash and repeated-char padding collapse
    toward 0, and the flag catches them (Gopher-rules lineage:
    repetition signals, Rae et al. '21). Complements text_repetition
    (token-level) at the finest granularity there is.

    Shape: explode to single characters (the only per-char op in the
    repo — bounded by total corpus BYTES, the same cost class as any
    full-text regexp), one (doc, char) count, one per-doc reduction.
    Counts exact; the −p·ln p terms are the corpus_mix_entropy
    protocol (identical doubles, single ln, rounded at 4; the flag
    compares the ROUNDED value per §2.X).
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.explode(F.split("text", "")).alias("ch"),
    ).filter(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(
        F.max("n_chars").alias("n"), F.count("*").alias("k")
    )
    p = F.col("k").cast("double") / F.col("n")
    ent = F.round(-F.sum(p * F.log(p)), 4)
    return freq.groupBy("doc_id", "n").agg(
        F.count("*").alias("n_distinct_chars"),
        ent.alias("char_entropy"),
        (ent < 2.0).alias("is_repetitive"),
    )


PREFIX_LEN = 120


@op(
    "text_prefix_dup_groups",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, md5(substr(text, 1, {PREFIX_LEN})) AS pk,
               md5(text) AS full_h
        FROM documents
    )
    SELECT pk AS prefix_md5,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT full_h) AS BIGINT) AS n_distinct_bodies,
           CAST(min(doc_id) AS BIGINT) AS exemplar_doc,
           (count(DISTINCT full_h) > 1) AS diverging_tails
    FROM keyed
    GROUP BY pk
    HAVING count(*) >= 2
    """,
    category=CAT,
)
def text_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix duplicate groups: documents identical in their
    first {PREFIX_LEN} chars — the truncation/continuation dup class
    (same article cut at different lengths, re-crawls with appended
    chrome) that EXACT dedup misses whenever tails diverge, caught
    here before the expensive near-dup machinery runs. The
    `diverging_tails` flag separates true truncation families
    (different bodies) from plain exact dups (same body, also caught
    by dedup_exact — the overlap is the cross-check).

    One scan; only two md5s per row ever shuffle (§2.X rule 3); the
    group-by collapses map-side. The prefix length is the only knob —
    production pipelines sweep it (60/120/240) exactly like shingle
    size in MinHash; each sweep is this same one-agg plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.substring("text", 1, PREFIX_LEN)).alias("pk"),
        F.md5("text").alias("full_h"),
    )
    return (
        keyed.groupBy(F.col("pk").alias("prefix_md5"))
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("full_h").alias("n_distinct_bodies"),
            F.min("doc_id").alias("exemplar_doc"),
            (F.countDistinct("full_h") > 1).alias("diverging_tails"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@op(
    "text_langid_eval",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, lang,
               unnest(list_distinct(list_transform(
                   generate_series(1, length(text) - 2),
                   i -> substr(text, i, 3)))) AS g
        FROM documents
    ), lang_counts AS (
        SELECT lang AS plang, g, CAST(count(*) AS BIGINT) AS n
        FROM grams GROUP BY lang, g
    ), profile AS (
        SELECT plang, g FROM (
            SELECT plang, g,
                   row_number() OVER (PARTITION BY plang
                                      ORDER BY n DESC, g) AS rn
            FROM lang_counts
        ) WHERE rn <= {LANGID_PROFILE_K}
    ), scores AS (
        SELECT gr.doc_id, p.plang, CAST(count(*) AS BIGINT) AS score
        FROM grams gr JOIN profile p ON gr.g = p.g
        GROUP BY gr.doc_id, p.plang
    ), best AS (
        SELECT doc_id, plang AS predicted FROM (
            SELECT doc_id, plang, score,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, plang) AS rn
            FROM scores
        ) WHERE rn = 1
    ), labelled AS (
        SELECT d.lang, coalesce(b.predicted, 'und') AS predicted
        FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    )
    SELECT lang, predicted,
           CAST(count(*) AS BIGINT) AS n_docs,
           (lang = predicted) AS on_diagonal
    FROM labelled GROUP BY lang, predicted
    """,
    category=CAT,
)
def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the trigram language-ID model — the
    EVALUATION surface (actual × predicted counts, diagonal flagged):
    classifier quality reported as a relation, the way a data
    engine should evaluate models it hosts (accuracy is one
    SUM(on_diagonal·n)/SUM(n) away, but the off-diagonal CELLS are
    what tells you WHICH languages confuse — the actionable part).

    Reuses text_langid_ngram's exact fit+predict plan verbatim and
    adds the label join + two-key aggregate — model and evaluation in
    ONE declarative statement, no collect, no second pass over the
    corpus (the grams CTE is shared). The synthetic shared-vocabulary
    corpus makes the matrix nearly uniform — the oracle grades the
    evaluation MACHINERY exactly (module-docstring contract).
    """
    docs = load_table(spark, sf_dir, "documents")
    # r12: same persist as text_langid_ngram — fit and predict share
    # one tokenization pass instead of exploding the corpus twice.
    # r12b: same one-pass zip_with gram build + spread scan as
    # text_langid_ngram (see that op).
    grams = tracked_persist(
        spread_scan(docs)
        .select("doc_id", "lang", F.split("text", "").alias("cs"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.array_distinct(F.expr(char_trigram_zip_expr("cs")))
            ).alias("g"),
        )
    )
    lang_counts = grams.groupBy(
        F.col("lang").alias("plang"), "g"
    ).agg(F.count("*").alias("n"))
    wp = Window.partitionBy("plang").orderBy(F.desc("n"), "g")
    profile = (
        lang_counts.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= LANGID_PROFILE_K)
        .select("plang", "g")
    )
    scores = (
        grams.join(F.broadcast(profile), "g")
        .groupBy("doc_id", "plang")
        .agg(F.count("*").alias("score"))
    )
    wb = Window.partitionBy("doc_id").orderBy(F.desc("score"), "plang")
    best = (
        scores.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("plang").alias("predicted"))
    )
    labelled = docs.select("doc_id", "lang").join(
        best, "doc_id", "left"
    ).select(
        "lang", F.coalesce("predicted", F.lit("und")).alias("predicted")
    )
    return labelled.groupBy("lang", "predicted").agg(
        F.count("*").alias("n_docs"),
        (F.col("lang") == F.col("predicted")).alias("on_diagonal"),
    )


BPE_TOP_K = 10


@op(
    "text_bpe_first_merges",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), pos AS (
        SELECT lang, tok, unnest(generate_series(1, len(tok) - 1)) AS i
        FROM toks WHERE len(tok) >= 2
    ), bi AS (
        SELECT lang, substr(tok, i, 2) AS bg FROM pos
    ), cnt AS (
        SELECT lang, bg, CAST(count(*) AS BIGINT) AS n_occ
        FROM bi GROUP BY lang, bg
    ), ranked AS (
        SELECT lang, bg, n_occ,
               CAST(row_number() OVER (PARTITION BY lang
                                       ORDER BY n_occ DESC, bg) AS BIGINT)
                   AS merge_rank
        FROM cnt
    )
    SELECT lang, bg, n_occ, merge_rank
    FROM ranked WHERE merge_rank <= {BPE_TOP_K}
    """,
    category=CAT,
)
def text_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, step one: the top-{BPE_TOP_K} most
    frequent ADJACENT CHARACTER PAIRS per language — exactly the
    candidate set the first merge round of byte-pair encoding
    greedily picks from (text_collocation_pmi mines WORD pairs for
    phrases; BPE merges operate below the word, and a tokenizer
    trained on this corpus would literally start here).

    Pairs stay inside whitespace tokens (BPE's pre-tokenization
    boundary — merges never cross words), via a JVM
    transform(sequence) over char offsets: char-based substring on
    both engines keeps multi-byte scripts (zh) correct with no
    byte/char ambiguity. Count shuffle moves (lang, 2-char gram)
    pairs only — never text; the top-K window runs per-language over
    the gram-frequency aggregate with the (count DESC, gram)
    tie-break (§2.X rule 2), WindowGroupLimit-pruned below the
    exchange.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.length("tok") >= 2)
    bi = toks.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("bg"),
    )
    cnt = bi.groupBy("lang", "bg").agg(F.count("*").alias("n_occ"))
    w = Window.partitionBy("lang").orderBy(F.desc("n_occ"), "bg")
    return (
        cnt.withColumn("merge_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("merge_rank") <= BPE_TOP_K)
        .select("lang", "bg", "n_occ", "merge_rank")
    )


OOV_VOCAB_K = 200


@op(
    "text_oov_rate",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok FROM (
            SELECT tok, row_number() OVER (
                ORDER BY count(*) DESC, tok) AS rk
            FROM toks GROUP BY tok
        ) WHERE rk <= {OOV_VOCAB_K}
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY lang
    """,
    category=CAT,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-VOCABULARY rate per language against the corpus-global
    top-{OOV_VOCAB_K} token vocabulary — THE tokenizer-coverage
    metric (a language whose OOV rate is high under a shared vocab
    is under-served by that tokenizer: its text will fragment into
    more, worse tokens — the multilingual-fairness number every
    tokenizer card reports beside fertility, and the empirical
    companion to corpus_lsh_tuning_table's design-before-run
    discipline: measure coverage BEFORE training the real vocab).

    Vocabulary = top-K by global count with token tie-break
    (TakeOrdered over the DISTINCT-TOKEN aggregate — no ranking
    window at any vocabulary size), broadcast back as a LEFT join — an OOV
    token is a null match, counted per language in one map-combined
    pass. Token shuffle carries the token string once (vocab
    build); the scoring join is broadcast, so the corpus never
    reshuffles.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    # top-K vocab via orderBy+limit (TakeOrderedAndProject: per-
    # partition K-row heaps, driver K-row merge) — r8: the old
    # rank-the-FULL-vocab-then-filter window was an unpartitioned
    # single-task sort that grows with web-scale vocabularies; a
    # limit under the same (cnt DESC, tok) total order selects the
    # identical K tokens.
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(OOV_VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    scored = toks.join(F.broadcast(vocab), "tok", "left")
    return scored.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.sum(
            F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
        ).alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("oov_rate"),
    )


@op(
    "text_lexical_diversity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ), per_doc AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax
        FROM tf GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_types, n_hapax,
           round(n_types * 1.0 / n_tokens, 9) AS ttr,
           round(n_hapax * 1.0 / n_tokens, 9) AS hapax_ratio,
           CASE WHEN 10 * n_types >= 9 * n_tokens THEN 'diverse'
                WHEN 10 * n_types >= 7 * n_tokens THEN 'normal'
                ELSE 'repetitive' END AS band
    FROM per_doc
    ORDER BY doc_id
    """,
    category=CAT,
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio + hapax ratio
    + a quality band — the vocabulary-richness filter beside
    text_repetition (that op catches VERBATIM n-gram loops; a
    template that cycles synonyms sails through it but its TTR
    collapses, and hapax ratio separates 'rich vocabulary' from
    'short doc where everything is rare' — the two together are the
    standard low-diversity cut in corpus curation).

    State is the per-doc term-frequency aggregate — all integers
    (total, types, hapax counts), partitioned by doc_id so every
    group is one document; no cross-row float sums exist (an avg-TTR
    rollup would order-dependently sum doubles — per-doc rows keep
    the op exact and let downstream cut at any threshold). Band
    edges are exact cross-multiplications (TTR ≥ .9 ⟺ 10·types ≥
    9·tokens); the two displayed ratios are int/int IEEE divisions
    rounded at 9.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
    )
    nt, ty, hp = F.col("n_tokens"), F.col("n_types"), F.col("n_hapax")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round(ty * 1.0 / nt, 9).alias("ttr"),
        F.round(hp * 1.0 / nt, 9).alias("hapax_ratio"),
        F.when(10 * ty >= 9 * nt, F.lit("diverse"))
        .when(10 * ty >= 7 * nt, F.lit("normal"))
        .otherwise(F.lit("repetitive"))
        .alias("band"),
    ).orderBy("doc_id")


@op(
    "text_tokenizer_fertility",
    oracle="""
    WITH per_lang AS (
        SELECT lang,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_toks
        FROM documents GROUP BY lang
    ), en AS (
        SELECT sum_chars AS en_chars, sum_toks AS en_toks
        FROM per_lang WHERE lang = 'en'
    )
    SELECT p.lang, p.sum_chars, p.sum_toks,
           round(p.sum_chars * 1.0 / p.sum_toks, 9) AS chars_per_token,
           CAST((p.sum_chars * e.en_toks * 1000000)
                // (p.sum_toks * e.en_chars) AS BIGINT) AS fertility_vs_en_ppm
    FROM per_lang p CROSS JOIN en e
    ORDER BY p.lang
    """,
    category=CAT,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: chars consumed per whitespace
    token, normalized to the English baseline in integer ppm — THE
    multilingual token-budget fairness number (a lang at 1.4×
    English fertility pays 40 % more of its context window for the
    same content; text_oov_rate says which WORDS the vocab misses,
    fertility says how much BUDGET each script burns — the two
    axes tokenizer RFCs must report together, and the corpus-mix
    designer needs fertility to convert char budgets into token
    budgets per language).

    Two integer sums per language (chars from the typed column,
    tokens from one split-length pass — the text itself never
    shuffles), the English row crossed in as a broadcast scalar;
    the ratio-of-ratios is exact BIGINT cross-multiplication in ppm
    (overflow-audited: chars·toks·10⁶ ≪ 2⁶³ at any plausible
    per-lang rollup) with one rounded display division.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("sum_toks"),
    )
    en = per_lang.filter(F.col("lang") == "en").select(
        F.col("sum_chars").alias("en_chars"), F.col("sum_toks").alias("en_toks")
    )
    return (
        per_lang.crossJoin(F.broadcast(en))
        .select(
            "lang",
            "sum_chars",
            "sum_toks",
            F.round(F.col("sum_chars") * 1.0 / F.col("sum_toks"), 9).alias(
                "chars_per_token"
            ),
            F.expr(
                "(sum_chars * en_toks * 1000000) div (sum_toks * en_chars)"
            )
            .cast("bigint")
            .alias("fertility_vs_en_ppm"),
        )
        .orderBy("lang")
    )


KWIC_KEYWORD = "join"
KWIC_CTX = 3


@op(
    "text_kwic_concordance",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ), hits AS (
        SELECT doc_id, arr,
               generate_subscripts(arr, 1) AS p, unnest(arr) AS tok
        FROM toks
    )
    SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
           coalesce(array_to_string(arr[greatest(1, p - {KWIC_CTX}):p - 1],
                                    ' '), '') AS left_ctx,
           coalesce(array_to_string(arr[p + 1:least(len(arr), p + {KWIC_CTX})],
                                    ' '), '') AS right_ctx
    FROM hits WHERE tok = '{KWIC_KEYWORD}'
    ORDER BY doc_id, pos
    """,
    category=CAT,
)
def text_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC (keyword-in-context) concordance for '{KWIC_KEYWORD}':
    every occurrence with {KWIC_CTX} tokens of context either side —
    the corpus linguist's primary tool since the 1950s and the
    modern data-curation spot-check (before cutting every doc
    containing a flagged term, you READ a concordance of it; PII and
    toxicity reviews work the same way — text_collocation_pmi says
    what co-occurs statistically, KWIC shows the instances
    themselves).

    One posexplode in the scan stage (the Generate node; the array
    is built once per doc and sliced per hit — slices are zero-copy
    offsets, not string surgery), keyword filter BEFORE any shuffle
    so only hit rows survive, window-free. Position is 0-based
    (matching the sql_lateral_view convention); edge clamping via
    greatest/least keeps document-boundary hits total instead of
    null.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("arr"))
    hits = toks.select(
        "doc_id", "arr", F.posexplode("arr").alias("pos0", "tok")
    ).filter(F.col("tok") == KWIC_KEYWORD)
    # 1-based position for slice arithmetic, mirroring the oracle's p
    p = F.col("pos0") + 1
    left_start = F.greatest(F.lit(1), p - KWIC_CTX)
    left_len = p - left_start
    right_len = F.least(F.size("arr"), p + KWIC_CTX) - p
    return hits.select(
        "doc_id",
        F.col("pos0").cast("bigint").alias("pos"),
        F.array_join(
            F.slice("arr", left_start, left_len), " "
        ).alias("left_ctx"),
        F.array_join(F.slice("arr", p + 1, right_len), " ").alias("right_ctx"),
    ).orderBy("doc_id", "pos")


VOCAB_BANDS = (5, 10, 20)


@op(
    "text_vocab_coverage_bands",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok
    ), ranked AS (
        SELECT tok, c,
               row_number() OVER (ORDER BY c DESC, tok) AS rnk
        FROM tf
    ), banded AS (
        SELECT CASE WHEN rnk <= {VOCAB_BANDS[0]} THEN 'top_{VOCAB_BANDS[0]}'
                    WHEN rnk <= {VOCAB_BANDS[1]} THEN 'top_{VOCAB_BANDS[1]}'
                    WHEN rnk <= {VOCAB_BANDS[2]} THEN 'top_{VOCAB_BANDS[2]}'
                    ELSE 'tail' END AS band,
               c
        FROM ranked
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tf)
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST((sum(c) * 1000000) // (SELECT n FROM tot) AS BIGINT)
               AS coverage_ppm
    FROM banded GROUP BY band ORDER BY band
    """,
    category=CAT,
)
def text_vocab_coverage_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what share of all corpus TOKENS the
    top-N TYPES account for (band edges {VOCAB_BANDS}; the synthetic
    corpus's 31-type vocabulary forces toy edges — production uses
    100/1k/10k through the same constant) — the
    vocabulary-size sizing chart (a tokenizer team reads exactly
    this to choose vocab size: the marginal coverage of the next
    band is the payoff of a bigger embedding table;
    text_oov_rate evaluates ONE cutoff per language, this draws the
    whole curve corpus-wide; Zipf's law predicts its shape,
    text_zipf_slope measures that prediction — the three ops
    triangulate).

    The rank window runs over the top-VOCAB_BANDS[-1] TakeOrdered
    cut ONLY (a bounded-constant relation; r8 — the full vocabulary
    is never rank-windowed, the tail row is derived from the one-row
    totals by subtraction); counts and coverage are exact integers
    with ppm shares against the one-row total.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # r8: only the top-VOCAB_BANDS[-1] tokens need a rank — take them
    # with orderBy+limit (TakeOrdered heap, no global sort), rank
    # within that BOUNDED cut, and derive the tail row arithmetically
    # from the one-row totals (tail types/tokens = totals minus the
    # top cut's) — the full vocabulary is never rank-windowed.
    topv = tf.orderBy(F.desc("c"), "tok").limit(VOCAB_BANDS[2])
    ranked = topv.select(
        "c",
        F.row_number().over(Window.orderBy(F.desc("c"), "tok")).alias("rnk"),
    )
    band = (
        F.when(F.col("rnk") <= VOCAB_BANDS[0], f"top_{VOCAB_BANDS[0]}")
        .when(F.col("rnk") <= VOCAB_BANDS[1], f"top_{VOCAB_BANDS[1]}")
        .otherwise(f"top_{VOCAB_BANDS[2]}")
    )
    tot = tf.agg(
        F.count("*").cast("bigint").alias("all_types"),
        F.sum("c").cast("bigint").alias("n"),
    )
    top_bands = (
        ranked.select(band.alias("band"), "c")
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_types"),
            F.sum("c").cast("bigint").alias("n_tokens"),
        )
    )
    top_sums = top_bands.agg(
        F.sum("n_types").cast("bigint").alias("tt"),
        F.sum("n_tokens").cast("bigint").alias("tk"),
    )
    tail = (
        tot.crossJoin(F.broadcast(top_sums))
        .filter(F.col("all_types") > F.col("tt"))
        .select(
            F.lit("tail").alias("band"),
            (F.col("all_types") - F.col("tt")).cast("bigint").alias("n_types"),
            (F.col("n") - F.col("tk")).cast("bigint").alias("n_tokens"),
        )
    )
    return (
        top_bands.unionByName(tail)
        .crossJoin(F.broadcast(tot.select("n")))
        .select(
            "band",
            "n_types",
            "n_tokens",
            F.expr("(n_tokens * 1000000) div n")
            .cast("bigint")
            .alias("coverage_ppm"),
        )
        .orderBy("band")
    )


DISPERSION_TOP_K = 10


@op(
    "text_token_dispersion",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), cell AS (
        SELECT tok, source, CAST(count(*) AS BIGINT) AS v
        FROM toks GROUP BY 1, 2
    ), src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS t FROM toks GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(t) AS BIGINT) AS grand FROM src
    ), tokv AS (
        SELECT tok, CAST(sum(v) AS BIGINT) AS vt FROM cell GROUP BY tok
    ), top AS (
        SELECT tok, vt FROM tokv
        ORDER BY vt DESC, tok LIMIT {DISPERSION_TOP_K}
    ), dev AS (
        SELECT top.tok, top.vt,
               CAST(sum(abs(coalesce(c.v, 0) * t2.grand - s.t * top.vt))
                    AS BIGINT) AS dev_num
        FROM top
        CROSS JOIN src s
        CROSS JOIN tot t2
        LEFT JOIN cell c ON c.tok = top.tok AND c.source = s.source
        GROUP BY top.tok, top.vt
    )
    SELECT d.tok, d.vt AS n_occurrences,
           CAST((d.dev_num * 1000000) // (2 * t2.grand * d.vt) AS BIGINT)
               AS dp_ppm
    FROM dev d CROSS JOIN tot t2
    ORDER BY dp_ppm DESC, d.tok
    """,
    category=CAT,
)
def text_token_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' Deviation of Proportions (DP) for the top-{DISPERSION_TOP_K}
    tokens: how UNEVENLY each token spreads across sources, 0 ppm =
    perfectly proportional, →10⁶ = concentrated in one source — the
    dispersion axis raw frequency hides (corpus linguistics' core
    critique of frequency lists: a term with 1 000 hits in ONE crawl
    is jargon, the same count spread evenly is core vocabulary; for
    corpus curation DP separates source-artifact tokens — boilerplate,
    site chrome — from genuine high-frequency language, a cut
    text_boilerplate_sentences makes at sentence level and this
    makes at token level).

    DP = ½·Σ|obs_share − expected_share| is computed WITHOUT any
    fraction: each cell's deviation is |v·T − t·V| over the common
    denominator T·V, summed as BIGINTs and divided ONCE into ppm
    (overflow audit: v·T ≤ 10⁴·10⁶ per cell). The token×source
    deviation grid is |top-K|×|sources| — dim-sized — built by a
    LEFT join so zero cells (the strongest deviations) are counted,
    not dropped.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    cell = toks.groupBy("tok", "source").agg(
        F.count("*").cast("bigint").alias("v")
    )
    src = toks.groupBy("source").agg(F.count("*").cast("bigint").alias("t"))
    tot = src.agg(F.sum("t").cast("bigint").alias("grand"))
    tokv = cell.groupBy("tok").agg(F.sum("v").cast("bigint").alias("vt"))
    top = tokv.orderBy(F.desc("vt"), "tok").limit(DISPERSION_TOP_K)
    grid = (
        top.crossJoin(F.broadcast(src))
        .crossJoin(F.broadcast(tot))
        .join(
            cell.withColumnRenamed("tok", "ctok").withColumnRenamed(
                "source", "csource"
            ),
            (F.col("tok") == F.col("ctok"))
            & (F.col("source") == F.col("csource")),
            "left",
        )
        .select(
            "tok",
            "vt",
            "grand",
            (
                F.abs(
                    F.coalesce(F.col("v"), F.lit(0)) * F.col("grand")
                    - F.col("t") * F.col("vt")
                )
            ).alias("dev"),
        )
    )
    dev = grid.groupBy("tok", "vt", "grand").agg(
        F.sum("dev").cast("bigint").alias("dev_num")
    )
    return (
        dev.select(
            "tok",
            F.col("vt").alias("n_occurrences"),
            F.expr("(dev_num * 1000000) div (2 * grand * vt)")
            .cast("bigint")
            .alias("dp_ppm"),
        )
        .orderBy(F.desc("dp_ppm"), "tok")
    )


@op(
    "text_yule_k",
    oracle="""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
        SELECT lang, tok, CAST(count(*) AS BIGINT) AS m
        FROM toks GROUP BY 1, 2
    ), spectrum AS (
        SELECT lang, m, CAST(count(*) AS BIGINT) AS vm
        FROM tf GROUP BY 1, 2
    ), moments AS (
        SELECT lang,
               CAST(sum(m * vm) AS BIGINT) AS n_tokens,
               CAST(sum(vm) AS BIGINT) AS v_types,
               CAST(sum(m * m * vm) AS BIGINT) AS s2
        FROM spectrum GROUP BY lang
    )
    SELECT lang, n_tokens, v_types,
           CAST((10000 * (s2 - n_tokens) * 1000000)
                // (n_tokens * n_tokens) AS BIGINT) AS yule_k_micro
    FROM moments ORDER BY lang
    """,
    category=CAT,
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per language: 10⁴·(Σm²V_m − N)/N² over
    the frequency SPECTRUM (V_m = types occurring exactly m times) —
    the length-INVARIANT lexical-richness constant
    (text_lexical_diversity's TTR falls mechanically as documents
    grow, which is the classic trap when comparing corpora of
    different sizes; K is derived from the repeat-rate and stays
    stable under length, which is why stylometry and
    authorship/bot-detection use K where curation dashboards use
    TTR — the two ops state each other's failure mode).

    The frequency spectrum is two nested integer aggregates (tf →
    V_m), and K is pure BIGINT: Σm²V_m with m ≤ ~10³ and V_m
    vocab-sized keeps every product far under 2⁶³, and the single
    div lands micro-K exactly. No float exists anywhere in the op.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("bigint").alias("m"))
    )
    spectrum = tf.groupBy("lang", "m").agg(
        F.count("*").cast("bigint").alias("vm")
    )
    moments = spectrum.groupBy("lang").agg(
        F.sum(F.col("m") * F.col("vm")).cast("bigint").alias("n_tokens"),
        F.sum("vm").cast("bigint").alias("v_types"),
        F.sum(F.col("m") * F.col("m") * F.col("vm"))
        .cast("bigint")
        .alias("s2"),
    )
    return moments.select(
        "lang",
        "n_tokens",
        "v_types",
        F.expr(
            "(10000 * (s2 - n_tokens) * 1000000) div (n_tokens * n_tokens)"
        )
        .cast("bigint")
        .alias("yule_k_micro"),
    ).orderBy("lang")


HEAPS_LOG_SCALE = 1000000


@op(
    "text_heaps_law_beta",
    oracle=f"""
    WITH half_tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % 2 = 0
    ), full_tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ), half AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n1,
               CAST(count(DISTINCT tok) AS BIGINT) AS v1
        FROM half_tok GROUP BY lang
    ), full_c AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n2,
               CAST(count(DISTINCT tok) AS BIGINT) AS v2
        FROM full_tok GROUP BY lang
    )
    SELECT h.lang, h.n1, h.v1, f.n2, f.v2,
           CAST(round(ln(f.v2 * 1.0 / h.v1) * {HEAPS_LOG_SCALE}) AS BIGINT)
               AS dlogv_micro,
           CAST(round(ln(f.n2 * 1.0 / h.n1) * {HEAPS_LOG_SCALE}) AS BIGINT)
               AS dlogn_micro,
           CAST((round(ln(f.v2 * 1.0 / h.v1) * {HEAPS_LOG_SCALE}) * 1000000)
                // round(ln(f.n2 * 1.0 / h.n1) * {HEAPS_LOG_SCALE})
               AS BIGINT) AS beta_micro
    FROM half h JOIN full_c f ON f.lang = h.lang
    ORDER BY h.lang
    """,
    category=CAT,
)
def text_heaps_law_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law exponent per language: β from vocabulary growth
    between the half corpus (even doc_ids) and the full corpus —
    V(N) ≈ K·N^β, so β = Δln V / Δln N — THE vocabulary-scaling
    forecast (Zipf describes the frequency DISTRIBUTION at one
    corpus size, Heaps predicts how VOCABULARY grows as you crawl
    more — the two laws are asymptotic duals, and β is what sizes a
    tokenizer's OOV budget for a corpus 100× today's: β≈0.5 means
    doubling data grows vocab ~41 %; the synthetic corpus's closed
    31-type vocabulary drives β→0, itself the 'vocabulary has
    saturated' reading a curator acts on).

    Two-point slope from two spectrum aggregates (the deterministic
    even-id half — no sampling); both logs quantized to micro-nats
    per row (Hill/KL device) and the ratio taken as one BIGINT div,
    so β lands exactly. Growth deltas published so the reader can
    recompute.
    """
    docs = load_table(spark, sf_dir, "documents")

    def spectrum(df: DataFrame, n_name: str, v_name: str) -> DataFrame:
        toks = df.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        return toks.groupBy("lang").agg(
            F.count("*").cast("bigint").alias(n_name),
            F.countDistinct("tok").cast("bigint").alias(v_name),
        )

    half = spectrum(docs.filter(F.col("doc_id") % 2 == 0), "n1", "v1")
    full_c = spectrum(docs, "n2", "v2")
    j = half.join(full_c, "lang")
    dlogv = F.round(
        F.log(F.col("v2") * 1.0 / F.col("v1")) * HEAPS_LOG_SCALE
    ).cast("bigint")
    dlogn = F.round(
        F.log(F.col("n2") * 1.0 / F.col("n1")) * HEAPS_LOG_SCALE
    ).cast("bigint")
    return j.select(
        "lang",
        "n1",
        "v1",
        "n2",
        "v2",
        dlogv.alias("dlogv_micro"),
        dlogn.alias("dlogn_micro"),
        F.expr(
            f"(CAST(round(ln(v2 * 1.0D / v1) * {HEAPS_LOG_SCALE}) AS BIGINT)"
            f" * 1000000)"
            f" div CAST(round(ln(n2 * 1.0D / n1) * {HEAPS_LOG_SCALE}) AS BIGINT)"
        )
        .cast("bigint")
        .alias("beta_micro"),
    ).orderBy("lang")


def _kappa_oracle() -> str:
    """Compose the kappa oracle from the two detectors' own oracle
    strings (registry lookup — the release-gate pattern: the
    agreement metric can never drift from the detectors)."""
    from insight_gp_import_spark.registry import REGISTRY

    d1 = REGISTRY["text_langid"].oracle
    d2 = REGISTRY["text_langid_ngram"].oracle
    return f"""
    WITH d1 AS ({d1}), d2 AS ({d2}),
    j AS (
        SELECT d1.predicted AS p1, d2.predicted AS p2
        FROM d1 JOIN d2 ON d2.doc_id = d1.doc_id
    ), n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j),
    agree AS (
        SELECT CAST(sum(CASE WHEN p1 = p2 THEN 1 ELSE 0 END) AS BIGINT)
            AS a FROM j
    ), marg AS (
        SELECT CAST(sum(c1 * c2) AS BIGINT) AS rc
        FROM (SELECT p1 AS p, CAST(count(*) AS BIGINT) AS c1
              FROM j GROUP BY p1) m1
        JOIN (SELECT p2 AS p, CAST(count(*) AS BIGINT) AS c2
              FROM j GROUP BY p2) m2 ON m2.p = m1.p
    )
    SELECT n_tot.n, agree.a AS n_agree, marg.rc AS chance_num,
           round((n_tot.n * agree.a - marg.rc) * 1.0
                 / (n_tot.n * n_tot.n - marg.rc), 9) AS cohens_kappa
    FROM n_tot, agree, marg
    """


@op("text_langid_kappa", oracle=_kappa_oracle(), category=CAT)
def text_langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between the engine's two language detectors
    (first-token lookup vs self-trained trigram) — inter-annotator
    agreement applied to models (raw agreement flatters any pair on
    a skewed corpus because both guess the majority class; κ
    subtracts exactly that chance agreement, which is why labeling
    pipelines gate on κ, not accuracy, before trusting silver
    labels — and a LOW κ between two cheap detectors is the signal
    that buys a better model, the text_langid_eval confusion matrix
    says WHERE they disagree).

    Composition without drift, twice (the release-gate pattern): the
    Spark side JOINS the two registered detector ops' outputs, and
    the oracle embeds their oracle STRINGS as CTEs via registry
    lookup. κ = (n·agree − Σr·c)/(n² − Σr·c) straight from integer
    counts with one rounded division; the marginal-product table is
    ≤|langs|² cells.
    """
    d1 = text_langid(spark, sf_dir).select(
        "doc_id", F.col("predicted").alias("p1")
    )
    d2 = text_langid_ngram(spark, sf_dir).select(
        "doc_id", F.col("predicted").alias("p2")
    )
    # r12: persist the tiny prediction-pair relation — it is referenced
    # FOUR times (total, agreement, both marginals), and each reference
    # re-ran BOTH detector pipelines end to end (the trigram explode
    # twice per detector run; 25 Exchanges in the profiled plan).
    # n and agree also fold into ONE aggregate over the same relation.
    j = tracked_persist(d1.join(d2, "doc_id").select("p1", "p2"))
    stats = j.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("p1") == F.col("p2"), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
    )
    m1 = j.groupBy(F.col("p1").alias("p")).agg(
        F.count("*").cast("bigint").alias("c1")
    )
    m2 = j.groupBy(F.col("p2").alias("p")).agg(
        F.count("*").cast("bigint").alias("c2")
    )
    marg = m1.join(m2, "p").agg(
        F.sum(F.col("c1") * F.col("c2")).cast("bigint").alias("rc")
    )
    return (
        stats.crossJoin(marg)
        .select(
            "n",
            F.col("a").alias("n_agree"),
            F.col("rc").alias("chance_num"),
            F.round(
                (F.col("n") * F.col("a") - F.col("rc"))
                * 1.0
                / (F.col("n") * F.col("n") - F.col("rc")),
                9,
            ).alias("cohens_kappa"),
        )
    )




def _sampler_bias_oracle() -> str:
    from insight_gp_import_spark.registry import REGISTRY

    uni = REGISTRY["sample_stratified"].oracle
    wres = REGISTRY["sample_weighted_reservoir"].oracle
    return f"""
    WITH uni AS ({uni}), wres AS ({wres}),
    base AS (
        SELECT CAST(sum(n_chars) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        FROM documents
    ), u AS (
        SELECT CAST(sum(n_chars) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        FROM uni
    ), w AS (
        SELECT CAST(sum(n_chars) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        FROM wres
    )
    SELECT 'corpus' AS sampler, base.n AS n_docs, base.s AS sum_chars,
           CAST(1000000 AS BIGINT) AS mean_vs_corpus_ppm
    FROM base
    UNION ALL
    SELECT 'stratified_uniform', u.n, u.s,
           CAST((u.s * base.n * 1000000) // (u.n * base.s) AS BIGINT)
    FROM u CROSS JOIN base
    UNION ALL
    SELECT 'weighted_reservoir', w.n, w.s,
           CAST((w.s * base.n * 1000000) // (w.n * base.s) AS BIGINT)
    FROM w CROSS JOIN base
    ORDER BY sampler
    """


@op("corpus_sampler_bias_check", oracle=_sampler_bias_oracle(),
    category="training-corpus")
def corpus_sampler_bias_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampler bias, measured: mean document length under the uniform
    sampler and the length-weighted reservoir, each as a ppm ratio
    of the corpus mean — the composition that makes both samplers'
    DESIGN CLAIMS falsifiable (uniform should sit ≈10⁶; the
    Efraimidis–Spirakis draw should sit far ABOVE it because
    inclusion ∝ length is its contract — a weighted sampler reading
    ≈10⁶ would be broken-silent, the worst kind). The release-gate
    pattern again: the ops themselves are called on the Spark side
    and their oracle STRINGS embedded on the DuckDB side, so the
    bias check can never drift from the samplers it audits.

    Ratio-of-means as one exact cross-multiplication in BIGINT ppm
    per sampler (s·N·10⁶ div (n·S)); both samplers carry n_chars in
    their declared relations. Three one-row aggregates unioned.
    """
    from insight_gp_import_spark.operators.projection import (
        sample_stratified,
        sample_weighted_reservoir,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.agg(
        F.sum("n_chars").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    uni = sample_stratified(spark, sf_dir).agg(
        F.sum("n_chars").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    wres = sample_weighted_reservoir(spark, sf_dir).agg(
        F.sum("n_chars").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )

    def row(label: str, df: DataFrame) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(base.select(F.col("s").alias("bs"), F.col("n").alias("bn"))))
            .select(
                F.lit(label).alias("sampler"),
                F.col("n").alias("n_docs"),
                F.col("s").alias("sum_chars"),
                F.expr("(s * bn * 1000000) div (n * bs)").cast("bigint").alias(
                    "mean_vs_corpus_ppm"
                ),
            )
        )

    corpus_row = base.select(
        F.lit("corpus").alias("sampler"),
        F.col("n").alias("n_docs"),
        F.col("s").alias("sum_chars"),
        F.lit(1000000).cast("bigint").alias("mean_vs_corpus_ppm"),
    )
    return (
        corpus_row.unionAll(row("stratified_uniform", uni))
        .unionAll(row("weighted_reservoir", wres))
        .orderBy("sampler")
    )


JSD_SRC_A, JSD_SRC_B = "src0", "src1"
JSD_LOG_SCALE = 1000000


@op(
    "text_source_js_divergence",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE source IN ('{JSD_SRC_A}', '{JSD_SRC_B}')
    ), cell AS (
        SELECT tok,
               CAST(sum(CASE WHEN source = '{JSD_SRC_A}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(sum(CASE WHEN source = '{JSD_SRC_B}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b
        FROM toks GROUP BY tok
    ), tot AS (
        SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
        FROM cell
    ), terms AS (
        SELECT c.a, c.b, t.ta, t.tb,
               CASE WHEN c.a > 0 THEN
                   CAST(round(ln((c.a * 1.0 / t.ta)
                        / (c.a * 1.0 / t.ta + c.b * 1.0 / t.tb) * 2)
                        * {JSD_LOG_SCALE}) AS BIGINT) ELSE 0 END AS la,
               CASE WHEN c.b > 0 THEN
                   CAST(round(ln((c.b * 1.0 / t.tb)
                        / (c.a * 1.0 / t.ta + c.b * 1.0 / t.tb) * 2)
                        * {JSD_LOG_SCALE}) AS BIGINT) ELSE 0 END AS lb
        FROM cell c CROSS JOIN tot t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(a * la) AS BIGINT) AS kl_a_num,
           CAST(sum(b * lb) AS BIGINT) AS kl_b_num,
           CAST((sum(a * la) // (2 * max(ta))
                 + sum(b * lb) // (2 * max(tb))) AS BIGINT)
               AS jsd_micronats
    FROM terms
    """,
    category=CAT,
)
def text_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between two sources' token
    distributions ({JSD_SRC_A} vs {JSD_SRC_B}), in micro-nats —
    the DISTRIBUTIONAL distance corpus_source_overlap's set Jaccard
    cannot see (two sources can share 100 % of their vocabulary and
    still use it at wildly different rates; JSD is symmetric,
    bounded by ln 2, and defined even where KL blows up on
    zero-probability tokens — exactly why it, not raw KL, is the
    standard corpus-pair distance).

    JSD = ½KL(p‖m) + ½KL(q‖m) with m the average distribution:
    per-token log-ratios against m are quantized to integer
    micro-nats (the KL-op device; zero-count sides contribute 0 by
    the 0·log 0 convention, stated) and weighted by INTEGER counts,
    so both KL numerators are exact commutative BIGINTs; the final
    ½-weighted normalization is two integer divs. |vocab| cells.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.filter(F.col("source").isin(JSD_SRC_A, JSD_SRC_B)).select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    cell = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("source") == JSD_SRC_A, 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("source") == JSD_SRC_B, 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
    )
    tot = cell.agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
    )
    t = cell.crossJoin(F.broadcast(tot))
    pa = F.col("a") * 1.0 / F.col("ta")
    pb = F.col("b") * 1.0 / F.col("tb")
    la = F.when(
        F.col("a") > 0,
        F.round(F.log(pa / (pa + pb) * 2) * JSD_LOG_SCALE).cast("bigint"),
    ).otherwise(0)
    lb = F.when(
        F.col("b") > 0,
        F.round(F.log(pb / (pa + pb) * 2) * JSD_LOG_SCALE).cast("bigint"),
    ).otherwise(0)
    terms = t.select("a", "b", "ta", "tb", la.alias("la"), lb.alias("lb"))
    return terms.agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.col("a") * F.col("la")).cast("bigint").alias("kl_a_num"),
        F.sum(F.col("b") * F.col("lb")).cast("bigint").alias("kl_b_num"),
        (
            F.expr("sum(a * la) div (2 * max(ta))")
            + F.expr("sum(b * lb) div (2 * max(tb))")
        )
        .cast("bigint")
        .alias("jsd_micronats"),
    )


BIGRAM_LP_SCALE = 10**6
BIGRAM_SURPRISE_Q = -45000  # avg logprob threshold in 1e-4 units


@op(
    "text_bigram_logprob",
    oracle=f"""
    WITH comp AS (
        SELECT doc_id, generate_subscripts(arr, 1) AS i, unnest(arr) AS w
        FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
    ), big AS (
        SELECT a.doc_id, a.w AS w1, b.w AS w2
        FROM comp a JOIN comp b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ), freq2 AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY 1, 2
    ), ctx AS (
        SELECT w1, CAST(sum(n) AS BIGINT) AS ndot FROM freq2 GROUP BY 1
    ), scored AS (
        SELECT g.doc_id,
               CAST(floor(ln(CAST(f.n AS DOUBLE) / c.ndot)
                          * {BIGRAM_LP_SCALE} + 0.5) AS BIGINT) AS lpq
        FROM big g JOIN freq2 f USING (w1, w2) JOIN ctx c USING (w1)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(floor(sum(lpq) * 10000.0
                / ({BIGRAM_LP_SCALE} * count(*)) + 0.5) AS BIGINT) / 10000.0
               AS avg_logprob,
           (CAST(floor(sum(lpq) * 10000.0
                 / ({BIGRAM_LP_SCALE} * count(*)) + 0.5) AS BIGINT)
            < {BIGRAM_SURPRISE_Q}) AS is_surprising
    FROM scored GROUP BY doc_id
    """,
    category=CAT,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc average BIGRAM log-probability under the corpus's own
    MLE bigram model P(w₂|w₁) = c(w₁w₂)/c(w₁·) — the context-sensitive
    upgrade of text_unigram_logprob (which scores words in isolation:
    a doc of common words in an uncommon ORDER looks fine to the
    unigram scorer and surprising here; exactly the scrambled-text /
    template-spam signature curation filters want).

    Bigrams are built IN THE SCAN STAGE as an index-aware array
    transform (element i paired with element i+1 — no positional
    self-join on the Spark side; the oracle uses the join formulation
    deliberately as an independent plan computing the same relation).
    Model counts are corpus aggregates joined back by (w1,w2)/(w1);
    each bigram's ln P is per-row micro-quantized BEFORE the per-doc
    sum (§2.X — the cross-row float fold never exists), and the
    per-doc average is one rounded division of agreed integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r13 (guide §1.2 per-task work; same fix text_novelty_score got in
    # r12): the old transform's lambda re-evaluated split(text, ' ')[i+1]
    # PER ELEMENT — O(tokens²) string splitting per doc. Split once,
    # then zip_with over the array and its own tail — one pass,
    # bit-identical pairs (toks[j], toks[j+1]) (exceptAll both ways
    # verified at sf0.1 before the swap).
    big = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # r12: persist the bigram stream — referenced by the model-count
    # aggregate AND the scoring join, so the split/transform explode
    # otherwise runs twice over the corpus (guide §2.4).
    big = tracked_persist(big)
    freq2 = big.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("n"))
    ctx = freq2.groupBy("w1").agg(F.sum("n").cast("bigint").alias("ndot"))
    # No broadcast hints here: the bigram vocabulary grows ~linearly
    # with corpus tokens, so forcing freq2/ctx driver-side would OOM at
    # large SF. AQE picks broadcast when the model fits and a shuffle
    # join (co-partitioned on w1) when it doesn't.
    scored = (
        big.join(freq2, ["w1", "w2"])
        .join(ctx, "w1")
        .select(
            "doc_id",
            F.floor(
                F.log(F.col("n").cast("double") / F.col("ndot"))
                * BIGRAM_LP_SCALE
                + 0.5
            )
            .cast("bigint")
            .alias("lpq"),
        )
    )
    # round() half-ties diverge across engines (§2.X) — the average is
    # floor-quantized to 1e-4 units as an integer, then displayed
    avg_q = F.floor(
        F.sum("lpq") * 10000.0 / (BIGRAM_LP_SCALE * F.count("*")) + 0.5
    ).cast("bigint")
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        (avg_q / 10000.0).alias("avg_logprob"),
        (avg_q < BIGRAM_SURPRISE_Q).alias("is_surprising"),
    )
