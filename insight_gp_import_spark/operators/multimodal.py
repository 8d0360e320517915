"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched Python (mapInPandas).

No image/audio libraries exist in this environment. The ORACLED ops
keep a clearly-marked deterministic fake decode (``_fake_decode_meta``
— SQL-expressible, hence hash-checkable); the REAL decode paths use
the repo's own pure stdlib+numpy codecs: images via
``resize_images`` / ``image_phash_real`` / ``mm_image_meta_real``
(PNG, baseline+progressive JPEG, GIF, BMP, TIFF, WebP-lossless),
audio via ``mm_audio_meta_real`` (wav_codec: PCM/float/G.711) and
``mm_audio_flac_real`` (flac_codec: Rice/FIXED/LPC, CRC+MD5), video
CONTAINERS via ``mm_video_meta_real`` (mp4_boxes: ISO-BMFF box tree;
frame-pixel decode refuses by name) — so actual bytes flow through
the identical mapInPandas plumbing for all three modalities.
Everything Spark-side is real and tested either way: binary column
construction, mapInPandas schemas, Arrow batch iteration,
row-expanding frame sampling, partition-preserving plumbing.

The test corpus has no true media, so payloads are the documents' UTF-8
bytes — which makes the fake decode SQL-expressible and therefore
honestly ORACLED (ascii/length/md5 over the same text), a stronger
check than rows-only despite the stub.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_gp_import_spark.registry import op
from insight_gp_import_spark.tables import load_table, spread_scan

CAT = "multimodal"


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary payload column (+ media-type metadata).
    On a real corpus this is the image/audio bytes column read from
    parquet; here it is the UTF-8 encoding of the text."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


def _fake_decode_meta(payload: bytes) -> tuple[int, int, int, str]:
    """DETERMINISTIC FAKE of an image header decode (no PIL in env).

    Real implementation would parse the image header; the fake derives
    "dimensions" from the first two bytes so the full pipeline —
    schema, Arrow transfer, batch iteration — is exercised end-to-end
    and remains oracle-checkable.
    """
    n = len(payload)
    width = (payload[0] % 8 + 1) * 64 if n > 0 else 0
    height = (payload[1] % 8 + 1) * 64 if n > 1 else 0
    checksum = hashlib.md5(payload).hexdigest()
    return n, width, height, checksum


@op(
    "mm_decode_features",
    oracle="""
    SELECT doc_id,
           n_chars AS n_bytes,
           CAST((ascii(substr(text, 1, 1)) % 8 + 1) * 64 AS INTEGER) AS width,
           CAST((ascii(substr(text, 2, 1)) % 8 + 1) * 64 AS INTEGER) AS height,
           md5(text) AS checksum
    FROM documents
    """,
    category=CAT,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over binary payloads via mapInPandas.

    The Arrow-batched iterator is the real scale pattern: executors
    stream record batches through Python, one batch in flight per task,
    no per-row overhead; decode cost parallelizes with partitions.
    (Payload bytes are UTF-8 text here, so the oracle can recompute the
    fake decode in SQL — corpus is pure ASCII, byte == char.)
    """
    payloads = with_payload(load_table(spark, sf_dir, "documents"))

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["payload"].map(_fake_decode_meta)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": meta.map(lambda m: m[0]),
                    "width": meta.map(lambda m: m[1]),
                    "height": meta.map(lambda m: m[2]),
                    "checksum": meta.map(lambda m: m[3]),
                }
            )

    return payloads.mapInPandas(
        decode_batches,
        "doc_id long, n_bytes long, width int, height int, checksum string",
    )


FRAME_BYTES = 30  # fake: one "frame" per 30 payload bytes
FRAME_STRIDE = 10  # sample every 10th frame


@op(
    "mm_frame_sample",
    oracle=f"""
    SELECT doc_id, frame_idx, md5(doc_id || ':' || frame_idx) AS frame_key
    FROM (
        SELECT doc_id,
               CAST(unnest(generate_series(0, (n_chars // {FRAME_BYTES}) - 1,
                                           {FRAME_STRIDE})) AS BIGINT) AS frame_idx
        FROM documents
        WHERE n_chars >= {FRAME_BYTES}
    )
    """,
    category=CAT,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over "video" payloads: every {FRAME_STRIDE}-th of
    n_bytes/{FRAME_BYTES} frames, as (doc_id, frame_idx, frame_key)
    rows. Row expansion is JVM-side (sequence + explode — no Python in
    the multiplying step); the downstream per-frame decode would be the
    mapInPandas stage above. frame_key stands in for the frame content
    address a real pipeline writes."""
    payloads = with_payload(load_table(spark, sf_dir, "documents"))
    n_frames = F.expr(f"length(payload) div {FRAME_BYTES}")  # exact floor div
    return (
        payloads.withColumn("n_frames", n_frames)
        .filter(F.col("n_frames") >= 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    (F.col("n_frames") - 1),
                    F.lit(FRAME_STRIDE).cast("long"),
                )
            ).alias("frame_idx"),
        )
        .withColumn("frame_key", F.md5(F.concat_ws(":", "doc_id", "frame_idx")))
    )


def resize_images(
    payloads: DataFrame, width: int, height: int, *, fake: bool = False
) -> DataFrame:
    """Resize binary image payloads → binary (mapInPandas, binary-in
    binary-out — the shape every media transform shares).

    REAL path (round 5, completed rounds 6-7): payloads dispatch on
    magic bytes across SIX pure stdlib+numpy codecs — PNG (png_codec:
    spec-complete decode, all depths/palettes/Adam7), JPEG (jpeg_codec:
    baseline AND progressive SOF2, 4:4:4/4:2:2/4:2:0, restart markers),
    GIF (gif_codec: full LZW, palettes, interlace, first frame of
    animations), BMP (bmp_codec: BI_RGB 8/24/32-bit), TIFF (tiff_codec:
    uncompressed + LZW/Deflate/PackBits strips, Predictor 2, both
    endians) and WebP-lossless (vp8l_codec: all four VP8L transforms,
    color cache, meta-Huffman, LZ77) — then nearest-neighbor resample
    and re-encode in their own format. Remaining honest
    NotImplementedError surface: lossy-VP8 WebP and arithmetic-coded/
    12-bit JPEG. ``fake=True`` keeps the deterministic stand-in
    (truncate/pad to width*height bytes) for plumbing tests on
    non-image payloads.
    """

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        if not fake:
            from insight_gp_import_spark.bmp_codec import (
                decode_bmp,
                encode_bmp,
                is_bmp,
            )
            from insight_gp_import_spark.gif_codec import (
                decode_gif,
                encode_gif,
                is_gif,
            )
            from insight_gp_import_spark.jpeg_codec import (
                decode_jpeg,
                encode_jpeg,
                is_jpeg,
            )
            from insight_gp_import_spark.png_codec import (
                decode_png,
                encode_png,
                is_png,
                resize_nearest,
            )
            from insight_gp_import_spark.tiff_codec import (
                decode_tiff,
                encode_tiff,
                is_tiff,
            )
            from insight_gp_import_spark.vp8l_codec import (
                decode_webp,
                encode_webp,
                is_webp,
            )

            def _resize(b):
                b = bytes(b)
                if is_png(b):
                    return encode_png(
                        resize_nearest(decode_png(b), width, height)
                    )
                if is_jpeg(b):
                    return encode_jpeg(
                        resize_nearest(decode_jpeg(b), width, height)
                    )
                if is_gif(b):
                    # nearest-neighbor only selects existing pixels, so
                    # the <=256-color invariant survives re-encoding
                    return encode_gif(
                        resize_nearest(decode_gif(b), width, height)
                    )
                if is_bmp(b):
                    return encode_bmp(
                        resize_nearest(decode_bmp(b), width, height)
                    )
                if is_tiff(b):
                    return encode_tiff(
                        resize_nearest(decode_tiff(b), width, height)
                    )
                if is_webp(b):
                    # lossless VP8L both ways; lossy VP8 input raises
                    # NotImplementedError from decode_webp by name
                    return encode_webp(
                        resize_nearest(decode_webp(b), width, height)
                    )
                raise NotImplementedError(
                    "image format not supported by the built-in "
                    "PNG/JPEG/GIF/BMP/TIFF/WebP-lossless codecs"
                )

        for pdf in batches:
            if fake:
                resized = pdf["payload"].map(
                    lambda b: bytes(b[:target]).ljust(target, b"\0")
                )
            else:
                resized = pdf["payload"].map(_resize)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": resized})

    return payloads.select("doc_id", "payload").mapInPandas(
        resize_batches, "doc_id long, payload binary"
    )


def image_phash_real(payloads: DataFrame) -> DataFrame:
    """Perceptual average-hash over REAL decoded PNG pixels.

    The oracled op ``mm_image_phash`` applies the aHash construction
    to SQL-expressible fake pixels so the hash is oracle-checkable;
    this library twin runs the identical construction (8x8 integer
    block means, bit = cell > mean) on actual pixel data via the
    pure-stdlib PNG decoder — same mapInPandas shape, Arrow-batched,
    embarrassingly parallel per image at any scale.
    """

    def phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from insight_gp_import_spark.bmp_codec import decode_bmp, is_bmp
        from insight_gp_import_spark.gif_codec import decode_gif, is_gif
        from insight_gp_import_spark.tiff_codec import decode_tiff, is_tiff
        from insight_gp_import_spark.jpeg_codec import decode_jpeg, is_jpeg
        from insight_gp_import_spark.png_codec import ahash64, decode_png
        from insight_gp_import_spark.vp8l_codec import decode_webp, is_webp

        for pdf in batches:
            ws, hs, hashes = [], [], []
            for b in pdf["payload"]:
                b = bytes(b)
                if is_jpeg(b):
                    arr = decode_jpeg(b)
                elif is_gif(b):
                    arr = decode_gif(b)
                elif is_bmp(b):
                    arr = decode_bmp(b)
                elif is_tiff(b):
                    arr = decode_tiff(b)
                elif is_webp(b):
                    arr = decode_webp(b)
                else:
                    arr = decode_png(b)
                ws.append(arr.shape[1])
                hs.append(arr.shape[0])
                hashes.append(f"{ahash64(arr):016x}")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "phash": hashes,
                }
            )

    return payloads.select("doc_id", "payload").mapInPandas(
        phash_batches, "doc_id long, width int, height int, phash string"
    )


SAMPLE_RATE = 16_000  # fake PCM: 16 kHz, 16-bit mono
BYTES_PER_SAMPLE = 2
CHUNK_SAMPLES = 4_000  # 250 ms windows
CHUNK_STRIDE = 2_000  # 50% overlap


@op(
    "mm_audio_chunks",
    oracle=f"""
    SELECT doc_id, chunk_idx,
           chunk_idx * {CHUNK_STRIDE} AS start_sample,
           CAST(least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_SAMPLES},
                      n_samples) AS BIGINT) AS end_sample,
           round((chunk_idx * {CHUNK_STRIDE}) / {SAMPLE_RATE}.0, 4)
               AS start_sec
    FROM (
        SELECT doc_id,
               n_chars // {BYTES_PER_SAMPLE} AS n_samples,
               CAST(unnest(generate_series(
                   0,
                   (n_chars // {BYTES_PER_SAMPLE} - 1) // {CHUNK_STRIDE},
                   1)) AS BIGINT) AS chunk_idx
        FROM documents
        WHERE n_chars // {BYTES_PER_SAMPLE} >= 1
    )
    """,
    category=CAT,
)
def mm_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowing over "PCM" payloads — the audio-modality member
    of the multimodal family (image: mm_decode_features, video:
    mm_frame_sample): split each payload into overlapping fixed-length
    sample windows, the unit every ASR/audio-embedding stage consumes.

    Sample count = n_bytes/{BYTES_PER_SAMPLE} (16-bit mono PCM
    convention); windows of {CHUNK_SAMPLES} samples every
    {CHUNK_STRIDE} (50 % overlap); the tail window clamps to the
    payload end. Row expansion is JVM-side sequence+explode exactly
    like frame sampling — Python (the real decoder's slot) would only
    ever see the already-chunked byte ranges via mapInPandas. All
    window arithmetic is exact integer math; start_sec is the only
    derived double (rounded 4dp both sides).
    """
    payloads = with_payload(load_table(spark, sf_dir, "documents"))
    n_samples = F.expr(f"length(payload) div {BYTES_PER_SAMPLE}")
    return (
        payloads.withColumn("n_samples", n_samples)
        .filter(F.col("n_samples") >= 1)
        .select(
            "doc_id",
            "n_samples",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.expr(f"(n_samples - 1) div {CHUNK_STRIDE}"),
                    F.lit(1).cast("long"),
                )
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * CHUNK_STRIDE).alias("start_sample"),
            F.least(
                F.col("chunk_idx") * CHUNK_STRIDE + CHUNK_SAMPLES,
                F.col("n_samples"),
            ).alias("end_sample"),
            F.round(
                (F.col("chunk_idx") * CHUNK_STRIDE) / float(SAMPLE_RATE), 4
            ).alias("start_sec"),
        )
    )


SCENE_DELTA = 40000  # |16-bit feature delta| above this = scene cut

_HEX16 = "0123456789abcdef"


def _feat16_col(key: F.Column) -> F.Column:
    """Deterministic 16-bit 'frame feature' from md5(key) — the
    engine-portable stand-in for a real frame-difference metric (the
    strpos/instr hex trick shared with corpus_ops._u16_col)."""
    h = F.md5(key)
    digs = [F.instr(F.lit(_HEX16), F.substring(h, i + 1, 1)) - 1 for i in range(4)]
    return digs[0] * 4096 + digs[1] * 256 + digs[2] * 16 + digs[3]


def _feat16_sql(key: str) -> str:
    digs = [
        f"(strpos('{_HEX16}', substr(md5({key}), {i + 1}, 1)) - 1)"
        for i in range(4)
    ]
    return f"({digs[0]} * 4096 + {digs[1]} * 256 + {digs[2]} * 16 + {digs[3]})"


@op(
    "mm_video_scene_cuts",
    oracle=f"""
    WITH frames AS (
        SELECT doc_id,
               CAST(unnest(generate_series(0, (n_chars // {FRAME_BYTES}) - 1))
                   AS BIGINT) AS frame_idx
        FROM documents WHERE n_chars >= {FRAME_BYTES}
    ), feat AS (
        SELECT doc_id, frame_idx,
               {_feat16_sql("doc_id || ':' || frame_idx")} AS f
        FROM frames
    ), delta AS (
        SELECT doc_id, frame_idx,
               abs(f - lag(f) OVER (PARTITION BY doc_id ORDER BY frame_idx))
                   AS d
        FROM feat
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(count(*) FILTER (WHERE d > {SCENE_DELTA}) AS BIGINT) AS n_cuts,
           min(CASE WHEN d > {SCENE_DELTA} THEN frame_idx END) AS first_cut
    FROM delta GROUP BY doc_id
    """,
    category=CAT,
)
def mm_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over video payloads: split each payload
    into frames, compute a per-frame feature, and cut where the
    frame-to-frame delta exceeds a threshold — the shot-boundary
    pass that decides which frames a video-training pipeline keeps
    (sample per scene, not per second). The FEATURE is a
    deterministic md5-derived 16-bit stand-in (no video codec in
    this environment — same honesty contract as mm_decode_features);
    everything around it is the real pipeline: JVM sequence+explode
    frame expansion, a lag window per video for the temporal delta,
    and the per-video cut summary.

    Scale shape: frame expansion multiplies rows in the scan stage
    (no Python, no shuffle to expand); the lag window partitions on
    doc_id — high-cardinality, no global window — and the summary
    groupBy shares the same key, so AQE folds both onto one exchange.
    A real deployment swaps _feat16 for a decoded frame-difference
    via the resize_images mapInPandas slot; the plan shape is
    unchanged."""
    payloads = with_payload(load_table(spark, sf_dir, "documents"))
    n_frames = F.expr(f"length(payload) div {FRAME_BYTES}")
    frames = (
        payloads.withColumn("nf", n_frames)
        .filter(F.col("nf") >= 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("nf") - 1)
            ).alias("frame_idx"),
        )
    )
    feat = frames.withColumn(
        "f", _feat16_col(F.concat_ws(":", "doc_id", "frame_idx"))
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    delta = feat.withColumn(
        "d", F.abs(F.col("f") - F.lag("f").over(w))
    )
    return delta.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.count(F.when(F.col("d") > SCENE_DELTA, 1)).alias("n_cuts"),
        F.min(F.when(F.col("d") > SCENE_DELTA, F.col("frame_idx"))).alias(
            "first_cut"
        ),
    )


PHASH_HEX = "0123456789abcdef"


def _with_phash_bits(df: DataFrame, text_col: str, n_col: str) -> DataFrame:
    """Stage the aHash bit array as a real column ``bs`` via three
    chained projections (pix → psum → bs).

    Pixel i samples the byte at position ⌊i·n/64⌋ (DETERMINISTIC FAKE
    of an 8×8 grayscale downsample; the corpus payload is ASCII text,
    so ascii(substring(...)) IS the byte). The bit test pixel·64 >
    Σpixels is exact integer cross-multiplication (no float mean).

    Round-6 perf: the former single-expression form nested
    ``aggregate(pix, …)`` inside the per-element lambda, and Catalyst
    does NOT common-subexpression-eliminate inside lambda bodies — so
    every one of the 64 bit tests re-folded the 64-pixel array, and a
    downstream projection referencing ``bs`` k times could re-inline
    the whole construction k times (observed: 1.5 MiB codegen task
    binaries and a 77 s scan for 5 k rows). Staging each piece as its
    own attribute makes every later ``bs`` reference a cheap column
    read; values are bit-identical (pure integer arithmetic, same
    ops, same order)."""
    pix = (
        f"transform(sequence(0, 63), i -> "
        f"ascii(substring({text_col}, 1 + ((i * {n_col}) div 64), 1)))"
    )
    return (
        df.withColumn("_pix", F.expr(pix))
        .withColumn("_psum", F.expr("aggregate(_pix, 0, (a, x) -> a + x)"))
        .withColumn("bs", F.expr("transform(_pix, p -> IF(p * 64 > _psum, 1, 0))"))
    )


@op(
    "mm_image_phash",
    oracle=f"""
    WITH pix AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                              i -> ascii(substr(text, CAST(1 + ((i * n_chars) // 64) AS BIGINT), 1)))
                   AS p
        FROM documents
    ), bits AS (
        SELECT doc_id,
               list_transform(p, x -> CASE WHEN x * 64 > list_aggregate(p, 'sum')
                                           THEN 1 ELSE 0 END) AS b
        FROM pix
    )
    SELECT doc_id,
           CAST(list_aggregate(b, 'sum') AS BIGINT) AS ones,
           array_to_string(
               list_transform(generate_series(0, 15),
                   j -> substr('{PHASH_HEX}',
                               1 + b[4*j + 1] * 8 + b[4*j + 2] * 4
                                 + b[4*j + 3] * 2 + b[4*j + 4], 1)),
               '') AS phash
    FROM bits
    """,
    category=CAT,
)
def mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash (aHash) over the fake-decoded 8×8 pixel
    grid — the near-duplicate IMAGE fingerprint (the visual twin of
    dedup_simhash's 64-bit text sketch; downstream banding/hamming
    join is identical machinery). Real decode would resize to 8×8
    grayscale; the fake samples 64 payload bytes deterministically so
    the whole hash pipeline — sampling, exact integer mean test,
    bit→nibble→hex packing — is real and ORACLED, not rows-only.

    All arithmetic is integer (the mean test is pixel·64 > Σ, exact
    cross-multiplication — a float mean would reopen the round-half
    trap text_readability hit). One fused scan-stage expression per
    row: zero shuffles, zero UDFs, zero Python — at 100 TB this is a
    pure map over the image table, and the 16-hex phash feeds the
    same banded-bucket join the SimHash path uses.
    """
    docs = load_table(spark, sf_dir, "documents")
    nib = (
        f"transform(sequence(0, 15), j -> substring('{PHASH_HEX}', "
        f"1 + element_at(bs, 4*j + 1) * 8 + element_at(bs, 4*j + 2) * 4"
        f" + element_at(bs, 4*j + 3) * 2 + element_at(bs, 4*j + 4), 1))"
    )
    return (
        _with_phash_bits(docs, "text", "n_chars")
        .select(
            "doc_id",
            F.expr("aggregate(bs, 0, (a, x) -> a + x)").cast("bigint").alias("ones"),
            F.expr(f"concat_ws('', {nib})").alias("phash"),
        )
    )


PHASH_HAM_MAX = 3


def _phash_quarters_sql(text_col: str, n_col: str, engine: str) -> list[str]:
    """The 64 aHash bits packed into four 16-bit integer quarters —
    engine-specific element access, identical arithmetic. Quarter q =
    Σ_{{k=0..15}} bit[16q+k]·2^k, built from the same exact integer
    pixel test as mm_image_phash."""
    if engine == "spark":
        bit = "element_at(bs, {i})"
    else:
        bit = "b[{i}]"
    quarters = []
    for q in range(4):
        terms = " + ".join(
            f"{bit.format(i=16 * q + k + 1)} * {1 << k}" for k in range(16)
        )
        quarters.append(f"({terms})")
    return quarters


@op(
    "dedup_phash_hamming",
    oracle=f"""
    WITH pix AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                              i -> ascii(substr(text, CAST(1 + ((i * n_chars) // 64) AS BIGINT), 1)))
                   AS p
        FROM documents
    ), bits AS (
        SELECT doc_id,
               list_transform(p, x -> CASE WHEN x * 64 > list_aggregate(p, 'sum')
                                           THEN 1 ELSE 0 END) AS b
        FROM pix
    ), quarters AS (
        SELECT doc_id,
               {", ".join(f"{expr} AS q{i}" for i, expr in enumerate(_phash_quarters_sql('text', 'n_chars', 'duckdb')))}
        FROM bits
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.q0, b.q0)) + bit_count(xor(a.q1, b.q1))
                + bit_count(xor(a.q2, b.q2)) + bit_count(xor(a.q3, b.q3))
                AS BIGINT) AS hamming
    FROM quarters a JOIN quarters b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.q0, b.q0)) + bit_count(xor(a.q1, b.q1))
          + bit_count(xor(a.q2, b.q2)) + bit_count(xor(a.q3, b.q3))
          <= {PHASH_HAM_MAX}
    """,
    category=CAT,
)
def dedup_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE detection: perceptual-hash pairs within
    Hamming distance {PHASH_HAM_MAX}, found via 16-bit-quarter
    banding — mm_image_phash's fingerprint driven to its pairing
    conclusion, completing the image-dedup pipeline the way
    dedup_near_minhash completes text_fingerprint's.

    This is dedup_simhash's banding (pigeonhole: ≤{PHASH_HAM_MAX}
    flipped bits leave ≥1 of 4 quarters intact, so an equi-join per
    quarter finds every qualifying pair) — but where simhash is
    rows-only (xxhash64 has no DuckDB twin), the pixel aHash is pure
    deterministic arithmetic, so THIS banded dedup is fully ORACLED:
    the oracle is the naive all-pairs O(N²) hamming scan, and the
    hash-match proves the banding recall-lossless at threshold
    {PHASH_HAM_MAX} (the join_spatial_grid proof pattern, applied to
    hamming space). Scale: 4 equi-joins on 16-bit bucket keys +
    pair-dedup vs N²/2 comparisons; quarter packing is exact integer
    work in the scan stage.
    """
    cand_ids, quarters = phash_candidates(spark, sf_dir)
    qa = quarters.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"q{i}").alias(f"a{i}") for i in range(4)],
    )
    qb = quarters.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"q{i}").alias(f"b{i}") for i in range(4)],
    )
    ham = sum(
        F.expr(f"bit_count(a{i} ^ b{i})") for i in range(4)
    )
    return (
        cand_ids.join(qa, "doc_a")
        .join(qb, "doc_b")
        .filter(ham <= PHASH_HAM_MAX)
        .select("doc_a", "doc_b", ham.cast("bigint").alias("hamming"))
    )


def phash_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Quarter-banding candidate stage of ``dedup_phash_hamming``
    (cand_ids, persisted quarters) — exposed (round-7 verdict item 3)
    so the sf1 scale stress can measure candidate volume separately
    from verified pairs. Pure code motion; the op's plan is unchanged.
    """
    from insight_gp_import_spark.registry import tracked_persist

    docs = load_table(spark, sf_dir, "documents")
    qexprs = _phash_quarters_sql("text", "n_chars", "spark")
    # persist: the quarter table feeds the band explode AND both payload
    # join-backs — without it each consumer re-runs the 64-bit hash
    # construction from the raw scan (round-6 perf fix; previously a
    # 4-way union of self-joins replicated that subtree 8x: 2 MiB
    # codegen binaries, 77 s for 5 k rows)
    quarters = tracked_persist(
        _with_phash_bits(docs, "text", "n_chars").select(
            "doc_id",
            *[F.expr(e).alias(f"q{i}") for i, e in enumerate(qexprs)],
        )
    )
    # banded candidate generation, IDS ONLY on the shuffle (the
    # dedup_near_minhash scale lesson): explode each row into its 4
    # (band, quarter-value) keys, equi-join per key, dedup pairs.
    bands = quarters.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"), F.col(f"q{i}").alias("qv")
                )
                for i in range(4)
            ])
        ).alias("bq"),
    ).select("doc_id", F.col("bq.band").alias("band"), F.col("bq.qv").alias("qv"))
    cand_ids = (
        bands.select(F.col("doc_id").alias("doc_a"), "band", "qv")
        .join(bands.select(F.col("doc_id").alias("doc_b"), "band", "qv"),
              ["band", "qv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    return cand_ids, quarters


PATCH_PX = 48  # ViT-style square patch; deliberately does NOT divide the
               # fake 64-multiple dims, so padding is non-trivial


@op(
    "mm_patch_grid",
    oracle=f"""
    WITH meta AS (
        SELECT doc_id,
               CAST((ascii(substr(text, 1, 1)) % 8 + 1) * 64 AS INTEGER)
                   AS width,
               CAST((ascii(substr(text, 2, 1)) % 8 + 1) * 64 AS INTEGER)
                   AS height
        FROM documents
    )
    SELECT doc_id, width, height,
           CAST((width + {PATCH_PX} - 1) // {PATCH_PX} AS BIGINT) AS nx,
           CAST((height + {PATCH_PX} - 1) // {PATCH_PX} AS BIGINT) AS ny,
           CAST(((width + {PATCH_PX} - 1) // {PATCH_PX})
                * ((height + {PATCH_PX} - 1) // {PATCH_PX}) AS BIGINT)
               AS n_patches,
           CAST(((width + {PATCH_PX} - 1) // {PATCH_PX}) * {PATCH_PX} - width
                AS BIGINT) AS pad_x,
           CAST(((height + {PATCH_PX} - 1) // {PATCH_PX}) * {PATCH_PX}
                - height AS BIGINT) AS pad_y
    FROM meta
    """,
    category=CAT,
)
def mm_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT patch-grid planning: per image, the {PATCH_PX}px patch grid
    (nx, ny, patch count) and the right/bottom padding a square-patch
    tokenizer must add — the sequence-length accounting step between
    image decode and vision-transformer batching (patch count IS the
    token count, and token-budget packing of a multimodal corpus —
    corpus_pack_sequences — needs it BEFORE any pixel is touched).

    Decode runs through the SAME Arrow mapInPandas path as
    mm_decode_features (model: header parse in Python, geometry in
    JVM); the grid arithmetic is pure integer ceil-division in the
    scan-stage projection — zero shuffles, and the patch size
    deliberately doesn't divide the fake dimensions so the padding
    path is actually exercised.
    """
    payloads = with_payload(load_table(spark, sf_dir, "documents"))

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["payload"].map(_fake_decode_meta)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": meta.map(lambda m: m[1]),
                    "height": meta.map(lambda m: m[2]),
                }
            )

    decoded = payloads.mapInPandas(
        decode_batches, "doc_id long, width int, height int"
    )
    nx = F.expr(f"(width + {PATCH_PX} - 1) div {PATCH_PX}").cast("bigint")
    ny = F.expr(f"(height + {PATCH_PX} - 1) div {PATCH_PX}").cast("bigint")
    return decoded.select(
        "doc_id",
        "width",
        "height",
        nx.alias("nx"),
        ny.alias("ny"),
        (nx * ny).cast("bigint").alias("n_patches"),
        (nx * PATCH_PX - F.col("width")).cast("bigint").alias("pad_x"),
        (ny * PATCH_PX - F.col("height")).cast("bigint").alias("pad_y"),
    )


@op(
    "mm_modality_balance",
    oracle="""
    WITH m AS (
      SELECT source,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             octet_length(encode(text)) AS nb
      FROM documents),
    agg AS (SELECT source, modality, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(nb) AS BIGINT) AS n_bytes
            FROM m GROUP BY 1, 2),
    tot AS (SELECT source, CAST(sum(n_bytes) AS BIGINT) AS tot_bytes
            FROM agg GROUP BY 1)
    SELECT a.source, a.modality, a.n_docs, a.n_bytes,
           CAST(a.n_bytes * 1000000 // t.tot_bytes AS BIGINT)
               AS byte_share_ppm
    FROM agg a JOIN tot t ON t.source = a.source
    ORDER BY a.source, a.modality
    """,
    category=CAT,
)
def mm_modality_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source modality budget table: docs and PAYLOAD BYTES per
    (source, modality) with byte-share in ppm — the mix report a
    multimodal training pipeline reads before sampling (corpus mix
    ops weigh text tokens; multimodal budgets are BYTE-dominated:
    one video outweighs a thousand captions, so doc-count balance is
    the wrong dial and this table shows both). Modality here is the
    deterministic doc_id%3 tag (the corpus has no real media typed
    column); on a real corpus it is the media_type metadata column —
    same plan.

    Bytes measured on the UTF-8 payload (octet_length ≠ char count
    on non-ASCII — the mistake that undercounts every non-English
    byte budget). Integer ppm shares via `div` against the
    broadcast per-source totals; one scan, one small rollup, no
    float anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "source",
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.length(F.encode("text", "UTF-8")).cast("bigint").alias("nb"),
    )
    agg = m.groupBy("source", "modality").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nb").cast("bigint").alias("n_bytes"),
    )
    tot = agg.groupBy("source").agg(
        F.sum("n_bytes").cast("bigint").alias("tot_bytes")
    )
    return (
        agg.join(F.broadcast(tot), "source")
        .select(
            "source",
            "modality",
            "n_docs",
            "n_bytes",
            F.expr("n_bytes * 1000000 div tot_bytes")
            .cast("bigint")
            .alias("byte_share_ppm"),
        )
        .orderBy("source", "modality")
    )


@op(
    "mm_image_meta_real",
    oracle="""
    WITH pix AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                              i -> ascii(substr(text, CAST(1 + ((i * n_chars) // 64) AS BIGINT), 1)) % 256)
                   AS p
        FROM documents
    )
    SELECT doc_id,
           CASE CAST(doc_id % 5 AS INTEGER)
                WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                WHEN 2 THEN 'tiff' WHEN 3 THEN 'gif'
                ELSE 'webp' END AS fmt,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(list_aggregate(p, 'sum') AS BIGINT) AS pixel_sum,
           CAST(p[1] AS BIGINT) AS px_first,
           CAST(p[64] AS BIGINT) AS px_last,
           CAST(1 AS BIGINT) AS exact
    FROM pix
    """,
    category=CAT,
)
def mm_image_meta_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec image metadata extraction, driver-gate eligible
    (round-7 verdict item 6): per document, an 8x8 grayscale image is
    built in-plan from the same 64 deterministically-sampled text bytes
    as ``mm_image_phash``, ENCODED executor-side with one of the five
    in-repo lossless codecs chosen by doc_id (PNG / BMP / TIFF with the
    round-7 LZW + Predictor 2 + multi-strip path / GIF with its own
    LZW / WebP-lossless VP8L with subtract-green + color cache), then
    DECODED back through the same magic-byte dispatch ``resize_images``
    uses, and reduced to metadata.

    The oracle is a fixture LAW (the scan_csv_tolerant pattern): both
    codec directions are deterministic and the formats lossless, so
    decode(encode(img)) == img exactly and every output column —
    detected format, dimensions, pixel sum, corner pixels, exact
    round-trip flag — is a closed-form relation over the text bytes
    that DuckDB recomputes WITHOUT running any codec. Any regression in
    an encoder, a decoder, the LZW width pairing, or the magic-byte
    dispatch flips fmt/pixel values and hash-fails the driver gate —
    this op promotes the codec suite from unit-tested to
    CORRECTNESS-gated.

    Scale shape: pure per-row map — the pixel sampling is one fused
    JVM scan-stage expression, the codec work is Arrow-batched
    mapInPandas with zero shuffles and ~us-per-image cost; at 100 TB it
    parallelizes embarrassingly with input partitions, exactly like the
    production decode it stands in for.
    """
    docs = load_table(spark, sf_dir, "documents")
    pix = (
        "transform(sequence(0, 63), i -> "
        "ascii(substring(text, 1 + ((i * n_chars) div 64), 1)) % 256)"
    )
    staged = docs.select(
        "doc_id",
        F.expr(pix).alias("p"),
        (F.col("doc_id") % 5).cast("int").alias("codec_id"),
    )

    def meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from insight_gp_import_spark.bmp_codec import decode_bmp, encode_bmp, is_bmp
        from insight_gp_import_spark.gif_codec import decode_gif, encode_gif, is_gif
        from insight_gp_import_spark.png_codec import decode_png, encode_png, is_png
        from insight_gp_import_spark.tiff_codec import (
            decode_tiff,
            encode_tiff,
            is_tiff,
        )
        from insight_gp_import_spark.vp8l_codec import (
            decode_webp,
            encode_webp,
            is_webp,
        )

        encoders = {
            0: lambda a: encode_png(a),
            1: lambda a: encode_bmp(a),
            # exercise the round-7 TIFF additions end-to-end:
            # LZW compression + horizontal predictor + multi-strip
            2: lambda a: encode_tiff(
                a, compression=5, rows_per_strip=3, predictor=2
            ),
            3: lambda a: encode_gif(a),
            # round-7 VP8L: subtract-green transform + color cache
            4: lambda a: encode_webp(a, subtract_green=True, cache_bits=4),
        }

        def one(p, codec_id):
            gray = np.asarray(p, dtype=np.uint8).reshape(8, 8)
            img = np.repeat(gray[:, :, None], 3, axis=2)
            blob = encoders[codec_id](img)
            if is_png(blob):
                fmt, out = "png", decode_png(blob)
            elif is_bmp(blob):
                fmt, out = "bmp", decode_bmp(blob)
            elif is_tiff(blob):
                fmt, out = "tiff", decode_tiff(blob)
            elif is_gif(blob):
                fmt, out = "gif", decode_gif(blob)
            elif is_webp(blob):
                fmt, out = "webp", decode_webp(blob)
            else:
                fmt, out = "unknown", np.zeros((0, 0, 3), np.uint8)
            h, w = out.shape[:2]
            ok = int(out.shape == img.shape and bool(np.array_equal(out, img)))
            chan = out[:, :, 0] if out.size else gray * 0
            return (
                fmt, int(w), int(h), int(chan.sum()),
                int(chan[0, 0]) if out.size else -1,
                int(chan[-1, -1]) if out.size else -1,
                ok,
            )

        for pdf in batches:
            res = [
                one(p, c) for p, c in zip(pdf["p"], pdf["codec_id"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": [r[0] for r in res],
                    "width": [r[1] for r in res],
                    "height": [r[2] for r in res],
                    "pixel_sum": [r[3] for r in res],
                    "px_first": [r[4] for r in res],
                    "px_last": [r[5] for r in res],
                    "exact": [r[6] for r in res],
                }
            )

    return spread_scan(staged).mapInPandas(
        meta_batches,
        "doc_id long, fmt string, width long, height long, "
        "pixel_sum long, px_first long, px_last long, exact long",
    )


@op(
    "mm_audio_meta_real",
    oracle="""
    WITH pix AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                              i -> ascii(substr(text, CAST(1 + ((i * n_chars) // 64) AS BIGINT), 1)) % 128 - 64)
                   AS s,
               CASE CAST(doc_id % 4 AS INTEGER)
                    WHEN 0 THEN 1 WHEN 1 THEN 256
                    WHEN 2 THEN 65536 ELSE 65536 END AS scale,
               CAST(1 + doc_id % 2 AS BIGINT) AS ch
        FROM documents
    )
    SELECT doc_id,
           CAST(64 // ch AS BIGINT) AS n_frames,
           ch AS channels,
           CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
           CAST(list_aggregate(s, 'sum') * scale AS BIGINT) AS amp_sum,
           CAST(s[1] * scale AS BIGINT) AS amp_first,
           CAST(s[64] * scale AS BIGINT) AS amp_last,
           CAST(1 AS BIGINT) AS exact
    FROM pix
    """,
    category=CAT,
)
def mm_audio_meta_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec AUDIO metadata extraction — the WAV twin of
    ``mm_image_meta_real``: 64 deterministic samples are built in-plan
    from the phash byte sampling (centered to signed amplitudes via
    %128-64, so any Unicode codepoint stays inside every PCM bit
    depth — encode_wav now REJECTS out-of-range samples by name
    instead of wrapping, r8 ADVICE fix, and this op can never trip
    that guard regardless of corpus encoding),
    scaled to the target bit depth (doc_id%4 picks 8/16/24/32-bit
    PCM), interleaved as mono or stereo (doc_id%2), ENCODED to a real
    RIFF/WAVE file executor-side (wav_codec), DECODED back, and
    reduced to (frames, channels, rate, amplitude stats, exact
    round-trip flag).

    Fixture-law oracle (scan_csv_tolerant pattern): PCM is lossless at
    every depth, so each output column is a closed-form relation over
    the text bytes that DuckDB recomputes without touching the codec —
    a regression in the 24-bit sign extension, the interleave/reshape,
    or the chunk writer hash-fails the driver gate. Scale shape:
    fused JVM sampling expression + Arrow-batched mapInPandas, zero
    shuffles — identical to the image decode path.
    """
    docs = load_table(spark, sf_dir, "documents")
    pix = (
        "transform(sequence(0, 63), i -> "
        "ascii(substring(text, 1 + ((i * n_chars) div 64), 1)) % 128 - 64)"
    )
    staged = docs.select(
        "doc_id",
        F.expr(pix).alias("s"),
        (F.col("doc_id") % 4).cast("int").alias("depth_id"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("ch"),
        (F.lit(8000) + (F.col("doc_id") % 3) * 4000).cast("int").alias("rate"),
    )

    def meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from insight_gp_import_spark.wav_codec import decode_wav, encode_wav

        bits_of = {0: 8, 1: 16, 2: 24, 3: 32}
        scale_of = {0: 1, 1: 256, 2: 65536, 3: 65536}

        def one(s, depth_id, ch, rate):
            bits = bits_of[depth_id]
            scale = scale_of[depth_id]
            samples = (np.asarray(s, dtype=np.int32) * scale).reshape(-1, ch)
            blob = encode_wav(samples, int(rate), bits=bits)
            out, out_rate = decode_wav(blob)
            ok = int(
                out.shape == samples.shape
                and out_rate == rate
                and bool(np.array_equal(out, samples))
            )
            flat = out.reshape(-1)
            return (
                int(out.shape[0]), int(out.shape[1]), int(out_rate),
                int(flat.sum()), int(flat[0]), int(flat[-1]), ok,
            )

        for pdf in batches:
            res = [
                one(s, d, c, r)
                for s, d, c, r in zip(
                    pdf["s"], pdf["depth_id"], pdf["ch"], pdf["rate"]
                )
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": [r[0] for r in res],
                    "channels": [r[1] for r in res],
                    "sample_rate": [r[2] for r in res],
                    "amp_sum": [r[3] for r in res],
                    "amp_first": [r[4] for r in res],
                    "amp_last": [r[5] for r in res],
                    "exact": [r[6] for r in res],
                }
            )

    return spread_scan(staged).mapInPandas(
        meta_batches,
        "doc_id long, n_frames long, channels long, sample_rate long, "
        "amp_sum long, amp_first long, amp_last long, exact long",
    )


@op(
    "mm_video_meta_real",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(600 + (doc_id % 4) * 200 AS BIGINT) AS timescale,
               CAST(n_chars * 10 + 5 AS BIGINT) AS duration,
               CAST(1 + doc_id % 2 AS BIGINT) AS n_tracks,
               CAST((ascii(substr(text, 1, 1)) % 8 + 1) * 64 AS BIGINT) AS w1,
               CAST((ascii(substr(text, 2, 1)) % 8 + 1) * 64 AS BIGINT) AS h1
        FROM documents
    )
    SELECT doc_id,
           'isom' AS brand,
           timescale,
           CAST((duration * 1000) // timescale AS BIGINT) AS duration_ms,
           n_tracks,
           w1, h1,
           CAST(1 AS BIGINT) AS exact
    FROM m
    """,
    category=CAT,
)
def mm_video_meta_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-container VIDEO metadata extraction — the ISO-BMFF twin of
    ``mm_image_meta_real``/``mm_audio_meta_real``: a minimal valid MP4
    (ftyp + moov(mvhd + trak*) + mdat) is BUILT executor-side per doc
    from in-plan-derived parameters (timescale, duration, 1-2 tracks,
    fake-decode dimensions), then PARSED back by walking the real box
    tree (mp4_boxes.parse_mp4: 32/64-bit box sizes, v0/v1 headers,
    16.16 fixed-point track geometry), and reduced to the metadata a
    bulk video pipeline filters on (duration bucketing, resolution
    gating) BEFORE any frame decode.

    Honest scope: container metadata is real; frame-pixel decode
    (H.264/HEVC/AV1) refuses by name (mp4_boxes.decode_video_frames) —
    frame SAMPLING is modeled by mm_frame_sample's deterministic fake.
    Fixture-law oracle: the builder and parser are deterministic
    struct-walking, so every output column is a closed-form relation
    over (doc_id, text, n_chars); a regression in box layout, the
    fixed-point shift, or the duration arithmetic hash-fails the
    driver gate. Scale: per-row map, Arrow-batched, zero shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        (F.lit(600) + (F.col("doc_id") % 4) * 200).cast("long").alias("ts"),
        (F.col("n_chars") * 10 + 5).cast("long").alias("dur"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("n_tracks"),
        F.expr("(ascii(substring(text, 1, 1)) % 8 + 1) * 64").cast("int").alias("w1"),
        F.expr("(ascii(substring(text, 2, 1)) % 8 + 1) * 64").cast("int").alias("h1"),
    )

    def meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from insight_gp_import_spark.mp4_boxes import build_mp4, parse_mp4

        def one(ts, dur, n_tracks, w1, h1):
            tracks = [(1, int(w1), int(h1))]
            if n_tracks == 2:
                tracks.append((2, 640, 480))
            blob = build_mp4(int(ts), int(dur), tracks)
            meta = parse_mp4(blob)
            ok = int(
                meta["timescale"] == ts
                and meta["duration"] == dur
                and len(meta["tracks"]) == n_tracks
                and meta["tracks"][0]["width"] == w1
                and meta["tracks"][0]["height"] == h1
            )
            return (
                meta["brand"], int(meta["timescale"]),
                int(meta["duration_ms"]), len(meta["tracks"]),
                int(meta["tracks"][0]["width"]),
                int(meta["tracks"][0]["height"]), ok,
            )

        for pdf in batches:
            res = [
                one(ts, dur, nt, w1, h1)
                for ts, dur, nt, w1, h1 in zip(
                    pdf["ts"], pdf["dur"], pdf["n_tracks"],
                    pdf["w1"], pdf["h1"],
                )
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "brand": [r[0] for r in res],
                    "timescale": [r[1] for r in res],
                    "duration_ms": [r[2] for r in res],
                    "n_tracks": [r[3] for r in res],
                    "w1": [r[4] for r in res],
                    "h1": [r[5] for r in res],
                    "exact": [r[6] for r in res],
                }
            )

    return staged.mapInPandas(
        meta_batches,
        "doc_id long, brand string, timescale long, duration_ms long, "
        "n_tracks long, w1 long, h1 long, exact long",
    )


@op(
    "mm_audio_flac_real",
    oracle="""
    WITH pix AS (
        SELECT doc_id,
               list_transform(generate_series(0, 255),
                              i -> (ascii(substr(text, CAST(1 + ((i * n_chars) // 256) AS BIGINT), 1)) % 128 - 64) * 256)
                   AS s,
               CAST(1 + doc_id % 2 AS BIGINT) AS ch
        FROM documents
    )
    SELECT doc_id,
           CAST(256 // ch AS BIGINT) AS n_frames,
           ch AS channels,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(list_aggregate(s, 'sum') AS BIGINT) AS amp_sum,
           CAST(s[1] AS BIGINT) AS amp_first,
           CAST(s[256] AS BIGINT) AS amp_last,
           CAST(1 AS BIGINT) AS exact
    FROM pix
    """,
    category=CAT,
)
def mm_audio_flac_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC compression round-trip, driver-gated: 256 deterministic
    16-bit samples per doc built in-plan from text bytes, ENCODED
    executor-side to real compressed FLAC (flac_codec: Rice-coded
    FIXED-predictor subframes, multi-frame at blocksize 64, left-side
    stereo decorrelation for the doc_id%2 stereo docs), DECODED back
    with CRC-8/CRC-16 verification per frame AND the STREAMINFO MD5
    self-check, reduced to amplitude stats.

    Speech corpora (LibriSpeech-class) ship FLAC, so the audio path
    needs it the way the image path needs PNG — and this op makes the
    whole codec (bit I/O, Rice partitions, predictor reconstruction,
    stereo decorrelation, CRCs, MD5) CORRECTNESS-gated via the fixture
    law: FLAC is lossless, so every output column is a closed-form
    relation over the text bytes. A desync anywhere either trips a CRC
    (op raises -> gate fails) or flips amp values (hash mismatch).
    Scale shape: per-row map, Arrow-batched, zero shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    pix = (
        "transform(sequence(0, 255), i -> "
        "(ascii(substring(text, 1 + ((i * n_chars) div 256), 1)) % 128 - 64)"
        " * 256)"
    )
    staged = docs.select(
        "doc_id",
        F.expr(pix).alias("s"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("ch"),
    )

    def meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from insight_gp_import_spark.flac_codec import decode_flac, encode_flac

        def one(s, ch):
            samples = np.asarray(s, dtype=np.int64).reshape(-1, ch)
            blob = encode_flac(
                samples, 16000, bps=16, blocksize=64, left_side=(ch == 2)
            )
            out, rate = decode_flac(blob)  # CRC + MD5 verified inside
            ok = int(
                out.shape == samples.shape
                and rate == 16000
                and bool(np.array_equal(out, samples))
            )
            flat = out.reshape(-1)
            return (
                int(out.shape[0]), int(out.shape[1]), int(rate),
                int(flat.sum()), int(flat[0]), int(flat[-1]), ok,
            )

        for pdf in batches:
            res = [one(s, c) for s, c in zip(pdf["s"], pdf["ch"])]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": [r[0] for r in res],
                    "channels": [r[1] for r in res],
                    "sample_rate": [r[2] for r in res],
                    "amp_sum": [r[3] for r in res],
                    "amp_first": [r[4] for r in res],
                    "amp_last": [r[5] for r in res],
                    "exact": [r[6] for r in res],
                }
            )

    return spread_scan(staged).mapInPandas(
        meta_batches,
        "doc_id long, n_frames long, channels long, sample_rate long, "
        "amp_sum long, amp_first long, amp_last long, exact long",
    )


@op(
    "mm_image_jpeg_real",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CASE CAST(doc_id % 5 AS INTEGER)
                    WHEN 0 THEN 11 WHEN 1 THEN 8 WHEN 2 THEN 5
                    WHEN 3 THEN 3 ELSE 1 END AS q00,
               CASE CAST(doc_id % 5 AS INTEGER)
                    WHEN 0 THEN 65 WHEN 1 THEN 75 WHEN 2 THEN 85
                    WHEN 3 THEN 90 ELSE 97 END AS quality,
               list_transform(generate_series(0, 15),
                              k -> ascii(substr(text, CAST(1 + ((k * n_chars) // 16) AS BIGINT), 1)) % 8)
                   AS m
        FROM documents
    )
    SELECT doc_id,
           CAST(quality AS BIGINT) AS quality,
           CAST(32 AS BIGINT) AS width,
           CAST(32 AS BIGINT) AS height,
           CAST(64 * list_aggregate(
                    list_transform(m, v -> 128 + 2 * q00 * (v - 4)),
                    'sum') AS BIGINT) AS pixel_sum,
           CAST(128 + 2 * q00 * (m[1] - 4) AS BIGINT) AS px_first,
           CAST(128 + 2 * q00 * (m[16] - 4) AS BIGINT) AS px_last,
           CAST(1 AS BIGINT) AS exact,
           CAST(1 AS BIGINT) AS prog_eq
    FROM base
    """,
    category=CAT,
)
def mm_image_jpeg_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG round-trip, driver-gate eligible (r8 verdict item 2):
    jpeg_codec.py (baseline + progressive T.81, the largest codec in
    the repo) was the one real codec without a CORRECTNESS row —
    mm_image_meta_real's fixture law needs losslessness, which lossy
    JPEG can't give on arbitrary pixels. This op restores a closed
    form by QUANT-ALIGNING the input instead:

    Each document becomes a 32x32 grayscale image of 16 constant 8x8
    blocks with values ``128 + 2*q00*(m_k - 4)`` where ``m_k`` is a
    text byte mod 8 and ``q00`` is the quality-scaled DC quantizer
    (quality in {65,75,85,90,97} by doc_id%5 -> q00 in {11,8,5,3,1},
    from T.81 Annex K luma[0]=16 through the IJG scale). For a
    constant block the only nonzero DCT coefficient is DC = 8*(v-128)
    = 16*q00*(m-4), so quantization divides EXACTLY (no rounding ties
    anywhere: encoder-side 8s/q00 and decoder-side dcq*q00/8 are both
    integers, and the float DCT's ~1e-13 jitter sits >= 1/(2*q00)
    away from every round-half boundary) => decode(encode(img)) ==
    img EXACTLY, and every output column is a closed-form relation
    over text bytes that DuckDB recomputes without running a codec.

    What the gate exercises end-to-end: quality scaling, FDCT+quant,
    16-block DC prediction chains, Huffman magnitude categories, DRI +
    RSTn restart markers with predictor resets (odd doc_ids, gray,
    restart_interval=3), the 4:2:0 subsampled 3-component MCU
    interleave + chroma box-downsample + upsample + YCbCr conversion
    (even doc_ids, r=g=b so chroma stays exactly 128 and luma carries
    the law), marker parsing, dequant, IDCT, level shift, clamping.
    A second ARBITRARY-pixel 8x8 image is encoded both baseline and
    progressive (SOF2: DC successive approximation + spectral-selection
    AC first/refine scans with EOBRUN) and ``prog_eq`` asserts the
    decode(progressive(x)) == decode(baseline(x)) bit-exact identity —
    the coefficient-level anchor that catches entropy desyncs PSNR
    tests miss. Any regression in either entropy path, the zigzag, the
    restart logic, or the color pipeline flips a hashed column.

    Scale shape: identical to mm_image_meta_real — one fused JVM scan
    expression for the byte sampling, then a zero-shuffle Arrow
    mapInPandas per-row map; parallelizes with input partitions at
    100 TB (``spread_scan`` only widens under-split local
    fixtures).
    """
    docs = load_table(spark, sf_dir, "documents")
    m_expr = (
        "transform(sequence(0, 15), k -> "
        "ascii(substring(text, 1 + ((k * n_chars) div 16), 1)) % 8)"
    )
    p_expr = (
        "transform(sequence(0, 63), i -> "
        "ascii(substring(text, 1 + ((i * n_chars) div 64), 1)) % 256)"
    )
    staged = docs.select(
        "doc_id",
        F.expr(m_expr).alias("m"),
        F.expr(p_expr).alias("p"),
        F.expr(
            "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 11 WHEN 1 THEN 8 "
            "WHEN 2 THEN 5 WHEN 3 THEN 3 ELSE 1 END"
        ).cast("int").alias("q00"),
        F.expr(
            "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 65 WHEN 1 THEN 75 "
            "WHEN 2 THEN 85 WHEN 3 THEN 90 ELSE 97 END"
        ).cast("int").alias("quality"),
        (F.col("doc_id") % 2 == 0).alias("rgb"),
    )

    def jpeg_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from insight_gp_import_spark.jpeg_codec import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
            is_jpeg,
        )

        def one(m, p, q00, quality, rgb):
            mg = np.asarray(m, dtype=np.int64).reshape(4, 4)
            blocks = (128 + 2 * q00 * (mg - 4)).astype(np.uint8)
            img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
            if rgb:
                arr = np.repeat(img[:, :, None], 3, axis=2)
                blob = encode_jpeg(arr, quality=quality, subsample=True)
            else:
                blob = encode_jpeg(img, quality=quality, restart_interval=3)
            if not is_jpeg(blob):
                return (int(quality), -1, -1, -1, -1, -1, 0, 0)
            out = decode_jpeg(blob)
            chan = out[:, :, 0]
            h, w = out.shape[:2]
            exact = int(
                chan.shape == img.shape and bool(np.array_equal(chan, img))
            )
            g8 = np.asarray(p, dtype=np.uint8).reshape(8, 8)
            base = decode_jpeg(encode_jpeg(g8, quality=quality))
            prog = decode_jpeg(
                encode_jpeg_progressive(g8, quality=quality)
            )
            prog_eq = int(bool(np.array_equal(base, prog)))
            return (
                int(quality), int(w), int(h), int(chan.sum()),
                int(chan[0, 0]), int(chan[-1, -1]), exact, prog_eq,
            )

        for pdf in batches:
            res = [
                one(m, p, q, qu, r)
                for m, p, q, qu, r in zip(
                    pdf["m"], pdf["p"], pdf["q00"], pdf["quality"], pdf["rgb"]
                )
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "quality": [r[0] for r in res],
                    "width": [r[1] for r in res],
                    "height": [r[2] for r in res],
                    "pixel_sum": [r[3] for r in res],
                    "px_first": [r[4] for r in res],
                    "px_last": [r[5] for r in res],
                    "exact": [r[6] for r in res],
                    "prog_eq": [r[7] for r in res],
                }
            )

    return spread_scan(staged).mapInPandas(
        jpeg_batches,
        "doc_id long, quality long, width long, height long, "
        "pixel_sum long, px_first long, px_last long, exact long, "
        "prog_eq long",
    )
