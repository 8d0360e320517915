"""Candidate-pair primitives shared by the dedup, similarity, basket and
graph operators. Each of those operators is "generate candidate pairs,
then score them"; this module holds each generation step once. It
registers no ops.

- :func:`increasing_pairs` expands a sorted array into its
  strictly-increasing element pairs in the JVM (no self-join).
- :func:`order_item_pairs` is the co-purchase relation: part pairs
  sharing an order, with the number of orders holding both.
- :func:`hash_blocks` groups vectors into hash-assigned GEMM blocks.
- :func:`cosine_self_pairs` scores every unordered vector pair of a
  frame with one float64 GEMM per block pair.
- :func:`bounded_vocab`, :func:`join_gids`, :func:`set_bitmaps` and
  :func:`bitmap_overlap` are the set-similarity representation steps:
  one bounded vocabulary probe, the dense token-id map, and the
  fixed-width bitmap whose popcount(AND) is the exact intersection size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_gp_import_spark.registry import tracked_persist
from insight_gp_import_spark.tables import load_table, spread_scan

# Largest vocabulary whose sets verify as fixed-width bitmaps: a set's
# bitmap costs ceil(V/64) longs against one value per distinct token, so
# bitmaps win while V/64 is below the typical set size; 16384 caps a
# bitmap at 256 longs (2 KB). Character-n-gram spaces sit far under it;
# word or shingle vocabularies pass it and keep their token arrays.
BITMAP_MAX_VOCAB = 16384


def increasing_pairs(arr: str, a: str, b: str) -> Column:
    """One row per (arr[i], arr[j]), i < j, as ``struct(a, b)``.

    Over a sorted distinct array this enumerates exactly the a < b pairs
    a self-join on the array's owner would, but the fan-out happens in
    one Generate, quadratic only in the array's length (an order's items,
    a group's member docs), never in table size."""
    return F.explode(
        F.expr(
            f"flatten(transform({arr}, (x, i) -> "
            f"transform(slice({arr}, i + 2, size({arr}) - i - 1), "
            f"y -> struct(x AS {a}, y AS {b}))))"
        )
    )


def order_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, w) with u < v: part pairs sharing an order and the number
    of orders w containing both, without a lineitem self-join.

    A self-join on l_orderkey needs distinct() + the join + the pair
    groupBy: three exchanges, with the distinct subtree evaluated on
    both join sides. Here one shuffle builds each order's sorted distinct
    item array (collect_set aggregates map-side), :func:`increasing_pairs`
    expands it, and one shuffle counts the pairs. Order size is bounded,
    so there are no hot keys and no salting. The keyed spread widens an
    under-split lineitem scan and replaces the groupBy's own exchange
    1:1, so at production splits it is a no-op."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    li = spread_scan(li, "l_orderkey")
    sets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = sets.select(increasing_pairs("ps", "u", "v").alias("pr"))
    return pairs.groupBy(
        F.col("pr.u").alias("u"), F.col("pr.v").alias("v")
    ).agg(F.count("*").alias("w"))


def hash_blocks(
    df: DataFrame, id_col: str, vec_col: str, per_block: int, bid: str, items: str
) -> DataFrame:
    """(bid, items): ``df``'s (id, vec) rows in ceil(m / per_block)
    blocks, ``items`` a ``collect_list(struct(id, vec))`` per block.

    A block is ``pmod(hash(id), nb)``: ids spread evenly even when they
    are strided (a sampled spine), and the row count m arrives as a
    one-row broadcast, so nb needs no driver round trip. Which block a
    vector lands in shapes the GEMM tiles only, never a result."""
    cnt = df.agg(F.count("*").alias("m"))
    return (
        df.crossJoin(F.broadcast(cnt))
        .select(
            F.expr(
                f"pmod(hash({id_col}),"
                f" greatest(1, cast(ceil(m / {per_block}.0D) as int)))"
            ).alias(bid),
            id_col,
            vec_col,
        )
        .groupBy(bid)
        .agg(F.collect_list(F.struct(id_col, vec_col)).alias(items))
    )


def cosine_self_pairs(emb: DataFrame, per_block: int, t: float, score) -> DataFrame:
    """(v1, v2, sim), v1 < v2: every unordered pair of a (vec_id,
    embedding) frame whose ``sim = score(cosine)`` exceeds ``t``.

    The block relation of :func:`hash_blocks` is self-joined on
    bid_a <= bid_b (nb(nb+1)/2 tiles; the block side is tiny and
    broadcasts), and each tile is one float64 GEMM ``A @ B.T`` in an
    Arrow batch, against ~µs per pair for an interpreted
    zip_with/aggregate fold. Every unordered pair lands in exactly one
    tile: cross-block tiles are unique by bid_a < bid_b, and a
    same-block tile keeps only its id-ordered upper triangle.

    Numerics: float32 inputs give exact float64 products, as in the
    ``cast(p as double) * cast(q as double)`` fold; GEMM summation-order
    deltas are sub-ulp against the 1e-4 rounding grain of every caller.

    ``score`` maps the raw cosine matrix to the compared and emitted
    value (the identity, or a rounding); it runs in the Python worker."""
    blk = hash_blocks(emb, "vec_id", "embedding", per_block, "bid", "items")
    bp = blk.select(F.col("bid").alias("bid_a"), F.col("items").alias("items_a")).join(
        F.broadcast(
            blk.select(F.col("bid").alias("bid_b"), F.col("items").alias("items_b"))
        ),
        F.col("bid_a") <= F.col("bid_b"),
    )

    def tiles(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            v1_out: list = []
            v2_out: list = []
            sim_out: list = []
            for items_a, items_b, ba, bb in zip(
                pdf["items_a"], pdf["items_b"], pdf["bid_a"], pdf["bid_b"]
            ):
                ida = np.fromiter((r["vec_id"] for r in items_a), dtype=np.int64)
                A = np.array([r["embedding"] for r in items_a], dtype=np.float64)
                if ba == bb:
                    idb, B = ida, A
                else:
                    idb = np.fromiter(
                        (r["vec_id"] for r in items_b), dtype=np.int64
                    )
                    B = np.array(
                        [r["embedding"] for r in items_b], dtype=np.float64
                    )
                na = np.sqrt((A * A).sum(axis=1))
                nb = na if ba == bb else np.sqrt((B * B).sum(axis=1))
                sims = score((A @ B.T) / np.outer(na, nb))
                mask = sims > t
                if ba == bb:
                    mask &= ida[:, None] < idb[None, :]
                if not mask.any():
                    continue
                ii, jj = np.nonzero(mask)
                v1_out.append(np.minimum(ida[ii], idb[jj]))
                v2_out.append(np.maximum(ida[ii], idb[jj]))
                sim_out.append(sims[ii, jj])
            if v1_out:
                yield pd.DataFrame(
                    {
                        "v1": np.concatenate(v1_out),
                        "v2": np.concatenate(v2_out),
                        "sim": np.concatenate(sim_out),
                    }
                )

    return bp.mapInPandas(tiles, "v1 long, v2 long, sim double")


def bounded_vocab(col_df: DataFrame) -> list | None:
    """The sorted distinct values of a one-column frame, or None when
    there are more than :data:`BITMAP_MAX_VOCAB` of them.

    One job collects at most cap + 1 values, so the driver state is
    bounded by construction; past the cap only the overflow is used. The
    result picks a set representation and feeds :func:`join_gids`, never
    a result value. The cap is read at call time."""
    rows = col_df.distinct().limit(BITMAP_MAX_VOCAB + 1).collect()
    if len(rows) > BITMAP_MAX_VOCAB:
        return None
    return sorted(r[0] for r in rows)


def join_gids(rel: DataFrame, tok: str, vocab: list) -> DataFrame:
    """``rel`` with a ``gid`` column: each ``tok`` value's position in
    the sorted ``vocab``, joined from a broadcast driver-side map.

    Ids are dense and unique, so a set of gids packs injectively into
    bits. The map is never a row_number over the distinct tokens: that
    is an un-partitioned window, a SinglePartition exchange that the
    dedup plan guard forbids."""
    gids = rel.sparkSession.createDataFrame(
        [(t, i) for i, t in enumerate(vocab)], f"{tok} string, gid int"
    )
    return rel.join(F.broadcast(gids), tok)


def set_bitmaps(rel: DataFrame, keys: list[str], tok: str, vocab: list) -> DataFrame:
    """(keys..., bm), persisted: per ``keys`` group of the (keys, tok)
    rows of ``rel``, a bitmap of ceil(V/64) longs with bit gid set for
    every token. Both sides of a verify join read it, and Spark does not
    reuse the group+pack subtree between them."""
    nwords = (len(vocab) + 63) // 64
    return tracked_persist(
        join_gids(rel, tok, vocab)
        .groupBy(*keys)
        .agg(F.collect_set("gid").alias("gidset"))
        .select(
            *keys,
            F.expr(
                f"transform(sequence(0, {nwords - 1}), w -> aggregate("
                "filter(gidset, x -> CAST(x div 64 AS INT) = w), 0L,"
                " (acc, x) -> acc | shiftleft(1L, CAST(x % 64 AS INT))))"
            ).alias("bm"),
        )
    )


def bitmap_overlap(a: str, b: str) -> Column:
    """|A ∩ B| of two :func:`set_bitmaps` bitmaps: Σ popcount(a & b).
    Bit-exact, because a token owns exactly one bit of one word."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x & y)),"
        " 0, (a, b) -> a + b)"
    )
