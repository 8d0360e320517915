"""Physical-plan assertions (SURVEY.md §4 / M6): the optimizations that
matter at 100 TB must actually appear in the plan, not just be hoped
for. Guards against regressions that correctness tests cannot see.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from insight_gp_import_spark.registry import load_all_ops

SF = "/root/testdata/sf0.01"
OPS = load_all_ops()


def plan_of(spark, name: str) -> str:
    df = OPS[name].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_b1_pushdown_and_pruning(spark):
    plan = plan_of(spark, "agg_hash_groupby")
    # the shipdate filter must reach the parquet reader
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]
    # column pruning: lineitem has 11 columns; the scan must read fewer
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read_schema.count(":") <= 7, read_schema
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2


def test_star_join_broadcasts_all_dims(spark):
    plan = plan_of(spark, "join_star_multiway")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # no dim is big enough to shuffle
    # selective region filter pushed into the scan
    assert "EqualTo(r_name" in plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "limit_topk")
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-
    # partition top-k + merge), never a global Sort
    assert "TakeOrderedAndProject" in plan


def test_topn_per_group_partial_window_group_limit(spark):
    """B4's rank-filter must engage WindowGroupLimit BOTH map-side
    (Partial, before the exchange — caps shuffle at <=N rows/group)
    and reduce-side (Final), with exactly one exchange (r10 verdict
    item 5's plan criterion, pinned so it cannot silently regress)."""
    import re

    plan = plan_of(spark, "win_topn_per_group")
    # two DISTINCT WindowGroupLimit nodes (each node appears twice in
    # formatted output — tree + "(n) Node" detail header — so a plain
    # substring count of 2 is satisfiable by ONE node; count headers).
    wgl_nodes = re.findall(r"\(\d+\) WindowGroupLimit", plan)
    assert len(wgl_nodes) == 2, plan
    # ... and the pair must be one Partial (map-side, pre-exchange) and
    # one Final (reduce-side). "Final"/"Partial" as bare substrings are
    # vacuous under AQE ("isFinalPlan=false" always matches); anchor
    # the mode word to each WindowGroupLimit detail block's Arguments.
    blocks = re.findall(
        r"\(\d+\) WindowGroupLimit\n(?:[^\n(]*\n)*?Arguments:([^\n]*)", plan
    )
    assert len(blocks) == 2, plan
    modes = {("Partial" if "Partial" in b else
              "Final" if "Final" in b else "?") for b in blocks}
    assert modes == {"Partial", "Final"}, blocks
    # exactly one exchange node (formatted output mentions each node
    # twice: once in the tree, once as a "(n) Exchange" detail header)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_sim_search_single_scan_no_join(spark):
    plan = plan_of(spark, "sim_search_topk")
    # literal query vector: one corpus scan, no join/exchange before
    # the top-k
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_manifest_dedup_broadcasts(spark):
    plan = plan_of(spark, "ingest_manifest_dedup")
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "Broadcast" in plan
    )


def test_knn_tile_plan_no_cartesian_no_hof(spark):
    """r10 rewrite (r9 verdict item 2): sim_knn_join's pair stage must
    be blocked-GEMM tiles — no CartesianProduct, no interpreted
    zip_with/aggregate dot products, and the only nested-loop join is
    the dim-sized corpus block-ID expansion. The per-probe window runs
    over the tile top-k relation, never the full pair relation."""
    plan = plan_of(spark, "sim_knn_join")
    assert "CartesianProduct" not in plan
    assert "zip_with" not in plan
    assert "MapInPandas" in plan
    # tile input is an equi-join on the block id
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketed by the join key: the (hinted) sort-merge
    join must run with NO Exchange on either input — the 100 TB
    co-location payoff (the write-time shuffle is paid once, never per
    query). A within-bucket Sort remains: Spark 4's file scan does not
    propagate bucket sort order to the planner, and sorting an
    already-sorted bucket is cheap — the shuffle is what matters."""
    plan = plan_of(spark, "sink_parquet_bucketed")
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" in tree, tree
    # the only Exchange allowed is the final aggregation's; none may
    # feed the join
    assert tree.count("Exchange") <= 1, tree
    assert "SelectedBucketsCount" in plan, plan


def test_partitioned_readback_prunes_partitions(spark):
    """A day-filter over the date-partitioned sink must prune to that
    partition's directory (PartitionFilters in the scan), not list and
    read every day."""
    import tempfile

    from pyspark.sql import functions as F

    from insight_gp_import_spark.tables import load_table

    out = tempfile.mkdtemp(prefix="igis-prune-")
    ev = load_table(spark, SF, "events").withColumn("event_date", F.to_date("ts"))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_date") == "2024-01-15")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if l.startswith("PartitionFilters")]
    assert pf and "event_date" in pf[0], plan


def test_salted_join_partitions_on_salt(spark):
    """The skew fix is real only if the shuffle key includes the salt:
    hashpartitioning on (user_id/custkey, salt) spreads each hot key
    over SKEW_SALTS reducers. A plan that shuffles on the bare key
    silently reintroduces the skew."""
    plan = plan_of(spark, "join_skew_salted")
    parts = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert any("salt" in l for l in parts), plan


def test_bloom_prune_injects_runtime_filter(spark):
    """join_bloom_prune models the 100 TB scenario where the filtered
    dim side exceeds the broadcast threshold: with broadcast disabled,
    InjectRuntimeFilter must place a bloom might_contain(l_orderkey) on
    the lineitem side BEFORE its exchange — and the result must still
    hash-match the plain join (bloom is semantics-preserving)."""
    baseline = {tuple(r) for r in OPS["join_bloom_prune"].fn(spark, SF).collect()}
    pinned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # test-scale scans are far below the 10 GB default floor
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k) for k in pinned}
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        df = OPS["join_bloom_prune"].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert {tuple(r) for r in df.collect()} == baseline
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_subquery_decorrelated_broadcasts_nation_avg(spark):
    """The 25-row per-nation average must come back as a broadcast, not
    a shuffle join against the per-customer counts."""
    plan = plan_of(spark, "subquery_scalar_correlated")
    assert "BroadcastHashJoin" in plan, plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """The built-in complement to join_skew_salted: for a sort-merge
    join whose runtime stats reveal a hot key, AQE's OptimizeSkewedJoin
    must split the oversized partition (SortMergeJoin(skew=true) +
    'skewed' AQEShuffleRead) with the result unchanged. The corpus
    keys are uniform at test scale, so the skew is constructed: one
    key carrying 50% of a 200k-row fact side."""
    pinned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    old = {k: spark.conf.get(k) for k in pinned}
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("key"),
            (F.col("id") % 97).alias("v"),
        )
        dim = spark.range(100).select(
            F.col("id").alias("key"), (F.col("id") * 10).alias("w")
        )
        df = (
            fact.join(dim, "key")
            .groupBy()
            .agg(F.count("*").alias("cnt"))
        )
        [row] = df.collect()
        # every even id (100k rows) matches key 0; odd ids match 1..99 (50 rows)
        assert row.cnt == 100_050
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "skewed" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_corpus_split_hash_no_shuffle(spark):
    plan = plan_of(spark, "corpus_split_hash")
    # pure scan-stage projection: the split assignment must not cost
    # an exchange (at 100 TB it runs inside the ingest scan)
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_pii_mask_no_shuffle(spark):
    plan = plan_of(spark, "text_pii_mask")
    assert "Exchange" not in plan


def test_shard_shuffle_single_exchange(spark):
    plan = plan_of(spark, "corpus_shard_shuffle")
    # exactly one hash exchange (on shard) — the deterministic shuffle
    # IS that exchange; a second one would mean a redundant repartition
    assert plan.count("hashpartitioning(shard") == 1, plan


def test_pack_sequences_single_exchange(spark):
    plan = plan_of(spark, "corpus_pack_sequences")
    # the running sum must reuse the shard partitioning: one exchange
    assert plan.count("hashpartitioning(shard") == 1, plan


def test_decontaminate_broadcasts_bench_grams(spark):
    plan = plan_of(spark, "corpus_decontaminate")
    # benchmark gram-set is the small side: broadcast, never SMJ
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mix_weights_broadcasts_totals(spark):
    plan = plan_of(spark, "corpus_mix_weights")
    # 1-row totals joined via broadcast NL join; corpus aggregates with
    # map-side partial combine (two HashAggregate levels)
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_apply_mix_broadcasts_weights_and_generates(spark):
    plan = plan_of(spark, "corpus_apply_mix")
    # |langs|-row weight table broadcast onto corpus; copies come from
    # sequence+explode (Generate), not a join against a numbers table
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan


def test_quantile_bin_broadcasts_cuts(spark):
    plan = plan_of(spark, "win_quantile_bin_global")
    # 3-number cut-point row arrives via broadcast NL join; binning must
    # NOT use a Window (no global sort anywhere)
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_referential_uses_anti_joins(spark):
    plan = plan_of(spark, "dq_referential")
    # every FK edge is an anti join; dimension sides broadcast
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_cdc_merge_is_full_outer(spark):
    plan = plan_of(spark, "merge_cdc_apply")
    assert "FullOuter" in plan


def test_point_in_time_join_is_keyed_not_nl(spark):
    # interval containment must ride the custkey EQUI join as a
    # residual filter — a BroadcastNestedLoopJoin here would mean the
    # planner saw no equi key and the op degrades to O(n·m) at scale
    plan = plan_of(spark, "join_point_in_time")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_allpairs_dedup_has_no_single_partition_window(spark):
    # AllPairs prefix ranking must come from the per-set window ordered
    # by (dfreq, key) — a global vocabulary rank would plan as
    # Exchange SinglePartition + un-partitioned Window: a one-task sort
    # of the whole vocab table (billions of rows at 100 TB).
    for name in ("dedup_near_jaccard", "dedup_ngram_jaccard"):
        plan = plan_of(spark, name)
        assert "SinglePartition" not in plan, name
        assert "Window" in plan, name  # per-set ranking still windowed


@pytest.mark.parametrize(
    "name,exchanges",
    [
        ("dedup_cluster", 6),
        ("dedup_near_jaccard", 14),
        ("dedup_near_minhash", 26),
        ("dedup_ngram_jaccard", 16),
        ("dedup_cluster_bigstar", 8),
    ],
)
def test_dedup_plan_exchange_count(spark, name, exchanges):
    """Pin the shuffle count of the dedup pipelines at sf0.01: later
    candidate-generation work is judged against these shapes. Counts the
    numbered node headers ("(7) Exchange"), one per node, so neither
    BroadcastExchange nor prose mentions count, as
    tools/ops.py's plan_stats does."""
    import re

    plan = plan_of(spark, name)
    assert len(re.findall(r"\(\d+\)\s+Exchange\b", plan)) == exchanges, plan


def test_interval_bucketed_join_is_hash_not_nl(spark):
    # the whole point of the op: a no-equi-key interval join must plan
    # as a HASH join on the derived time bucket, never a nested loop
    plan = plan_of(spark, "join_interval_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_scd2_incremental_broadcasts_closeout(spark):
    # the close-out join must broadcast the first-delta-per-key set —
    # a day's keys are tiny next to materialized history; a shuffle of
    # history here would defeat the incremental-maintenance point
    plan = plan_of(spark, "merge_scd2_incremental")
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan


def test_freshness_broadcasts_global_max(spark):
    # per-stream agg then a 1-row global-max broadcast back; the
    # events table itself must never reshuffle after its agg
    plan = plan_of(spark, "dq_freshness")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_dynamic_partition_pruning_fires(spark):
    """SURVEY §4: DPP matters once sink_parquet_partitioned outputs are
    re-read — prove it fires. A date-partitioned fact joined to a
    selectively-filtered dim must show a dynamicpruning expression in
    the scan's partition filters (at 100 TB this is the difference
    between scanning 2 days and scanning all of history)."""
    import tempfile

    from insight_gp_import_spark.tables import load_events

    out = tempfile.mkdtemp(prefix="igis-dpp-")
    ev = load_events(spark, SF).withColumn(
        "d", F.to_date("ts")
    )
    ev.write.partitionBy("d").parquet(out, mode="overwrite")
    fact = spark.read.parquet(out)
    two_days = [r["d"] for r in ev.select("d").distinct().limit(2).collect()]
    # DPP requires a SELECTIVE PREDICATE on the dim side (a bare limit
    # doesn't qualify) — filter to two literal days like a real
    # dim-driven reload would
    dim = (
        ev.select("d").distinct()
        .filter(F.col("d").isin(two_days))
        .withColumn("tag", F.lit("keep"))
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the non-broadcast path: broadcast joins get cheap
        # runtime subquery reuse anyway; DPP must also survive a
        # shuffle join plan
        joined = fact.join(dim.hint("merge"), "d").groupBy("tag").count()
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_sql_multi_cte_shares_window_exchange(spark):
    """Both windows (rank + nation total) must run off ONE n_name
    exchange, and both dims must broadcast — the SQL surface produces
    the same physical shape as the DataFrame API would."""
    plan = plan_of(spark, "sql_multi_cte")
    assert plan.count("hashpartitioning(n_name") == 1, plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_anomaly_zscore_broadcasts_stats(spark):
    """The per-stream stats side must come back as a broadcast, not a
    shuffle join — the corpus never reshuffles after the daily agg."""
    plan = plan_of(spark, "dq_anomaly_zscore")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_gaps_islands_no_global_window(spark):
    """Every window in the streak plan is user_id-partitioned — no
    partition-less (single-task) window may appear."""
    plan = plan_of(spark, "win_gaps_islands")
    assert "Window" in plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "user_id" in line.split("windowspecdefinition(")[1].split(",")[0], line


def test_median_exact_groups_parallel(spark):
    """Exact percentile must aggregate per group key (no global sort
    node feeding a single task)."""
    plan = plan_of(spark, "agg_median_exact")
    assert "percentile" in plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_containment_broadcasts_bench_grams(spark):
    """The bench gram set and size table must broadcast — the corpus
    side never shuffles for the join itself."""
    plan = plan_of(spark, "text_containment")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bitmap_distinct_is_exact_and_staged(spark):
    """Bitmap distinct must show the two-stage merge (construct →
    or_agg) with partial aggregation, and no expand-based distinct."""
    plan = plan_of(spark, "agg_bitmap_distinct")
    assert "bitmap_construct_agg" in plan and "bitmap_or_agg" in plan, plan
    assert "Expand" not in plan, plan


def test_not_in_plans_null_aware_anti_join(spark):
    """NOT IN must compile to the NULL-AWARE anti join (the trailing
    `true` flag on the broadcast LeftAnti), not a plain anti join —
    tri-valued NOT IN semantics depend on it."""
    df = OPS["join_null_aware_anti"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight, true" in plan, plan


def test_lateral_topk_decorrelates_to_window(spark):
    """The correlated LATERAL LIMIT subquery must decorrelate into a
    window-rank plan — no nested-loop per-outer-row execution."""
    df = OPS["join_lateral_topk"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_exists_subqueries_decorrelate_to_semi_anti(spark):
    plan = plan_of(spark, "sql_exists_subquery")
    # EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti; never a per-row
    # subquery re-execution or a nested loop over orders
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_multi_distinct_plans_one_expand(spark):
    plan = plan_of(spark, "agg_multi_distinct")
    # N distinct columns -> ONE Expand + staged aggregates, not N scans
    # (formatted explain names each node twice: tree + details section)
    assert "Expand" in plan
    assert plan.count("Scan parquet") <= 2


def test_interleave_has_no_global_window_over_docs(spark):
    plan = plan_of(spark, "corpus_interleave_sources")
    # the per-source rank (the only window over the full documents
    # relation) must be hash-partitioned on source; the unpartitioned
    # source-index window runs over the 20-row distinct-sources side
    assert "hashpartitioning(source" in plan


def test_heavy_hitters_broadcasts_total(spark):
    plan = plan_of(spark, "agg_heavy_hitters")
    # the 1-row total joins via BroadcastNestedLoopJoin/at-most-broadcast,
    # never a shuffled join
    assert "SortMergeJoin" not in plan
    assert "Broadcast" in plan


def test_pagerank_supersteps_have_no_cartesian(spark):
    plan = plan_of(spark, "graph_pagerank_unrolled")
    # every superstep joins edges⋈ranks on src (hash join); N and the
    # teleport term arrive via broadcast — no cartesian blowup anywhere
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-K, not a global sort


def test_or_decomposed_join_has_no_nested_loop(spark):
    plan = plan_of(spark, "join_or_decomposed")
    # the whole point of the rewrite: two hash equi-joins, never a
    # BroadcastNestedLoopJoin/CartesianProduct over the OR predicate
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_overlap_accounting_broadcasts_windows(spark):
    plan = plan_of(spark, "join_overlap_accounting")
    # the 3-row window dimension must broadcast; sessions never
    # reshuffle for the join
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_gini_has_no_per_user_global_window(spark):
    plan = plan_of(spark, "agg_gini_activity")
    # the ordered window may only run over the distinct-level relation
    # (post-aggregation); the per-user relation is only hash-aggregated
    assert "Window" in plan
    # level window comes after two aggregations of the events scan
    assert plan.count("HashAggregate") >= 4


def test_sql_hint_forces_broadcast(spark):
    plan = plan_of(spark, "sql_join_hints")
    # the BROADCAST(n) hint must fire (a silently-ignored hint is the
    # failure mode this guards); semantics-invariance is the oracle's job
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_null_safe_join_is_hash_not_nested_loop(spark):
    plan = plan_of(spark, "join_null_safe_eq")
    # <=> must plan as a hash join (null-safe equality is an equi-key);
    # the =-with-OR-IS-NULL workaround this replaces degenerates to BNL
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_scan_prunes_directories(spark):
    plan = plan_of(spark, "scan_partitioned_pruned")
    # the month predicate must land in PartitionFilters on the
    # read-back scan (directory-level skip), not survive as a
    # post-scan Filter over om
    assert "PartitionFilters: [" in plan
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "om" in pf.group(1)


def test_drill_across_aggregates_before_outer_join(spark):
    plan = plan_of(spark, "join_drill_across_facts")
    # both facts must collapse to the conformed grain BEFORE the
    # full-outer join (fan-out guard): two pre-join HashAggregates
    # and no fact-to-fact row-level join
    assert plan.count("HashAggregate") >= 4
    assert "FullOuter" in plan or "full_outer" in plan


def test_bfs_hops_have_no_cartesian(spark):
    plan = plan_of(spark, "graph_bfs_distances")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_distribute_sort_by_plans_repartition_not_global_sort(spark):
    plan = plan_of(spark, "sql_distribute_sort_by")
    # DISTRIBUTE BY must become a hash repartition; SORT BY must stay
    # intra-partition (no global sort / range exchange)
    assert "hashpartitioning(o_custkey" in plan
    assert "rangepartitioning" not in plan


def test_sequence_gaps_has_no_partitionless_window_over_ids(spark):
    plan = plan_of(spark, "dq_sequence_gaps")
    # the naive formulation is ONE un-partitioned lead over every id;
    # the two-level rewrite must show a bucket-partitioned window (the
    # id stream) plus at most a tiny summary-level global window
    # id-level window must partition by the bucket column (the
    # summary-level window over per-bucket min/max is the only
    # unpartitioned one, and it is bucket-count-sized)
    assert "windowspecdefinition(bkt" in plan


def test_common_neighbors_prunes_before_wedge(spark):
    plan = plan_of(spark, "graph_common_neighbors")
    # the w >= 2 support cut must run inside/above the FIRST pair
    # aggregate (a Filter on w), before any wedge join — the unpruned
    # wedge join is the measured OOM at sf0.1
    import re
    assert re.search(r"Filter.*w#", plan) or "(w" in plan
    # wedge + anti + two degree joins: at least 3 joins in the plan
    assert plan.count("Join") >= 3


def test_atp_allocation_window_is_per_part(spark):
    plan = plan_of(spark, "agg_atp_allocation")
    # the prefix-sum window must partition by part key — a global
    # allocation sort would serialize the 100 TB fact
    assert "windowspecdefinition(pk" in plan


def test_fx_normalize_aggregates_before_broadcast_join(spark):
    plan = plan_of(spark, "join_fx_normalize")
    # fact must collapse to <=|nations| rows BEFORE the dim join, and
    # the 25-row dim must broadcast
    assert "BroadcastHashJoin" in plan
    idx_agg = plan.find("HashAggregate")
    assert idx_agg != -1


def test_modified_after_prunes_at_listing_time(spark):
    plan = plan_of(spark, "scan_modified_after")
    # the mtime cut happens at file-listing time: the plan must contain
    # NO Filter on a modification-time column (it never becomes a row
    # predicate) — only the partition/batch columns appear
    assert "modificationTime" not in plan


def _plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_dedup_dispatch_default_is_banded(spark):
    """Round-4 verdict item 3: the library dedup entry points must
    default to the banded/bucketed plan — no all-pairs self-join
    (CartesianProduct / BroadcastNestedLoopJoin from a non-equi
    v1<v2 condition) may appear unless exact=True is requested."""
    from insight_gp_import_spark.dedup import embed_dup_pairs, near_dup_pairs
    from insight_gp_import_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")

    for df in (near_dup_pairs(docs), embed_dup_pairs(emb)):
        plan = _plan_str(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    # sanity: the detector actually fires on the exact embedding twin
    # (its v1 < v2 join condition has no equi key)
    exact_plan = _plan_str(embed_dup_pairs(emb, exact=True))
    assert "CartesianProduct" in exact_plan or "BroadcastNestedLoopJoin" in exact_plan


def test_minhash_banding_shuffle_carries_ids_only(spark):
    """sf1 stress lesson: the banding candidate join must never carry
    token-array payload — arrays join back only for surviving
    candidates. Guard: no exchange in the plan partitions on or
    carries 'arr' before the first aggregate (dropDuplicates)."""
    from insight_gp_import_spark.operators.llm import (
        minhash_pairs,
        token_sets_from_docs,
    )
    from insight_gp_import_spark.tables import load_table

    import re

    sets = token_sets_from_docs(load_table(spark, SF, "documents"))
    plan = _plan_str(minhash_pairs(sets))
    # every exchange that moves band/bh candidate rows must not also
    # move the token array payload
    band_exchanges = [
        m.group(1)
        for m in re.finditer(
            r"\(\d+\) (?:Broadcast)?Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan
        )
        if "band#" in m.group(1) and "bh#" in m.group(1)
    ]
    assert band_exchanges, "detector lost the banding exchange — update the pattern"
    for inputs in band_exchanges:
        assert "arr" not in inputs, inputs


def test_adamic_adar_no_cartesian_and_pruned_wedge(spark):
    plan = plan_of(spark, "graph_adamic_adar")
    assert "CartesianProduct" not in plan
    # support pruning must precede the wedge join: the w>=2 filter
    # applies to an aggregate, so a Filter over count appears
    assert "w#" in plan or "Filter" in plan


def test_hits_topk_is_take_ordered_no_global_window(spark):
    plan = plan_of(spark, "graph_hits_bipartite")
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan.split("Window")[0] or "Window" not in plan


def test_sample_systematic_window_is_per_bucket(spark):
    plan = plan_of(spark, "sample_systematic")
    # the row_number window must run over hashpartitioning(bucket),
    # never a single global partition
    assert "row_number" in plan
    assert "hashpartitioning(bucket" in plan
    assert "Exchange SinglePartition" not in plan.split("TakeOrdered")[0].split("AdaptiveSparkPlan")[-1].split("HashAggregate(keys=[]")[0]


def test_pandas_window_udf_shares_one_exchange(spark):
    plan = plan_of(spark, "udf_pandas_window_agg")
    # ArrowWindowPython (the pandas frame UDF) and the builtin count
    # window must share the user_id partitioning: exactly one
    # hashpartitioning(user_id) exchange in the plan
    assert plan.count("hashpartitioning(user_id") == 1
    assert "ArrowWindowPython" in plan or "WindowInPandas" in plan


def test_sql_function_declared_is_macro_not_python(spark):
    plan = plan_of(spark, "sql_function_declared")
    # a SQL UDF must inline into the plan - any Python eval node means
    # the governance story (codegen-speed shared logic) is broken
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_prototype_selection_has_no_pairwise_join(spark):
    plan = plan_of(spark, "embed_prototype_selection")
    # prototypes are linear: member-centroid join is an equi-join on
    # (label, dim); no cross/cartesian anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phash_hamming_banded_no_cartesian_and_persisted(spark):
    """Round-6 rewrite guard: dedup_phash_hamming must stay the banded
    id-only shape — no CartesianProduct/BNLJ anywhere, candidates found
    by equi-join on (band, quarter-value), and the quarter table reused
    via the block cache (InMemoryTableScan) instead of re-running the
    64-bit hash construction per consumer."""
    plan = plan_of(spark, "dedup_phash_hamming")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every consumer (band explode + both payload join-backs) must read
    # the persisted quarter relation, not recompute it (the cached
    # lineage is still PRINTED under each InMemoryRelation, so count
    # cache readers rather than textual parquet scans)
    assert plan.count("InMemoryTableScan") >= 3, plan.count("InMemoryTableScan")


def test_threshold_sweep_blocked_gemm_plan(spark):
    """r9 rewrite guard: embed_dedup_threshold_sweep's pair stage is
    the blocked-GEMM mapInPandas over block PAIRS — never the former
    per-pair HOF theta-join of raw vectors (Θ(n²) rows through an
    interpreted zip_with/aggregate tree). The only non-equi join left
    is the tiny block-relation self-join (nb ≤ 16 rows under the spine
    gate), which must be a broadcast BNLJ, and no sqrt/aggregate HOF
    may appear in the physical plan at all (norms live in numpy)."""
    import io
    import contextlib

    df = OPS["embed_dedup_threshold_sweep"].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("extended")
    plan = buf.getvalue()
    phys = plan.split("== Physical Plan ==")[-1]
    assert "MapInPandas" in phys, "pair stage must be the GEMM tiles"
    assert phys.count("SQRT") + phys.count("sqrt") == 0, "norms regressed to HOFs"
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" in phys  # the nb²-row block pairing


def test_no_global_ranking_window_in_ntile_ops(spark):
    """r8 verdict item 4 guard: agg_lorenz_deciles and
    agg_customer_migration_matrix must compute equal-count bins via
    the bucketed exact-rank path (_exact_global_ntile), never a
    global/boolean-partition ranking window. In the physical plan
    that means (a) no ntile() window function at all, and (b) every
    row_number() Window node carries a partition spec (prints as
    `Window [...], [partCols], [orderCols]` — an unpartitioned
    ordered window prints only two bracket groups). SinglePartition
    exchanges remain ONLY under the bounded bucket-count/decile
    rollup windows and 1-row min/max aggregates."""
    for name in ("agg_lorenz_deciles", "agg_customer_migration_matrix"):
        plan = plan_of(spark, name)
        assert "ntile" not in plan, f"{name}: global ntile window returned"
        for line in plan.splitlines():
            if "row_number()" not in line:
                continue
            # the Window node line ends with `], [part], [order]` when
            # partitioned; count bracket groups after the function list
            groups = line.count("], [")
            assert groups >= 2, f"{name}: unpartitioned ranking window: {line}"


def test_r8_rank_rewrites_have_no_unbounded_ranking_window(spark):
    """r8 follow-through on verdict item 4, beyond the two ntile ops:
    these rewritten ops must never rank an unbounded relation in one
    task. For the kernel users every row_number window carries a
    partition spec; for the TakeOrdered conversions there is no
    ranking window at all (limit under the same total order replaced
    rank-then-filter)."""
    for name in ("win_rank_change", "agg_eb_shrunk_rates"):
        plan = plan_of(spark, name)
        for line in plan.splitlines():
            if "row_number()" not in line:
                continue
            assert line.count("], [") >= 2, f"{name}: {line}"
    for name in ("text_oov_rate", "dq_quantile_sketch_bound",
                 "agg_concentration_ratio"):
        plan = plan_of(spark, name)
        assert "row_number()" not in plan, f"{name}: ranking window returned"
