"""Runtime tests for the D-risk streaming ops (SURVEY.md §5.2.5):
actual micro-batch execution that no batch oracle can observe —
file-source exactly-once, watermark late-data drop, streaming dedup,
and the tumbling window under readStream matching its batch twin.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_gp_import_spark.streaming import (
    read_events_stream,
    run_to_memory,
    upsert_merge,
)
from insight_gp_import_spark.registry import load_all_ops
from insight_gp_import_spark.tables import load_events

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark):
    """events split into 3 parquet files in a temp dir (the staging dir)."""
    tmp = tempfile.mkdtemp(prefix="igis-stream-src-")
    ev = load_events(spark, SF)
    ev.filter(F.col("event_id") % 3 == 0).coalesce(1).write.parquet(f"{tmp}/f0")
    ev.filter(F.col("event_id") % 3 == 1).coalesce(1).write.parquet(f"{tmp}/f1")
    ev.filter(F.col("event_id") % 3 == 2).coalesce(1).write.parquet(f"{tmp}/f2")
    # flatten: move part files up so the dir is one flat staging dir
    flat = tempfile.mkdtemp(prefix="igis-stream-flat-")
    for i, p in enumerate(sorted(Path(tmp).glob("f*/part-*.parquet"))):
        p.rename(Path(flat) / f"batch_{i}.parquet")
    return flat


def test_stream_source_dir_exactly_once(spark, events_dir):
    """Every row of every file processed exactly once (checkpointed)."""
    stream = read_events_stream(spark, events_dir, max_files=1)
    run_to_memory(stream, "src_all", output_mode="append")
    got = spark.table("src_all")
    assert got.count() == 1000
    assert got.select("event_id").distinct().count() == 1000


def test_stream_tumbling_matches_batch(spark, events_dir):
    """Windowed agg under readStream == the same agg in batch."""
    stream = read_events_stream(spark, events_dir).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("ws"), "event_type", "cnt")
    )
    run_to_memory(agg, "tumbling_stream", output_mode="append")
    got = {tuple(r) for r in spark.table("tumbling_stream").collect()}

    ev = load_events(spark, SF)
    batch = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("window.start").alias("ws"),
            F.col("window.end").alias("we"),
            "event_type",
            "cnt",
        )
    )
    # append mode only emits windows CLOSED by the final watermark
    # (max event ts - 1h delay); the un-finalized tail stays in state.
    wm = ev.agg(F.max("ts")).collect()[0][0] - __import__("datetime").timedelta(hours=1)
    want = {
        (r.ws, r.event_type, r.cnt) for r in batch.collect() if r.we <= wm
    }
    assert want, "watermark excluded every window — fixture too small"
    assert got == want


def test_stream_dedup_under_duplicated_input(spark, events_dir):
    """dropDuplicates gives exactly-once by event_id even when the
    source delivers every file (hence every row) twice."""
    dup_dir = tempfile.mkdtemp(prefix="igis-stream-dup-")
    files = sorted(Path(events_dir).glob("*.parquet"))
    for i, p in enumerate(files):
        data = p.read_bytes()
        (Path(dup_dir) / f"a_{i}.parquet").write_bytes(data)
        (Path(dup_dir) / f"b_{i}.parquet").write_bytes(data)
    stream = read_events_stream(spark, dup_dir).dropDuplicates(["event_id"])
    run_to_memory(stream, "dedup_stream", output_mode="append")
    got = spark.table("dedup_stream")
    assert got.count() == 1000
    assert got.select("event_id").distinct().count() == 1000


def test_stream_watermark_drops_late_rows(spark):
    """Rows older than the in-effect watermark are dropped, not aggregated.

    Spark's contract is one-directional: data within the watermark is
    never dropped; data later than it is dropped once the *filter*
    watermark catches up — which lags the eviction watermark by one
    micro-batch (the filter uses the previous batch's committed value).
    So three micro-batches (``maxFilesPerTrigger=1`` + mtime ordering):
    batch A (Jan 15+) advances the watermark; batch B rides the
    one-batch grace; batch C's Jan 1-7 rows hit the now-advanced filter
    watermark and MUST be dropped (verified: droppedByWatermark=7 here).
    """
    import datetime
    import os
    import time

    src = tempfile.mkdtemp(prefix="igis-late-")
    ev = load_events(spark, SF)

    def dump(pred, name, mtime):
        ev.filter(pred).coalesce(1).write.parquet(f"{src}/stage_{name}")
        p = next(Path(src).glob(f"stage_{name}/part-*.parquet"))
        p.rename(Path(src) / f"{name}.parquet")
        os.utime(Path(src) / f"{name}.parquet", (mtime, mtime))

    jan8 = F.lit("2024-01-08").cast("timestamp")
    jan15 = F.lit("2024-01-15").cast("timestamp")
    now = time.time()
    dump(F.col("ts") >= jan15, "a", now - 600)
    dump((F.col("ts") >= jan8) & (F.col("ts") < jan15), "b", now - 300)
    dump(F.col("ts") < jan8, "c", now)

    stream = read_events_stream(spark, src, max_files=1).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(F.window("ts", "1 day"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("ws"), "cnt")
    )
    run_to_memory(agg, "late_test", output_mode="append")
    finalized = {r.ws for r in spark.table("late_test").collect()}
    assert finalized, "stream emitted no finalized windows"
    # batch C's Jan 1-7 rows were dropped: no window before Jan 8 exists
    assert min(finalized) >= datetime.datetime(2024, 1, 8), sorted(finalized)[:3]


def test_upsert_merge_associative(spark):
    """Folding batches through upsert_merge == one global latest-per-key."""
    ev = load_events(spark, SF).select("user_id", "event_type", "event_id", "value", "ts")
    parts = [
        ev.filter(F.col("event_id") % 3 == i) for i in range(3)
    ]
    target = None
    for p in parts:
        target = upsert_merge(target, p, keys=["user_id", "event_type"], order_col="ts", tie_col="event_id")
    direct = upsert_merge(None, ev, keys=["user_id", "event_type"], order_col="ts", tie_col="event_id")
    assert {tuple(r) for r in target.collect()} == {tuple(r) for r in direct.collect()}


def test_stateful_totals_updates_across_batches(spark, events_dir):
    """applyInPandasWithState must carry state ACROSS micro-batches:
    users appearing in several files get several monotone updates."""
    from insight_gp_import_spark.streaming import running_user_totals

    stream = read_events_stream(spark, events_dir, max_files=1)
    run_to_memory(running_user_totals(stream), "stateful_rt", output_mode="update")
    emitted = spark.table("stateful_rt").collect()
    per_user: dict[int, list[int]] = {}
    for r in emitted:
        per_user.setdefault(r.user_id, []).append(r.cnt)
    # at least one user spans multiple batches (1000 events, 3 files)
    assert any(len(v) > 1 for v in per_user.values())
    # cumulative counts are strictly increasing per user
    for cnts in per_user.values():
        s = sorted(cnts)
        assert s == sorted(set(s)), cnts
    # final state equals batch ground truth
    ev = load_events(spark, SF)
    want = {
        (r.user_id, r.cnt)
        for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    got = {(u, max(cnts)) for u, cnts in per_user.items()}
    assert got == want


def test_stream_stream_join_matches_batch(spark):
    """A real two-source stream-stream interval join (watermarks on
    both sides, time-range condition bounding state) must produce
    exactly the batch op's rows."""
    from insight_gp_import_spark.operators.streaming_ops import stream_stream_join

    ev = load_events(spark, SF)
    vdir = tempfile.mkdtemp(prefix="igis-ssj-v-")
    pdir = tempfile.mkdtemp(prefix="igis-ssj-p-")
    ev.filter(F.col("event_type") == "view").write.mode("overwrite").parquet(vdir)
    ev.filter(F.col("event_type") == "purchase").write.mode("overwrite").parquet(
        pdir
    )
    v = (
        read_events_stream(spark, vdir)
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    p = (
        read_events_stream(spark, pdir)
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(F.col("v_user").alias("user_id"), "view_id", "purchase_id")
    run_to_memory(joined, "ssj_stream", output_mode="append")
    got = {tuple(r) for r in spark.table("ssj_stream").collect()}
    want = {tuple(r) for r in stream_stream_join(spark, SF).collect()}
    assert want, "batch join empty at sf0.001?"
    assert got == want


def test_checkpoint_restart_exactly_once(spark):
    """Restarting from the same checkpoint picks up only the new file:
    no replay of processed files, no loss of the late one."""
    ops = load_all_ops()
    r = ops["stream_checkpoint_restart"].fn(spark, SF).collect()[0]
    assert 0 < r.rows_phase1 < r.rows_source
    assert r.rows_total == r.rows_source == r.distinct_ids


def test_stateful_totals_rocksdb_state_store(spark, events_dir):
    """The 100 TB state-store configuration, demonstrated at runtime:
    the same applyInPandasWithState query runs with the RocksDB
    provider (state off-heap on local disk, snapshot+changelog in the
    checkpoint) and its final per-user state equals the batch groupBy.
    The provider actually engaging is asserted from the checkpoint
    layout: RocksDB maintenance uploads versioned .zip archives under
    state/, which the default HDFS provider never writes."""
    import os

    from insight_gp_import_spark.streaming import running_user_totals
    from insight_gp_import_spark.streaming.runtime import rocksdb_state_store

    ckpt = tempfile.mkdtemp(prefix="igis-rocksdb-ckpt-")
    with rocksdb_state_store(spark):
        totals = running_user_totals(
            read_events_stream(spark, events_dir, max_files=1)
        )
        q = (
            totals.writeStream.format("memory")
            .queryName("rocksdb_totals")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    state_files = [
        os.path.join(dp, f)
        for dp, _, fns in os.walk(os.path.join(ckpt, "state"))
        for f in fns
    ]
    assert any(f.endswith(".zip") for f in state_files), state_files

    emitted = spark.table("rocksdb_totals")
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"))
    final = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "cnt", F.round("total_value", 2).alias("tv"))
    )
    ev = load_events(spark, SF)
    batch = ev.groupBy("user_id").agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("tv")
    )
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_complete_mode_times_out_loudly(spark, monkeypatch):
    """An unfinished complete-mode query raises instead of returning a
    partial memory table."""
    from pyspark.sql.streaming.query import StreamingQuery

    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, t=None: False)
    with pytest.raises(TimeoutError, match="did not finish"):
        load_all_ops()["stream_complete_mode"].fn(spark, SF)


def test_transform_with_state_gate():
    """The tws path must exist and be chosen iff protobuf is present;
    the fallback twin shares semantics + oracle, so the declared
    relation is verified either way."""
    from insight_gp_import_spark.streaming import running_user_totals_tws
    from insight_gp_import_spark.streaming.stateful import (
        HAS_PROTOBUF,
        RunningTotalsProcessor,
    )

    assert callable(running_user_totals_tws)
    p = RunningTotalsProcessor()
    assert hasattr(p, "handleInputRows") and hasattr(p, "init")
    try:
        import google.protobuf  # noqa: F401
        assert HAS_PROTOBUF
    except ImportError:
        assert not HAS_PROTOBUF


def test_session_state_bounded_under_rocksdb(spark):
    """Round-6 (r4 item #3): session-window state through the RocksDB
    provider with an advancing watermark stays BOUNDED — peak reported
    state memory is megabytes, not a function of total rows streamed —
    and the provider's own metrics prove RocksDB (not heap) holds it.
    Uses the stress tool's exact harness at test scale so the committed
    sf1 numbers in BENCH_NOTES.md are reproducible from the suite."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import rocksdb_stress as rs

    old_sf, old_chunks = rs.SF_DIR, rs.N_CHUNKS
    rs.SF_DIR, rs.N_CHUNKS = "/root/testdata/sf0.01", 4
    try:
        events_dir = rs.chunked_events_dir(spark)
        from insight_gp_import_spark.streaming.runtime import rocksdb_state_store

        with rocksdb_state_store(spark):
            rec = rs.run_one(spark, events_dir, "session", "rocksdb")
    finally:
        rs.SF_DIR, rs.N_CHUNKS = old_sf, old_chunks
    assert rec["batches"] >= 3  # watermark actually advanced across batches
    assert rec["state_rows_peak"] > 0
    # bounded: RocksDB-reported state memory stays in the tens of MB at
    # test scale (HDFS provider holds the same state fully on heap)
    assert rec["state_mem_peak_mb"] < 64, rec


def test_watermark_law_oracle_matches_live_stream(spark):
    """r11 verdict item 1: stream_watermark_late's LAW oracle — DuckDB
    recomputes the exact finalized-window relation (late batch dropped,
    last partial day unemitted) and the live streamed result must
    hash-match it. This is the cross-engine value check the op lacked
    while it was rows-only."""
    from insight_gp_import_spark.compare import compare

    ops = load_all_ops()
    o = ops["stream_watermark_late"]
    df = o.fn(spark, SF)
    res = compare("stream_watermark_late", df, o.oracle, SF)
    assert res.ok, res.detail
    # the law's two teeth, asserted directly on the emitted relation:
    rows = {r["ws"].date().isoformat(): r["cnt"] for r in df.collect()}
    assert min(rows) == "2024-01-08"  # stale days (batch c) absent
    ev = load_events(spark, SF)
    full = {
        r["d"].date().isoformat(): r["cnt"]
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert max(full) > max(rows)  # open last window never emitted
    for d, c in rows.items():
        assert full[d] == c  # surviving batches aggregated in full


def test_rate_source_laws_all_true(spark):
    """r11 verdict item 1: stream_rate_source's three closed-form law
    verdicts (gapless 0..max prefix = exactly-once, liveness bar, and
    the linear event-time clock) must each come out true from a live
    run of the unbounded source."""
    ops = load_all_ops()
    o = ops["stream_rate_source"]
    assert o.oracle is not None
    row = o.fn(spark, SF).collect()[0]
    assert row["gapless_prefix"] is True
    assert row["reached_bar"] is True
    assert row["clock_law"] is True
