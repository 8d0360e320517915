"""Bench harness — the B1-B10 headline suite (BASELINE.md).

Runs each bench query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric": ..., "value": suite_sec, "unit": "sec",
"queries": {...}, "sf": ...}``.

Protocol (matches how BASELINE.md was measured): one shared warm
SparkSession, startup excluded, 1 discard run + median of 5 timed runs
per query, timing = full plan build + execution + collect.

r6 verdict item 5: driver-run and quiet-host numbers for the SAME HEAD
differed by ~12% — more than any real plan change that round — so the
JSON also carries per-query {median, min, spread} (spread = max-min
across the timed runs) under "queries_stats". "queries" stays plain
median seconds for the driver/BASELINE comparison; min is the
load-robust statistic (host noise only ever ADDS time), so
round-over-round regressions should be judged on min when spread is
large relative to median.

r11 verdict item 3 — the artifact must adjudicate itself under host
co-tenancy (builder best-of-4 6.60 s vs driver 18.07 s at the same
HEAD, reconciled only by prose):

- CANARY: a fixed cheap query (``CANARY_OP``) runs before the suite
  and after every timed block. Its wall time is a pure host-speed
  probe — the plan is pinned and the data fixed — so
  ``canary_ratio = canary_near / CANARY_REF_SEC`` measures how much
  slower the box is than the quiet reference AT THAT MOMENT.
  ``queries_normalized`` divides each query median by its local
  canary ratio (clamped to >= 1: noise only adds time, so
  normalization may only shrink toward the quiet estimate, never
  below the measured value on a quiet box).
- ATTEMPTS: ``SPARK_GRAFT_BENCH_ATTEMPTS`` (default 1) repeats the
  whole suite in-process; EVERY attempt's stats land in the one JSON
  line under "attempts" and the headline value is the median attempt
  — selection happens inside the artifact, where the judge can see
  all of it, never outside.
- ``quiet`` flag: load5 < 1 and no query spread-flagged — when true,
  medians are trustworthy as-is.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# B-id -> registry op id (BASELINE.md rows B1-B10)
BENCH_QUERIES = {
    "q1": "agg_hash_groupby",
    "q2": "limit_topk",
    "q3": "join_star_multiway",
    "q4": "win_topn_per_group",
    "q5": "stream_tumbling",
    "q6": "stream_session",
    "q7": "dedup_exact",
    "q8": "sim_search_topk",
    "q9": "fn_json",
    "q10": "agg_grouping_sets",
}

RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
ATTEMPTS = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "1"))

# host-speed probe: cheap, plan-pinned, data-fixed. agg_global is one
# scan + one global aggregate over lineitem — no shuffle fan-out, no
# Python workers, so its wall time moves with host contention and
# almost nothing else.
CANARY_OP = "agg_global"
# quiet-box reference for the canary at sf0.1 (local[32], shuffle=8,
# measured 2026-08-16, load1 < 0.5, median of 9 interleaved samples).
# canary_ratio = canary_near / this; ratios ~1.0 mean "as quiet as the
# reference box", >1 scale the normalized statistics down accordingly.
CANARY_REF_SEC = 0.21


def _time_one(fn, spark, sf_dir) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).collect()
    return time.perf_counter() - t0


def run_attempt(spark, ops, sf_dir) -> dict:
    canary_fn = ops[CANARY_OP].fn
    canary_fn(spark, sf_dir).collect()  # canary discard (file listing)

    timings: dict[str, float] = {}
    stats: dict[str, dict[str, float]] = {}
    canary: dict[str, float] = {"start": round(_time_one(canary_fn, spark, sf_dir), 4)}
    prev_canary = canary["start"]
    normalized: dict[str, float] = {}
    for qid, op_id in BENCH_QUERIES.items():
        fn = ops[op_id].fn
        fn(spark, sf_dir).collect()  # discard run (JIT, file listing, AQE stats)
        samples = []
        for _ in range(RUNS):
            samples.append(_time_one(fn, spark, sf_dir))
        timings[qid] = round(statistics.median(samples), 4)
        stats[qid] = {
            "median": timings[qid],
            "min": round(min(samples), 4),
            "spread": round(max(samples) - min(samples), 4),
        }
        canary[qid] = round(_time_one(canary_fn, spark, sf_dir), 4)
        # local host-speed ratio around this query's timed block; only
        # ever shrink (>=1 clamp): a quieter-than-reference box must
        # not inflate its numbers
        ratio = max(1.0, ((prev_canary + canary[qid]) / 2) / CANARY_REF_SEC)
        normalized[qid] = round(timings[qid] / ratio, 4)
        prev_canary = canary[qid]

    noisy = any(
        s["spread"] > 0.3 * s["median"] for s in stats.values() if s["median"] > 0
    )
    return {
        "queries": timings,
        "queries_stats": stats,
        "queries_normalized": normalized,
        "canary": canary,
        "canary_ref": CANARY_REF_SEC,
        "suite": round(sum(timings.values()), 4),
        "suite_min": round(sum(s["min"] for s in stats.values()), 4),
        "suite_normalized": round(sum(normalized.values()), 4),
        "noisy": noisy,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from insight_gp_import_spark.registry import load_all_ops
    from insight_gp_import_spark.session import get_session

    # r13 (r12 verdict item 2 — "restore a meaningful scaling
    # contract"): the old fixed default (8) capped post-shuffle
    # parallelism IDENTICALLY at every core count, so the driver's
    # 8-vs-32-core probe executed near-identical task graphs and its
    # ratios proved nothing. Shuffle partitions now scale with the
    # requested cores — max(8, cpus) — and the effective value is
    # stamped into the JSON line so the probe's conditions are in the
    # artifact. SPARK_GRAFT_SHUFFLE still pins an explicit number
    # (old behavior, byte-identical protocol otherwise); "auto" or
    # unset selects the scaling default. AQE partition coalescing
    # still shrinks tiny post-shuffle partitions at sub-GB scale, so
    # the wider default costs only scheduling overhead locally.
    shuffle_env = os.environ.get("SPARK_GRAFT_SHUFFLE", "auto")
    try:
        cpu_n = int(cpus)
    except ValueError:  # e.g. SPARK_GRAFT_CPUS="*"
        cpu_n = os.cpu_count() or 8
    shuffle = (
        max(8, cpu_n) if shuffle_env == "auto" else int(shuffle_env)
    )
    spark = get_session(
        app_name="igis-bench", master=f"local[{cpus}]", shuffle_partitions=shuffle
    )
    spark.sparkContext.setLogLevel("ERROR")
    ops = load_all_ops()

    attempts = [run_attempt(spark, ops, sf_dir) for _ in range(ATTEMPTS)]
    # headline = the median attempt by suite total — chosen INSIDE the
    # artifact; every attempt's full stats are in the line below it
    head = sorted(attempts, key=lambda a: a["suite"])[len(attempts) // 2]

    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    # Host load alone has faked a 35% "regression" (quiet-box re-runs
    # matched the earlier number), so stamp the measurement conditions
    # into the artifact: load averages and a noisy_host flag (any
    # query with spread > 0.3x its median). When noisy_host is true,
    # judge regressions on suite_min / the canary-normalized stats —
    # never on the raw medians.
    try:
        load1, load5, _ = os.getloadavg()
    except (OSError, AttributeError):  # platform without getloadavg
        load1 = load5 = -1.0  # (e.g. Windows lacks the attribute)
    noisy = any(a["noisy"] for a in attempts)
    out = {
        "metric": "bench_suite_total",
        "value": head["suite"],
        "unit": "sec",
        "queries": head["queries"],
        "queries_stats": head["queries_stats"],
        "queries_normalized": head["queries_normalized"],
        "canary": head["canary"],
        "canary_ref": CANARY_REF_SEC,
        "runs": RUNS,
        "suite_min": round(
            sum(
                min(a["queries_stats"][q]["min"] for a in attempts)
                for q in BENCH_QUERIES
            ),
            4,
        ),
        "suite_normalized": head["suite_normalized"],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "shuffle": shuffle,
        "load1": round(load1, 2),
        "load5": round(load5, 2),
        "noisy_host": noisy,
        "quiet": bool(load5 < 1 and not noisy),
    }
    if ATTEMPTS > 1:
        out["attempts"] = attempts
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
