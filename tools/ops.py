"""Run registered ops from the command line: oracle-check, plan dumps, profile.

Usage:
  python tools/ops.py check OPS|all [--sf A[,B]] [--workers N]
  python tools/ops.py plans --ops a,b --tag before --dir plan-dumps [--sf DIR]
  python tools/ops.py profile [--ops a,b] [--runs N] [--out FILE] [--sf DIR]

OPS is a comma-separated list of op names; names are checked against the
registry before Spark starts. Every subcommand runs its ops in one
``get_session`` session at shuffle width 8 (the tests' config); the core
count is ``session.py``'s (``SPARK_GRAFT_CPUS``, default all).

- ``check`` compares each op with its DuckDB twin
  (``insight_gp_import_spark.compare``) at every SF dir and prints one
  JSON row per (op, sf) with status PASS, FAIL or ERROR; it exits
  non-zero if any row is not PASS. ``--workers N`` fans the ops over N
  child processes (separate JVMs, at most one per core, each with an
  equal slice of the cores), then checks the ``isolated`` ops serially
  in this process once the children are done.
- ``plans`` writes each op's ``explain("formatted")`` to
  ``<dir>/<op>_<tag>.txt``, with the session-global counters masked
  (see ``normalize_plan``) so dumps of one plan from two runs are equal.
- ``profile`` times each op with the noop sink (every column of every
  row computed, no driver collect) and prints one JSON line per op:
  build time, noop wall time (min over ``--runs``) and plan-node counts.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from insight_gp_import_spark.registry import Op, load_all_ops  # noqa: E402

# Ops that must not share the box with another Spark JVM: Python-worker,
# streaming and multimodal plans are the concurrent-session flake class
# (that covers udtf_arrow_bigrams and the mm_* ops, dedup_phash_hamming
# included). The python data source scan is one too, and dedup_cluster's
# ~1 h sf0.1 DuckDB oracle would make one worker lane 10x the rest.
ISOLATE_CATEGORIES = {"streaming", "udfs", "multimodal"}
ISOLATE_OPS = {"scan_python_datasource", "dedup_cluster"}

PLAN_NODES = (
    "Exchange",
    "BroadcastExchange",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "PythonMapInArrow",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "WholeStageCodegen",
    "Window",
    "WindowGroupLimit",
    "Sort",
)


def isolated(o: Op) -> bool:
    return o.category in ISOLATE_CATEGORIES or o.name in ISOLATE_OPS


def explain(df) -> str:
    """``df.explain("formatted")`` as a string."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


# Counters that number expressions, plans and RDDs session-wide, and the
# random names of scratch_dir's per-process root and per-call directory
# (``igis-scratch-<8>/<prefix><8>``): equal plans built in different
# sessions (or after different ops) differ only in these.
_PLAN_COUNTERS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(igis-scratch-)\w{8}(/[\w-]*?-)\w{8}\b"), r"\1N\2N"),
)


def normalize_plan(plan: str) -> str:
    """``plan`` with expression, plan and RDD ids and scratch paths masked."""
    for pat, mask in _PLAN_COUNTERS:
        plan = pat.sub(mask, plan)
    return plan


def plan_stats(plan: str) -> dict:
    stats = {}
    for node in PLAN_NODES:
        # numbered operator lines look like "(3) Exchange" / "* (3) Sort";
        # count those, not prose mentions in the details section
        n = len(re.findall(rf"\(\d+\)\s+{node}\b", plan))
        if n:
            stats[node] = n
    stats["pushed_filters"] = bool(re.search(r"PushedFilters: \[[^\]]", plan))
    return stats


@contextlib.contextmanager
def session(cmd: str):
    from insight_gp_import_spark.session import get_session

    spark = get_session(app_name=f"igis-ops-{cmd}", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        yield spark
    finally:
        spark.stop()


def check(args, ops: dict[str, Op], names: list[str]) -> int:
    sfs = args.sf.split(",")
    bad = 0
    if args.workers > 1:
        shared = [n for n in names if not isolated(ops[n])]
        names = [n for n in names if isolated(ops[n])]
        # the JVMs share the box: at most one per core, each with its
        # slice of the cores (no oversubscription) and a bounded heap
        cores = os.cpu_count() or 1
        workers = min(args.workers, cores, len(shared))
        env = os.environ | {
            "SPARK_GRAFT_CPUS": str(cores // max(1, workers)),
            "SPARK_GRAFT_DRIVER_MEM": "6g",
        }
        sys.stdout.flush()
        procs = [
            subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "check",
                 ",".join(shared[i::workers]), "--sf", args.sf],
                stderr=subprocess.DEVNULL, env=env,
            )
            for i in range(workers)
        ]
        bad += sum(p.wait() != 0 for p in procs)
    if not names:
        return bad
    from insight_gp_import_spark.compare import compare

    with session("check") as spark:
        for name in names:
            spark.sparkContext.setJobDescription(f"check:{name}")
            for sf in sfs:
                t0 = time.perf_counter()
                try:
                    res = compare(name, ops[name].fn(spark, sf), ops[name].oracle, sf)
                    status, detail = ("PASS" if res.ok else "FAIL"), res.detail
                except Exception as e:  # noqa: BLE001 — record it, check the rest
                    status, detail = "ERROR", f"{type(e).__name__}: {e}"
                bad += status != "PASS"
                print(json.dumps({
                    "op": name, "sf": os.path.basename(sf.rstrip("/")),
                    "status": status, "secs": round(time.perf_counter() - t0, 1),
                    "detail": detail[:300],
                }), flush=True)
    return bad


def plans(args, ops: dict[str, Op], names: list[str]) -> int:
    os.makedirs(args.dir, exist_ok=True)
    with session("plans") as spark:
        for name in names:
            path = os.path.join(args.dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(normalize_plan(explain(ops[name].fn(spark, args.sf))))
            print(f"wrote {path}", flush=True)
    return 0


def profile(args, ops: dict[str, Op], names: list[str]) -> int:
    errors = 0
    with session("profile") as spark, (
        open(args.out, "a") if args.out else contextlib.nullcontext()
    ) as out:
        for name in names:
            spark.sparkContext.setJobDescription(f"profile:{name}")
            rec: dict = {"op": name}
            try:
                t0 = time.perf_counter()
                df = ops[name].fn(spark, args.sf)
                rec["build_sec"] = round(time.perf_counter() - t0, 4)
                rec["plan"] = plan_stats(explain(df))
                walls = []
                for _ in range(args.runs):
                    t0 = time.perf_counter()
                    ops[name].fn(spark, args.sf).write.format("noop").mode("overwrite").save()
                    walls.append(time.perf_counter() - t0)
                rec["noop_sec"] = round(min(walls), 4)
                rec["noop_all"] = [round(w, 4) for w in walls]
            except Exception as e:  # noqa: BLE001 — keep profiling the rest
                rec["error"] = f"{type(e).__name__}: {e}"[:300]
                errors += 1
            line = json.dumps(rec)
            print(line, flush=True)
            if out:
                print(line, file=out, flush=True)
    return errors


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("check", help="compare ops with their DuckDB twins")
    p.add_argument("ops", help="comma-separated op names, or 'all'")
    p.add_argument("--sf", default="/root/testdata/sf0.01,/root/testdata/sf0.1",
                   help="comma-separated SF dirs")
    p.add_argument("--workers", type=int, default=1)
    p = sub.add_parser("plans", help="write explain('formatted') dumps")
    p.add_argument("--ops", required=True)
    p.add_argument("--tag", required=True)
    p.add_argument("--dir", required=True)
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p = sub.add_parser("profile", help="noop-sink wall time and plan shape")
    p.add_argument("--ops", default="all")
    p.add_argument("--runs", type=int, default=1)
    p.add_argument("--out", default=None, help="also append JSON lines here")
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args(argv)

    ops = load_all_ops()
    names = list(ops) if args.ops == "all" else args.ops.split(",")
    unknown = [n for n in names if n not in ops]
    if unknown:
        ap.error(f"unknown op(s): {', '.join(unknown)}")
    run = {"check": check, "plans": plans, "profile": profile}[args.cmd]
    return 1 if run(args, ops, names) else 0


if __name__ == "__main__":
    sys.exit(main())
