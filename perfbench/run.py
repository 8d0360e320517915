"""Benchmark of the engine: one workload, one process, one warm session.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 14 --trace 0

Run from the repository root. The run checks its input tables (a copy
of the project's sf0.01 test corpus in ``perfbench/data``) against their
checksums, starts one SparkSession on ``local[N]``, runs passes of the
workload until per-pass CPU has levelled off (warm-up), then measures
passes for ``--seconds``. Results are checked
after the timed passes against each op's DuckDB twin. The last line of
stdout is the result JSON; the line before it is a detailed report.

``--trace 1`` alternates untraced and traced passes after warm-up and
reports per-layer counters from the traced ones; end-to-end numbers come
from ``--trace 0`` runs only. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
sys.path[:0] = [HERE, ROOT]

import probes  # noqa: E402

# Two executor threads leave the other cores to the JIT, GC and Python
# workers (and other tenants); at this input size four threads were no
# faster and varied more between runs (README.md, "Run conditions").
CORES = min(2, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "1g"
SCALE = 0.01

# Warm-up ends at the first pass whose CPU is not more than WARM_TOL below
# the lowest CPU of the passes before it; at most WARM_CAP_S are spent.
WARM_MIN_PASSES = 2
WARM_TOL = 0.08
WARM_CAP_S = 40.0
# so each half of the steadiness check has two passes, and a traced
# run has two traced and two untraced passes
MIN_MEASURED = 4
# Measured passes are steady when the medians of their first and second
# halves differ by at most this share of the overall median.
STEADY_TOL = 0.10

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "cpu_s_per_pass": "s", "retained_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "registry.build_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stages_skipped": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.collect_s": "s",
    "tables.input_bytes": "B",
    "tables.input_records": "count",
    "tables.scan_tasks": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "sources.copy_s": "s",
    "sources.copy_rows": "count",
    "sources.copy_connections": "count",
    "sources.jdbc_write_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.pyworker_cpu_s": "s",
    "proc.write_bytes": "B",
    "proc.write_syscalls": "count",
    "compare.mismatches": "count",
    "trace.overhead_s": "s",
    "trace.unaccounted_share": "share",
}


class Collected:
    """A collected result in the shape ``compare.compare`` reads, so the
    check uses the rows a timed pass produced instead of re-running."""

    def __init__(self, df, rows) -> None:
        self.columns = df.columns
        self.schema = df.schema
        self._rows = rows

    def collect(self):
        return self._rows


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive fingerprint of a collected result."""
    body = "\n".join(sorted(repr(tuple(r)) for r in rows))
    return hashlib.sha256(f"{columns}\n{body}".encode()).hexdigest()


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail_percentile(xs: list[float]) -> dict | None:
    """Highest percentile with at least ten samples above it."""
    n = len(xs)
    if n < 11:
        return None
    p = 100.0 * (n - 10) / n
    return {"p": round(p, 1), "value": sorted(xs)[n - 11]}


def steadiness(xs: list[float]) -> float:
    half = len(xs) // 2
    if half == 0:
        return 0.0
    a, b = statistics.median(xs[:half]), statistics.median(xs[-half:])
    return abs(a - b) / statistics.median(xs)


class Bench:
    def __init__(self, args, work: str, data_dir: str, t_proc: float,
                 load_before: list[float]) -> None:
        self.args = args
        self.load_before = load_before
        self.work = work
        self.data_dir = data_dir
        self.t_proc = t_proc
        self.tracer = probes.Tracer()
        self.progress: list[dict] = []
        self.attempted = 0
        self.raised: list[str] = []
        self.hashes: dict[str, list[str]] = {}
        self.counts: dict[str, list[int]] = {}
        self.last: dict[str, Collected] = {}
        self.copy_mismatch = 0

    # -- set-up -------------------------------------------------------------
    def start(self) -> None:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        from insight_gp_import_spark.session import get_session

        tmp = os.path.join(self.work, "tmp")
        t0 = time.time()
        self.spark = get_session(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # bounded UI history: enough for one traced pass, and the
                # heap does not grow with the number of passes run
                "spark.ui.retainedJobs": "100",
                "spark.ui.retainedStages": "200",
                "spark.sql.ui.retainedExecutions": "50",
                "spark.driver.host": "127.0.0.1",
                "spark.driver.bindAddress": "127.0.0.1",
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.work} "
                    "-Dderby.system.durability=test -XX:-UsePerfData "
                    # fixed, resident heap: no heap resizing and no
                    # first-touch page faults inside the timed passes
                    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                    # C1 only (README.md, "Warm-up"); C1-only defaults to a
                    # 48 MB code cache, which fills and stalls the compiler
                    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        from insight_gp_import_spark.registry import load_all_ops
        from insight_gp_import_spark.tables import load_table

        self.ops = load_all_ops()
        t2 = time.time()
        # first op ready: worker zip shipped and the first scan resolved
        load_table(self.spark, self.data_dir, "region")
        t3 = time.time()
        self.session_s = t1 - t0
        self.registry_s = t2 - t1
        self.setup_s = t3 - self.t_proc
        if self.args.trace:
            self.rest = probes.SparkRest(self.spark)
            self.spark.streams.addListener(probes.streaming_listener(self.progress))
        from workloads import LOADING, Loader

        self.loader = None
        if self.args.workload in LOADING:
            self.loader = Loader(self.spark, self.work, self.data_dir, self.args.seed, CORES)

    # -- one pass -----------------------------------------------------------
    def _op(self, name: str, traced: bool, results: dict) -> None:
        fn = self.ops[name].fn
        if not traced:
            df = fn(self.spark, self.data_dir)
            results[name] = (df, df.collect())
            return
        with self.tracer.span(name, "op") as sp:
            with self.tracer.span("build", "build"):
                df = fn(self.spark, self.data_dir)
            with self.tracer.span("plan", "plan"):
                sp.attrs.update(probes.catalyst_phases_ms(df))
            with self.tracer.span("execute", "execute"):
                results[name] = (df, df.collect())

    def _load(self, traced: bool) -> None:
        ld = self.loader
        if not traced:
            ld.ingest()
            batch = ld.new_batch()
            ld.copy(batch)
            ld.jdbc(batch)
            return
        with self.tracer.span("load", "op"):
            with self.tracer.span("ingest", "sink"):
                ld.ingest()
            with self.tracer.span("read_batch", "sink"):
                batch = ld.new_batch()
            with self.tracer.span("copy", "sink"):
                ld.copy(batch)
            with self.tracer.span("jdbc", "sink"):
                ld.jdbc(batch)

    def run_pass(self, index: int, traced: bool) -> dict:
        from workloads import LOAD_STEP, pass_steps

        steps = pass_steps(self.args.workload)
        random.Random(self.args.seed * 100_003 + index).shuffle(steps)
        ld = self.loader
        if ld:
            ld.land_next()
            copied0, conns0 = ld.copied_rows(), ld.stub.connections
        results: dict = {}
        span_mark = len(self.tracer.spans)
        p0 = probes.sample_tree()
        t0 = time.time()
        ctx = self.tracer.span(f"pass{index}", "pass") if traced else contextlib.nullcontext()
        with ctx:
            for step in steps:
                self.attempted += 1
                try:
                    if step == LOAD_STEP:
                        self._load(traced)
                    else:
                        self._op(step, traced, results)
                except Exception as e:  # counted as a failed call, run continues
                    self.raised.append(f"pass {index} {step}: {type(e).__name__}: {e}")
        t1 = time.time()
        p1 = probes.sample_tree()
        rec = {"wall_s": t1 - t0, "proc": p1 - p0, "traced": traced}
        # outside the timed region: fingerprint every result
        for name, (df, rows) in results.items():
            self.hashes.setdefault(name, []).append(result_hash(df.columns, rows))
            self.counts.setdefault(name, []).append(len(rows))
            self.last[name] = Collected(df, rows)
        copy_rows = copy_conns = 0
        if ld:
            if ld.copied_rows() != ld.landed_rows:
                self.copy_mismatch += 1
            copy_rows, copy_conns = ld.copied_rows() - copied0, ld.stub.connections - conns0
        if traced:
            rec["layers"] = self._layers(self.tracer.spans[span_mark:], t0, t1, p1 - p0,
                                         copy_rows, copy_conns)
        return rec

    def _layers(self, spans, t0, t1, proc, copy_rows, copy_conns) -> dict:
        jobs, stages = self.rest.settled(t0)
        out = {k: 0.0 for k in LAYER_UNITS}
        pass_counters = probes.exec_counters(jobs, stages, t0, t1)
        for k, v in pass_counters.items():
            if k in out:
                out[k] = v
        for sp in spans:
            dur = sp.end - sp.start
            if sp.kind == "build":
                out["registry.build_s"] += dur
            elif sp.kind == "op":
                for k, v in sp.attrs.items():
                    out[k] += v
                op_c = probes.exec_counters(jobs, stages, sp.start, sp.end)
                if op_c["exec.last_stage_end"]:
                    out["exec.collect_s"] += max(0.0, sp.end - op_c["exec.last_stage_end"])
            elif sp.name == "copy":
                out["sources.copy_s"] += dur
            elif sp.name == "jdbc":
                out["sources.jdbc_write_s"] += dur
        for ev in self.progress:
            if ev["t"] is not None and t0 - 0.001 <= ev["t"] < t1:
                out["streaming.batches"] += 1
                out["streaming.input_rows"] += ev["rows"]
                for key, name in probes.STREAM_DURATIONS.items():
                    out[name] += ev["durations"].get(key, 0)
        out["sources.copy_rows"] = copy_rows
        out["sources.copy_connections"] = copy_conns
        out["proc.jvm_cpu_s"] = proc.jvm_cpu_s
        out["proc.pyworker_cpu_s"] = proc.pyworker_cpu_s
        out["proc.write_bytes"] = proc.write_bytes
        out["proc.write_syscalls"] = proc.write_syscalls
        ops = [sp for sp in spans if sp.kind == "op"]
        covered = {sp.id: 0.0 for sp in ops}
        for sp in spans:
            if sp.parent in covered:
                covered[sp.parent] += sp.end - sp.start
        out["trace.unaccounted_share"] = max(
            (1.0 - covered[sp.id] / (sp.end - sp.start) for sp in ops), default=0.0
        )
        out["_self_s"] = self.tracer.self_times(spans)
        return out

    # -- the run ------------------------------------------------------------
    def run(self) -> dict:
        warm, measured = [], []
        t_warm = time.time()
        index = 0
        while True:
            rec = self.run_pass(index, traced=False)
            index += 1
            warm.append(rec)
            cpus = [r["proc"].tree_cpu_s for r in warm]
            levelled = len(warm) >= WARM_MIN_PASSES and cpus[-1] >= (1 - WARM_TOL) * min(cpus[:-1])
            if levelled or time.time() - t_warm > WARM_CAP_S:
                break
        t_meas = time.time()
        steal0 = probes.cpu_steal_ticks()
        while len(measured) < MIN_MEASURED or time.time() - t_meas < self.args.seconds:
            traced = bool(self.args.trace) and len(measured) % 2 == 1
            measured.append(self.run_pass(index, traced))
            index += 1
        steal1 = probes.cpu_steal_ticks()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        return {"warm": warm, "measured": measured, "levelled": levelled, "steal": steal,
                "memory": self.memory()}

    def memory(self) -> dict:
        heap = probes.jvm_live_heap_mb(self.spark)
        workers = probes.sample_tree().pyworker_rss_mb
        return {"retained_mb": heap + workers, "jvm_live_heap_mb": heap,
                "pyworker_rss_mb": workers}


def check_results(bench: Bench) -> tuple[int, list[str]]:
    """Compare each op's last result with its DuckDB twin, then require
    every other call of the op to have returned the same result."""
    from insight_gp_import_spark.compare import compare

    failed, notes = 0, []
    for name, coll in bench.last.items():
        oracle = bench.ops[name].oracle
        hashes = bench.hashes[name]
        if oracle:
            res = compare(name, coll, oracle, bench.data_dir)
            ok, detail = res.ok, res.detail
        else:  # rows-only op: the row count must not vary
            ok = len(set(bench.counts[name])) == 1
            detail = f"{bench.counts[name][-1]} rows"
        if not ok:
            notes.append(f"{name}: {detail}")
            failed += hashes.count(hashes[-1])
        odd = sum(1 for h in hashes if h != hashes[-1])
        if odd:
            notes.append(f"{name}: {odd} calls returned a different result")
        failed += odd
    problems = bench.loader.check() if bench.loader else []
    if problems or bench.copy_mismatch:
        notes.extend(problems)
        failed += max(1, bench.copy_mismatch)
    return failed, notes


def summarise(bench: Bench, passes: dict, failed: int, notes: list[str]) -> tuple[dict, dict]:
    measured = passes["measured"]
    plain = [r for r in measured if not r["traced"]]
    walls = [r["wall_s"] for r in plain]
    cpus = [r["proc"].tree_cpu_s for r in plain]
    q1, med, q3 = quartiles(walls)
    steady_wall, steady_cpu = steadiness(walls), steadiness(cpus)
    attempted = bench.attempted
    failed += len(bench.raised)
    digest = {n: h[-1][:16] for n, h in sorted(bench.hashes.items())}
    report = {
        "workload": bench.args.workload,
        "seed": bench.args.seed,
        "conditions": {
            "cores": CORES, "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_mem": DRIVER_MEM, "scale": SCALE, "nproc": os.cpu_count(),
            "load_before": bench.load_before, "load_after": list(os.getloadavg()),
            "cpu_steal_share": passes["steal"],
        },
        "setup": {"setup_s": bench.setup_s, "session_s": bench.session_s,
                  "registry_s": bench.registry_s},
        "warmup": {
            "passes": len(passes["warm"]),
            "levelled": passes["levelled"],
            "wall_s": [round(r["wall_s"], 4) for r in passes["warm"]],
            "cpu_s": [round(r["proc"].tree_cpu_s, 3) for r in passes["warm"]],
        },
        "pass_s": {"median": med, "q1": q1, "q3": q3, "n": len(walls),
                   "tail": tail_percentile(walls), "samples": [round(w, 4) for w in walls]},
        "cpu_s_per_pass": {"median": statistics.median(cpus),
                           "samples": [round(c, 3) for c in cpus]},
        "memory": passes["memory"],
        "steadiness": {"wall_half_diff": steady_wall, "cpu_half_diff": steady_cpu,
                       "tolerance": STEADY_TOL,
                       "steady": steady_wall <= STEADY_TOL and steady_cpu <= STEADY_TOL},
        "failed_ratio": {"value": failed / attempted, "failed": failed, "attempted": attempted},
        "errors": bench.raised[:10] + notes[:10],
        "result_hashes": digest,
    }
    e2e = {
        "setup_s": bench.setup_s,
        "pass_s": med,
        "cpu_s_per_pass": statistics.median(cpus),
        "retained_mb": passes["memory"]["retained_mb"],
    }
    metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    if bench.args.trace:
        traced = [r for r in measured if r["traced"]]
        layer = {k: statistics.median(r["layers"][k] for r in traced) for k in LAYER_UNITS}
        layer["session.start_s"] = bench.session_s
        layer["registry.load_s"] = bench.registry_s
        layer["compare.mismatches"] = failed
        layer["trace.overhead_s"] = statistics.median(r["wall_s"] for r in traced) - med
        self_s = {}
        for r in traced:
            for k, v in r["layers"]["_self_s"].items():
                self_s.setdefault(k, []).append(v)
        report["trace"] = {
            "traced_passes": len(traced),
            "self_time_s": {k: statistics.median(v) for k, v in self_s.items()},
            "layers": layer,
        }
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return report, result


def _descendant_pids() -> set[int]:
    return set(probes.descendants(os.getpid())) - {os.getpid()}


def stop_spark(bench: Bench | None) -> None:
    """Stop the session and the JVM it launched, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    if bench is not None and getattr(bench, "loader", None):
        bench.loader.close()
    gw = SparkContext._gateway
    try:
        if bench is not None and hasattr(bench, "spark"):
            bench.spark.stop()
        if gw is not None:
            gw.shutdown()
    except Exception as e:  # JVM already gone: the sweep below still runs
        print(f"perfbench: stopping Spark: {e!r}", file=sys.stderr)
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 20
    while _descendant_pids() and time.time() < deadline:
        time.sleep(0.1)
    for pid in _descendant_pids():
        os.kill(pid, signal.SIGKILL)
    while _descendant_pids() and time.time() < deadline + 10:
        time.sleep(0.1)


def changed_inputs() -> list[str]:
    """Input files whose SHA-256 differs from ``data/SHA256SUMS``."""
    bad = []
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            try:
                with open(os.path.join(DATA, name), "rb") as g:
                    ok = hashlib.sha256(g.read()).hexdigest() == digest
            except OSError:
                ok = False
            if not ok:
                bad.append(name)
    return bad


def make_work_dir(name: str) -> str:
    """Create ``perfbench/.work/<name>`` and point every temp-file user at
    it: Python's tempfile, Spark's local dirs and spark-submit's launcher
    JVM (which would otherwise write /tmp/hsperfdata_*)."""
    work = os.path.join(HERE, ".work", name)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    return work


def main(argv: list[str] | None = None) -> int:
    t_proc = probes.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["query_mix", "corpus_prep"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "insight_gp_import_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    bad = changed_inputs()
    if bad:
        print(f"perfbench: input files differ from data/SHA256SUMS: {bad}", file=sys.stderr)
        return 2

    load_before = list(os.getloadavg())
    work = make_work_dir(f"run-{os.getpid()}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # still clean up
    bench = None
    try:
        bench = Bench(args, work, os.path.join(DATA, f"sf{SCALE}"), t_proc, load_before)
        bench.start()
        passes = bench.run()
        t_check = time.time()
        failed, notes = check_results(bench)
        if args.trace:
            bench.tracer.dump(os.path.join(HERE, ".work", f"trace-{args.workload}.json"))
        report, result = summarise(bench, passes, failed, notes)
        report["check_s"] = time.time() - t_check
    finally:
        t_stop = time.time()
        try:
            stop_spark(bench)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    report["stop_s"] = time.time() - t_stop
    if not (report["warmup"]["levelled"] and report["steadiness"]["steady"]):
        print("perfbench: warning: this run did not level off or was not steady "
              "(see warmup and steadiness in the report)", file=sys.stderr)
    print(json.dumps({"report": report}, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
