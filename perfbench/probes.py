"""Counters the benchmark reads from outside the program.

Nothing here imports the engine. The probes read the process tree under
``/proc``, Spark's local UI REST API, the JVM's heap after collection,
the Catalyst planning tracker of a DataFrame, and streaming progress
events, and ``Tracer`` keeps the spans
the benchmark records around its own calls.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import gc
import json
import os
import time
import urllib.request
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc: the benchmark process, its JVM and the JVM's Python workers
# ---------------------------------------------------------------------------


@dataclass
class ProcSample:
    tree_cpu_s: float = 0.0
    jvm_cpu_s: float = 0.0
    pyworker_cpu_s: float = 0.0
    write_bytes: int = 0
    write_syscalls: int = 0
    pyworker_rss_mb: float = 0.0

    def __sub__(self, other: "ProcSample") -> "ProcSample":
        return ProcSample(
            self.tree_cpu_s - other.tree_cpu_s,
            self.jvm_cpu_s - other.jvm_cpu_s,
            self.pyworker_cpu_s - other.pyworker_cpu_s,
            self.write_bytes - other.write_bytes,
            self.write_syscalls - other.write_syscalls,
            self.pyworker_rss_mb,
        )


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / CLK_TCK


def descendants(root: int) -> dict[int, tuple[str, list[str]]]:
    """pid -> (comm, stat fields after comm) for ``root`` and every
    process below it."""
    procs: dict[int, tuple[int, str, list[str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        head, rest = raw.rsplit(")", 1)
        fields = rest.split()
        procs[int(entry)] = (int(fields[1]), head.split("(", 1)[1], fields)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out[pid] = procs[pid][1:]
            stack.extend(children.get(pid, ()))
    return out


def _read_kv(path: str) -> dict[str, str]:
    try:
        with open(path) as f:
            return dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return {}


def sample_tree() -> ProcSample:
    """CPU, writes and Python-worker RSS summed over this process tree.

    CPU counts each live process's own time plus the time of children it
    has reaped, so Python workers that already exited stay counted.
    ``pyworker_rss_mb`` sums the VmRSS of the live Python workers."""
    s = ProcSample()
    me = os.getpid()
    for pid, (comm, fields) in descendants(me).items():
        # fields[11..14] = utime stime cutime cstime (stat fields 14-17)
        cpu = sum(int(x) for x in fields[11:15]) / CLK_TCK
        s.tree_cpu_s += cpu
        if comm == "java":
            s.jvm_cpu_s += cpu
        elif pid != me:
            s.pyworker_cpu_s += cpu
            rss = _read_kv(f"/proc/{pid}/status").get("VmRSS", "0 kB").split()[0]
            s.pyworker_rss_mb += int(rss) / 1024.0
        io = _read_kv(f"/proc/{pid}/io")
        s.write_bytes += int(io.get("write_bytes", 0))
        s.write_syscalls += int(io.get("syscw", 0))
    return s


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


# ---------------------------------------------------------------------------
# Spark: UI REST, JVM heap, Catalyst phases, streaming progress
# ---------------------------------------------------------------------------


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    # e.g. 2026-10-17T10:55:01.123GMT
    return dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class SparkRest:
    """Reads jobs and stages of this application from the local UI."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str) -> list[dict]:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled(self, since: float, timeout_s: float = 10.0) -> tuple[list[dict], dict]:
        """Jobs submitted at or after ``since`` and their stages, once the
        UI's listener has recorded every one of them as finished."""
        deadline = time.time() + timeout_s
        while True:
            jobs = [
                j for j in self._get("/jobs")
                if (_rest_time(j.get("submissionTime")) or 0) >= since - 0.001
            ]
            stage_ids = {sid for j in jobs for sid in j["stageIds"]}
            stages = {
                s["stageId"]: s for s in self._get("/stages")
                if s["stageId"] in stage_ids
            }
            busy = any(j["status"] == "RUNNING" for j in jobs) or any(
                s["status"] == "ACTIVE" for s in stages.values()
            )
            if not busy or time.time() > deadline:
                return jobs, stages
            time.sleep(0.05)


def exec_counters(jobs: list[dict], stages: dict, start: float, end: float) -> dict:
    """Execution counters of the jobs submitted in [start, end)."""
    mine = [
        j for j in jobs
        if start - 0.001 <= (_rest_time(j.get("submissionTime")) or 0) < end
    ]
    sids = {sid for j in mine for sid in j["stageIds"]}
    done = [s for sid, s in stages.items() if sid in sids and s["status"] == "COMPLETE"]
    last_done = max((_rest_time(s.get("completionTime")) or 0 for s in done), default=0)
    return {
        "exec.jobs": len(mine),
        "exec.stages": len(done),
        "exec.stages_skipped": sum(j.get("numSkippedStages", 0) for j in mine),
        "exec.tasks": sum(s["numTasks"] for s in done),
        "exec.run_s": sum(s.get("executorRunTime", 0) for s in done) / 1e3,
        "exec.cpu_s": sum(s.get("executorCpuTime", 0) for s in done) / 1e9,
        "exec.gc_s": sum(s.get("jvmGcTime", 0) for s in done) / 1e3,
        "exec.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in done),
        "exec.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in done),
        "exec.spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in done
        ),
        "exec.last_stage_end": last_done,
        "tables.input_bytes": sum(s.get("inputBytes", 0) for s in done),
        "tables.input_records": sum(s.get("inputRecords", 0) for s in done),
        "tables.scan_tasks": sum(s["numTasks"] for s in done if s.get("inputRecords", 0)),
    }


def jvm_live_heap_mb(spark, rounds: int = 10) -> float:
    """JVM heap in use after repeated full collections: what the driver
    still holds, independent of when the collector last ran.

    Python is collected first, so py4j releases the JVM objects of
    dropped DataFrames. Spark's ContextCleaner then frees broadcast and
    shuffle blocks only after a collection has shown them unreachable,
    so one collection read 25-35% high; readings settle after three to
    five collections 0.25 s apart. The lowest of ``rounds`` is taken."""
    gc.collect()
    lang = spark._jvm.java.lang
    heap = lang.management.ManagementFactory.getMemoryMXBean()
    lang.System.gc()
    lang.System.runFinalization()
    low = float("inf")
    for _ in range(rounds):
        lang.System.gc()
        low = min(low, heap.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.25)
    return low


CATALYST_PHASES = ("analysis", "optimization", "planning")


def catalyst_phases_ms(df) -> dict[str, float]:
    """Force the physical plan of ``df`` and return the time Catalyst
    spent in each phase (QueryPlanningTracker)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        out[f"catalyst.{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


STREAM_DURATIONS = {
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "queryPlanning": "streaming.query_planning_ms",
}


def streaming_listener(sink: list):
    """A StreamingQueryListener that appends every progress event's
    batch id, input rows and phase durations to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            sink.append({
                "t": _rest_time(p.timestamp),
                "rows": p.numInputRows,
                "durations": dict(p.durationMs),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Progress()


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    kind: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around the benchmark's own calls."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str, **attrs):
        sp = Span(len(self.spans), self._stack[-1] if self._stack else None,
                  name, kind, time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """kind -> summed self time (duration minus direct children)."""
        child_s: dict[int, float] = {}
        for sp in spans:
            if sp.parent is not None:
                child_s[sp.parent] = child_s.get(sp.parent, 0.0) + (sp.end - sp.start)
        out: dict[str, float] = {}
        for sp in spans:
            own = (sp.end - sp.start) - child_s.get(sp.id, 0.0)
            out[sp.kind] = out.get(sp.kind, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f)
