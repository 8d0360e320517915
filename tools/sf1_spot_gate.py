"""sf1 (10×) oracle spot-gate for the heavy family (round-9 verdict
item 5).

The hash gate runs at sf0.01 (driver) and sf0.1 (parity sweep); bounds
that only trip beyond sf0.1 — BIGINT overflow in quantized sums,
bitmap width vs vocabulary, vocab-gate branch flips, the r9 sweep
spine tier (which first ENGAGES above 8192 vectors) — need one
cross-engine run at the ×10 corpus. This tool runs the vanilla-recipe
compare (insight_gp_import_spark.compare.compare — the same
schema/type/value protocol the driver hashes) for the ~15 heaviest ops
at /tmp/igis_sf1 (built by tools/make_sf_scale.py).

Each op runs in its OWN subprocess (``tools/ops.py check``) with a
per-op timeout: an op whose DuckDB oracle is itself quadratic
(dedup_cluster's recursive CTE was ~1 h at sf0.1 already) gets a
TIMEOUT row, not a silent skip. Before an op in ``ops.py``'s isolation
set, the gate waits for other Spark JVMs to exit.

Usage: python tools/sf1_spot_gate.py [sf10_dir] [--timeout SECS]
Emits one JSONL row per op and a final summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

# tools/ is the script's dir; importing ops also puts the repo on sys.path
from ops import isolated

from insight_gp_import_spark.registry import load_all_ops

OPS_CLI = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ops.py")

HEAVY_OPS = [
    # dedup family — banding/bitmap/spine machinery under 10× load
    "dedup_exact",
    "dedup_near_jaccard",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_phash_hamming",
    "dedup_embed_lsh",
    "embed_dedup_threshold_sweep",
    "dedup_survivor_quality",
    "dedup_cluster",
    "dedup_cluster_bigstar",
    # wedge-based graph ops — candidate volume grows superlinearly
    "graph_triangle_count",
    "graph_local_clustering",
    # the steepest bench scaler (q6) and the widest scalar-fn surface
    "stream_session",
    "fn_math",
]


def _live_spark_jvms() -> int:
    """Count OTHER live local Spark JVMs (r9 verdict item 7: the
    documented concurrent-session flake forced dedup_phash_hamming's
    sf1 row onto a manual isolated re-run). Python-worker/Arrow ops
    must not share the box with another driver JVM, so the gate
    waits for quiet before those ops and stamps `contended` into
    every row — a flake is then attributable from the artifact alone."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
        except OSError:
            continue
        if b"java" in cmd and (b"spark" in cmd or b"Spark" in cmd):
            n += 1
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf10", nargs="?", default="/tmp/igis_sf1")
    ap.add_argument("--timeout", type=int, default=2400)
    ap.add_argument("--ops", nargs="*", default=None)
    ap.add_argument("--quiet-wait", type=int, default=600,
                    help="max secs to wait for other Spark JVMs to exit "
                         "before an isolated op")
    args = ap.parse_args()

    ops = load_all_ops()
    names = args.ops or HEAVY_OPS
    unknown = [n for n in names if n not in ops]
    if unknown:
        ap.error(f"unknown op(s): {', '.join(unknown)}")
    results = []
    for name in names:
        if isolated(ops[name]):
            waited = 0
            while _live_spark_jvms() and waited < args.quiet_wait:
                time.sleep(10)
                waited += 10
        contended = _live_spark_jvms()
        t0 = time.perf_counter()
        try:
            proc = subprocess.run(
                [sys.executable, OPS_CLI, "check", name, "--sf", args.sf10],
                capture_output=True, text=True, timeout=args.timeout,
            )
            # r11: the row may not start its line — DuckDB's live-
            # oracle progress bar writes to stdout WITHOUT a trailing
            # newline, so the worker's JSON lands mid-line (the cause
            # of r11's false ERROR for dedup_phash_hamming, whose
            # direct re-run was hash-green). Locate the marker
            # anywhere in the line.
            out = []
            for ln in proc.stdout.splitlines():
                i = ln.find('{"op":')
                if i >= 0:
                    out.append(ln[i:])
            # Judge the JSON row, not the exit code: a FAIL row exits
            # non-zero, and so can a clean run on a py4j/JVM shutdown
            # race.
            row = None
            if out:
                # The marker heuristic can slice trailing garbage (the
                # same stdout-interleaving class it works around) or
                # match '{"op":' inside non-JSON text; a decode error
                # must cost THIS op's row, not abort the whole gate.
                try:
                    row = json.loads(out[-1])
                except json.JSONDecodeError:
                    row = None
            if row is None:
                row = {"op": name, "status": "ERROR",
                       "detail": (proc.stderr or proc.stdout)[-300:],
                       "secs": round(time.perf_counter() - t0, 1)}
        except subprocess.TimeoutExpired:
            row = {"op": name, "status": "TIMEOUT",
                   "secs": args.timeout}
        if contended:
            row["contended"] = contended
        results.append(row)
        print(json.dumps(row), flush=True)

    bad = [r for r in results if r["status"] != "PASS"]
    print(json.dumps({"summary": {"ok": len(results) - len(bad),
                                  "total": len(results), "bad": bad}}),
          flush=True)


if __name__ == "__main__":
    main()
