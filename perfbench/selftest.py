"""Self-test of the benchmark at scale 0.001.

    python3 perfbench/selftest.py

One session runs each workload for two seeds the way ``run.py --trace 1
--seconds 0`` does (warm-up, then at least four measured passes, every
second one traced), then checks that:

- every metric named in BENCHMARK.json is printed with its unit, in both
  the untraced and the traced result;
- in each traced op, the child spans (build, plan, execute, sink) cover
  at least 90% of the op's wall time;
- both seeds give identical result hashes for every op;
- the input files match their checksums.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from types import SimpleNamespace

import run
from workloads import WORKLOADS

SCALE = 0.001
SEEDS = (1, 2)
COVERAGE = 0.90


def main() -> int:
    t_proc = time.time()
    os.chdir(run.ROOT)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    root_work = run.make_work_dir(f"selftest-{os.getpid()}")
    data_dir = os.path.join(run.DATA, f"sf{SCALE}")
    failures: list[str] = [f"input file differs from its checksum: {n}" for n in run.changed_inputs()]
    bench = None
    hashes: dict[tuple[str, int], dict[str, str]] = {}
    try:
        for workload in WORKLOADS:
            for seed in SEEDS:
                work = os.path.join(root_work, f"{workload}-{seed}")
                for sub in ("tmp", "local", "warehouse"):
                    os.makedirs(os.path.join(work, sub))
                args = SimpleNamespace(workload=workload, seed=seed, seconds=0, trace=1)
                if bench is not None and bench.loader:
                    bench.loader.close()
                bench = run.Bench(args, work, data_dir, t_proc, list(os.getloadavg()))
                bench.start()
                run_passes = bench.run()
                failed, notes = run.check_results(bench)
                if failed or bench.raised:
                    failures.append(f"{workload} seed {seed}: {bench.raised + notes}")
                hashes[(workload, seed)] = {n: h[-1] for n, h in bench.hashes.items()}
                for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                    args.trace = trace
                    _, result = run.summarise(bench, run_passes, failed, notes)
                    for m in spec[key]:
                        got = result["metrics"].get(m["name"])
                        if got is None or got.get("unit") != m["unit"]:
                            failures.append(f"{workload}: {key} metric {m['name']} printed as {got}")
                    extra = set(result["metrics"]) - {m["name"] for m in spec[key]}
                    if extra:
                        failures.append(f"{workload}: unlisted {key} metrics {sorted(extra)}")
                traced = bench.tracer.spans
                for sp in traced:
                    if sp.kind != "op":
                        continue
                    kids = sum(c.end - c.start for c in traced if c.parent == sp.id)
                    share = kids / (sp.end - sp.start)
                    if share < COVERAGE:
                        failures.append(
                            f"{workload}: op {sp.name} layers cover {share:.1%} of its wall time"
                        )
            if hashes[(workload, SEEDS[0])] != hashes[(workload, SEEDS[1])]:
                failures.append(f"{workload}: result hashes differ between seeds")
    finally:
        run.stop_spark(bench)
        shutil.rmtree(root_work, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest", "passed" if not failures else f"failed ({len(failures)})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
