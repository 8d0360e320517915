"""Dump explain("formatted") for a set of ops to <dir>/<op>_<tag>.txt.

Usage: python tools/snap_plans.py --ops a,b,c --tag before --dir plan-dumps
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ops", required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--dir", required=True)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from insight_gp_import_spark.registry import load_all_ops
    from insight_gp_import_spark.session import get_session

    spark = get_session(
        app_name="igis-snap-plans", master=f"local[{cpus}]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    ops = load_all_ops()
    os.makedirs(args.dir, exist_ok=True)
    for name in args.ops.split(","):
        df = ops[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(args.dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
