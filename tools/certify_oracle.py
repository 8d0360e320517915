"""Certify slow DuckDB oracles (round-4 verdict item 5).

The three dedup-cluster ops' oracles are DuckDB recursive CTEs that
take ~1 h EACH at sf0.1 (PARITY_r04.md) — 3+ h of every full parity
sweep is oracle-side, not Spark-side. This tool runs such an oracle
ONCE, normalizes its output exactly like the live comparison
(compare.normalize / type_family), and commits the result digest to
``insight_gp_import_spark/certified_oracles.json`` keyed by the
sha256 of the oracle SQL itself.

``compare.compare`` then uses the certificate INSTEAD of re-running
the oracle — same evidence (row count + schema family + value hash
of the identical normalized form), minutes instead of hours — and
falls back to the live oracle automatically the moment the SQL text
changes (sql_sha256 mismatch), so a certificate can never mask an
edited oracle.

Usage:
  python tools/certify_oracle.py <op> [<op> ...] [--sf sf0.01 sf0.1]
  python tools/certify_oracle.py --verify          # re-run + check all
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CERT_PATH = os.path.join(
    REPO, "insight_gp_import_spark", "certified_oracles.json"
)


def sql_sha(oracle: str) -> str:
    return hashlib.sha256(oracle.encode()).hexdigest()


def run_oracle(oracle: str, sf_dir: str) -> dict:
    from insight_gp_import_spark.compare import (
        declared_types,
        duckdb_connect,
        normalize,
        type_family,
    )

    t0 = time.time()
    con = duckdb_connect(sf_dir)
    try:
        # r11: the sf1 cluster-family oracles exceed the box's spill
        # budget under default settings (the first igis_sf1 mint died
        # on "No space left on device" at ~18 GB RSS). Certification
        # only hashes SORTED normalized rows (compare.normalize), so
        # insertion order is free to drop — that plus an explicit
        # memory ceiling keeps the big CTE pipelines in RAM instead of
        # on disk. These pragmas affect RESOURCE USE only, never
        # results; the live-compare path (compare.duckdb_connect) is
        # deliberately untouched — certificates must stay comparable
        # to what the driver's protocol would compute.
        # Default ceiling derives from the box's RAM (r11 advice: a
        # hard-coded 60GB OOM-kills smaller machines instead of letting
        # DuckDB spill). ~75% of physical RAM mirrors DuckDB's own
        # default proportion while leaving headroom for the Python
        # process.
        try:
            ram_gb = (os.sysconf("SC_PAGE_SIZE")
                      * os.sysconf("SC_PHYS_PAGES")) / 2**30
            con.execute(f"SET memory_limit='{max(1, int(ram_gb * 0.75))}GB'")
        except (ValueError, OSError, AttributeError):
            pass  # keep DuckDB's own default
        con.execute("SET preserve_insertion_order=false")
        d_types = declared_types(con, oracle)
        cur = con.execute(oracle)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    nc, nr = normalize(cols, rows)
    fams = [type_family(d_types[c]) for c in nc]
    payload = repr((nc, fams, nr)).encode()
    return {
        "rows": len(nr),
        "cols": nc,
        "type_families": fams,
        "sha256": hashlib.sha256(payload).hexdigest(),
        "oracle_secs": round(time.time() - t0, 1),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="*")
    ap.add_argument("--sf", nargs="+", default=["sf0.01", "sf0.1"])
    ap.add_argument("--verify", action="store_true")
    ap.add_argument("--out", default=CERT_PATH,
                    help="write certificates here instead (for concurrent "
                         "certification runs; merge shards with --merge)")
    ap.add_argument("--merge", nargs="+", default=None,
                    help="merge these shard json files into --out")
    ap.add_argument("--banded", action="store_true",
                    help="run the banded-equivalent oracle from "
                         "insight_gp_import_spark.banded_oracles instead of "
                         "the registered naive SQL (r11 verdict item 2: the "
                         "five sf1-infeasible dedup oracles). The minted "
                         "certificate still carries the REGISTERED oracle's "
                         "sql_sha256 — equivalence is proven row-identical "
                         "at sf0.01+sf0.1 by tests/test_certified_oracles.py "
                         "— plus banded_sql_sha256 and a minted_via pointer "
                         "so the provenance is in the artifact itself.")
    args = ap.parse_args()

    import insight_gp_import_spark.operators  # noqa: F401

    from insight_gp_import_spark.registry import REGISTRY

    certs: dict = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            certs = json.load(f)

    if args.merge:
        for shard in args.merge:
            with open(shard) as f:
                for op_name, by_sf in json.load(f).items():
                    certs.setdefault(op_name, {}).update(by_sf)
        with open(args.out, "w") as f:
            json.dump(certs, f, indent=1, sort_keys=True)
        print(f"merged {len(args.merge)} shards -> {args.out}")
        return 0

    if args.verify:
        from insight_gp_import_spark.banded_oracles import BANDED_ORACLES

        bad = 0
        for op_name, by_sf in certs.items():
            if op_name not in REGISTRY:
                # a certificate left behind by a renamed/removed op is
                # stale evidence, not a crash (mirrors the sql-sha branch)
                print(f"STALE {op_name}: op no longer registered")
                bad += 1
                continue
            oracle = REGISTRY[op_name].oracle
            for sf, cert in by_sf.items():
                if cert["sql_sha256"] != sql_sha(oracle):
                    print(f"STALE {op_name}@{sf}: oracle SQL changed")
                    bad += 1
                    continue
                # a banded-minted cert re-verifies through the banded
                # twin (the naive SQL is sf1-infeasible by design); a
                # drifted twin is stale evidence, same as a sha change
                run_sql = oracle
                if "banded_sql_sha256" in cert:
                    run_sql = BANDED_ORACLES.get(op_name)
                    if run_sql is None or sql_sha(run_sql) != cert["banded_sql_sha256"]:
                        print(f"STALE {op_name}@{sf}: banded twin changed")
                        bad += 1
                        continue
                sf_path = (
                    f"/root/testdata/{sf}"
                    if os.path.isdir(f"/root/testdata/{sf}")
                    else f"/tmp/{sf}"  # path-certified corpora (igis_sf1)
                )
                if not os.path.isdir(sf_path):
                    print(f"SKIP {op_name}@{sf}: corpus dir not present")
                    continue
                got = run_oracle(run_sql, sf_path)
                ok = got["sha256"] == cert["sha256"] and got["rows"] == cert["rows"]
                print(f"{'OK   ' if ok else 'DIFF '}{op_name}@{sf} "
                      f"[{got['oracle_secs']}s]")
                bad += 0 if ok else 1
        return 1 if bad else 0

    banded = {}
    if args.banded:
        from insight_gp_import_spark.banded_oracles import BANDED_ORACLES

        banded = BANDED_ORACLES

    for op_name in args.ops:
        o = REGISTRY[op_name]
        assert o.oracle, f"{op_name} has no oracle"
        if args.banded:
            assert op_name in banded, f"{op_name} has no banded twin"
        run_sql = banded.get(op_name, o.oracle) if args.banded else o.oracle
        for sf in args.sf:
            from insight_gp_import_spark.compare import sf_dir_digest

            # r10 (verdict item 5): an --sf argument containing "/" is
            # an explicit corpus dir (e.g. /tmp/igis_sf1); the cert is
            # keyed by its basename — exactly how compare.compare looks
            # certificates up, so the sf1 spot-gate hits it.
            sf_path = sf if "/" in sf else f"/root/testdata/{sf}"
            sf_key = os.path.basename(sf_path.rstrip("/"))
            cert = run_oracle(run_sql, sf_path)
            cert["sql_sha256"] = sql_sha(o.oracle)
            if args.banded:
                cert["banded_sql_sha256"] = sql_sha(run_sql)
                cert["minted_via"] = (
                    "banded-equivalent oracle "
                    "(insight_gp_import_spark/banded_oracles.py; proven "
                    "row-identical to the registered naive SQL at "
                    "sf0.01+sf0.1 by tests/test_certified_oracles.py)"
                )
            cert["sf_digest"] = sf_dir_digest(sf_path)
            cert["certified_utc"] = time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            )
            certs.setdefault(op_name, {})[sf_key] = cert
            with open(args.out, "w") as f:
                json.dump(certs, f, indent=1, sort_keys=True)
            print(f"certified {op_name}@{sf_key}: {cert['rows']} rows, "
                  f"oracle took {cert['oracle_secs']}s", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
