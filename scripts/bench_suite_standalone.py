#!/usr/bin/env python3
"""Relational-suite timing in a FRESH session with NO index build —
the round-2 regression bisect (VERDICT wrong #10): BENCH_r02 showed a
uniform 2-3x slowdown of unrelated suite rows at the same sf, in a
session that had also built 5x the docs. This runs ONLY the suite
rows (same list as bench.py) in a clean JVM so the per-query times
separate plan cost from session state (GC/page-cache debris from the
big build).

Usage: python scripts/bench_suite_standalone.py [--sf-dir D] [--cpus N]
Prints one JSON line {"queries": {...}, "total": s, ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int,
                    help="default: $SPARK_GRAFT_CPUS, else CPU affinity")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    import bench

    args.cpus = args.cpus or bench.host_cpus()
    spark = bench.make_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    queries = bench.bench_queries(spark, args.sf_dir)
    out = {
        "mode": "suite-only fresh session (no engine build)",
        "queries": queries,
        "total": round(time.time() - t0, 3),
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
