#!/usr/bin/env python
"""Replicate bench.py's measurement protocol (cold pass + 3 warm passes,
per-query min) for a SUBSET of queries, in a fresh process — the builder's
driver-context A/B tool (r14). Unlike qtime.py this preserves bench.py's
in-run NEIGHBORHOOD (queries run in bench order, interleaved by pass, same
session factory), which r13 showed matters (allocator churn, worker-pool
state). Official numbers still come from bench.py.

Usage: python tools/subset_bench.py name1 name2 ... [--label TAG]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS honored exactly like bench.py.
Prints one JSON line: {"label":..., "cold": {...}, "warm_min": {...}}.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--label", default="subset")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    from labelspark_spark.queries import REGISTRY

    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown query names: {', '.join(unknown)}")

    from labelspark_spark import get_spark_session

    spark = get_spark_session(app_name="subset-bench")
    spark.range(1).count()

    cold: dict[str, float] = {}
    for name in args.names:
        fn, _ = REGISTRY[name]
        t0 = time.perf_counter()
        fn(spark, SF_DIR).count()
        cold[name] = round(time.perf_counter() - t0, 3)
        print(f"# cold {name}: {cold[name]:.3f}s", file=sys.stderr)

    warm: dict[str, float] = {}
    for p in range(args.passes):
        for name in args.names:
            fn, _ = REGISTRY[name]
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            dt = round(time.perf_counter() - t0, 3)
            warm[name] = min(warm.get(name, dt), dt)
            print(f"# warm{p + 1} {name}: {dt:.3f}s", file=sys.stderr)

    print(
        json.dumps(
            {
                "label": args.label,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
                "cold": cold,
                "warm_min": warm,
                "cold_total": round(sum(cold.values()), 3),
                "warm_total": round(sum(warm.values()), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
