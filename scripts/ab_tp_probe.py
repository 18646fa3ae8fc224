#!/usr/bin/env python
"""Interleaved A/B: per-query `_tp` (scale-adaptive repartition) vs plain
`_t` scan, noop-sink timed in ONE session so co-tenant windows hit both
shapes equally. Monkeypatches __spark_entry__._tp between reps. A query
whose source does not call ``_tp(`` is skipped with a warning: patching
would compare plain against plain and report a false zero delta.

Usage: python scripts/ab_tp_probe.py [--sf DIR] [--reps N] q1 q2 ...
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import bench
    import __spark_entry__ as entrymod

    spark = bench.make_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    qs = entrymod.queries()
    real_tp = entrymod._tp
    results = {}
    for name in args.queries:
        if "_tp(" not in inspect.getsource(qs[name]):
            print(f"warning: {name} does not call _tp(; skipped",
                  file=sys.stderr, flush=True)
            continue
        times = {"tp": [], "plain": []}
        try:
            for rep in range(args.reps):
                for shape in ("tp", "plain"):
                    entrymod._tp = real_tp if shape == "tp" else entrymod._t
                    spark.sparkContext.setJobDescription(f"ab {name} {shape}")
                    t0 = time.perf_counter()
                    bench.force(qs[name](spark, args.sf))
                    times[shape].append(round(time.perf_counter() - t0, 3))
                    spark.catalog.clearCache()
        finally:
            entrymod._tp = real_tp
        results[name] = {
            k: {"best": min(v), "samples": v} for k, v in times.items()
        }
        print(json.dumps({"query": name, **results[name]}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
