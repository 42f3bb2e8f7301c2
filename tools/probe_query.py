#!/usr/bin/env python3
"""Time one or more named ``queries()`` entries repeatedly, cold-cache.

Usage:  python tools/probe_query.py <query> [query ...] [--sf DIR] [--n N]

Prints the min/median per query and the breakdown of one more, traced
run (driver time, jobs, task CPU, job seconds per library layer, index
builds; see ``bench.time_rows``), then all of it as one JSON line.  The
host shows bursty CPU steal (the same query can measure 4s quiet / 40s
during a burst), so a single bench number is meaningless without a
steady-state floor to compare to.
"""
import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=5)
    args = ap.parse_args()

    import bench

    qs = bench.entrymod.queries()
    rows, _ = bench.time_rows(
        [(name, qs[name], args.sf) for name in args.queries], runs=args.n, app_name="probe"
    )
    for name, r in rows.items():
        print(
            f"{name}: min={r['min']:.2f}s median={r['median']:.2f}s "
            f"max={max(r['runs']):.2f}s n={args.n}",
            flush=True,
        )
        print(f"  breakdown: {json.dumps(r['breakdown'])}", flush=True)
    print(json.dumps(rows))


if __name__ == "__main__":
    main()
