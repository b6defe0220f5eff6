#!/usr/bin/env python3
"""Print the top-N operations of traced benchmark runs by Spark jobs,
scheduler idle time and shuffle bytes, after each workload's
jobs-per-operation distribution.

    python3 perfbench/summarize.py [--top 10] [RECORD.json ...]

A traced run (``run.py --trace 1``) writes its per-operation Spark
record to ``.perfbench/<workload>/spark_record.json``; with no argument
every such record is read.  Each operation's numbers are the median
over the run's timed passes.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COLUMNS = ("jobs", "stages", "tasks", "wall_s", "idle_s", "task_busy_s", "shuffle_bytes")


def load(paths: list[str]) -> dict[tuple[str, str], dict[str, float]]:
    """(workload, op) -> median of each column over the op's passes."""
    samples: dict[tuple[str, str], list[dict]] = defaultdict(list)
    for path in paths:
        with open(path) as fh:
            rec = json.load(fh)
        for op in rec["ops"]:
            op = dict(op)
            op["shuffle_bytes"] = op.get("shuffle_read_bytes", 0) + op.get(
                "shuffle_write_bytes", 0
            )
            samples[(rec["workload"], op["op"])].append(op)
    return {
        key: {c: statistics.median(o.get(c, 0) for o in ops) for c in COLUMNS}
        for key, ops in samples.items()
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("records", nargs="*")
    args = ap.parse_args(argv)
    paths = args.records or sorted(
        glob.glob(os.path.join(ROOT, ".perfbench", "*", "spark_record.json"))
    )
    if not paths:
        print("no spark_record.json found; run perfbench/run.py --trace 1 first")
        return 1
    table = load(paths)
    print("jobs per operation (compare a subset with the full query set)")
    for wl in sorted({wl for wl, _ in table}):
        jobs = [m["jobs"] for (w, _), m in table.items() if w == wl]
        print(
            f"{wl:14s} n={len(jobs):4d}  median {statistics.median(jobs):5.1f}  "
            f">=10 jobs: {sum(j >= 10 for j in jobs)}"
        )
    header = f"{'workload':14s} {'operation':34s} " + " ".join(f"{c:>13s}" for c in COLUMNS)
    for by in ("jobs", "idle_s", "shuffle_bytes"):
        print(f"\ntop {args.top} by {by}")
        print(header)
        rows = sorted(table.items(), key=lambda kv: kv[1][by], reverse=True)
        for (wl, op), m in rows[: args.top]:
            print(f"{wl:14s} {op:34s} " + " ".join(f"{m[c]:13.4g}" for c in COLUMNS))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
