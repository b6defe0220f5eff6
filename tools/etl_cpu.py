"""Wall time and process CPU time of each ETL stage, with no Spark.

Usage: python tools/etl_cpu.py [--rtt-ms 0,10] [--reps 5] [--scale 0.4]

Runs the benchmark's ETL round trip against its Firebase double
(`perfbench.firebase_double.IndexedFirebase`, the tree of
`perfbench.datagen.make_tree` for seed 1, at the benchmark's budgets) stage
by stage, with one extract thread per CPU the process may run on:

- backup: `api.do_backup` into a snapshot;
- incremental_backup: `extract_table` of the mutated tree, then
  `incremental_backup` against the snapshot;
- restore: `api.do_restore` of the snapshot into an empty double.

For each round-trip time it prints every stage's median wall time and
median process CPU time (`resource.getrusage(RUSAGE_SELF)`, user +
system, all threads) over `--reps` trips, after one untimed warm trip.
CPU near wall means the stage is bound by its Python work on the GIL,
not by its waits.  Every trip is checked: the restored store must equal
the source tree and the diff counts the mutation's.  The perfbench
modules are imported, never modified.
"""

from __future__ import annotations

import argparse
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from firebase_realtime_database_backup_spark import api  # noqa: E402
from firebase_realtime_database_backup_spark.sinks.incremental import (  # noqa: E402
    incremental_backup,
)
from firebase_realtime_database_backup_spark.sources.firebase import (  # noqa: E402
    extract_table,
)
from firebase_realtime_database_backup_spark.sources.tree import (  # noqa: E402
    canonical_json,
)
from perfbench import datagen, workloads  # noqa: E402
from perfbench.firebase_double import IndexedFirebase  # noqa: E402


def _cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def _trip(tree, mutated, expected, work, rtt_s):
    """One round trip; returns {stage: (wall_s, cpu_s)}."""
    parallelism = len(os.sched_getaffinity(0))

    def server(t):
        return IndexedFirebase(
            t,
            rtt_s=rtt_s,
            max_payload_bytes=workloads.GET_BUDGET,
            max_patch_bytes=workloads.PATCH_BUDGET,
        )

    src, src_new, dst = server(tree), server(mutated), server({})
    snap, delta = os.path.join(work, "snapshot"), os.path.join(work, "delta")
    for d in (snap, delta):
        shutil.rmtree(d, ignore_errors=True)

    def backup():
        api.do_backup(None, src, snap, parallelism=parallelism)

    def incremental():
        table = extract_table(src_new, parallelism=parallelism)
        return incremental_backup(None, table, snap, delta)

    def restore():
        api.do_restore(None, snap, lambda: dst)

    out, counts = {}, None
    for stage, run in zip(workloads.STAGES, (backup, incremental, restore)):
        wall0, cpu0 = time.perf_counter(), _cpu_s()
        result = run()
        out[stage] = (time.perf_counter() - wall0, _cpu_s() - cpu0)
        if stage == "incremental_backup":
            counts = result
    if canonical_json(dst.tree) != canonical_json(tree):
        raise SystemExit("restored store differs from the source tree")
    if counts != expected:
        raise SystemExit(f"diff counts {counts} != {expected}")
    return out


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--rtt-ms", default="0,10", help="comma-separated round-trip times")
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--scale", type=float, default=workloads.ETL_SCALE)
    args = p.parse_args(argv)

    tree = datagen.make_tree(1, args.scale)
    mutated, expected = datagen.mutate_tree(tree, 1)
    work = tempfile.mkdtemp(prefix="etl_cpu_")
    try:
        print(f"{'rtt_ms':>6} {'stage':<20} {'wall_s':>7} {'cpu_s':>7} {'cpu/wall':>8}")
        for rtt_ms in (float(x) for x in args.rtt_ms.split(",")):
            trips = [
                _trip(tree, mutated, expected, work, rtt_ms / 1000)
                for _ in range(args.reps + 1)
            ][1:]  # the first trip warms imports and caches
            for stage in workloads.STAGES:
                wall = statistics.median(t[stage][0] for t in trips)
                cpu = statistics.median(t[stage][1] for t in trips)
                print(f"{rtt_ms:>6g} {stage:<20} {wall:>7.3f} {cpu:>7.3f} {cpu / wall:>8.2f}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
