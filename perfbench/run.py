#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Workloads: ``analytics`` and ``etl-roundtrip`` (see README.md).  The run
generates its inputs from ``--seed``, sets up (Spark session, inputs,
one-time layouts, a warm pass that also checks every output, the
calibration job's warm-up), then repeats whole passes for ``--seconds``,
with a calibration sample between passes (calibrate.py), and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables the
Spark event log, per-operation job groups and spans, and reports the
per-layer metrics instead.  Everything the run writes stays under
``.perfbench/`` in the repository root, apart from the engine's own
``.scratch/`` tables.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("analytics", "etl-roundtrip")
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "suite_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
}
#: driver memory of the benchmark session (the engine default is 8g)
DRIVER_MEM = "1g"


def layer_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes") or name == "firebase.bytes_served":
        return "B"
    if name.endswith(("_yield", "concurrency", "bytes_per_json_byte")):
        return "ratio"
    return "count"


def _stop(spark) -> None:
    """Stop Spark, then end the JVM the session launched and wait for
    it: the gateway exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _parse(argv) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        from perfbench import calibrate, trace, workloads
        from firebase_realtime_database_backup_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench", args.workload)
    # Spark's block manager, PySpark and the JVM write temporary files;
    # keep them inside the checkout too (-XX:-UsePerfData: no
    # hsperfdata file under /tmp)
    tmp_dir = os.path.join(out_dir, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp_dir
    tempfile.tempdir = tmp_dir
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the engine's other session knobs keep their defaults, whatever the
    # environment holds
    for knob in ("SPARK_MASTER", "SPARK_GRAFT_CONF_JSON", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                 "SPARK_GRAFT_UI"):
        os.environ.pop(knob, None)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: peak RSS then does not depend on when the
        # collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
        ),
        "spark.local.dir": tmp_dir,
        "spark.sql.warehouse.dir": os.path.join(out_dir, "warehouse"),
    }
    event_dir = os.path.join(out_dir, "eventlog")
    if args.trace:
        import shutil

        shutil.rmtree(event_dir, ignore_errors=True)
        conf.update(trace.event_log_conf(event_dir))

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        tracer = trace.Tracer(enabled=bool(args.trace))
        common = (spark, args.seed, os.path.join(out_dir, "work"), tracer)
        if args.workload == "etl-roundtrip":
            wl = workloads.EtlRoundTrip(*common, parallelism=cores)
        else:
            wl = workloads.Analytics(workloads.ANALYTICS, *common)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        # peak RSS covers the timed passes only, not input generation,
        # the DuckDB checks or the warm pass
        pids = (os.getpid(), jvm_pid)
        trace.reset_peak_rss(*pids)
        wl.timed(args.seconds)
        py_mb, jvm_mb = trace.peak_rss_mb(*pids)
        print(f"perfbench: peak RSS python {py_mb:.0f} MB, jvm {jvm_mb:.0f} MB", file=sys.stderr)
        e2e = {"setup_s": setup_s, "peak_rss_mb": py_mb + jvm_mb}
        e2e.update(wl.metrics())
        layers = wl.layers()
    finally:
        _stop(spark)

    base_path = os.path.join(out_dir, f"untraced-{args.seed}.json")
    if args.trace:
        layers.update(wl.spark_layers(trace.parse_event_log(event_dir)))
        layers["trace.overhead_s"] = wl.overhead_s
        layers["calibration.ref_s"] = wl.cal.median_s()
        try:
            with open(base_path) as fh:
                delta = e2e["suite_s"] - json.load(fh)["suite_s"]
            print(f"perfbench: traced suite_s - untraced (seed {args.seed}): "
                  f"{delta:+.3f} s", file=sys.stderr)
        except (OSError, ValueError, KeyError):
            pass  # no untraced run of this seed in this checkout
        with open(os.path.join(out_dir, "spark_record.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "ops": wl.ops}, fh)
        names = workloads.LAYER_METRICS
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": layer_unit(n)} for n in names}
    else:
        with open(base_path, "w") as fh:
            json.dump({"seed": args.seed, "suite_s": e2e["suite_s"], "passes": wl.passes,
                       "calibration_s": wl.cal.samples}, fh)
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
        # for reference: unbounded, not in the result
        print(f"perfbench: calibration job median {wl.cal.median_s():.4f} s "
              f"(nominal {calibrate.NOMINAL_S} s)", file=sys.stderr)
        for name, value in wl.raw_metrics().items():
            print(f"raw {name:36s} {value:.6g} s", file=sys.stderr)
        if args.workload == "etl-roundtrip":
            for name, value in wl.stage_minima().items():
                print(f"{name:40s} {value:.6g} s", file=sys.stderr)

    out = wl.outcome
    for err in out.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
