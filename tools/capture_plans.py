"""Capture .explain('formatted') for registered queries into plans/r08/.

Usage: python tools/capture_plans.py <suffix> [name1 name2 ...]
Writes plans/r08/<name>_<suffix>.txt under this checkout; with no names,
every registered query is captured.  The corpus is $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test corpus, as for bench.py).

Expression IDs (``#123``), exchange plan ids (``plan_id=12``) and RDD ids
(``RDD[345]``) are stripped: they number everything the process has
allocated so far, so they differ between any two captures.  With them
gone, captures of two commits over the same corpus can be diffed byte
for byte (``diff -r``) to prove a refactor left plans unchanged.  Run
both captures with the same PYTHONHASHSEED: a few queries order columns
by iterating a Python set.
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_COUNTERS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=RDD\[)\d+(?=\])")


def main() -> None:
    suffix = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from firebase_realtime_database_backup_spark.session import get_spark

    spark = get_spark(app_name="plan-capture")
    import __spark_entry__ as entry

    qs = entry.queries()
    names = sys.argv[2:] or sorted(qs)
    out_dir = os.path.join(REPO, "plans", "r08")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # capture the failure instead of dying
            plan = f"ERROR constructing {name}: {exc!r}"
        out = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(out, "w") as fh:
            fh.write(_COUNTERS.sub("", plan))
        print(name, "->", out, len(plan), "chars")


if __name__ == "__main__":
    main()
