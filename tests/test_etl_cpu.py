"""Smoke test of `tools/etl_cpu.py`: one checked round trip per stage
against the benchmark's Firebase double, at a tiny tree and 0 ms RTT."""

import importlib.util
from pathlib import Path

from perfbench.workloads import STAGES

TOOL = Path(__file__).resolve().parents[1] / "tools" / "etl_cpu.py"


def test_etl_cpu_prints_each_stage(capsys):
    spec = importlib.util.spec_from_file_location("etl_cpu", TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    tool.main(["--rtt-ms", "0", "--reps", "1", "--scale", "0.01"])
    lines = capsys.readouterr().out.splitlines()
    assert lines[0].split() == ["rtt_ms", "stage", "wall_s", "cpu_s", "cpu/wall"]
    rows = [line.split() for line in lines[1:]]
    assert [r[1] for r in rows] == list(STAGES)
    assert all(r[0] == "0" and float(r[2]) > 0 and float(r[3]) > 0 for r in rows)
