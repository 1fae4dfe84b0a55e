"""bench.py end to end at sf0.001: one JSON line with the headline, lake
and pipeline sections, a DuckDB-twin ratio, and every perfbench run behind
it correct."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_reports_three_sections_from_correct_perfbench_runs():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--sf", "0.001"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout[-3000:]
    line = json.loads(lines[0])
    assert {"metric", "value", "unit", "sf"} <= set(line)
    assert line["sf"] == 0.001
    assert len(line["queries"]) == 12
    assert set(line["duckdb_twin"]) == set(line["queries"]) | {"total"}
    assert isinstance(line["ratio_vs_twin"], float) and line["ratio_vs_twin"] > 0
    assert {"merge", "update", "delete", "read_head"} <= set(line["lake_ops"])
    assert len(line["pipeline_ops"]) == 8
    assert set(line["runs"]) == {"analytic", "lake-rw", "pipeline"}
    for name, run in line["runs"].items():
        assert run["correct"] and run["failed"] == 0, (name, run)
    assert line["correct"]
    assert line["context"]["cores"] >= 1 and line["spark_confs"]
