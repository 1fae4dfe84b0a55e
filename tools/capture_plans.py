#!/usr/bin/env python
"""Capture .explain('formatted') for every headline query into plans/<tag>/,
under the session as ``get_spark`` ships it. Each query runs once first, so
the file holds its final adaptive plan. Plan-build and Catalyst-phase times
come from ``perfbench/run.py --workload analytic --trace 1``
(``op.<name>.build_s``, ``catalyst.*``).

Usage: SPARK_GRAFT_SF_DIR=<dir> python tools/capture_plans.py <tag> [before|after]
Writes plans/<tag>/<query>_<suffix>.txt.
"""

from __future__ import annotations

import os
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in perfbench/
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

from ducktales_spark.registry import load_all  # noqa: E402
from ducktales_spark.session import get_spark  # noqa: E402
from workloads import ANALYTIC_OPS  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r15"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    specs = load_all()
    spark = get_spark("ducktales-plan-capture")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in ANALYTIC_OPS:
        df = specs[name].fn(spark, sf_dir)
        df.collect()  # AQE settles the final plan only when it executes
        plan = df._jdf.queryExecution().explainString(mode)
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)


if __name__ == "__main__":
    main()
