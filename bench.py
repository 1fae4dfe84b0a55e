#!/usr/bin/env python
"""Headline report over perfbench runs: the 12 headline queries against
their DuckDB twin, the lake ops and the 8 pipeline operators.

    python bench.py [--sf 0.1]

Runs ``perfbench/run.py`` once per workload (analytic, lake-rw, pipeline),
each in its own process, at a fixed seed and at ``BENCHMARK.json``'s
``run_seconds``: the session is ``session.get_spark`` as shipped, and every
result is checked against DuckDB. Then it times each headline query's
registry oracle in DuckDB, on tables ``perfbench/datagen.py`` writes at the
same scale factor, as often as the analytic run timed the query, after one
untimed run (the analytic run's warm-up cycle). Prints ONE JSON line:

- ``queries``: each headline query's median latency in the analytic run
  (``fn``, planning, execution and collect of a fresh Dataset); ``value``
  is their sum;
- ``duckdb_twin``: each oracle's median, and ``total``; ``ratio_vs_twin``
  is ``value`` over that total;
- ``lake_ops``: median latency per statement kind of the lake-rw run;
- ``pipeline_ops``: median latency per operator of the pipeline run;
- ``runs``: each run's ``correct``, ``attempted``, ``failed``, the first
  errors and wrong results, and its end-to-end metrics; ``correct`` is
  true only when every run's is;
- ``context`` and ``spark_confs``: the analytic run's host and session.

Exit code 1 when a run's results were wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.join(REPO, "perfbench")
SEED = 1
WORKLOADS = ("analytic", "lake-rw", "pipeline")


def perfbench(workload: str, sf: float, seconds: float) -> tuple:
    """(artifact, result line) of one perfbench run."""
    out = subprocess.run(
        [sys.executable, os.path.join(PERFBENCH, "run.py"),
         "--workload", workload, "--seed", str(SEED),
         "--seconds", str(seconds), "--sf", str(sf)],
        stdout=subprocess.PIPE, text=True, check=True,
    ).stdout
    lines = [json.loads(x) for x in out.splitlines() if x.startswith("{")]
    return lines[-2]["artifact"], lines[-1]


def duckdb_twin(sf: float, reps: dict) -> dict:
    """Median seconds of each query's registry oracle in DuckDB, timed
    ``reps[name]`` times after one untimed run."""
    sys.dont_write_bytecode = True  # leave no __pycache__ in perfbench/
    sys.path[:0] = [REPO, PERFBENCH]
    import check
    import datagen
    from ducktales_spark.registry import load_all

    specs = load_all()
    out = {}
    with tempfile.TemporaryDirectory(prefix="bench-twin-") as d:
        con = check.duck(datagen.write(sf, d))
        for name, n in reps.items():
            sql = specs[name].oracle
            con.execute(sql).fetchall()
            times = []
            for _ in range(n):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                times.append(time.perf_counter() - t0)
            out[name] = round(statistics.median(times), 4)
        con.close()
    return out


def p50s(artifact: dict) -> dict:
    return {k: round(v["p50_s"], 4)
            for k, v in artifact["latency_by_kind"].items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", type=float, default=0.1,
                   help="scale factor (default 0.1)")
    sf = p.parse_args(argv).sf
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    arts, runs = {}, {}
    for w in WORKLOADS:
        art, res = perfbench(w, sf, seconds)
        arts[w] = art
        runs[w] = {
            "correct": res["correct"],
            "attempted": res["attempted"],
            "failed": res["failed"],
            "errors": art["errors"],
            "wrong": art["wrong"],
            "metrics": {k: round(m["value"], 4)
                        for k, m in art["metrics"].items()},
        }
    queries = p50s(arts["analytic"])
    twin = duckdb_twin(sf, {k: v["n"] for k, v in
                            arts["analytic"]["latency_by_kind"].items()})
    twin["total"] = round(sum(twin.values()), 4)
    value = round(sum(queries.values()), 4)
    correct = all(r["correct"] for r in runs.values())
    print(json.dumps({
        "metric": "headline_query_p50_total",
        "value": value,
        "unit": "sec",
        "queries": queries,
        "duckdb_twin": twin,
        "ratio_vs_twin": round(value / twin["total"], 3),
        "lake_ops": p50s(arts["lake-rw"]),
        "pipeline_ops": p50s(arts["pipeline"]),
        "correct": correct,
        "runs": runs,
        "context": arts["analytic"]["context"],
        "spark_confs": arts["analytic"]["spark_confs"],
        "sf": sf,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
