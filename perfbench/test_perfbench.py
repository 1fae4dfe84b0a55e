"""The benchmark's own tests, on tiny sf0.01 runs of the real command.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import functools
import json
import os
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


@functools.lru_cache(maxsize=None)
def bench(workload: str, seed: int = 3, trace: int = 0, extra: tuple = (), rep: int = 0) -> tuple:
    """(artifact, result line) of one sf0.01 run, one cycle long; ``rep``
    tells apart repeated runs of the same arguments."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--sf", "0.01", *extra],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["artifact"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run_prints_every_metric_with_its_unit(workload):
    artifact, result = bench(workload)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.E2E_UNITS
    named = {**run.E2E_UNITS, **run.EXTRA_UNITS}
    if workload == "lake-rw":
        named.update(run.LAKE_UNITS)
    assert {k: v["unit"] for k, v in artifact["metrics"].items()} == named
    assert artifact["metrics"]["error_rate"]["value"] == 0
    for key in ("cores", "ram_bytes", "loadavg_pre", "python", "pyspark", "duckdb", "seed"):
        assert key in artifact["context"]
    assert artifact["spark_confs"]["spark.master"] == f"local[{artifact['context']['cores']}]"


def test_planted_wrong_result_counts_as_error():
    artifact, result = bench("analytic", 3, 0, ("--plant-wrong",))
    assert not result["correct"] and result["failed"] == 1
    assert artifact["metrics"]["error_rate"]["value"] == 1 / result["attempted"]


def test_same_seed_gives_the_same_op_stream():
    a = workloads.QueryWorkload(None, {}, "", workloads.ANALYTIC_OPS, 7, None)
    b = workloads.QueryWorkload(None, {}, "", workloads.ANALYTIC_OPS, 7, None)
    assert [a.cycle(i) for i in range(3)] == [b.cycle(i) for i in range(3)]
    assert a.cycle(0) != workloads.QueryWorkload(
        None, {}, "", workloads.ANALYTIC_OPS, 8, None).cycle(0)
    first, _ = bench("lake-rw", 5, 1)
    again, _ = bench("lake-rw", 5, 0)
    assert first["window"]["stream_sha1"] == again["window"]["stream_sha1"]
    assert first["window"]["stream_sha1"] != bench("lake-rw")[0]["window"]["stream_sha1"]


def test_lake_counts_repeat_for_a_seed():
    keys = ("exec.jobs", "storage.files_written", "storage.bytes_written", "metastore.tx_count")
    _, one = bench("lake-rw", 5, 1)
    _, two = bench("lake-rw", 5, 1, rep=1)
    assert {k: one["metrics"][k]["value"] for k in keys} == {
        k: two["metrics"][k]["value"] for k in keys}
    assert one["metrics"]["storage.files_written"]["value"] > 0


def test_traced_run_reports_layers_spans_and_overhead():
    artifact, result = bench("lake-rw", 5, 1)
    layers = {s["layer"] for s in artifact["spans"]}
    assert {"lake_sql", "catalog", "metastore", "exec", "catalyst"} <= layers
    assert artifact["tracing_overhead"]["tracer_s_per_op"] > 0
    assert result["metrics"]["metastore.tx_count"]["value"] > 0
    analytic, _ = bench("analytic", 3, 1)
    assert analytic["per_layer"]["op.d03_minhash_lsh.exec_s"] > 0
    assert analytic["per_layer"]["python.run_s"] > 0  # e01's mapInPandas kernel
    assert analytic["per_layer"]["catalog.stage_s"] == 0


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_generated_tables_are_the_test_data_tables(sf):
    with open(check.RECORDED) as f:
        want = json.load(f)["tables"][sf]
    got = {name: datagen.table_sha1(t) for name, t in datagen.tables(float(sf)).items()}
    assert got == want


def test_tail_leaves_ten_samples_above_it_but_never_falls_below_the_median():
    assert run.tail(list(range(54))) == (43, 81.48)
    prev = 0
    for n in range(1, 100):
        v, _ = run.tail(list(range(n)))
        assert v >= statistics.median(range(n)) and v - prev in (0, 1)
        prev = v


def test_benchmark_json_matches_the_command():
    with open(BENCH) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    _, traced = bench("lake-rw", 5, 1)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v["unit"] for k, v in traced["metrics"].items()}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
