#!/usr/bin/env python3
"""sparklake benchmark: one command for the ``analytic``, ``pipeline`` and
``lake-rw`` workloads.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

Boots ``session.get_spark`` sized from the host, warms up, times a fixed
number of whole seeded cycles of the workload (as many as take
``--seconds`` on the reference host), checks every
result against DuckDB outside the timed window, and prints two JSON lines:
the full artifact, then the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytic", "pipeline", "lake-rw")
TAIL_BEYOND = 10  # samples the tail percentile must leave above it
# the run's scratch directory at the repository root, which the run's own
# reads and writes stay inside; "<prefix><pid>-<random>"
SCRATCH_PREFIX = ".perfbench-"
# reported by every workload and bounded in BENCHMARK.json
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}
# in the artifact only: peak RSS varies by a third from run to run (the
# JVM heap grows when G1 decides to), more than any bound allows, and
# error_rate is the result line's failed / attempted
EXTRA_UNITS = {"peak_rss_mb": "MB", "error_rate": "fraction"}
LAKE_UNITS = {
    "write_p50_s": "s",
    "write_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, help="scale factor (default 0.1)")
    p.add_argument("--plant-wrong", action="store_true",
                   help="corrupt the first timed result, to test the checks")
    return p.parse_args(argv)


def tail(values: list) -> tuple:
    """(value, percentile): the highest percentile with at least
    TAIL_BEYOND samples above it, but never below the (upper) median, which
    is what it falls back to when there are too few samples."""
    xs = sorted(values)
    n = len(xs)
    i = max(n - TAIL_BEYOND - 1, n // 2)
    return xs[i], round(100.0 * (i + 1) / n, 2)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "ducktales_spark", "__init__.py")):
        print(f"perfbench: no ducktales_spark package in {ROOT}", file=sys.stderr)
        return 2
    t_main = time.perf_counter()
    _sweep_scratch()
    scratch = tempfile.mkdtemp(prefix=f"{SCRATCH_PREFIX}{os.getpid()}-", dir=ROOT)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    # everything the run writes lands under scratch, which is removed below
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
        "JAVA_TOOL_OPTIONS": " ".join(p for p in (
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        ) if p),
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    cwd = os.getcwd()
    os.chdir(scratch)
    spark = None
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import host

        artifact = {"context": host.context(ROOT, args.seed, args.workload)}
        artifact["session_env"] = host.size_session_env()
        t = time.perf_counter()
        sf_dir = os.path.join(scratch, "data")
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), sf_dir, str(args.sf)],
                       check=True)
        gen_s = time.perf_counter() - t
        from ducktales_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench")
        boot_s = time.perf_counter() - t
        artifact["spark_confs"] = host.spark_confs(spark)
        result = run(args, spark, sf_dir, scratch, artifact, boot_s, t_main, gen_s)
    finally:
        stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"artifact": artifact}, default=str))
    print(json.dumps(result))
    return 0


def run(args, spark, sf_dir, scratch, artifact, boot_s, t_main, gen_s) -> dict:
    import check
    import host
    import trace
    import workloads as wl
    from ducktales_spark.registry import load_all

    tracer = trace.Tracer(bool(args.trace))
    tracer.bind(spark)
    if tracer.enabled:
        tracer.install()
    specs = load_all()
    lake_dir = None
    t = time.perf_counter()
    if args.workload == "lake-rw":
        import pyarrow.parquet as pq

        from ducktales_spark.lake import connect

        spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
        lake_dir = os.path.join(scratch, "lake")
        work = wl.LakeWorkload(
            connect(f"lake:{lake_dir}", spark), lake_dir,
            pq.ParquetFile(f"{sf_dir}/orders.parquet").metadata.num_rows,
            pq.ParquetFile(f"{sf_dir}/customer.parquet").metadata.num_rows,
            args.seed, tracer,
        )
        stream = [work.seed_op()]
        _execute(work, stream[0])
    else:
        names = wl.ANALYTIC_OPS if args.workload == "analytic" else wl.PIPELINE_OPS
        work = wl.QueryWorkload(spark, specs, sf_dir, names, args.seed, tracer)
        stream = []
    t_seed = time.perf_counter() - t
    # warm-up: one whole cycle, executed (and, for the lake, replayed) but
    # not timed
    t = time.perf_counter()
    with tracer.span("session", "warmup"):
        for op in work.cycle(-1):
            _execute(work, op)
            stream.append(op)
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t_main - gen_s
    n_warm = len(stream)

    # -- the timed window: a fixed number of whole cycles ----------------
    if tracer.enabled:
        spark.sparkContext.setJobGroup("perfbench-window", "timed window")
        gc0, jobs0 = trace.gc_ms(spark), tracer.jobs()
    if lake_dir:
        s0, db0 = work.version(), _catalog_bytes(lake_dir)
    cycles = max(1, int(args.seconds // wl.NOMINAL_CYCLE_S[args.workload]))
    t_win = time.perf_counter()
    for cycle in range(cycles):
        for op in work.cycle(cycle):
            tracer.op = len(stream)
            _execute(work, op)
            tracer.op = None
            stream.append(op)
    wall_s = time.perf_counter() - t_win
    rss_mb = host.peak_rss_mb(os.getpid())
    timed = stream[n_warm:]
    if tracer.enabled:
        gc_s = (trace.gc_ms(spark) - gc0) / 1000.0
        jobs = tracer.jobs() - jobs0
        stages, tasks = trace.stage_task_counts(spark, "perfbench-window")
        tracer.uninstall()
    if args.plant_wrong:
        victim = next(op for op in timed if op.get("rows"))
        victim["rows"] = victim["rows"][:-1]

    # -- correctness, outside the window -----------------------------------
    if lake_dir:
        ok, con, user_rows = check.replay_lake(sf_dir, stream)
        final_ok = _final_head_ok(work, con)
        con.close()
        for op, good, ur in zip(stream, ok, user_rows):
            op["ok"], op["user_rows"] = good, ur
    else:
        qc = check.QueryChecker(specs, sf_dir, args.sf)
        keys = [qc.record(op["kind"], op["cols"], op["rows"]) if "rows" in op else None
                for op in timed]
        verdict = qc.verify()
        for op, k in zip(timed, keys):
            op["ok"] = k is not None and verdict[k]
        final_ok = True
    failed = sum(1 for op in timed if "error" in op or not op["ok"]) + (0 if final_ok else 1)
    attempted = len(timed)

    # -- end-to-end metrics ------------------------------------------------
    lat = [op["lat"] for op in timed]
    busy = sum(lat)
    completed = sum(1 for op in timed if "error" not in op)
    tail_v, tail_p = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": completed / busy,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_v,
        "peak_rss_mb": rss_mb,
        "error_rate": failed / attempted,
    }
    artifact["setup"] = {"boot_s": boot_s, "seed_s": t_seed, "warmup_s": warmup_s,
                         "datagen_s_excluded": gen_s}
    ops_text = json.dumps([(op["kind"], op.get("sql")) for op in stream])
    artifact["window"] = {"cycles": cycles, "wall_s": wall_s, "busy_s": busy,
                          "ops": attempted, "completed": completed,
                          "stream_sha1": hashlib.sha1(ops_text.encode()).hexdigest()}
    artifact["latency_tail"] = {"percentile": tail_p, "samples": len(lat)}
    by_kind: dict = {}
    for op in timed:
        by_kind.setdefault(op["kind"], []).append(op["lat"])
    artifact["latency_by_kind"] = {k: {"n": len(v), "p50_s": statistics.median(v), "total_s": sum(v)}
                                   for k, v in sorted(by_kind.items())}
    if lake_dir:
        e2e.update(_lake_metrics(work, timed, lake_dir, s0, db0, artifact))
    artifact["metrics"] = {k: {"value": v, "unit": {**E2E_UNITS, **EXTRA_UNITS, **LAKE_UNITS}[k]}
                           for k, v in e2e.items()}
    artifact["errors"] = [f"{op['kind']}: {op['error']}" for op in timed if "error" in op][:5]
    artifact["wrong"] = [op["kind"] for op in timed if "error" not in op and not op["ok"]][:5]
    if not final_ok:
        artifact["wrong"].append("final head")

    if tracer.enabled:
        layer = per_layer(tracer, timed, {
            "boot_s": boot_s, "warmup_s": warmup_s, "gc_s": gc_s, "jobs": jobs,
            "stages": stages, "tasks": tasks, "lake": artifact.get("lake", {}),
        })
        artifact["per_layer"] = layer
        artifact["spans"] = tracer.summary(tracer.timed())
        artifact["tracing_overhead"] = {
            "tracer_s_per_op": tracer.overhead_s / attempted,
            "share_of_busy": tracer.overhead_s / busy,
        }
        artifact["span_log"] = tracer.dump()
        metrics = {k: {"value": v, "unit": _layer_unit(k)}
                   for k, v in reported_layer_metrics(layer).items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _sweep_scratch() -> None:
    """Remove the scratch directories of runs that were killed before they
    could remove their own (the directory name carries the run's pid)."""
    for name in os.listdir(ROOT):
        if not name.startswith(SCRATCH_PREFIX):
            continue
        try:
            os.kill(int(name[len(SCRATCH_PREFIX):].split("-")[0]), 0)
        except ValueError:
            continue
        except ProcessLookupError:
            shutil.rmtree(os.path.join(ROOT, name), ignore_errors=True)
        except PermissionError:
            pass  # a live process of another user


def _execute(work, op: dict) -> None:
    work.prepare(op)
    t = time.perf_counter()
    try:
        work.execute(op)
    except Exception as e:  # counted in error_rate; the stream goes on
        op["error"] = f"{type(e).__name__}: {str(e)[:200]}"
    op["lat"] = time.perf_counter() - t
    if "error" not in op:
        work.finish(op)
    else:
        op.pop("fresh", None)


def _final_head_ok(work, con) -> bool:
    """The lake's final head, row for row, against the replayed table."""
    import numpy as np

    import workloads as wl

    lake = work.lake.sql(f"SELECT {wl.COLS} FROM o").toPandas()
    ref = con.execute(f"SELECT {wl.COLS} FROM o").df()
    if len(lake) != len(ref):
        return False
    lake = lake.sort_values("o_orderkey", ignore_index=True)
    ref = ref.sort_values("o_orderkey", ignore_index=True)
    for c in lake.columns:
        a, b = lake[c].to_numpy(), ref[c].to_numpy()
        if c == "o_totalprice":
            if not np.allclose(a, b, rtol=1e-9, atol=1e-6):
                return False
        elif c == "o_orderdate":
            if not (a.astype("datetime64[us]") == b.astype("datetime64[us]")).all():
                return False
        elif not (a == b).all():
            return False
    return True


def _catalog_bytes(lake_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(lake_dir, f))
               for f in os.listdir(lake_dir) if f.startswith("catalog.db"))


def _lake_metrics(work, timed, lake_dir, s0, db0, artifact) -> dict:
    import host
    import workloads as wl

    writes = [op["lat"] for op in timed if op["kind"] in wl.WRITE_KINDS]
    reads = [op["lat"] for op in timed if op["kind"] not in wl.WRITE_KINDS]
    lk = work.storage(s0)
    lk["db_bytes"] = _catalog_bytes(lake_dir)
    lk["bytes_written"] += max(0, lk["db_bytes"] - db0)
    lk["bytes_live"] = host.dir_bytes(lake_dir)
    lk["head_rows"] = work.lake.count("o")
    lk["user_rows"] = sum(op.get("user_rows", 0) for op in timed)
    lk["user_bytes"] = lk["user_rows"] * lk["bytes_per_row"]
    artifact["lake"] = lk
    wt, wp = tail(writes)
    rt, rp = tail(reads)
    artifact["write_tail"] = {"percentile": wp, "samples": len(writes)}
    artifact["read_tail"] = {"percentile": rp, "samples": len(reads)}
    return {
        "write_p50_s": statistics.median(writes),
        "write_tail_s": wt,
        "read_p50_s": statistics.median(reads),
        "read_tail_s": rt,
        "write_amp": lk["bytes_written"] / lk["user_bytes"] if lk["user_bytes"] else 0.0,
        "space_amp": lk["bytes_live"] / (lk["head_rows"] * lk["bytes_per_row"]),
    }


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


def per_layer(tracer, timed, counters) -> dict:
    """Per-layer metrics of the timed window. Times are seconds per timed
    op; counts and bytes are totals over the window; ``*_live`` and
    ``db_bytes`` are the state at the end."""
    import trace
    import workloads as wl

    n = len(timed)
    spans = tracer.timed()
    self_t = tracer.self_time(spans)

    def total(layer, name=None, attr=None):
        return sum((s[5] - s[4]) if attr is None else s[6].get(attr, 0)
                   for s in spans if s[2] == layer and name in (None, s[3]))

    def count(layer, name):
        return sum(1 for s in spans if s[2] == layer and s[3] == name)

    def layer_self(layer):
        return sum(self_t[s[0]] for s in spans if s[2] == layer)

    lake = counters["lake"]
    out = {
        "session.boot_s": counters["boot_s"],
        "session.warmup_s": counters["warmup_s"],
        "queries.build_s": total("queries", "build") / n,
        "queries.build_jobs": total("queries", "build", "jobs"),
    }
    for name in wl.ANALYTIC_OPS + wl.PIPELINE_OPS:
        mine = [op for op in timed if op["kind"] == name and "build_s" in op]
        out[f"op.{name}.build_s"] = statistics.median(op["build_s"] for op in mine) if mine else 0.0
        out[f"op.{name}.exec_s"] = (
            statistics.median(op["lat"] - op["build_s"] for op in mine) if mine else 0.0)
    out.update({
        "catalyst.analyze_s": total("catalyst", "analyze") / n,
        "catalyst.optimize_s": total("catalyst", "optimize") / n,
        "catalyst.physical_s": total("catalyst", "physical") / n,
        "catalyst.plan_nodes": total("exec", attr="plan_nodes"),
        "exec.run_s": total("exec") / n,
        "exec.jobs": counters["jobs"],
        "exec.stages": counters["stages"],
        "exec.tasks": counters["tasks"],
        "exec.shuffle_bytes": total("exec", attr="shuffle_bytes"),
        "exec.spill_bytes": total("exec", attr="spill_bytes"),
        "exec.gc_s": counters["gc_s"] / n,
        "python.boot_s": total("exec", attr="python_boot_ms") / 1000.0 / n,
        "python.run_s": total("exec", attr="python_run_ms") / 1000.0 / n,
        "python.bytes_sent": total("exec", attr="python_bytes_sent"),
        "lake_sql.execute_s": total("lake_sql") / n,
        "lake_sql.dispatch_s": layer_self("lake_sql") / n,
        "catalog.stage_s": total("catalog", "stage") / n,
        "catalog.commit_s": total("catalog", "commit") / n,
        "catalog.write_jobs": sum(total("catalog", k, "jobs")
                                  for k in ("stage", "commit", "maintenance")),
        "catalog.read_s": total("catalog", "read") / n,
        "catalog.maintenance_s": total("catalog", "maintenance") / n,
        "catalog.conflicts": sum(1 for s in spans if s[6].get("error") == "ConflictError"),
        "metastore.tx_count": count("metastore", "tx"),
        "metastore.tx_s": total("metastore", "tx") / n,
        "metastore.query_count": count("metastore", "query"),
        "metastore.query_s": total("metastore", "query") / n,
        "metastore.db_bytes": lake.get("db_bytes", 0),
        "storage.files_live": lake.get("files_live", 0),
        "storage.inlined_rows_live": lake.get("inlined_rows_live", 0),
        "storage.files_written": lake.get("files_written", 0),
        "storage.bytes_written": lake.get("bytes_written", 0),
        "storage.bytes_live": lake.get("bytes_live", 0),
        "storage.user_bytes": lake.get("user_bytes", 0.0),
    })
    for layer in trace.SPAN_LAYERS[1:]:
        out[f"{layer}.self_s"] = layer_self(layer) / n
    return out


def reported_layer_metrics(layer: dict) -> dict:
    """The per-layer metrics of the result line: all but the pipeline ops'
    own, which only the pipeline workload moves (they stay in the
    artifact)."""
    import workloads as wl

    skip = {f"op.{n}.{k}" for n in wl.PIPELINE_OPS for k in ("build_s", "exec_s")}
    return {k: v for k, v in layer.items() if k not in skip}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    every process the run started to exit."""
    if spark is None:
        return
    import host
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in host.tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in host.tree_pids(os.getpid()):
        if p != os.getpid():
            try:
                os.kill(p, 9)
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
