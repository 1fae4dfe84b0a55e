#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is executed to completion (count of the result) — collect() of
wide results would measure Arrow transfer to the driver, not the engine.
Plan construction (py4j + Catalyst analysis, data-size-independent) is timed
once and reported separately as plan_build; the headline value is prepared-
plan execution, the quantity comparable across SFs and engines.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Headline set: scan-agg, join chain, left-join agg, multikey agg, window
# top-k, sort-limit, exact dedup, jaccard near-dup, minhash LSH, text
# quality, cosine top-k, tumbling window.
# Repeat-until-stable-min parameters, shared by the Spark side and the
# DuckDB twin so the comparison stays symmetric: at least _MIN_REPS
# measurements, then keep going until the per-query min hasn't improved by
# more than _STABLE_TOL for _STABLE_FOR consecutive reps (cap _MAX_REPS).
_MIN_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "12"))
_MAX_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_REPS", "32"))
_STABLE_FOR = 4
_STABLE_TOL = 0.02

HEADLINE = [
    "q1_pricing_summary",
    "j01_inner_join_revenue_by_region",
    "j02_left_join_coalesce",
    "a09_groupby_multikey",
    "w02_topk_per_group",
    "o01_sort_limit_topk",
    "d01_dedup_exact",
    "d02_ngram_jaccard",
    "d03_minhash_lsh",
    "t02_quality_score",
    "e01_cosine_topk",
    "x02_event_windows",
]

# Non-headline pipeline operators (r15 verdict item 1): the LLM-data-pipeline
# surfaces where the recent optimization work actually lives (exact/fuzzy
# decontamination, packing, connected components, media kernels, IVF family,
# vector-index build+probe). None is in the HEADLINE set, so without this
# section a regression in any of them would be driver-invisible. Timed in a
# separate additions-only section ("pipeline_ops" in the artifact) with the
# SAME prepared-exec min-of-reps protocol as the headline queries; the
# headline metric and its cross-round comparability are untouched. For the
# scenario ops (g01's convergence loop, e02's centroid collect, v01's index
# build) the builder fn() itself runs Spark jobs; that scenario cost is
# reported separately per op in "pipeline_ops_build" — the exec number is
# the first execution of the final prepared plan, matching the headline
# metric's definition (v01's exec is therefore its PROBE, per the verdict).
PIPELINE_OPS = [
    "c01_decontaminate",
    "c04_pack_strict",
    "c05_decontaminate_fuzzy",
    "c07_decontaminate_both",
    "g01_dedup_components",
    "m02_media_features",
    "e02_ivf_family",
    "v01_vector_index_probe",
]


_LOAD_WARN = float(os.environ.get("SPARK_GRAFT_LOAD_WARN", "4.0"))

# The calibrated sf0.1 ratio band from the committed corrected-harness
# samples (see README's bench section for the runs behind it) —
# echoed into every sf0.1 artifact so a reader of a load-flagged (or
# simply lucky) single sample sees the disclosed range next to the noisy
# point estimate instead of quoting the point alone. Re-measure and
# update when the harness or the engine changes materially.
# r16 recalibration at the round's final engine state (nine calm full
# runs with cooldowns; one load-flagged sample excluded): ratios 1.43 /
# 1.44 / 1.44 / 1.48 / 1.50 / 1.50 / 1.51 / 1.54 / 1.55 — the whole band
# moved below the r15 1.62-1.81 range measured before this round's
# engine changes. (The last three samples are post-fusion final-HEAD
# runs; the g01 loop fusion touches only the non-headline pipeline
# section, so pre- and post-fusion headline samples pool.)
_DISCLOSED_BAND_SF01 = [1.43, 1.55]


def _load1() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ducktales_spark.registry import load_all
    from ducktales_spark.session import get_spark

    specs = load_all()
    # Dual-pass, load-symmetric measurement. A single twin pass timed before
    # the JVM exists (the memory-isolation rationale: a live 128 GB heap
    # inflates a CONCURRENT twin ~10x) gave the twin whatever the host load
    # happened to be at t=0 and Spark the load minutes later — on a host
    # whose load drifts during the run, that asymmetry moves the ratio by
    # itself (r13: twin total fell 15% while every Spark query rose ~10%
    # under loadavg 3.5 -> 5.0, same code). So each engine now gets TWO
    # passes bracketing the other's — twin, Spark, twin, Spark — and the
    # per-query min across its passes. Whichever direction load drifts,
    # both engines get a sample from the quieter window; the second twin
    # pass runs with the JVM alive but IDLE (all Spark jobs complete),
    # where the min-rule makes any residual memory-pressure inflation
    # harmless (it can only lose to pass 1).
    loads: dict[str, float | None] = {}
    loads["twin_pass1"] = _load1()
    twin = duckdb_twin(specs, sf_dir)
    spark = get_spark("ducktales-bench")
    floor_binding = tune_for_input(spark, sf_dir)

    # Steady-state warmup: a long-lived cluster has the JVM JIT'd, the Janino
    # codegen class cache populated, the Python worker pool + Arrow path live,
    # and the page cache warm. Run every headline query once AT THE TARGET SF
    # so the timed runs measure engine throughput, not one-time compile cost.
    # This also primes the engine's driver-side memos (parquet footer/schema
    # resolution in data._SCAN_CACHE, e01's query-vector collect) so the
    # plan_build numbers below report the steady-state REBUILD cost — the
    # quantity the metric claims ("a fixed driver-side cost ... amortized to
    # zero by any workload that reuses a plan"), not first-touch metadata I/O.
    # The timed exec mins are unaffected either way (min over 12+ reps).
    spark.range(1024).mapInPandas(lambda it: it, "id long").count()
    spark.range(16).toPandas()
    for name in HEADLINE:
        specs[name].fn(spark, sf_dir).count()

    # Build (DataFrame construction + analysis + Catalyst optimization +
    # physical planning of the count plan) is timed ONCE per query and
    # reported separately in plan_build: it is py4j + Catalyst work — a
    # fixed driver-side cost independent of data volume, amortized to zero
    # by any real workload that reuses a plan (and irrelevant at 100 TB).
    # The headline metric times EXECUTION of the prepared plan, which is
    # the quantity that scales with SF and is comparable to the DuckDB
    # twin's sub-ms-parse + execute. (Until r14 the timed window silently
    # INCLUDED re-optimization + physical planning, because .count()
    # constructs a new Dataset — and therefore re-plans — on every call:
    # ~0.3 s across the sf0.1 suite, 0.14 s of it d03's ~500-operator
    # tree, contradicting the metric's stated definition. spark_pass now
    # forces planning outside the window; see _prepared_exec.)
    # min-of-N (r15 verdict item 5): the one-shot sample this used to be is
    # JIT/GC-noisy (measured 2.23 s one-shot vs 0.895 s min-of-7 in the same
    # session), so plan_build now reports the per-query MIN over
    # SPARK_GRAFT_PLAN_REPS rebuilds — the steady-state rebuild cost the
    # metric's definition claims. The first rebuild's numbers (the old
    # one-shot quantity, comparable to pre-r16 artifacts) are kept in
    # plan_build_first/plan_build_first_total.
    plan_reps = int(os.environ.get("SPARK_GRAFT_PLAN_REPS", "5"))
    build: dict[str, float] = {}
    build_first: dict[str, float] = {}
    for rep in range(plan_reps):
        for name in HEADLINE:
            t0 = time.perf_counter()
            _prepared_exec(specs[name].fn(spark, sf_dir))
            dt = round(time.perf_counter() - t0, 3)
            if rep == 0:
                build_first[name] = dt
            build[name] = min(build.get(name, dt), dt)

    # Repeat-until-stable-min timed runs at the target SF: the host has heavy
    # EXTERNAL load noise (loadavg spikes >10 with nothing of ours running;
    # the same prepared d03 plan measures anywhere from 1.2 s to 7 s run to
    # run), so a fixed rep count reports whatever the load happened to be,
    # not the engine. Instead each query repeats until its min stops
    # improving (>2% for _STABLE_FOR consecutive reps), which converges on
    # the achievable steady-state rate for BOTH engines — the DuckDB twin
    # uses the identical rule (see duckdb_twin).
    timings: dict[str, float] = {}
    loads["spark_pass1"] = _load1()
    spark_pass(spark, specs, sf_dir, timings)
    # per-pass totals are recorded alongside the merged mins so a reader
    # can see which pass won and how much the bracketing changed the number
    pass_totals = {
        "twin": [twin["total"]],
        "spark": [round(sum(timings.values()), 3)],
    }
    # bracketing passes (see the dual-pass note above): twin again with the
    # JVM idle, then Spark again — per-engine min across passes.
    # SPARK_GRAFT_BENCH_PASSES=1 opts out for the long manual SF runs
    # (sf10's twin alone is minutes per pass); the driver's per-round sf0.1
    # artifact always uses the full dual-pass protocol.
    if int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")) >= 2:
        loads["twin_pass2"] = _load1()
        twin2 = duckdb_twin(specs, sf_dir)
        pass_totals["twin"].append(twin2["total"])
        for k, v in twin2.items():
            twin[k] = min(twin[k], v) if k in twin else v
        loads["spark_pass2"] = _load1()
        sp2: dict[str, float] = {}
        spark_pass(spark, specs, sf_dir, sp2)
        pass_totals["spark"].append(round(sum(sp2.values()), 3))
        for k, v in sp2.items():
            timings[k] = min(timings[k], v) if k in timings else v
    twin["total"] = round(sum(v for k, v in twin.items() if k != "total"), 3)

    matched = round(
        sum(v for k, v in timings.items() if k in twin), 3
    )
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Host-state context: identical code has measured 1.45x-2.3x across
    # runs of this suite purely from external load/CPU-steal shifts (a
    # uniform ~20% move of EVERY query, both engines, on an idle loadavg).
    # Recording the 1/5/15-min loadavg at emit time — plus the 1-min value
    # at the start of each timed pass — lets a reader judge whether a given
    # artifact was a calm-host or noisy-host sample. load_warning flags a
    # sample where ANY timed pass started above the threshold (default 4.0;
    # the r13 outlier artifacts were all load>4.5 samples): such a sample
    # should not be committed as a headline artifact.
    try:
        loadavg = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        loadavg = None
    # The gate keys on the PRE-RUN loadavg only (captured before any bench
    # work): mid-run samples are dominated by our OWN 32-thread passes
    # (both engines saturate the host by design), so they cannot
    # distinguish external contention. The per-pass values are still
    # recorded for context — a mid-run spike far above the self-load
    # plateau is visible to a reader.
    pre = loads.get("twin_pass1")
    load_warning = bool(pre is not None and pre > _LOAD_WARN)
    if load_warning:
        print(
            f"WARNING: pre-run loadavg {pre} exceeds {_LOAD_WARN}; the host "
            "is externally loaded — treat this sample as noise, do not "
            "commit it as a headline artifact",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "plan_build": build,
                "plan_build_total": round(sum(build.values()), 3),
                "plan_build_reps": plan_reps,
                # first-rebuild sample = the pre-r16 one-shot quantity,
                # kept for cross-round comparability
                "plan_build_first": build_first,
                "plan_build_first_total": round(
                    sum(build_first.values()), 3
                ),
                "duckdb_twin": twin,
                "spark_matched_total": matched,
                "ratio_vs_twin": (
                    round(matched / twin["total"], 2) if twin.get("total") else None
                ),
                # calibrated range from the committed samples at this SF
                # (sf0.1 only) — read a flagged/lucky point against this
                "disclosed_band": (
                    _DISCLOSED_BAND_SF01 if sf == "0.1" else None
                ),
                "lake_ops": lake_ops(spark, sf_dir),
                "pipeline_ops": (pipe := pipeline_ops_pass(spark, specs, sf_dir))[
                    "exec"
                ],
                "pipeline_ops_build": pipe["build"],
                # the non-stock session configs tune_for_input applied —
                # echoed so every artifact records exactly what it ran
                # under (see README's bench section for the measured
                # justification of each)
                "session_configs": {
                    k: spark.conf.get(k)
                    for k in (
                        "spark.sql.shuffle.partitions",
                        "spark.sql.files.maxPartitionBytes",
                        "spark.sql.adaptive.enabled",
                        "spark.sql.constraintPropagation.enabled",
                    )
                },
                # Scaling-probe contract (r15 verdict item 2): the session
                # honors $SPARK_GRAFT_CPUS (session.py builds
                # local[$SPARK_GRAFT_CPUS]), but tune_for_input sizes
                # shuffle partitions by INPUT volume with a floor of 8 — so
                # at an SF small enough for the floor to bind, an 8-core and
                # a 32-core run execute identical 8-task stages and per-query
                # ratios land ~1 BY CONSTRUCTION, not because the core count
                # is ignored. These fields let the driver's scaling probe
                # tell the two apart: when partition_floor_binding is true
                # at this SF, ~1 ratios carry no scaling signal (run the
                # low-core comparison at an SF with >= 2x cores of work —
                # sf1 via tools/replicate_sf.py — to see real scaling).
                "cpus": spark.sparkContext.defaultParallelism,
                "partition_floor_binding": floor_binding,
                "loadavg": loadavg,
                "loadavg_passes": loads,
                "pass_totals": pass_totals,
                "load_warning": load_warning,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


def _prepared_exec(df):
    """The query's count plan, fully PLANNED (analysis + optimization +
    physical planning forced via executedPlan) but not yet executed.
    Executing this object's collect() is the metric's quantity: first
    execution of a prepared plan. A FRESH object per rep is mandatory —
    re-executing an already-executed object skips every computed shuffle
    stage (map outputs live with the RDD graph; measured d03 0.037 s
    same-object vs 0.67 s fresh at sf0.1) — and Spark has no cross-plan
    exchange cache, so fresh objects never share stage outputs.

    The prepare phase must launch ZERO Spark jobs, asserted via the
    DAGScheduler's total-job counter: today that holds because AQE is off
    for this suite, but executedPlan() on an AQE plan MATERIALIZES query
    stages — if AQE were ever re-enabled here, the 'prepared' window
    would silently include execution and the metric would be gamed
    (r14 verdict watch item). The assert makes that regression loud."""
    sc = df.sparkSession.sparkContext
    jobs0 = sc._jsc.sc().dagScheduler().numTotalJobs()
    cagg = df.groupBy().count()
    cagg._jdf.queryExecution().executedPlan()
    jobs1 = sc._jsc.sc().dagScheduler().numTotalJobs()
    assert jobs1 == jobs0, (
        f"prepare phase launched {jobs1 - jobs0} Spark job(s): planning "
        "is executing work (AQE re-enabled for the bench?) — the timed "
        "window no longer measures what the metric claims"
    )
    return cagg


def spark_pass(spark, specs, sf_dir: str, timings: dict) -> None:
    """One repeat-until-stable-min Spark pass; merges per-query mins into
    ``timings`` (so a second pass can only improve a query's number).
    Queries that persist() intermediates leave cache entries behind; clear
    them between repeats so later rounds aren't measured under accumulated
    memory pressure."""
    stable: dict[str, int] = {name: 0 for name in HEADLINE}
    for rep in range(_MAX_REPS):
        live = [
            n
            for n in HEADLINE
            if rep < _MIN_REPS or stable[n] < _STABLE_FOR
        ]
        if not live:
            break
        spark.catalog.clearCache()
        for name in live:
            # Prepare AND plan OUTSIDE the timed window (see
            # _prepared_exec); the timed quantity is the first execution
            # of the prepared plan — matching the metric's definition and
            # the twin's sub-ms-parse + execute split.
            cagg = _prepared_exec(specs[name].fn(spark, sf_dir))
            t0 = time.perf_counter()
            cagg.collect()
            dt = round(time.perf_counter() - t0, 3)
            prev = timings.get(name)
            if prev is None or dt < prev * (1 - _STABLE_TOL):
                stable[name] = 0
            else:
                stable[name] += 1
            timings[name] = dt if prev is None else min(prev, dt)


def tune_for_input(spark, sf_dir: str) -> bool:
    """Size shuffle parallelism and scan splits to the input volume — the
    per-deployment sizing pass any real cluster job does (a 40 MB input has
    no business launching 32-task stages; a multi-TB one would raise these,
    not lower them). Rule: one shuffle partition per ~4 MB of raw input,
    clamped to [8, defaultParallelism]; scan splits sized so the largest
    table still produces at least defaultParallelism tasks (floor 16 MB,
    cap 128 MB = Spark's default). Returns whether the floor binds: true
    when it raised the count above min(cores, input-sized count)."""
    total = 0
    largest = 0
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            sz = os.path.getsize(os.path.join(sf_dir, f))
            total += sz
            largest = max(largest, sz)
    cores = spark.sparkContext.defaultParallelism
    # ~12 MB of raw input per shuffle partition (was 4 MB): per-task
    # scheduling costs ~2-4 ms on this host, so a ~100 MB input at 25
    # partitions pays more in task dispatch than in work — measured
    # sf0.1 min-of-6 with 25 -> 8 partitions: d02 1.20 -> 0.58 s, d01
    # 0.21 -> 0.09 s, a09 0.28 -> 0.19 s, j01 0.22 -> 0.12 s, q1 0.22 ->
    # 0.11 s; no query measured slower. Large inputs still clamp to all
    # cores (sf10 stays at 32), where per-partition bytes — not task
    # count — is the binding constraint.
    sized = min(cores, total // (12 << 20) or 1)
    parts = max(8, sized)
    # two scan waves per core, not one: with a single wave only the LARGEST
    # table fills the cluster — every smaller fact table scans at a
    # fraction of the cores (orders at sf10: 6 tasks on 32 cores). Measured
    # sf10: j01 1.01 -> 0.85 s, six-query scan-bound total -7%.
    split = max(16 << 20, min(128 << 20, largest // (2 * cores) or 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    # AQE off for this suite — measured at every SF, for two distinct
    # reasons, both properties of the workload rather than the data size:
    # * small inputs: AQE's per-stage finalization (materialize ->
    #   re-optimize -> resubmit, driver-side) costs ~50-100 ms per shuffle
    #   stage with nothing to re-plan (sf0.1 headline total 2.92 s -> ~2.2 s);
    # * large inputs: AQE's partition coalescing sizes post-shuffle
    #   partitions by shuffle-READ bytes, but the dedup band joins read
    #   compact sketches and EXPLODE downstream (pair expansion), so
    #   coalescing serializes the heavy work — measured sf10 d03: AQE on
    #   17.5-37 s, AQE on + coalescePartitions off 7.7 s, AQE off 8.0 s.
    # The static ReuseExchange rule still deduplicates the self-join
    # subtrees (asserted in tests/test_plans.py), so nothing is recomputed.
    # On a real cluster the same analysis applies per workload: skew-join
    # stays valuable for skewed joins, but coalescing must be disabled for
    # exploding-join stages, and none of the headline plans has a skewed
    # key by construction (DF caps / banding bound every join key).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # Constraint propagation spends driver time deriving isNotNull/filter
    # constraints across every operator of every plan — O(plan size), paid
    # inside each timed run (count() re-plans), worth ~5-15 ms per query
    # here and ~100 ms on the 97-aggregate sketch plans (measured paired:
    # headline total 2.07 -> 2.01). Verified with a plan diff over the
    # whole headline set: the ONLY change with it off is dropped inferred
    # IsNotNull filters, which are redundant for these queries (inner-join
    # keys and compared columns shed their nulls in the join/filter itself)
    # — so this also removes dead per-row null checks from the scan hot
    # path. A workload whose correctness-neutral IsNotNull pushdowns
    # actually prune row groups (sparse nullable columns) should leave it
    # on.
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    return parts > sized


def duckdb_twin(specs, sf_dir: str) -> dict:
    """Time each headline query's own oracle SQL in DuckDB on the same
    parquet (min of N, symmetric with the Spark side) — the per-round
    yardstick for the 'within 2x of a single-node engine' gate. Every
    headline query has an oracle now (d03's sketch pipeline included), so
    the twin covers the full matched set. main() runs this twice (dual-
    pass protocol) and merges per-query mins itself."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    out: dict[str, float] = {}
    for name in HEADLINE:
        sql = specs[name].oracle
        if not sql:
            continue
        # repeat-until-stable-min, the identical rule the Spark side uses
        best = None
        stable = 0
        for rep in range(_MAX_REPS):
            if rep >= _MIN_REPS and stable >= _STABLE_FOR:
                break
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dt = time.perf_counter() - t0
            if best is None or dt < best * (1 - _STABLE_TOL):
                stable = 0
            else:
                stable += 1
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    out["total"] = round(
        sum(v for k, v in out.items() if k != "total"), 3
    )
    return out


def lake_ops(spark, sf_dir: str, reps: int = None) -> dict:
    """The reference's benchmark op set (exploration/benchmark_ducklake.sh:
    46-201): table creation, 1k/50k inserts, predicate update, predicate
    delete, metadata queries, time-travel reads — against our lake layer on
    the orders table.

    Min-of-N like the headline queries: the ops are millisecond-to-second
    scale, where a single sample is dominated by host load noise (the
    inlined insert has measured 1.6 ms and 11.4 ms across rounds on
    identical code). Each rep runs the WHOLE scenario on a fresh lake (the
    ops are stateful — op k's input is op k-1's output), and the per-op min
    is reported."""
    reps = reps or int(os.environ.get("SPARK_GRAFT_LAKE_REPS", "3"))
    best: dict[str, float] = {}
    for _ in range(reps):
        t = _lake_ops_once(spark, sf_dir)
        for k, v in t.items():
            best[k] = v if k not in best else min(best[k], v)
    best["total"] = round(
        sum(v for k, v in best.items() if k != "total"), 3
    )
    return best


def _lake_ops_once(spark, sf_dir: str) -> dict:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ducktales_spark.lake import connect

    lake_dir = tempfile.mkdtemp(prefix="bench_lake_")
    try:
        return _lake_ops_run(spark, sf_dir, connect(f"lake:{lake_dir}", spark))
    finally:
        # each rep copies the orders table into /tmp — reclaim it
        shutil.rmtree(lake_dir, ignore_errors=True)


def _lake_ops_run(spark, sf_dir: str, lake) -> dict:
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t: dict[str, float] = {}

    t0 = time.perf_counter()
    lake.ctas("orders_l", orders)
    t["table_creation_ctas"] = round(time.perf_counter() - t0, 3)

    small = orders.limit(1000).withColumn(
        "o_orderkey", F.col("o_orderkey") + 100_000_000
    )
    t0 = time.perf_counter()
    lake.insert("orders_l", small)
    t["insert_1k"] = round(time.perf_counter() - t0, 3)

    # the reference's headline inlining claim (README.md:243): a tiny write
    # on a PK-less table is a driver-side buffer append + one catalog-DB txn
    # — no Spark job, no parquet file
    row = orders.first().asDict()
    row["o_orderkey"] += 300_000_000
    t0 = time.perf_counter()
    with lake.transaction() as tx:
        tx.insert_rows("orders_l", [row])
    t["insert_1row_inlined"] = round(time.perf_counter() - t0, 4)

    big = orders.limit(50000).withColumn(
        "o_orderkey", F.col("o_orderkey") + 200_000_000
    )
    t0 = time.perf_counter()
    lake.insert("orders_l", big)
    t["insert_50k"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    lake.update(
        "orders_l", {"o_totalprice": "o_totalprice * 1.1"},
        "o_orderkey % 10 = 0",
    )
    t["update_10pct"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    lake.delete("orders_l", "o_orderkey % 5 = 1")
    t["delete_20pct"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    for _ in range(5):
        lake.snapshots()
        lake.table_info()
        lake.count("orders_l")
    t["metadata_queries_x5"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    for v in (1, 2, 3, None):
        lake.read("orders_l", version=v).count()
    t["time_travel_reads_x4"] = round(time.perf_counter() - t0, 3)

    t["total"] = round(sum(t.values()), 3)
    return t


def pipeline_ops_pass(spark, specs, sf_dir: str, reps: int = None) -> dict:
    """Non-headline pipeline-operator timings (see PIPELINE_OPS): the same
    prepared-exec min-of-reps protocol as the headline queries — per rep,
    build the query fresh, force planning outside the timed window
    (_prepared_exec), time the first execution of the prepared count plan;
    report the per-op min. "build" is the min observed fn()+planning time,
    which for the scenario ops (g01 component loop, e02 centroid collect,
    v01 index build) includes their real Spark scenario jobs — reported
    separately so exec stays the headline-comparable quantity.

    Interleaved (op-major inside each rep) like the headline pass, so host
    load drift hits every op equally. One warmup sweep first: JIT, codegen
    cache, Python worker pool — identical rationale to the headline warmup.
    v01 builds its index in a fresh temp dir per call; the ones created
    during this pass are reclaimed at the end."""
    import glob
    import shutil
    import tempfile

    reps = reps or int(os.environ.get("SPARK_GRAFT_PIPELINE_REPS", "5"))
    vidx_pre = set(
        glob.glob(os.path.join(tempfile.gettempdir(), "ducktales_vidx_*"))
    )
    exec_best: dict[str, float] = {}
    build_best: dict[str, float] = {}
    try:
        for name in PIPELINE_OPS:  # warmup sweep
            specs[name].fn(spark, sf_dir).count()
        for _ in range(reps):
            spark.catalog.clearCache()
            for name in PIPELINE_OPS:
                t0 = time.perf_counter()
                cagg = _prepared_exec(specs[name].fn(spark, sf_dir))
                tb = round(time.perf_counter() - t0, 3)
                t0 = time.perf_counter()
                cagg.collect()
                dt = round(time.perf_counter() - t0, 3)
                build_best[name] = min(build_best.get(name, tb), tb)
                exec_best[name] = min(exec_best.get(name, dt), dt)
    finally:
        for d in (
            set(glob.glob(os.path.join(tempfile.gettempdir(), "ducktales_vidx_*")))
            - vidx_pre
        ):
            shutil.rmtree(d, ignore_errors=True)
    exec_best["total"] = round(sum(exec_best.values()), 3)
    build_best["total"] = round(sum(build_best.values()), 3)
    return {"exec": exec_best, "build": build_best}


if __name__ == "__main__":
    main()
