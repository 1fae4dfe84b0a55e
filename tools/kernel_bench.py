#!/usr/bin/env python
"""Cross-SF timings for the round-6/7 kernels that the headline bench does
not cover: fuzzy (MinHash-LSH) decontamination and the coarse-routed
two-level bucket assignment that the per-batch vector-ingest paths
(extend_vector_index / neardup_against_index) dispatch to.

Usage:  SPARK_GRAFT_SF_DIR=<dir> python tools/kernel_bench.py
Prints one JSON object. The session is ``get_spark`` as shipped.

Measurement notes (memory: host noise band is +-20-25%, cold page cache
inflates the first pass 2-7x): each timing is min-of-N of a prepared plan
with a warm-up execution first, flat and routed assignment interleaved in
ONE JVM so the comparison is honest. The assignment comparison uses
C=4096 fine centroids (the two-level threshold) — the scale the coarse
routing exists for; at the index build's small default C the flat kernel
is already cheap and routing is not dispatched.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

REPS = int(os.environ.get("SPARK_GRAFT_KERNEL_REPS", "3"))


def timed(fn, reps=REPS):
    fn()  # warm-up: page cache + codegen + Arrow init out of the min
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import functions as F

    from ducktales_spark.session import get_spark

    spark = get_spark("kernel-bench")
    out = {"sf_dir": sf_dir, "reps_min_of": REPS}

    # -- fuzzy decontamination (c05 machinery) over the documents table --
    from ducktales_spark.corpus import decontaminate
    from ducktales_spark.data import table

    docs = table(spark, sf_dir, "documents")
    docs.count()  # page-cache warm-up for the documents scan
    bench_side = docs.filter(F.col("doc_id") % 7 == 0)
    modes = {
        "exact": lambda: decontaminate(docs, bench_side)["hits"].count(),
        "fuzzy": lambda: decontaminate(
            docs, bench_side, mode="fuzzy", threshold=0.8
        )["hits"].count(),
        "both": lambda: decontaminate(
            docs, bench_side, mode="both", threshold=0.8
        )["hits"].count(),
    }
    # interleaved min-of-N across the three modes: no mode benefits from
    # running later on a warmer cache
    best = {k: float("inf") for k in modes}
    for fn in modes.values():
        fn()  # warm-up
    for _ in range(REPS):
        for k, fn in modes.items():
            t0 = time.perf_counter()
            fn()
            best[k] = min(best[k], time.perf_counter() - t0)
    for k, v in best.items():
        out[f"{k}_decon_hits_sec"] = round(v, 3)

    # -- two-level routed assignment vs the flat cogroup kernel ----------
    from ducktales_spark.queries.similarity import (
        as_double,
        assign_buckets_distributed,
        assign_buckets_two_level,
    )

    vectors = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", as_double(F.col("embedding")).alias("e"))
    )
    n_vec = vectors.count()
    # Two centroid scales: the two-level threshold (4096) and 4x it. The
    # coarse routing exists for LARGE C — flat replicates P x C centroid
    # rows per batch, routing ships C once — so the win grows with C while
    # small C honestly favors the flat single-cogroup plan.
    out["assign"] = {}
    for C in (4096, 16384):
        if n_vec < 2 * C:
            continue
        centroids = vectors.orderBy("vec_id").limit(C).persist()
        n_coarse = max(1, int(C ** 0.5))
        coarse = centroids.orderBy("vec_id").limit(n_coarse).persist()
        with_shard = (
            assign_buckets_distributed(centroids, coarse)
            .withColumnRenamed("centroid_id", "coarse_id")
            .persist()
        )
        cid_min = centroids.agg(F.max("vec_id")).collect()[0][0]
        batch = vectors.filter(F.col("vec_id") > cid_min).persist()
        res = {"batch_rows": batch.count(), "n_centroids": C}
        with_shard.count()
        # interleaved min-of-N: flat and routed alternate inside one JVM,
        # so neither side benefits from running second on a warmed cache
        flat_best, routed_best = float("inf"), float("inf")
        assign_flat = lambda: assign_buckets_distributed(  # noqa: E731
            batch, centroids.select("vec_id", "e")
        ).count()
        assign_routed = lambda: assign_buckets_two_level(  # noqa: E731
            batch, coarse.select("vec_id", "e"), with_shard, route_width=8
        ).count()
        assign_flat(), assign_routed()  # warm-up
        for _ in range(REPS):
            t0 = time.perf_counter()
            assign_flat()
            flat_best = min(flat_best, time.perf_counter() - t0)
            t0 = time.perf_counter()
            assign_routed()
            routed_best = min(routed_best, time.perf_counter() - t0)
        res["flat_sec"] = round(flat_best, 3)
        res["routed_sec"] = round(routed_best, 3)
        out["assign"][f"C{C}"] = res
        for df in (centroids, coarse, with_shard, batch):
            df.unpersist()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
