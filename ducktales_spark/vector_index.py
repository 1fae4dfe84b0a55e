"""Persistent IVF vector index on the lake: build once, probe many.

The e02 query family computes its IVF bucketing per run — right for ad-hoc
queries, wasteful for a serving corpus. This module materializes the
bucketing as TWO lake tables:

* ``<name>`` — (vec_id, e array<double>, centroid_id), created with
  ``partition_by=("centroid_id",)``: writes range-repartition on the bucket
  id, so each data file covers a narrow centroid interval and the catalog's
  min/max file stats turn a probe's ``centroid_id IN (...)`` into FILE
  pruning — a probe reads ~nprobe/C of the corpus bytes from disk, not
  just of the compute.
* ``<name>__centroids`` — (vec_id, e), the frozen centroid set. Probes and
  incremental appends read this instead of re-deriving centroids, so the
  bucketing stays stable as the corpus grows. Above ``_COARSE_THRESHOLD``
  fine centroids the set goes TWO-LEVEL: a third table ``<name>__coarse``
  holds ceil(sqrt(C)) coarse centroids, ``__centroids`` gains a
  ``coarse_id`` column and is written clustered on it, and probes
  coarse-rank first so the fine ranking reads only the probed centroid
  SHARDS (file-pruned) — the escape hatch for 10^6-centroid corpora where
  even a distributed scan of all C centroids per probe batch is waste.

Both commit in one lake transaction (the index is never half-built), and
the index is versioned/time-travelable like any lake table.

Scale: build is one assignment pass over the corpus (broadcast centroids,
Arrow-batched matmul) + one clustered write. ``extend_vector_index``
assigns only the new vectors against the frozen centroids and appends —
O(new), no rebuild. Probe cost: a distributed centroid-ranking pass over
the centroid TABLE (only |Q| x nprobe id pairs return to the driver — the
C x dim matrix never does), a pruned scan of the probed buckets, one
local top-k + one tiny shuffle. Centroids here are the deterministic
first-C vectors (same as e02; a k-means refinement would slot into build
without changing any probe/IO shape).

Driver-memory bound: no index path materializes an UNBOUNDED C x dim
centroid matrix driver-side — build (seeding, k-means refinement, corpus
assignment), extend, and screening all run the centroid side distributed
(cogrouped-shuffle assignment; only id pairs ever return to the driver).
Probe-side centroid RANKING short-circuits to a driver rank (one Arrow
collect + the probe_lookup kernel) only when the catalog's metadata row
count proves the centroid read is <= ``_COARSE_THRESHOLD`` rows — a
bounded <= 4096 x dim matrix (~2-32 MB), the r16 fast path that removes
two Python-boundary jobs per probe batch; larger centroid reads keep the
distributed ranking.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ducktales_spark.lake import LakeCatalog
from ducktales_spark.queries.similarity import (
    _TOP_K,
    _N_PROBE,
    _np,
    _topk,
    assign_buckets,
    assign_buckets_distributed,
    assign_buckets_two_level,
    cosine_scores,
    n_centroids_for,
    probe_assigned,
    probe_lookup,
)


def _centroid_table(name: str) -> str:
    return f"{name}__centroids"


def kmeans_refine_df(
    vectors: DataFrame,
    cent_df: DataFrame,
    iterations: int = 5,
) -> DataFrame:
    """Spherical-k-means refinement of an IVF centroid set (Lloyd's
    iterations under the cosine assignment the index probes with),
    DataFrame to DataFrame: assignment runs the distributed cogroup kernel,
    bucket means are computed relationally (posexplode ->
    groupBy(centroid, position) -> avg -> re-assembled array), and the
    refreshed set is a JOIN of the previous centroids with their new
    means (empty buckets keep their previous centroid via coalesce —
    standard Lloyd's fallback). No C x dim object ever materializes on
    the driver, so refinement shares the build path's scale bound.

    Centroid ids stay stable across iterations, so a refined set drops
    into build_vector_index unchanged. Plans grow one join per iteration;
    localCheckpoint truncates the lineage each round (the same trick
    graph.py's star rounds use)."""
    for _ in range(iterations):
        assigned = assign_buckets_distributed(vectors, cent_df)
        means = (
            assigned.select("centroid_id", F.posexplode("e").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select("centroid_id", F.col("pm.m").alias("__e_new"))
        )
        cent_df = (
            cent_df.join(
                means, cent_df["vec_id"] == means["centroid_id"], "left"
            )
            .select(
                cent_df["vec_id"],
                F.coalesce(means["__e_new"], cent_df["e"]).alias("e"),
            )
            .localCheckpoint()
        )
    return cent_df


# Fine-centroid count above which the centroid SET itself is sharded under
# ceil(sqrt(C)) coarse centroids (two-level IVF / IMI family). Below it, a
# probe's distributed scan of the whole centroid table is cheap; above it
# (C -> 10^6 at trillion-vector corpora) the coarse level cuts the per-probe
# centroid read to C_coarse + the probed shards, via the same catalog
# file-stats pruning the index table uses.
_COARSE_THRESHOLD = 4096


def _coarse_table(name: str) -> str:
    return f"{name}__coarse"


def build_vector_index(
    lake: LakeCatalog,
    name: str,
    vectors: DataFrame,
    n_centroids: Optional[int] = None,
    refine_iterations: int = 0,
    coarse_threshold: int = _COARSE_THRESHOLD,
    quantize: bool = False,
) -> int:
    """Materialize the IVF index for ``vectors`` (vec_id, e) as lake tables
    ``name`` + ``name__centroids``. Returns the centroid count.
    ``refine_iterations`` > 0 runs that many spherical-k-means passes
    (kmeans_refine_df) over the seed centroids before assignment — better
    bucket balance and probe recall for the same probe cost.

    When C > ``coarse_threshold`` the build goes TWO-LEVEL: the first
    ceil(sqrt(C)) fine centroids seed a coarse set (``name__coarse``), every
    fine centroid is coarse-assigned with the DISTRIBUTED cogroup kernel
    (no C x dim driver pass for this step), and ``name__centroids`` is
    written clustered on ``coarse_id`` so a probe's ``coarse_id IN (...)``
    becomes centroid-FILE pruning. Index contents are identical to the flat
    build — corpus vectors are still assigned to their globally nearest
    fine centroid — only the probe's centroid-ranking read path changes.

    ``quantize=True`` stores the index rows QUANTIZED AT REST:
    ``(vec_id, q array<tinyint>, scale double, centroid_id)`` instead of
    the float64 ``e`` — ~8x fewer bytes scanned per probed bucket, the
    actual 100-TB payoff of int8 quantization (quantize_vectors).
    Quantization stays a STORAGE format: every read path
    (probe_vector_index, neardup_against_index) detects the quantized
    schema and applies the ``dequantize_vectors`` face as a JVM-side
    projection ON TOP of the int8 scan, so the kernels are unchanged and
    the scan itself reads only the small codes. Assignment happens on the
    full-precision vectors BEFORE quantization, and the centroid tables
    (sqrt(N) rows) stay float — only the bulk corpus is compressed.
    Recall impact is bounded by the same O(1/127) per-component deviation
    the standalone format carries (recall gate:
    tests/test_vector_index.py)."""
    C = n_centroids if n_centroids is not None else n_centroids_for(vectors)
    spark = vectors.sparkSession
    # DRIVER-FREE end to end: seed centroids stay a DataFrame cut of the
    # corpus, refinement (if any) iterates distributed (kmeans_refine_df),
    # and corpus assignment runs the distributed cogroup kernel — no
    # C x dim driver object exists at any point of the build.
    cent_df = vectors.filter(F.col("vec_id") < C).select("vec_id", "e")
    if refine_iterations:
        cent_df = kmeans_refine_df(vectors, cent_df, refine_iterations)
    assigned = assign_buckets_distributed(vectors, cent_df)
    two_level = C > coarse_threshold
    if two_level:
        # coarse seeds = first ceil(sqrt(C)) fine centroids, as a
        # DataFrame cut of cent_df (never a driver-side frame)
        n_coarse = int(np.ceil(np.sqrt(C)))
        seed_ids = [
            r[0]
            for r in cent_df.select("vec_id")
            .orderBy("vec_id")
            .take(n_coarse)  # ids only — no vector column leaves executors
        ]
        coarse_df = cent_df.filter(
            F.col("vec_id").isin(seed_ids)
        ).select("vec_id", "e")
        cent_df = assign_buckets_distributed(
            cent_df, coarse_df
        ).withColumnRenamed("centroid_id", "coarse_id")
    stored = assigned.select("vec_id", "e", "centroid_id")
    if quantize:
        # Dirty vectors (NaN/Inf/NULL-element) quantize to NULL codes,
        # which no kernel can score — dequantized NULL e would abort the
        # whole probe job inside the Arrow kernel. They are EXCLUDED from
        # the quantized index (same retrieval outcome as the float index,
        # where a NaN vector can never win a cosine comparison, but
        # explicit instead of NaN-propagating).
        stored = (
            quantize_vectors(stored)
            .filter(F.col("q").isNotNull())
            .select("vec_id", "q", "scale", "centroid_id")
        )
    with lake.transaction() as tx:
        tx.ctas(
            name,
            stored,
            partition_by=("centroid_id",),
        )
        tx.ctas(
            _centroid_table(name),
            cent_df,
            partition_by=("coarse_id",) if two_level else (),
        )
        if two_level:
            tx.ctas(_coarse_table(name), coarse_df)
    return C


def extend_vector_index(
    lake: LakeCatalog,
    name: str,
    new_vectors: DataFrame,
    route_width: int = 8,
) -> None:
    """Append new vectors under the FROZEN centroid set — O(new) assignment
    + one clustered append, one snapshot. (Periodic re-build with a larger
    C is the rebalancing story once the corpus outgrows sqrt(N) buckets.)

    Assignment is the DISTRIBUTED cogroup kernel: this path runs once per
    ingest batch, so the C x dim centroid matrix must never become a
    per-batch driver object (the build-time broadcast bound does not apply
    here — see assign_buckets_distributed). On a TWO-LEVEL index the batch
    is additionally COARSE-ROUTED (assign_buckets_two_level): only the
    ~sqrt(C) coarse set replicates per partition and the fine centroid
    table crosses the shuffle once, instead of all C fine centroids
    replicating to every partition per ingest batch. Exact within the
    ``route_width`` routed shards — the same approximation contract as the
    probe's coarse ranking, and exactly flat with route_width >= shards."""
    assigned = _assign_under_index(lake, name, new_vectors, None, route_width)
    rows = assigned.select("vec_id", "e", "centroid_id")
    # quantized-at-rest sniff from catalog metadata — no scan plan built
    if any(c[0] == "q" for c in lake.columns(name)):
        rows = (
            quantize_vectors(rows)
            .filter(F.col("q").isNotNull())  # dirty rows never index
            .select("vec_id", "q", "scale", "centroid_id")
        )
    lake.insert(name, rows)


def quantize_vectors(vectors: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    ``e array<double>`` becomes ``q array<tinyint>`` + ``scale double``
    with ``q_i = round(e_i / scale)``, ``scale = max(|e_i|) / 127``
    (all-zero vectors keep scale 0 and all-zero codes). Every OTHER input
    column (ids, centroid assignments, metadata) passes through untouched,
    so the persisted index table itself round-trips.

    The 100-TB lever: int8 codes are 8x smaller than float64 (4x vs
    float32) at rest, over shuffles, and in executor memory — the standard
    first compression step before an IVF index at embedding-corpus scale.
    Entirely JVM-side (``transform`` / ``aggregate`` lambdas, no Python),
    so quantization rides the scan it follows. Cosine on dequantized codes
    deviates O(1/127) per component; the recall gate in
    tests/test_vector_index.py pins the end effect.

    Dirty data policy: a vector containing NaN/Infinity quantizes to
    NULL ``q``/``scale`` — explicit and filterable — instead of the ANSI
    CAST_OVERFLOW that would otherwise abort the whole job over one bad
    row at corpus scale."""
    mx = F.aggregate("e", F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    df = vectors.withColumn("__mx", mx)
    # NaN components make the max-abs NaN; an Infinity component makes it
    # Infinity. NULL elements need their own check: greatest() skips
    # nulls, so the aggregate stays finite while transform() would map the
    # null element to a null tinyint code — a q that LOOKS clean but
    # yields NULL dot products downstream instead of a filterable NULL
    # vector. All three dirty shapes collapse to NULL q/scale.
    dirty = (
        F.isnan(F.col("__mx"))
        | (F.col("__mx") == float("inf"))
        | F.exists("e", lambda x: x.isNull())
    )
    others = [c for c in vectors.columns if c != "e"]
    return df.select(
        *others,
        F.when(dirty, F.lit(None))
        .when(
            F.col("__mx") == 0.0,
            F.transform("e", lambda x: F.lit(0).cast("tinyint")),
        )
        .otherwise(
            F.transform(
                "e",
                lambda x: F.round(x * 127.0 / F.col("__mx")).cast("tinyint"),
            )
        )
        .alias("q"),
        F.when(dirty, F.lit(None))
        .otherwise(F.col("__mx") / 127.0)
        .alias("scale"),
    )


def dequantize_vectors(quantized: DataFrame) -> DataFrame:
    """``(q, scale, ...)`` back to ``(e array<double>, ...)``: the inverse
    face, so every existing kernel (brute-force top-k, IVF build/probe,
    near-dup screening) consumes quantized corpora unchanged —
    quantization is a STORAGE format, not a new query path. Non-contract
    columns pass through; NULL codes (dirty inputs) dequantize to NULL."""
    others = [c for c in quantized.columns if c not in ("q", "scale")]
    return quantized.select(
        *others,
        F.transform("q", lambda x: x.cast("double") * F.col("scale")).alias(
            "e"
        ),
    )


def remove_vectors(lake: LakeCatalog, name: str, ids) -> int:
    """Delete indexed vectors by id — the RETIRE verb of the index
    lifecycle (build / extend / probe / screen / remove), for corpora that
    drop documents (takedowns, re-crawls) without forcing a full rebuild.

    ``ids`` is a DataFrame holding a ``vec_id`` column (the scale path: a
    takedown list is a table, not a driver list) or a small iterable of
    ints. The delete is one MERGE under the FROZEN centroid set, committed
    as one snapshot: copy-on-write rewrites only index files that contain
    a removed row, and rewritten files re-cluster on ``centroid_id`` (the
    table's partition spec), so probe-side ``centroid_id IN`` file pruning
    and the screening path's stats-derived bucket counts
    (_bucket_counts_from_stats) stay valid afterwards — the per-bucket
    counts self-correct because they are derived from file stats, not a
    stored meta row. Time travel still serves the pre-delete index at
    earlier versions, like any lake table.

    Centroids are reference points, not corpus members: removing a vector
    that seeded a centroid leaves the bucketing stable (the same frozen-set
    contract extend_vector_index relies on), so extend-after-remove equals
    a rebuild from the surviving corpus under the same centroids. Heavy
    delete churn fragments files; ``lake.compact(name)`` is the existing
    maintenance answer (multi-bucket compacted files only demote the
    screening fast path to its column-pruned count scan).

    Returns the number of index rows removed. No driver-side collect: ids
    given as a DataFrame stay distributed end to end."""
    if not isinstance(ids, DataFrame):
        ids = lake.spark.createDataFrame(
            [(int(i),) for i in ids], "vec_id bigint"
        )
    src = ids.select(F.col("vec_id").cast("bigint").alias("vec_id")).distinct()
    with lake.transaction() as tx:
        stats = tx.merge(
            name,
            src,
            on=["vec_id"],
            when_matched="delete",
            when_not_matched="skip",  # unknown ids are a no-op, not an error
        )
    return stats["matched"]


def _read_index_rows(
    lake: LakeCatalog,
    name: str,
    version: Optional[int] = None,
    where: Optional[str] = None,
) -> DataFrame:
    """Index rows in the kernel contract (vec_id, e, centroid_id): a
    quantized-at-rest index (build_vector_index(quantize=True)) gets the
    ``dequantize_vectors`` face applied as a codegen projection over the
    int8 scan — file pruning (``where``) and the byte savings happen at
    the scan; kernels above never know the storage format."""
    df = lake.read(name, version=version, where=where)
    if "q" in df.columns:
        df = dequantize_vectors(df)
    return df


def _assign_under_index(
    lake: LakeCatalog,
    name: str,
    new_vectors: DataFrame,
    version: Optional[int],
    route_width: int,
) -> DataFrame:
    """Frozen-centroid assignment for per-batch ingest paths: coarse-routed
    on a two-level index, flat cogroup otherwise."""
    cent = lake.read(_centroid_table(name), version=version)
    if _coarse_table(name) in lake.tables(version):
        return assign_buckets_two_level(
            new_vectors,
            lake.read(_coarse_table(name), version=version),
            cent,
            route_width=route_width,
        )
    return assign_buckets_distributed(new_vectors, cent)


def _bucket_counts_from_stats(
    lake: LakeCatalog, name: str, version: Optional[int]
) -> Optional[dict]:
    """Per-bucket indexed row counts from CATALOG metadata alone — no
    Spark job. Valid when the index has no inlined rows (an inlined bucket
    would be invisible here and its pairs silently dropped from the fan
    join) and every data file covers exactly one centroid (min == max in
    its footer stats — what the clustered write produces). Returns None
    when either condition fails; the caller falls back to a column-pruned
    count scan."""
    if version is not None and version != lake.current_version():
        return None  # table_info has no versioned form; scan instead
    info = {t["table_name"]: t for t in lake.table_info()}.get(name)
    if info is None or info.get("inlined_rows"):
        return None
    counts: dict = {}
    for f in lake.file_stats(name):
        st = f["columns"].get("centroid_id")
        if not st or st["min"] is None or st["min"] != st["max"]:
            return None  # multi-bucket or stat-less file: scan instead
        cid = int(st["min"])
        counts[cid] = counts.get(cid, 0) + int(f["row_count"])
    return counts


def _salted_screen_input(
    assigned_new: DataFrame,
    indexed: DataFrame,
    hot_bucket_rows: int,
    bucket_counts: Optional[dict] = None,
) -> DataFrame:
    """Union the new and indexed sides with a per-bucket SALT that spreads
    hot buckets across tasks: each bucket's fan-out is
    ceil(indexed_rows / hot_bucket_rows) (1 for normal buckets — zero
    overhead), indexed rows hash into one of the fan sub-groups, and new
    rows replicate to ALL sub-groups, so every (new x indexed) pair still
    meets in exactly one group. Duplicate-heavy corpora are exactly the
    screening use case, and they concentrate population in few buckets —
    without the salt, one task owns the whole hot bucket's gram work no
    matter how many executors idle. The fan table is at most C rows
    (broadcast); replication cost is fan x |new-in-hot-buckets| only.

    ``bucket_counts`` (bucket -> indexed rows, from catalog file stats —
    see _bucket_counts_from_stats) builds the fan table driver-side with
    NO extra job; without it the counts come from a groupBy over the
    centroid_id column alone (column-pruned: the scan reads the int
    column, never the vectors)."""
    if bucket_counts is not None:
        spark = indexed.sparkSession
        fan = spark.createDataFrame(
            [
                (int(cid), int(-(-n // hot_bucket_rows)))
                for cid, n in bucket_counts.items()
            ]
            or [(int(-1), 1)],  # empty index: join matches nothing anyway
            "centroid_id bigint, __fan int",
        )
    else:
        fan = indexed.select("centroid_id").groupBy("centroid_id").agg(
            F.ceil(F.count(F.lit(1)) / F.lit(hot_bucket_rows))
            .cast("int")
            .alias("__fan")
        )
    idx_s = indexed.join(F.broadcast(fan), "centroid_id").withColumn(
        "__salt", F.pmod(F.xxhash64("vec_id"), F.col("__fan")).cast("int")
    )
    new_s = assigned_new.join(F.broadcast(fan), "centroid_id").withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.col("__fan") - 1))
    )
    return new_s.unionByName(idx_s).drop("__fan")


def neardup_against_index(
    lake: LakeCatalog,
    name: str,
    new_vectors: DataFrame,
    threshold: float = 0.95,
    block: int = 2048,
    version: Optional[int] = None,
    hot_bucket_rows: int = 65536,
    route_width: int = 8,
) -> DataFrame:
    """Near-duplicate pairs between a NEW vector batch and the indexed
    corpus: (vec_new, vec_indexed, cos_sim) with cosine >= threshold — the
    screening step an incremental ingest runs before extend_vector_index
    (accept only vectors with no indexed near-dup).

    Distributed end to end (the new batch may be arbitrarily large, unlike
    probe queries): new vectors are bucket-assigned under the index's
    FROZEN centroids via the distributed cogroup kernel — this runs per
    ingest batch, so no C x dim driver object is ever built (see
    assign_buckets_distributed) — then each bucket's new x indexed gram
    matrix is walked in block x block tiles inside applyInPandas — vectors
    cross the shuffle once, pair space exists only inside numpy, peak tile
    memory is block^2 doubles regardless of bucket skew. A new vector only
    ever compares against its own bucket (same recall contract as the
    in-corpus neardup_pairs).

    Bucket SKEW (the duplicate-heavy case this operator exists for) is
    handled by salting: buckets holding more than ``hot_bucket_rows``
    indexed vectors fan out across tasks (see _salted_screen_input) with
    identical pair output.

    On a TWO-LEVEL index the batch is coarse-routed instead of assigned
    against all C fine centroids (see extend_vector_index — same kernel,
    same route_width contract)."""
    import pandas as pd

    assigned_new = _assign_under_index(
        lake, name, new_vectors, version, route_width
    ).select("vec_id", "e", "centroid_id", F.lit(True).alias("is_new"))
    indexed = _read_index_rows(lake, name, version=version).select(
        "vec_id", "e", "centroid_id", F.lit(False).alias("is_new")
    )
    both = _salted_screen_input(
        assigned_new,
        indexed,
        hot_bucket_rows,
        bucket_counts=_bucket_counts_from_stats(lake, name, version),
    )

    def bucket_cross(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_new": pd.Series(dtype="int64"),
             "vec_indexed": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )
        new = pdf[pdf["is_new"]]
        idx = pdf[~pdf["is_new"]]
        if not len(new) or not len(idx):
            return empty
        En = _np(new["e"])
        Ei = _np(idx["e"])
        En = En / np.linalg.norm(En, axis=1)[:, None]
        Ei = Ei / np.linalg.norm(Ei, axis=1)[:, None]
        nids = new["vec_id"].to_numpy()
        iids = idx["vec_id"].to_numpy()
        outs = []
        for a0 in range(0, len(nids), block):
            for b0 in range(0, len(iids), block):
                S = En[a0 : a0 + block] @ Ei[b0 : b0 + block].T
                ii, jj = np.nonzero(np.round(S, 9) >= threshold)
                if len(ii):
                    outs.append(
                        pd.DataFrame(
                            {
                                "vec_new": nids[ii + a0],
                                "vec_indexed": iids[jj + b0],
                                "cos_sim": np.round(S[ii, jj], 9),
                            }
                        )
                    )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return both.groupBy("centroid_id", "__salt").applyInPandas(
        bucket_cross, "vec_new bigint, vec_indexed bigint, cos_sim double"
    )


def probe_vector_index(
    lake: LakeCatalog,
    name: str,
    queries: pd.DataFrame,
    k: int = _TOP_K,
    nprobe: int = _N_PROBE,
    version: Optional[int] = None,
    coarse_nprobe: int = 2 * _N_PROBE,
) -> DataFrame:
    """Top-k neighbors per query row of ``queries`` (vec_id, e pandas frame,
    driver-small). Reads ONLY the probed buckets: the ``centroid_id IN``
    predicate prunes index files via catalog stats before any Spark task
    runs.

    On a TWO-LEVEL index (built with C > coarse_threshold) the centroid
    ranking itself is pruned the same way: a coarse-rank pass picks
    ``coarse_nprobe`` centroid shards per query, and the fine ranking scans
    just those shards of ``name__centroids`` via ``coarse_id IN (...)``
    file pruning — per-probe centroid reads drop from C rows to C_coarse +
    probed shards (~coarse_nprobe * sqrt(C)). Fine ranking runs over the
    UNION of the queries' probed shards; with ``coarse_nprobe`` >= the
    shard count it degenerates to exactly the flat ranking.

    Each ranking pass (coarse and fine) short-circuits to a DRIVER-side
    rank — one Arrow collect of the centroid read + the probe_lookup
    numpy kernel, the bit-identical twin of the distributed ordering
    (same 9-dp rounding, cos desc, ties to the lowest centroid id,
    self-pairs kept) — when the catalog's METADATA row count
    (lake.count, no Spark job) proves the read is at most
    ``_COARSE_THRESHOLD`` rows: a bounded <= 4096 x dim driver matrix.
    That removes two Python-boundary jobs (broadcast + Arrow kernel +
    rank window + collect) per probe batch for every index whose
    centroid set is small — the common case by construction, since a
    flat index has C <= coarse_threshold (r16: v01 build-phase A/B).
    Bigger centroid reads (a two-level fine table, or a flat index built
    with a raised threshold) keep the distributed ranking: the tiny
    query matrix is broadcast, every centroid partition scores +
    local-top-nprobe's in the Arrow kernel, and only |Q| x nprobe
    (query_id, centroid_id) PAIRS come back to the driver — never an
    unbounded C x dim matrix (multi-GB at 10^12-vector scale)."""
    qids = queries["vec_id"].to_numpy()
    empty = lake.spark.createDataFrame(
        [], "query_id bigint, neighbor_id bigint, cos_sim double, rnk bigint"
    )
    if not len(qids):
        return empty
    Q = _np(queries["e"])

    def rank_pairs(df: DataFrame, rows: int, k: int):
        """[(query_id, centroid_id)] probe pairs under the canonical
        ordering — driver-ranked iff the metadata row count is bounded."""
        if rows <= _COARSE_THRESHOLD:
            cpdf = df.select("vec_id", "e").toPandas()
            if not len(cpdf):
                return []
            return [
                (int(q), int(cid))
                for cid, (qarr, _) in probe_lookup(
                    queries, cpdf, k
                ).items()
                for q in qarr
            ]
        ranked = _topk(
            cosine_scores(
                df.select("vec_id", "e"), qids, Q, local_k=k, drop_self=False
            ),
            k,  # yields <= C rows per query by construction when C < k
        )
        return [
            (int(r["query_id"]), int(r["neighbor_id"]))
            for r in ranked.select("query_id", "neighbor_id").collect()
        ]

    cent = lake.read(_centroid_table(name), version=version)
    cent_rows = lake.count(_centroid_table(name), version=version)
    if _coarse_table(name) in lake.tables(version):
        coarse = lake.read(_coarse_table(name), version=version)
        shard_ids = sorted(
            {
                cid
                for _, cid in rank_pairs(
                    coarse,
                    lake.count(_coarse_table(name), version=version),
                    coarse_nprobe,
                )
            }
        )
        if not shard_ids:
            return empty
        shards = ", ".join(str(s) for s in shard_ids)
        cent = lake.read(
            _centroid_table(name), version=version,
            where=f"coarse_id IN ({shards})",
        )
        # the pruned fine read is <= the full fine count; that bound is
        # what the driver-rank gate needs, so cent_rows carries over
    pairs = rank_pairs(cent, cent_rows, nprobe)
    if not pairs:  # empty centroid table -> no buckets to probe
        return empty
    qrow = {int(q): i for i, q in enumerate(qids)}
    by_cid: dict = {}
    for q, cid in pairs:
        by_cid.setdefault(cid, []).append(q)
    lookup = {
        cid: (np.array(qs, dtype=np.int64), np.stack([Q[qrow[q]] for q in qs]))
        for cid, qs in sorted(by_cid.items())
    }
    buckets = ", ".join(str(c) for c in sorted(lookup))
    candidates = _read_index_rows(
        lake, name, version=version, where=f"centroid_id IN ({buckets})"
    )
    return probe_assigned(candidates, lookup, k)
