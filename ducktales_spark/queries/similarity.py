"""Similarity search over the embeddings table (array<float> column).

* brute-force cosine top-k — the exact baseline: the (small) query set is
  collected + broadcast, candidates stream through an Arrow-batched
  ``mapInPandas`` that computes a per-batch numpy matmul (E @ Q^T). One scan,
  no join, no pair materialization; the only shuffle is the final per-query
  top-k window. This is the documented Spark fast path for vector math —
  a higher-order-function (zip_with/aggregate) formulation is evaluated
  interpreted by Catalyst and ran ~10x slower.
* IVF-bucketed ANN — the scale path: assign every vector to its nearest of C
  centroids (broadcast centroids, argmax inside the same batch kernel), then
  probe only the query's centroid bucket. C scales as sqrt(N) (the standard
  IVF nlist heuristic), so the expected bucket population is also sqrt(N) —
  probe cost and per-bucket memory both stay sublinear as the corpus grows.
* embedding near-dup — pairwise cosine >= 0.95 searched within IVF buckets
  via ``applyInPandas``: vectors ship through the shuffle once; the pair
  space exists only inside numpy, and the gram matrix is computed in fixed-
  size blocks so peak memory is O(block^2), not O(|bucket|^2).

Cosines are computed in float64 and rounded to 9 dp on both engines so the
oracle hash is float-drift-proof.
"""

from __future__ import annotations

import weakref

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ducktales_spark.data import plan_memo, table
from ducktales_spark.registry import register
from ducktales_spark.session import shuffle_partitions

_N_QUERIES = 5
_TOP_K = 10
# Floor for the centroid count; the effective C is max(_N_CENTROIDS, sqrt(N))
# so bucket population stays ~sqrt(N) instead of N/16 as the corpus grows.
_N_CENTROIDS = 16
# Gram-matrix block edge for the in-bucket pair search: peak score-matrix
# memory is _GRAM_BLOCK^2 * 8 bytes (~32 MB) regardless of bucket size.
_GRAM_BLOCK = 2048


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )


def _np(pdf_col) -> np.ndarray:
    return np.array(pdf_col.tolist(), dtype=np.float64)


def cosine9(E: np.ndarray, C: np.ndarray) -> np.ndarray:
    """The one cosine kernel: |E| x |C| float64 cosines rounded to 9 dp.
    Every emitted cos_sim and every rank decision reads these values, so
    the DuckDB oracles' dot/(|a||b|) evaluation order can't flip a result
    on a last-ulp difference."""
    return np.round(
        (E @ C.T)
        / (np.linalg.norm(E, axis=1)[:, None]
           * np.linalg.norm(C, axis=1)[None, :]),
        9,
    )


def rank_by_cosine(
    E: np.ndarray, ids: np.ndarray, C: np.ndarray, width: Optional[int] = None
) -> tuple:
    """Rank the rows of C (keyed by ``ids``) for each row of E by cosine9,
    best first, ties to the lowest id — the oracles' ``ORDER BY cos DESC,
    id``. C is put in ascending-id order first, so the tie rule holds
    whatever order its rows arrived in. Returns (ids, cosines): vectors of
    each row's winner (argmax) when ``width`` is None, else |E| x width
    matrices of its top ``width`` (fewer columns when C is smaller)."""
    order = np.argsort(ids, kind="stable")
    ids, S = ids[order], cosine9(E, C[order])
    if width is None:
        top = np.argmax(S, axis=1)
        return ids[top], S[np.arange(len(S)), top]
    top = np.argsort(-S, axis=1, kind="stable")[:, :width]
    return ids[top], np.take_along_axis(S, top, axis=1)


def n_centroids_for(v: DataFrame, n: Optional[int] = None) -> int:
    """IVF nlist heuristic: C = max(floor, sqrt(N)). Pass ``n`` when the
    caller has it from table stats (data.stats_num_rows / catalog row
    counts) — the count job is the fallback, not the default path."""
    if n is None:
        n = v.select("vec_id").count()
    return max(_N_CENTROIDS, int(np.sqrt(n)))


def _local_topk(out: pd.DataFrame, k: int) -> pd.DataFrame:
    """Per-query top-k within one Arrow batch under the EXACT global window
    ordering (rounded cos_sim desc, neighbor_id asc). Every global top-k row
    is in its own batch's local top-k, so pruning here before the shuffle
    changes nothing downstream — it just shrinks the window input from
    |candidates| x |queries| rows to |batches| x |queries| x k. At 100 TB
    that is the difference between shuffling the whole score table and
    shuffling a few rows per task."""
    return out.sort_values(
        ["query_id", "cos_sim", "neighbor_id"],
        ascending=[True, False, True],
        kind="stable",
    ).groupby("query_id", sort=False).head(k)


def cosine_scores(
    candidates: DataFrame,
    query_ids: np.ndarray,
    Q: np.ndarray,
    local_k: Optional[int] = None,
    drop_self: bool = True,
) -> DataFrame:
    """(vec_id, e) x broadcast query matrix -> (query_id, neighbor_id,
    cos_sim) rows, numpy-matmul per Arrow batch. Self-pairs dropped unless
    ``drop_self=False`` (centroid RANKING must keep them: a query that is
    itself a centroid still probes its own bucket). ``local_k`` prunes each
    batch to its per-query top-k before emitting (exact under the _topk
    window ordering — see _local_topk)."""
    sc = candidates.sparkSession.sparkContext
    bc = sc.broadcast((query_ids, Q))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, Qm = bc.value
        nq = len(qids)
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["vec_id"].to_numpy()
            out = pd.DataFrame(
                {
                    "query_id": np.tile(qids, len(vids)),
                    "neighbor_id": np.repeat(vids, nq),
                    "cos_sim": cosine9(_np(pdf["e"]), Qm).ravel(),
                }
            )
            if drop_self:
                out = out[out["query_id"] != out["neighbor_id"]]
            yield _local_topk(out, local_k) if local_k else out

    return candidates.mapInPandas(
        run, "query_id bigint, neighbor_id bigint, cos_sim double"
    )


def _topk(sims: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.select("*", F.row_number().over(w).cast("bigint").alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


@register(
    "e01_cosine_topk",
    survey_ids=("J1", "W1", "S6"),  # extension: brute-force cosine top-k;
    # S6: query vectors arrive via the Arrow toPandas result path
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    q AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {_N_QUERIES}),
    sims AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             round(list_dot_product(q.qe, v.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(v.e, v.e))), 9) AS cos_sim
      FROM q, v
      WHERE v.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM sims
    )
    WHERE rnk <= {_TOP_K}
    ORDER BY query_id, rnk
    """,
)
@plan_memo
def e01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the first N vectors as queries. The query
    set must be driver-small (it is broadcast); the candidate side streams —
    at 100 TB this is one scan with no shuffle before the top-k.

    The stored float32 vectors stream to the kernel UNcast: a JVM-side
    transform(x -> double) is an interpreted higher-order function per
    element and doubles the Arrow payload, while numpy's float32 -> float64
    widening inside ``_np`` is exact (every float32 is representable), so
    the double-precision score math — and the 9 dp oracle parity it
    guarantees — is unchanged.

    sf0.1 floor decomposition (r15, min-of-10 prepared-exec, calm host;
    the query is ~19x the DuckDB twin at sf0.1 but ~0.2 s ABSOLUTE, in
    band by sf1) — the 0.23 s total splits into
    * 0.057 s single-stage scan floor (a prepared 1-task parquet count
      measures the same: DAG submission + task launch, no data cost),
    * 0.105 s Python-worker round trip (scan + schema-only passthrough
      mapInPandas measures 0.162 s — worker dispatch + Arrow
      (de)serialization, NOT compute),
    * ~0.011 s actual matmul (full kernel minus passthrough),
    * 0.056 s the window stage's extra shuffle barrier (global per-query
      top-k over the batch-local top-k rows; inherent to a distributed
      top-k).
    A pure-JVM variant (broadcast query rows joined != , dot product via
    aggregate(zip_with(...))) removes the Python round trip but measured
    SLOWER at sf0.1 — 0.257 s vs 0.229 s, value-parity true — because
    interpreted per-element higher-order functions cost more than the
    round trip saves even at 2000x5 pairs x dim 64, and the gap only
    widens with volume (BLAS matmul vs expression interpreter). So the
    Arrow kernel is the right plan at every SF; the sf0.1 ratio is the
    documented fixed floor, amortized by sf1 (4.3x) and in-band at
    sf10."""
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("e")
    )
    qpdf = _query_vectors(spark, sf_dir, v)
    sims = cosine_scores(
        v, qpdf["vec_id"].to_numpy(), _np(qpdf["e"]), local_k=_TOP_K
    )
    return _topk(sims, _TOP_K)


# Query-vector memo: the driver's sf dirs are immutable (the same rationale
# as data._SCAN_CACHE), so the _N_QUERIES-row collect that seeds e01's
# broadcast matrix is reusable verbatim per (session, sf_dir). The collect
# is a real Spark job + Arrow transfer (~0.2 s of otherwise pure plan-build
# latency per e01 build). Weak-keyed on the session so a stopped session's
# pdf doesn't pin its gateway.
_QVEC_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _query_vectors(
    spark: SparkSession, sf_dir: str, v: DataFrame
) -> pd.DataFrame:
    per_session = _QVEC_CACHE.setdefault(spark, {})
    pdf = per_session.get(sf_dir)
    if pdf is None:
        pdf = per_session[sf_dir] = v.filter(
            F.col("vec_id") < _N_QUERIES
        ).toPandas()
    return pdf


def _centroids(v: DataFrame, n_centroids: int) -> pd.DataFrame:
    """Collect the centroid rows (first C vectors) once, driver-side.

    Driver-memory bound: C x dim doubles, C ~ sqrt(N) — ~1 GB at 10^12
    vectors x 128 dims. Assignment inherently broadcasts this matrix to
    every task, so the collect is the design, not an accident; the
    REPEATED path (index probes) avoids it entirely — see
    vector_index.probe_vector_index, which ranks centroids distributed
    and never pulls the matrix. Beyond ~10^6 centroids, shard the
    centroid set (two-level IVF) rather than growing this object."""
    return v.filter(F.col("vec_id") < n_centroids).orderBy("vec_id").toPandas()


def assign_buckets(
    v: DataFrame,
    n_centroids: Optional[int] = None,
    centroids: Optional[pd.DataFrame] = None,
) -> DataFrame:
    """IVF bucket assignment: nearest (max-cosine) centroid per vector, ties
    to the lowest centroid id. Centroids are the first C vectors
    (deterministic; a k-means loop would refine them — same plumbing).
    C defaults to the sqrt(N) heuristic (n_centroids_for); pass
    ``centroids`` (a _centroids pdf) to skip the collect when the caller
    already holds it."""
    if n_centroids is None:
        n_centroids = n_centroids_for(v)
    cpdf = centroids if centroids is not None else _centroids(v, n_centroids)
    bc = v.sparkSession.sparkContext.broadcast(
        (cpdf["vec_id"].to_numpy(), _np(cpdf["e"]))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cids, Cm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            best, _ = rank_by_cosine(_np(pdf["e"]), cids, Cm)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "e": pdf["e"],
                    "centroid_id": best,
                }
            )

    return v.mapInPandas(
        run, "vec_id bigint, e array<double>, centroid_id bigint"
    )


def assign_buckets_distributed(
    v: DataFrame,
    centroids: DataFrame,
    n_partitions: Optional[int] = None,
) -> DataFrame:
    """Bucket assignment with a DISTRIBUTED centroid table: same semantics
    as ``assign_buckets`` (9-dp-rounded argmax, ties to the lowest centroid
    id) but the C x dim centroid matrix NEVER transits the driver — unlike
    the broadcast path, whose ``toPandas`` + closure-broadcast makes the
    driver hold (and re-ship) the full matrix on every call.

    Shape: vectors are dealt to P partitions on vec_id; the centroid set is
    replicated to every partition via an explode over partition ids (an
    executor-to-executor shuffle of P x C rows — at C = sqrt(10^12) and
    P = 10^3 that is ~10^9 small rows once per INGEST BATCH, vs a multi-GB
    driver object per batch on the collect path); each cogrouped partition
    then runs the identical numpy argmax kernel. This is the per-batch
    ingest path (extend / near-dup screening); build-time paths may still
    broadcast (documented bound, vector_index.py).

    ``n_partitions`` defaults to spark.sql.shuffle.partitions — the
    deployment-sized parallelism knob every other operator here uses —
    not defaultParallelism (the raw core count, which over-partitions
    small inputs into scheduling overhead AND inflates the P x C centroid
    replication; r16 interleaved min-of-7, parity true: sf0.1
    0.307 -> 0.274 s, sf1 identical — both resolve to 32 there)."""
    spark = v.sparkSession
    P = n_partitions or shuffle_partitions(spark)
    vp = v.withColumn("__p", F.pmod(F.col("vec_id"), F.lit(P)).cast("int"))
    # internal names on the centroid side: the two cogroup inputs may share
    # lineage (e.g. centroids filtered from the vector set itself), and
    # same-named attributes across sides then resolve ambiguously
    cp = centroids.select(
        F.col("vec_id").alias("__cid"), F.col("e").alias("__ce")
    ).withColumn("__p", F.explode(F.sequence(F.lit(0), F.lit(P - 1))))

    def assign(vpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(vpdf) or not len(cpdf):
            return pd.DataFrame(
                {"vec_id": pd.Series(dtype="int64"),
                 "e": pd.Series(dtype="object"),
                 "centroid_id": pd.Series(dtype="int64")}
            )
        best, _ = rank_by_cosine(
            _np(vpdf["e"]), cpdf["__cid"].to_numpy(), _np(cpdf["__ce"])
        )
        return pd.DataFrame(
            {"vec_id": vpdf["vec_id"].to_numpy(), "e": vpdf["e"],
             "centroid_id": best}
        )

    return (
        vp.groupBy("__p")
        .cogroup(cp.groupBy("__p"))
        .applyInPandas(
            assign, "vec_id bigint, e array<double>, centroid_id bigint"
        )
    )


def route_coarse(
    v: DataFrame,
    coarse: DataFrame,
    route_width: int,
    n_partitions: Optional[int] = None,
) -> DataFrame:
    """Top-``route_width`` coarse centroids per vector, distributed: the
    same cogroup shape as ``assign_buckets_distributed`` (only the SMALL
    coarse set — ~sqrt(C) rows — replicates to the P partitions), but each
    vector emits its ``route_width`` best coarse ids instead of one argmax.
    Output: (vec_id, e, coarse_id), ``route_width`` rows per vector (fewer
    when the coarse set is smaller). Ordering matches the probe path's
    coarse ranking: 9-dp-rounded cosine desc, ties to the lowest id.
    ``n_partitions`` defaults to spark.sql.shuffle.partitions (see
    assign_buckets_distributed — same knob, same r16 measurement)."""
    spark = v.sparkSession
    P = n_partitions or shuffle_partitions(spark)
    vp = v.withColumn("__p", F.pmod(F.col("vec_id"), F.lit(P)).cast("int"))
    cp = coarse.select(
        F.col("vec_id").alias("__cid"), F.col("e").alias("__ce")
    ).withColumn("__p", F.explode(F.sequence(F.lit(0), F.lit(P - 1))))

    def route(vpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(vpdf) or not len(cpdf):
            return pd.DataFrame(
                {"vec_id": pd.Series(dtype="int64"),
                 "e": pd.Series(dtype="object"),
                 "coarse_id": pd.Series(dtype="int64")}
            )
        top, _ = rank_by_cosine(
            _np(vpdf["e"]), cpdf["__cid"].to_numpy(), _np(cpdf["__ce"]),
            route_width,
        )
        R = top.shape[1]
        n = len(vpdf)
        return pd.DataFrame(
            {
                "vec_id": np.repeat(vpdf["vec_id"].to_numpy(), R),
                "e": vpdf["e"].iloc[np.repeat(np.arange(n), R)].to_numpy(),
                "coarse_id": top.ravel(),
            }
        )

    return (
        vp.groupBy("__p")
        .cogroup(cp.groupBy("__p"))
        .applyInPandas(
            route, "vec_id bigint, e array<double>, coarse_id bigint"
        )
    )


def assign_buckets_two_level(
    v: DataFrame,
    coarse: DataFrame,
    centroids: DataFrame,
    route_width: int = 8,
    n_partitions: Optional[int] = None,
) -> DataFrame:
    """Bucket assignment routed through a TWO-LEVEL centroid set: coarse-
    assign each vector to its ``route_width`` best coarse shards (only the
    ~sqrt(C)-row coarse set replicates — see route_coarse), then fine-assign
    per SHARD by cogrouping routed vectors with that shard's fine centroids
    on ``coarse_id``, and keep each vector's globally best routed candidate.

    Scale contrast with the flat kernel on a per-ingest-batch path: the flat
    ``assign_buckets_distributed`` replicates ALL C fine centroids to every
    one of P partitions (P x C rows per batch — ~10^9 at C=10^6, P=10^3);
    here the fine centroid table crosses the shuffle ONCE (C rows, each to
    its own shard group), vectors replicate x route_width, and the coarse
    replication is P x sqrt(C). Same trade the probe path makes: exact
    within the routed shards, approximate beyond them — with ``route_width``
    >= the shard count the result is EXACTLY the flat assignment (parity-
    tested), and the default 8 matches the probe's coarse_nprobe.

    ``centroids`` must carry (vec_id, e, coarse_id) — the __centroids table
    of a two-level index.

    Lossless by construction: routing only considers coarse ids that own at
    least one fine centroid (the semi-join below), so every vector lands in
    >= 1 shard whose cogroup has candidates and emits exactly one output
    row. Without the filter, a coarse seed left empty by duplicate seed
    embeddings would silently DROP any vector all of whose routed shards
    were empty — row loss on ingest. The semi-join costs one tiny distinct
    over the C-row centroid table, broadcast against the ~sqrt(C)-row
    coarse set."""
    valid = centroids.select(
        F.col("coarse_id").alias("vec_id")
    ).distinct()
    coarse = coarse.join(F.broadcast(valid), "vec_id", "left_semi")
    routed = route_coarse(v, coarse, route_width, n_partitions)
    cp = centroids.select(
        F.col("coarse_id").alias("__shard"),
        F.col("vec_id").alias("__cid"),
        F.col("e").alias("__ce"),
    )
    vp = routed.withColumnRenamed("coarse_id", "__shard")

    def fine_assign(vpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(vpdf) or not len(cpdf):
            return pd.DataFrame(
                {"vec_id": pd.Series(dtype="int64"),
                 "centroid_id": pd.Series(dtype="int64"),
                 "__cos": pd.Series(dtype="float64")}
            )
        best, cos = rank_by_cosine(
            _np(vpdf["e"]), cpdf["__cid"].to_numpy(), _np(cpdf["__ce"])
        )
        return pd.DataFrame(
            {
                "vec_id": vpdf["vec_id"].to_numpy(),
                "centroid_id": best,
                "__cos": cos,
            }
        )

    # The fine pass emits (vec_id, centroid_id, __cos) WITHOUT the
    # embedding: carrying e through the per-shard output would shuffle the
    # full vector x route_width a SECOND time into the argmax groupBy
    # (measured sf10, C=16384: that second wide shuffle ate the entire
    # routing win). The embedding rejoins ONCE by vec_id afterwards — and
    # the argmax output is already hash-distributed on vec_id, so the join
    # only exchanges the slim v side.
    per_shard = (
        vp.groupBy("__shard")
        .cogroup(cp.groupBy("__shard"))
        .applyInPandas(
            fine_assign,
            "vec_id bigint, centroid_id bigint, __cos double",
        )
    )
    # Global best across the routed shards: highest 9-dp cosine, ties to the
    # lowest centroid id — the flat kernel's exact tie rule. (cos, -cid) is
    # unique per candidate, so max_by is deterministic.
    best = (
        per_shard.groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(F.col("__cos"), -F.col("centroid_id")),
            ).alias("centroid_id")
        )
    )
    return best.join(v.select("vec_id", "e"), "vec_id").select(
        "vec_id", "e", "centroid_id"
    )


_N_PROBE = 4  # buckets probed per query (IVF nprobe)


def probe_lookup(qpdf: pd.DataFrame, cpdf: pd.DataFrame, nprobe: int) -> dict:
    """{centroid_id: (query_ids, Q matrix)} for the nprobe nearest
    centroids of each query (driver-side: |Q| x C is small), ranked by
    rank_by_cosine: probe choice depends only on the 9-dp cosine, ties to
    the lowest centroid id whatever the row order of ``cpdf`` — exactly the
    e02 oracle's `ORDER BY cos DESC, cid`."""
    Q = _np(qpdf["e"])
    probes, _ = rank_by_cosine(
        Q, cpdf["vec_id"].to_numpy(), _np(cpdf["e"]), nprobe
    )
    lookup: dict = {}
    for qi in range(len(qpdf)):
        qid = int(qpdf["vec_id"].iloc[qi])
        for cid in probes[qi]:
            lookup.setdefault(int(cid), []).append((qid, Q[qi]))
    return {
        cid: (
            np.array([q for q, _ in qs], dtype=np.int64),
            np.stack([e for _, e in qs]),
        )
        for cid, qs in lookup.items()
    }


def probe_assigned(
    assigned: DataFrame, lookup: dict, k: int = _TOP_K
) -> DataFrame:
    """Score a bucket-assigned candidate frame against the probe lookup:
    each Arrow batch groups by bucket and matmuls only against the queries
    probing that bucket, pruned to the per-batch local top-k (exact — see
    _local_topk). No join; candidates stream through once."""
    probe_buckets = sorted(lookup)
    bc = assigned.sparkSession.sparkContext.broadcast(lookup)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lk = bc.value
        for pdf in batches:
            for cid, grp in pdf.groupby("centroid_id"):
                if cid not in lk:
                    continue
                qids, Qm = lk[cid]
                vids = grp["vec_id"].to_numpy()
                out = pd.DataFrame(
                    {
                        "query_id": np.tile(qids, len(vids)),
                        "neighbor_id": np.repeat(vids, len(qids)),
                        "cos_sim": cosine9(_np(grp["e"]), Qm).ravel(),
                    }
                )
                out = out[out["query_id"] != out["neighbor_id"]]
                yield _local_topk(out, k)

    sims = assigned.filter(
        F.col("centroid_id").isin(probe_buckets)  # partition-prunable scan cut
    ).mapInPandas(run, "query_id bigint, neighbor_id bigint, cos_sim double")
    return _topk(sims, k)


def e02_ivf_ann(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: Optional[int] = None,
    centroids: Optional[pd.DataFrame] = None,
) -> DataFrame:
    """IVF-style approximate top-k: nearest-centroid bucketing, probe the
    nprobe nearest buckets per query. Queries are grouped by probed bucket in
    a broadcast lookup; each candidate batch scores only against the queries
    probing its bucket — no join, one candidate scan, probe cost
    ~nprobe/C of brute force. ``n_centroids``/``centroids`` let a caller
    (e02_ivf_family) share the count job and centroid collect."""
    v = _vectors(spark, sf_dir)
    C = n_centroids if n_centroids is not None else n_centroids_for(v)
    cpdf = centroids if centroids is not None else _centroids(v, C)
    assigned = assign_buckets(v, C, centroids=cpdf)
    qpdf = v.filter(F.col("vec_id") < _N_QUERIES).toPandas()
    return probe_assigned(assigned, probe_lookup(qpdf, cpdf, _N_PROBE), _TOP_K)


def neardup_pairs(
    v: DataFrame,
    n_centroids: Optional[int] = None,
    threshold: float = 0.95,
    block: int = _GRAM_BLOCK,
    centroids: Optional[pd.DataFrame] = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold) searched within IVF
    buckets: applyInPandas walks each bucket's gram matrix in block x block
    tiles — vectors cross the shuffle once; pairs exist only inside numpy,
    and the score-matrix tile is at most block^2 doubles no matter how
    populated (or skewed) a bucket is. With sqrt(N) centroids the bucket
    frame itself is ~sqrt(N) vectors, so per-group memory is sublinear."""
    assigned = assign_buckets(v, n_centroids, centroids=centroids)

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        E = _np(pdf["e"])
        vids = pdf["vec_id"].to_numpy()
        order = np.argsort(vids)
        E, vids = E[order], vids[order]
        En = E / np.linalg.norm(E, axis=1)[:, None]
        n = len(vids)
        outs = []
        for i0 in range(0, n, block):
            Ei = En[i0 : i0 + block]
            for j0 in range(i0, n, block):
                S = Ei @ En[j0 : j0 + block].T
                ii, jj = np.nonzero(np.round(S, 9) >= threshold)
                gi, gj = ii + i0, jj + j0
                keep = gi < gj  # upper triangle across tiles
                if keep.any():
                    outs.append(
                        pd.DataFrame(
                            {
                                "vec_a": vids[gi[keep]],
                                "vec_b": vids[gj[keep]],
                                "cos_sim": np.round(S[ii[keep], jj[keep]], 9),
                            }
                        )
                    )
        if not outs:
            return pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"),
                 "vec_b": pd.Series(dtype="int64"),
                 "cos_sim": pd.Series(dtype="float64")}
            )
        return pd.concat(outs, ignore_index=True)

    return (
        assigned.groupBy("centroid_id")
        .applyInPandas(
            bucket_pairs, "vec_a bigint, vec_b bigint, cos_sim double"
        )
    )


def e03_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs over the embeddings table (see
    neardup_pairs for the bucketed blocked-gram-matrix design)."""
    return neardup_pairs(_vectors(spark, sf_dir))


def _e02_oracle_sql() -> str:
    """DuckDB SQL twin of the full IVF family: same deterministic centroids
    (first C = max(16, floor(sqrt(N))) vectors), same 9-dp-rounded cosine for
    every assignment/probe/rank decision, same nprobe/top-k/threshold
    constants. Expressible because the Spark side rounds BEFORE each argmax,
    so both engines rank on identical 9-dp values."""

    def cos(a: str, b: str) -> str:
        return (
            f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 9)"
        )

    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    params AS (
      SELECT GREATEST({_N_CENTROIDS},
                      CAST(floor(sqrt(count(*))) AS BIGINT)) AS C
      FROM v
    ),
    cent AS MATERIALIZED (
      SELECT vec_id AS cid, e AS ce FROM v
      WHERE vec_id < (SELECT C FROM params)
    ),
    assign AS MATERIALIZED (
      SELECT vec_id, e, cid AS centroid_id
      FROM (
        SELECT v.vec_id, v.e, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {cos("v.e", "c.ce")} DESC, c.cid) AS rn
        FROM v, cent c
      )
      WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {_N_QUERIES}
    ),
    qprobe AS (
      SELECT query_id, qe, cid
      FROM (
        SELECT q.query_id, q.qe, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {cos("q.qe", "c.ce")} DESC, c.cid) AS rn
        FROM q, cent c
      )
      WHERE rn <= {_N_PROBE}
    ),
    ann_sims AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {cos("p.qe", "a.e")} AS cos_sim
      FROM qprobe p JOIN assign a ON a.centroid_id = p.cid
      WHERE a.vec_id != p.query_id
    ),
    ann AS (
      SELECT 'ann_topk' AS kind, query_id AS id_a, neighbor_id AS id_b,
             cos_sim, CAST(rnk AS BIGINT) AS rnk
      FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM ann_sims
      )
      WHERE rnk <= {_TOP_K}
    ),
    nd AS (
      SELECT 'neardup' AS kind, a.vec_id AS id_a, b.vec_id AS id_b,
             {cos("a.e", "b.e")} AS cos_sim, CAST(NULL AS BIGINT) AS rnk
      FROM assign a
      JOIN assign b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {cos("a.e", "b.e")} >= 0.95
    )
    SELECT kind, id_a, id_b, cos_sim, rnk FROM ann
    UNION ALL
    SELECT kind, id_a, id_b, cos_sim, rnk FROM nd
    ORDER BY kind, id_a, id_b
    """


@register(
    "e02_ivf_family",
    survey_ids=(),  # extension: IVF ANN top-k + embedding near-dup pairs
    # (recall + planted-duplicate gates additionally in
    # tests/test_similarity.py)
    oracle=_e02_oracle_sql(),
)
def e02_ivf_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k and embedding-cosine near-dup pairs as
    labeled rows: (kind, id_a, id_b, cos_sim, rnk) — rnk only for ann rows.
    One count job + one centroid collect feed BOTH branches (they were
    previously recomputed per branch: 2 counts + 3 collects per run)."""
    from ducktales_spark.data import stats_num_rows

    v = _vectors(spark, sf_dir)
    C = n_centroids_for(v, n=stats_num_rows(sf_dir, "embeddings"))
    cpdf = _centroids(v, C)
    ann = e02_ivf_ann(spark, sf_dir, n_centroids=C, centroids=cpdf).select(
        F.lit("ann_topk").alias("kind"),
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        "cos_sim",
        "rnk",
    )
    nd = neardup_pairs(v, n_centroids=C, centroids=cpdf).select(
        F.lit("neardup").alias("kind"),
        F.col("vec_a").alias("id_a"),
        F.col("vec_b").alias("id_b"),
        "cos_sim",
        F.lit(None).cast("bigint").alias("rnk"),
    )
    return ann.unionByName(nd)
