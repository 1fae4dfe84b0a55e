"""Corpus-assembly operators: the stage AFTER preparation (pipelines.py)
and BEFORE the training job reads shards.

    decontaminate -> mix_corpus -> write_training_shards

* ``decontaminate`` — benchmark n-gram overlap removal (the GPT-3/PaLM
  13-gram protocol): any document sharing a word 13-gram with an eval
  benchmark is flagged so eval scores aren't inflated by memorized test
  data.
* ``mix_corpus`` — weighted domain mixing: each corpus domain is up- or
  down-sampled by a real-valued weight (epochs), the standard way a
  pretraining mixture ("web x0.6, code x2.5, books x1.0") is realized.
* ``write_training_shards`` — deterministic global shuffle into N
  self-contained shard files a data loader can stream independently.

Everything is deterministic (md5-derived hashing, no RNG state) so a
re-run of the same corpus produces byte-identical output — reproducible
training data is a correctness property, not a nicety.

Scale posture (100 TB corpus, 1000 executors):

* decontaminate: the benchmark side is definitionally SMALL (eval suites
  are thousands of documents -> at most a few million distinct 13-grams
  ~= tens of MB of int64 hashes) -> broadcast. The corpus side streams
  through one doc_id exchange (shared with shingling, dedup-style); the
  per-doc hit count aggregation rides that same exchange
  (HashPartitioning(doc_id) satisfies the groupBy's clustering), so the
  whole operator costs ONE corpus shuffle regardless of benchmark count.
* mix_corpus: pure codegen projection + explode — zero shuffle. The
  weights table is a broadcast literal.
* write_training_shards: exactly one full shuffle (the point of a global
  shuffle); shard files are written by the task that owns the shard, so
  output is one file per shard with deterministic internal order.
"""

from __future__ import annotations

import math
from typing import Mapping, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Same md5-derived 60-bit hash the dedup sketches use: both Spark and
# DuckDB compute it identically (DuckDB: ('0x'||substr(md5(s),1,15))::BIGINT),
# so mix_corpus / split_corpus / pack_sequences / write_training_shards —
# whose OUTPUT depends on the hash value (keep/assign/order decisions) —
# are expressible as differential-test SQL. decontaminate's exact path is
# the exception: it hashes n-grams with xxhash64 (which DuckDB cannot
# reproduce) because its join needs equality only, and its differential
# holds via hash-agnostic per-doc counts, not hash value parity.
_H64 = "cast(conv(substr(md5({expr}), 1, 15), 16, 10) as bigint)"


def _h64(col_expr: str):
    return F.expr(_H64.format(expr=col_expr))


# Benchmark-side broadcast cap: eval suites are definitionally small (tens
# of MB of hashes), but the promise "drop the hint for a benchmark too large
# to broadcast" needs an actual guard — above this many plan-stat bytes the
# join goes un-hinted and Catalyst picks a shuffled hash join. Unknown stats
# (Python-created benchmark frames report the Long.MaxValue sentinel family —
# see plan_bytes) keep the broadcast: the small-by-contract default.
_BENCH_BROADCAST_CAP = 256 << 20


def plan_bytes(df: DataFrame) -> Optional[int]:
    """Catalyst's optimized-plan size estimate in bytes, or None when the
    plan has no real statistics (parquet scans report file bytes; Python-
    created DataFrames report the Long.MaxValue sentinel, which Catalyst's
    size-only estimator SCALES through projections — so the whole >1 PiB
    family is treated as unknown, not just the raw sentinel)."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return None if size >= 1 << 50 else size


def _bench_side(
    df: DataFrame, max_broadcast_bytes: int, probe_unknown: bool = False
):
    """The benchmark side of a decontamination join: broadcast-hinted while
    plan stats say it fits, un-hinted above the cap so Catalyst falls back
    to a shuffled hash join.

    The cap binds only for STAT-BEARING sources (parquet scans; persisted
    frames after materialization — the streaming ingest path persists and
    counts its benchmark side, so it is always enforced). For unknown
    stats — the Long.MaxValue sentinel family, i.e. most Python/Arrow-
    created frames — the default FAILS OPEN to broadcast (small by
    contract). ``probe_unknown=True`` closes that hole with a measured
    estimate (one COUNT job at call time x the schema's per-row default
    size, Catalyst's own fallback formula) at the cost of an eager action
    in an otherwise lazy API."""
    b = plan_bytes(df)
    if b is None and probe_unknown:
        row_bytes = int(
            df._jdf.queryExecution().optimizedPlan().schema().defaultSize()
        )
        b = df.count() * max(row_bytes, 1)
    if b is not None and b > max_broadcast_bytes:
        return df
    return F.broadcast(df)


def benchmark_ngrams(
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Distinct hashed word n-grams of an eval benchmark: one column ``h``.

    Hashes are variadic xxhash64 over the n word columns (8 bytes each in
    the broadcast, no n-gram string materialization, no md5 — the same
    hash-not-text trade d02's inverted index makes: the decon join only
    needs equality, a 64-bit collision flips one doc's hit count with
    p ~ |grams|^2/2^65, and the corpus side computes the identical hash
    in ``decontaminate``; r15 interleaved A/B, sf0.1 min-of-7, value-parity
    true: c01 0.309 -> 0.257 s — the md5 + 13-word concat was ~17% of the
    query). The distinct()
    collapses cross-document repeats before the broadcast so the driver
    ships each n-gram once.
    """
    from ducktales_spark.queries.dedup import shingle_hash_table

    return (
        shingle_hash_table(
            bench, id_col=id_col, text_col=text_col, n=n, distinct=False
        )
        .select("h")
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
    mode: str = "exact",
    threshold: float = 0.8,
    max_broadcast_bytes: int = _BENCH_BROADCAST_CAP,
    probe_unknown: bool = False,
) -> dict:
    """Flag corpus documents that leak eval-benchmark content.

    ``mode="exact"`` — the GPT-3 appendix-C protocol: a document is
    contaminated when it contains >= ``min_hits`` distinct word ``n``-grams
    (13 by default) that also appear in the eval set. Misses paraphrased or
    reformatted leakage: ONE substituted token breaks all 13 overlapping
    13-grams around it.

    ``mode="fuzzy"`` — MinHash-LSH against the benchmark (the d03 sketch
    machinery): a document is contaminated when its estimated 3-shingle
    jaccard to >= ``min_hits`` benchmark documents is >= ``threshold``.
    Catches near-verbatim leakage (token substitutions, re-wrapping) that
    breaks exact n-grams; ``n`` is ignored. ``hits`` gains a
    ``max_jaccard`` column in this mode.

    ``mode="both"`` — exact AND fuzzy in one call (real pipelines want
    both: each catches a leak class the other misses — a single verbatim
    13-gram inside an otherwise-novel doc never moves the estimated
    3-shingle jaccard, and a paraphrase breaks every exact 13-gram). A doc
    is contaminated when EITHER test fires at ``min_hits``; ``hits`` and
    ``flags`` carry ``n_hits`` (exact), ``n_hits_fuzzy``, and
    ``max_jaccard`` for the audit face.

    Returns lazily-built DataFrames:

    * ``hits``  — (doc_id, n_hits[, max_jaccard]) for contaminated docs;
    * ``flags`` — every input doc + ``n_hits`` (0 when clean) +
      ``contaminated`` boolean (the audit table);
    * ``clean`` — the input rows with contaminated documents removed.

    Plan shape (both modes): the corpus side costs ONE doc_id exchange
    (exact: shingle_hash_table's; fuzzy: minhash_bands' signature groupBy,
    whose hash distribution the band explode and hit-count groupBy both
    reuse);
    the benchmark side is broadcast while its plan-stat bytes fit under
    ``max_broadcast_bytes`` (eval suites are small by definition) and
    joins un-hinted above it — Catalyst falls back to a shuffled hash
    join. The cap binds only for stat-bearing benchmark sources (see
    ``_bench_side``); pass ``probe_unknown=True`` to enforce it for
    statless (Python/Arrow-created) benchmarks via one eager COUNT probe.
    Documents shorter than the shingle width have no shingles and are
    never contaminated.
    """
    def exact_counts():
        # variadic xxhash64 over the n word columns, matching
        # benchmark_ngrams — no n-gram string, no md5 (see its docstring
        # for the measured win and the collision argument)
        from ducktales_spark.queries.dedup import shingle_hash_table

        corpus = shingle_hash_table(
            docs, id_col=id_col, text_col=text_col, n=n
        )
        return (
            corpus.join(
                _bench_side(
                    benchmark_ngrams(bench, id_col, text_col, n),
                    max_broadcast_bytes,
                    probe_unknown=probe_unknown,
                ),
                "h",
            )
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )

    def fuzzy_counts():
        return _fuzzy_counts(
            docs, bench, id_col, text_col, threshold, max_broadcast_bytes,
            probe_unknown=probe_unknown,
        )

    audit_cols = ["n_hits"]
    if mode == "fuzzy":
        counts = fuzzy_counts()
    elif mode == "exact":
        counts = exact_counts()
    elif mode == "both":
        # exact catches verbatim leakage below the LSH shingle resolution
        # (one shared 13-gram never moves an estimated 3-shingle jaccard);
        # fuzzy catches paraphrase that breaks every exact 13-gram. Full
        # outer join of the two per-doc count tables — each side keeps its
        # own one-corpus-exchange plan; the join key is the tiny hit set.
        fz = fuzzy_counts().withColumnRenamed("n_hits", "n_hits_fuzzy")
        # The full-outer join of the two count tables stays UNhinted
        # SortMergeJoin: an r15 interleaved A/B (sf0.1, min-of-7) measured
        # SHUFFLE_HASH at 0.595 s vs SMJ 0.577 s — the count tables are
        # tiny post-aggregation, so the sorts cost less than the SHJ build.
        counts = (
            exact_counts()
            .join(fz, "doc_id", "full")
            .select(
                "doc_id",
                F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                F.coalesce("n_hits_fuzzy", F.lit(0)).alias("n_hits_fuzzy"),
                "max_jaccard",
            )
        )
        audit_cols = ["n_hits", "n_hits_fuzzy", "max_jaccard"]
    else:
        raise ValueError(f"unknown decontamination mode: {mode!r}")
    contam = F.col("n_hits") >= min_hits
    if mode == "both":
        contam = contam | (F.col("n_hits_fuzzy") >= min_hits)
    # raw per-doc counts, UNthresholded: `flags` must audit 1..min_hits-1
    # docs as n_hits=k, not 0 — the threshold applies only to the
    # contaminated/clean split (and to the returned `hits`).
    hits = counts.filter(contam)
    fcounts = counts.select("doc_id", *audit_cols)
    flags = (
        docs.join(fcounts, docs[id_col] == fcounts.doc_id, "left")
        .drop(fcounts.doc_id)
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
    )
    if mode == "both":
        flags = flags.withColumn(
            "n_hits_fuzzy", F.coalesce("n_hits_fuzzy", F.lit(0))
        )
    flags = flags.withColumn("contaminated", contam)
    clean = flags.filter(~F.col("contaminated")).drop(
        *audit_cols, "contaminated"
    )
    return {"hits": hits, "flags": flags, "clean": clean}


def benchmark_bands(
    bench: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The benchmark side of fuzzy decontamination, precomputable: exploded
    LSH bands carrying the signature — (band_id, band_key, __bench_id,
    __bench_sig). Streaming ingest computes this ONCE and reuses it per
    micro-batch (the fuzzy analog of benchmark_ngrams)."""
    from ducktales_spark.queries.dedup import minhash_bands

    return minhash_bands(bench, id_col=id_col, text_col=text_col).select(
        "band_id",
        "band_key",
        F.col("doc_id").alias("__bench_id"),
        F.col("sig").alias("__bench_sig"),
    )


def _fuzzy_counts(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    max_broadcast_bytes: int,
    bench_bands: Optional[DataFrame] = None,
    probe_unknown: bool = False,
) -> DataFrame:
    """(doc_id, n_hits, max_jaccard) per corpus doc whose estimated jaccard
    to >= 1 benchmark doc clears ``threshold``. A pair colliding in k bands
    appears k times in the candidate join; count_distinct/max make the
    duplicates harmless without a distinct() shuffle."""
    from ducktales_spark.queries.dedup import est_jaccard, minhash_bands

    if bench_bands is None:
        bench_bands = benchmark_bands(bench, id_col, text_col)
    bands = minhash_bands(docs, id_col=id_col, text_col=text_col)
    scored = bands.join(
        _bench_side(bench_bands, max_broadcast_bytes,
                    probe_unknown=probe_unknown),
        ["band_id", "band_key"],
    ).withColumn("__est_j", est_jaccard(F.col("sig"), F.col("__bench_sig")))
    return (
        scored.filter(F.col("__est_j") >= threshold)
        .groupBy("doc_id")
        .agg(
            F.count_distinct("__bench_id").alias("n_hits"),
            F.max("__est_j").alias("max_jaccard"),
        )
    )


def mix_corpus(
    docs: DataFrame,
    weights: Mapping[str, float],
    domain_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Realize a training mixture: sample each domain at a real-valued rate.

    ``weights`` maps domain value -> epochs: 2.0 duplicates every doc of
    the domain twice (tagged ``epoch`` 0 and 1), 0.3 keeps a deterministic
    30% sample, 2.5 keeps 2 full copies plus a 50% third epoch. Domains
    absent from ``weights`` (and weight 0) are dropped — a mixture spec is
    exhaustive by design, so silence means exclude.

    The keep decision for (doc, epoch) is ``u < frac`` where u is an
    md5-derived uniform in [0,1) of (doc_id, epoch, seed) — deterministic,
    reproducible, independent across epochs, and identical SQL in any
    engine. Zero shuffle: the weights join is a broadcast literal and the
    epoch explode + filter are codegen projections.
    """
    if any(w < 0 for w in weights.values()):
        raise ValueError("mixture weights must be >= 0")
    clash = {"__w", "__epoch", "epoch"} & set(docs.columns)
    if clash:
        raise ValueError(
            f"mix_corpus working/output columns collide with input: {sorted(clash)}"
        )
    spark = docs.sparkSession
    rows = [(str(d), float(w)) for d, w in weights.items() if w > 0]
    if not rows:
        return docs.withColumn("epoch", F.lit(0)).limit(0)
    wdf = spark.createDataFrame(rows, f"{domain_col} string, __w double")
    n_max = max(int(math.ceil(w)) for _, w in rows)
    u = (
        F.pmod(
            _h64(
                f"concat(cast({id_col} as string), ':', cast(__epoch as string), "
                f"':', '{seed}')"
            ),
            F.lit(1_000_000_000),
        ).cast("double")
        / F.lit(1_000_000_000.0)
    )
    return (
        docs.join(F.broadcast(wdf), domain_col)
        .withColumn(
            "__epoch", F.explode(F.sequence(F.lit(0), F.lit(n_max - 1)))
        )
        # epoch indices below floor(w) are full copies; the one fractional
        # epoch (index floor(w)) keeps a (w - floor(w)) hash sample
        .filter(
            (F.col("__epoch") < F.floor("__w"))
            | ((F.col("__epoch") < F.col("__w")) & (u < F.col("__w") - F.floor("__w")))
        )
        # the string-keyed join moved domain_col to the front: restore the
        # input column order (+ epoch last) so both branches agree
        .select(*docs.columns, F.col("__epoch").alias("epoch"))
    )


def shards_for(
    df: DataFrame,
    target_shard_bytes: int = 256 << 20,
    fallback: int = 64,
) -> int:
    """Shard count sized to the input: ceil(plan bytes / target).

    ``pack_sequences(strict=True)`` holds ONE WHOLE SHARD as a pandas frame
    inside ``applyInPandas`` — a fixed shard count is therefore an
    executor-memory contract violation at scale (corpus/64 at 100 TB is a
    ~1.5 TB group). Sizing from Catalyst's plan statistics (parquet scans
    report real file bytes; filters/projections scale them) keeps every
    shard ~``target_shard_bytes`` regardless of corpus size.

    Python-created DataFrames (LogicalRDD) report unknown stats
    (``defaultSizeInBytes`` = Long.MaxValue) — and Catalyst's size-only
    estimator SCALES that sentinel by row-width ratios through
    projections, so an unknown-stat plan can surface any astronomically
    large value, not the raw sentinel. Anything above 1 PiB is therefore
    treated as unknown (no single DataFrame input approaches that; a
    genuinely larger corpus passes n_shards explicitly), and the derived
    count is additionally capped at 2^20 shards as a shuffle-sanity
    bound — both fall back to ``fallback``-style safety rather than
    deriving a billions-of-partitions repartition.
    """
    size = plan_bytes(df)
    if size is None:  # unknown-stat sentinel family (scaled or raw)
        return fallback
    return min(1 << 20, max(1, -(-size // max(1, target_shard_bytes))))


def split_corpus(
    docs: DataFrame,
    fractions: Mapping[str, float],
    id_col: str = "doc_id",
    strata: tuple = (),
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Deterministic train/val/test assignment: the input plus a ``split``
    column. ``fractions`` maps split name -> fraction (must sum to 1).

    Default (hash) mode: a doc's split is ``u < cumulative-fraction`` where
    u is the md5-derived uniform of (doc_id, seed) — the mix_corpus keep
    rule. Proportions are approximate (binomial), but the property training
    pipelines actually need holds: a document's split NEVER changes when
    other documents are added or removed (incremental corpora can't have
    eval examples migrating into train between builds). Zero shuffle, pure
    codegen; ``strata`` is ignored — per-stratum proportions are already
    unbiased because u is independent of every column.

    ``exact=True``: exact proportions via ``percent_rank`` over the hash
    order within each stratum (one window shuffle on ``strata``; empty
    strata = one global window — fine for calibration-sized sets, use hash
    mode at corpus scale). Exact mode is NOT stable under growth — adding
    docs shifts ranks — which is why it is not the default.

    Both modes are deterministic for fixed (corpus, fractions, seed) and
    SQL-expressible (the c06 oracle replays them in DuckDB).
    """
    fracs = [(k, float(v)) for k, v in fractions.items()]
    if not fracs or any(v < 0 for _, v in fracs):
        raise ValueError("fractions must be non-negative and non-empty")
    if abs(sum(v for _, v in fracs) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {dict(fractions)}")
    if "split" in docs.columns:
        raise ValueError("input already has a 'split' column")
    u = (
        F.pmod(
            _h64(f"concat(cast({id_col} as string), ':', '{seed}')"),
            F.lit(1_000_000_000),
        )
        / 1e9
    )
    if exact:
        from pyspark.sql import Window

        w = Window.partitionBy(
            *[F.col(c) for c in strata]
        ).orderBy(u.asc(), F.col(id_col).asc())
        u = F.percent_rank().over(w)
    expr = None
    acc = 0.0
    for name, frac in fracs[:-1]:
        acc += frac
        cond = u < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = fracs[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return docs.withColumn("split", expr)


def pack_sequences(
    chunks: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    chunk_id_col: str = "chunk_id",
    tokens_col: str = "n_chunk_tokens",
    text_col: str = "chunk",
    n_shards: Optional[int] = None,
    seed: int = 42,
    strict: bool = True,
    target_shard_bytes: int = 256 << 20,
) -> DataFrame:
    """Pack chunks into training sequences of at most ``budget`` tokens:
    (shard, seq_id, position, doc_id, chunk_id, n_chunk_tokens, chunk).

    Pretraining loaders consume fixed-length sequences, not documents;
    packing multiple short chunks per sequence is how the token budget is
    actually filled (padding waste otherwise). Chunks are dealt to
    ``n_shards`` hash shards (md5 of (doc, chunk, seed) — deterministic,
    decorrelated from ingest order) and packed greedily IN SHARD ORDER, so
    the operation is one shuffle + per-shard linear passes, embarrassingly
    parallel across shards.

    * ``strict=True`` (default): exact next-fit — a sequence closes when
      the next chunk would overflow ``budget``. Sequential by nature, so it
      runs as an Arrow-batched ``applyInPandas`` per shard (a linear numpy
      pass over shard-local rows; the pair/text payload crosses the shuffle
      once). A chunk alone larger than ``budget`` becomes its own
      over-budget sequence (never split: chunking upstream owns lengths).
    * ``strict=False``: pure-codegen approximation — ``seq_id =
      floor(cum_tokens_before / budget)`` over a shard-partitioned window.
      Zero Python; sequences may overrun ``budget`` by at most
      ``max_chunk_tokens - 1`` (documented trade: exactness for an
      all-JVM plan). Right when downstream truncates/pads anyway.

    Both variants are deterministic for a fixed (corpus, budget, n_shards,
    seed).

    ``n_shards=None`` (default) derives the count from input plan stats via
    ``shards_for`` — one shard per ~``target_shard_bytes`` of input — so a
    strict-mode shard (one ``applyInPandas`` pandas group) stays
    executor-memory-sized at any corpus scale. Pass an explicit ``n_shards``
    only when the loader contract fixes the file count.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    if n_shards is None:
        n_shards = shards_for(chunks, target_shard_bytes=target_shard_bytes)
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    keyed = chunks.withColumn(
        "__h",
        _h64(
            f"concat(cast({id_col} as string), '@', cast({chunk_id_col} as "
            f"string), '#', '{seed}')"
        ),
    ).withColumn("shard", F.pmod("__h", F.lit(n_shards)).cast("int"))
    from pyspark.sql import Window as W

    order = [F.col("__h"), F.col(id_col), F.col(chunk_id_col)]
    if not strict:
        w = W.partitionBy("shard").orderBy(*order)
        cum_before = F.coalesce(
            F.sum(tokens_col).over(
                w.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        seq = F.floor(cum_before / budget).cast("bigint")
        # position restarts per sequence: second window over (shard, seq)
        out = keyed.select(
            "shard",
            seq.alias("seq_id"),
            id_col,
            chunk_id_col,
            tokens_col,
            text_col,
            F.col("__h"),
        )
        w2 = W.partitionBy("shard", "seq_id").orderBy(
            F.col("__h"), F.col(id_col), F.col(chunk_id_col)
        )
        return out.select(
            "shard",
            "seq_id",
            (F.row_number().over(w2) - 1).alias("position"),
            id_col,
            chunk_id_col,
            tokens_col,
            text_col,
        )

    import pandas as pd

    # passthrough columns keep their INPUT types (string ids, wide token
    # counters, ... must round-trip untouched; only shard/seq_id/position
    # are ours to type)
    in_type = {f.name: f.dataType.simpleString() for f in chunks.schema.fields}
    out_schema = (
        f"shard int, seq_id bigint, position int, "
        f"{id_col} {in_type[id_col]}, {chunk_id_col} {in_type[chunk_id_col]}, "
        f"{tokens_col} {in_type[tokens_col]}, {text_col} {in_type[text_col]}"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["__h", id_col, chunk_id_col], kind="stable"
        ).reset_index(drop=True)
        toks = pdf[tokens_col].to_numpy()
        seq_ids = [0] * len(toks)
        positions = [0] * len(toks)
        seq, pos, used = 0, 0, 0
        for i, t in enumerate(toks):
            if pos and used + t > budget:
                seq, pos, used = seq + 1, 0, 0
            seq_ids[i], positions[i] = seq, pos
            used += t
            pos += 1
        pdf = pdf.assign(seq_id=seq_ids, position=positions)
        return pdf[
            ["shard", "seq_id", "position", id_col, chunk_id_col,
             tokens_col, text_col]
        ]

    return (
        keyed.repartition(n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(pack, out_schema)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> str:
    """Deterministic global shuffle into ``n_shards`` parquet shards.

    Training loaders want N self-contained files they can stream in
    parallel, with document order decorrelated from ingest order and
    byte-identical across re-runs. Shard assignment and within-shard order
    are both md5-derived from (id, seed): repartition on the shard id puts
    each shard wholly inside one task, ``partitionBy`` writes it as the
    single file of its ``shard=K`` directory, and the within-partition
    sort fixes the row order. Changing ``seed`` reshuffles both placement
    and order.

    One full shuffle — the theoretical minimum for a global shuffle. At
    scale pick ``n_shards`` >= cluster cores so the write saturates the
    cluster and each shard stays O(corpus/n_shards).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    keyed = df.withColumn(
        "__h", _h64(f"concat(cast({id_col} as string), '#', '{seed}')")
    ).withColumn("shard", F.pmod("__h", F.lit(n_shards)).cast("int"))
    (
        keyed.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__h", id_col)
        .drop("__h")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return path
