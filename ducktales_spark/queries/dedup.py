"""Deduplication operators over the documents table (extensions; first-class
training-data-pipeline components).

* exact dedup        — md5(content) hash-groupBy; one shuffle on the hash.
* n-gram Jaccard     — exact pairwise similarity via shingle inverted index
                       (explode -> self-join on shingle -> count agg). The
                       join key is the shingle, so cost scales with shared-
                       shingle pairs, not |docs|^2; a document-frequency cap
                       drops ubiquitous shingles so one common phrase can't
                       create quadratic candidate fanout on real web text.
* MinHash + LSH      — deterministic minhash signatures (fixed affine hash
                       family over an md5-derived 60-bit shingle hash both
                       engines share) + banded LSH bucketing; only
                       same-bucket pairs are compared. This is the 100 TB
                       path: candidate generation is a groupBy on
                       (band_id, band_key). One builder, ``minhash_bands``,
                       serves candidate pairs, fuzzy decontamination and
                       the streaming dedup sink.
* SimHash            — only inside d03 (``unified_sketch_pairs``): a 64-bit
                       majority-bit sketch folded into the same aggregate
                       pass as the minhash, 16-bit band LSH, hamming
                       verification.

All signature math is built-in JVM expressions (codegen); Python never
touches the hot path.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ducktales_spark.data import plan_memo, table
from ducktales_spark.registry import register
from ducktales_spark.session import shuffle_partitions

# --- deterministic minhash family -----------------------------------------
_P = 2147483647  # 2^31 - 1 (Mersenne prime); a*h+b stays well inside int64
_NUM_HASHES = 32
_BAND_ROWS = 4  # 8 bands of 4 rows -> catches jaccard ~>0.6 reliably
_rng = random.Random(42)
_HASH_AB = [(_rng.randrange(1, _P), _rng.randrange(0, _P)) for _ in range(_NUM_HASHES)]

# n-gram Jaccard: drop shingles present in more than this many documents
# before the inverted-index self-join. A shingle shared by k docs produces
# k(k-1)/2 candidate rows — without a cap one boilerplate phrase ("all rights
# reserved...") makes the join quadratic in corpus size. Ubiquitous shingles
# carry no near-dup signal (they are the stopwords of shingle space), so the
# cap changes results only by ignoring them — applied identically in the
# DuckDB oracle.
_MAX_SHINGLE_DF = 100


def shingle_hash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(doc_id, h) deduped 64-bit word-n-gram shingle hashes, WITHOUT
    materializing the shingle strings: xxhash64 is variadic, so the n word
    columns feed the hash directly and the per-shingle ``concat_ws``
    allocation (~30 B x |shingles| of garbage per scan) is skipped —
    measured 0.235 s -> 0.183 s for the sf0.1 shingle+dedup stage. Set
    semantics are unchanged: words contain no whitespace (they come from a
    \\s+ split), so the (w1..wn) tuple and the space-joined string are in
    bijection. Only for consumers that never need the shingle text (d02's
    inverted index, exact decontamination); d03's sketches hash
    md5-of-string because the DuckDB oracle must compute the identical hash.

    ``distinct=False`` skips the per-doc (doc_id, h) dedup — for consumers
    that dedup downstream anyway (benchmark_ngrams' global distinct)."""
    # Respect the session's shuffle sizing (spark.sql.shuffle.partitions is
    # THE deployment-sized parallelism knob); defaultParallelism is the core
    # count, which over-partitions small inputs into scheduling overhead.
    # The up-front doc_id repartition is the cheapest exchange of the
    # pipeline even at scale (raw text is smaller than its exploded
    # shingles), and the (doc_id, h) dedup plus any downstream groupBy on
    # doc_id ride it; locally it also un-serializes one-row-group scans.
    n_part = shuffle_partitions(docs.sparkSession)
    toks = (
        docs.repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("ws"),
        )
        .filter(F.size("ws") >= n)
    )
    pos = toks.select(
        "doc_id", "ws",
        F.explode(F.sequence(F.lit(1), F.size("ws") - (n - 1))).alias("p"),
    )
    # ONE parsed SQL expression instead of n element_at Column objects:
    # at n=13 (decontamination) the Column-object build cost ~0.3 s of py4j
    # round trips per call (profiled r15); the parsed tree is identical.
    grams = ", ".join(f"element_at(ws, p + {j})" for j in range(n))
    sh = pos.select(
        "doc_id", F.expr(f"xxhash64({grams})").alias("h")
    )
    return sh.dropDuplicates(["doc_id", "h"]) if distinct else sh


def _minhash_bands_sql(n_part: int, id_col: str, text_col: str) -> str:
    """The minhash band table as ONE SQL string (template slot {docs}).

    Relational minhash: explode the word-3-gram shingles, one 60-bit md5
    hash per shingle (the hash the DuckDB oracles compute too), then a
    single groupBy(doc) with 32 codegen'd affine MIN aggregates. MIN over a
    multiset equals MIN over the set, so no shingle dedup shuffle is
    needed, and the groupBy rides the up-front doc_id repartition: one
    shuffle total. Docs with fewer than 3 words have no shingles and
    produce NO row (callers treat them as sketch-less). band_key is the
    exact dash-joined band tuple (injective: zero false candidates), and
    the signature rides through the band explode so band-join consumers
    get both signatures straight from the join.

    Built in one spark.sql round trip instead of ~300 py4j Column calls:
    r16 measured the DataFrame-API build of the same plan at ~0.7 s of the
    c05/c07 pipeline_ops_build numbers, ~0.2 s as SQL."""
    mins = ",\n        ".join(
        f"min(pmod({a}L * pmod(h64, {_P}) + {b}L, {_P})) AS m{i}"
        for i, (a, b) in enumerate(_HASH_AB)
    )
    sig = "array(" + ", ".join(f"m{i}" for i in range(_NUM_HASHES)) + ")"
    n_bands = _NUM_HASHES // _BAND_ROWS
    bands = ", ".join(
        "struct({i} AS band_id, concat_ws('-', {cols}) AS band_key)".format(
            i=i,
            cols=", ".join(
                f"sig[{i * _BAND_ROWS + j}]" for j in range(_BAND_ROWS)
            ),
        )
        for i in range(n_bands)
    )
    return f"""
    WITH src AS (
      SELECT /*+ REPARTITION({n_part}, doc_id) */
             `{id_col}` AS doc_id, `{text_col}` AS text FROM {{docs}}
    ),
    toks AS (
      SELECT doc_id, ws FROM (
        SELECT doc_id, split(trim(text), '\\\\s+') AS ws FROM src
      ) WHERE size(ws) >= 3
    ),
    sh AS (
      SELECT doc_id,
             cast(conv(substr(md5(concat_ws(' ',
               element_at(ws, p), element_at(ws, p + 1), element_at(ws, p + 2)
             )), 1, 15), 16, 10) as bigint) AS h64
      FROM (SELECT doc_id, ws,
                   explode(sequence(1, size(ws) - 2)) AS p FROM toks)
    ),
    sig AS (
      SELECT doc_id, {sig} AS sig FROM (
        SELECT doc_id,
        {mins}
        FROM sh GROUP BY doc_id
      )
    )
    SELECT doc_id, sig, band.band_id, band.band_key FROM (
      SELECT doc_id, sig, explode(array({bands})) AS band FROM sig
    )
    """


def minhash_bands(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, sig, band_id, band_key) exploded LSH bands straight from the
    raw documents, built as one spark.sql call (see _minhash_bands_sql).
    The one minhash builder: candidate pairs (minhash_candidate_pairs),
    the fuzzy-decontamination builders (corpus._fuzzy_counts,
    corpus.benchmark_bands) and streaming dedup's per-batch bands."""
    spark = docs.sparkSession
    n_part = shuffle_partitions(spark)
    return spark.sql(
        _minhash_bands_sql(n_part, id_col, text_col), docs=docs
    )


def est_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Estimated jaccard = fraction of agreeing minhash slots."""
    return F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v)
    ) / F.lit(float(_NUM_HASHES))


def minhash_candidate_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """LSH-banded candidate pairs with estimated jaccard.

    docs(id, text) -> (doc_a, doc_b, est_jaccard). Scale path: the only
    shuffles are the shingle repartition under the signature groupBy and
    the band self-join (key = band hash, cardinality = #docs * #bands);
    both signatures ride the bands, so there is no signature re-join.
    """
    # The band table feeds both sides of the self-join as the SAME
    # canonical subtree — the exchange is computed once and reused, so no
    # persist (a cache here is a materialization barrier locally and
    # unbounded executor storage at scale).
    bands = minhash_bands(docs, id_col, text_col)
    a = bands.alias("a")
    b = bands.hint("shuffle_hash").alias("b")  # unordered equi-join: no sorts
    # A pair colliding in k bands would appear k times; instead of a
    # distinct() shuffle, keep only the FIRST matching band (standard LSH
    # dedup: emit iff no earlier band also matches). The check is a bounded
    # slice-compare over the carried signatures — a projection, not a
    # shuffle.
    earlier_match = F.when(F.col("a.band_id") == 0, F.lit(False)).otherwise(
        F.exists(
            F.sequence(F.lit(0), F.col("a.band_id") - 1),
            lambda j: F.slice(F.col("a.sig"), j * _BAND_ROWS + 1, _BAND_ROWS)
            == F.slice(F.col("b.sig"), j * _BAND_ROWS + 1, _BAND_ROWS),
        )
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(~earlier_match)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(est_jaccard(F.col("a.sig"), F.col("b.sig")), 6).alias(
                "est_jaccard"
            ),
        )
    )


# --- registered queries ----------------------------------------------------


@register(
    "d01_dedup_exact",
    survey_ids=("A1", "A5", "A8"),  # extension: exact dedup
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(count(*) AS BIGINT)    AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY keeper_doc_id
    """,
)
@plan_memo
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep min doc_id per group.
    One shuffle keyed on the 128-bit content hash — uniform keys, no skew,
    scales linearly."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "d02_ngram_jaccard",
    survey_ids=("J1", "A8"),  # extension: n-gram Jaccard near-dup
    # NOTE: d02's oracle CTEs are deliberately NOT materialized — DuckDB
    # pipelines the inlined semi-join + self-join 2-3x faster at every SF
    # (measured sf1: 3.3s vs 8.8s, sf10: 40s vs 99s). d03's oracle is the
    # opposite case (12 reuses of a 97-agg sketch -> MATERIALIZED).
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents
    ),
    pos AS (
      SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM d
    ),
    sh0 AS (
      SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      FROM pos
    ),
    sh AS (
      SELECT doc_id, s FROM sh0
      WHERE s IN (SELECT s FROM sh0 GROUP BY s
                  HAVING count(*) <= {_MAX_SHINGLE_DF})
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(c * 1.0 / (ca.n + cb.n - c), 6) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.2
    ORDER BY doc_a, doc_b
    """,
)
@plan_memo
def d02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity via shingle inverted index; pairs with
    jaccard >= 0.2. Join key is the shingle — candidate pairs are only those
    sharing a shingle, not the full cross product — and shingles in more than
    _MAX_SHINGLE_DF documents are dropped first (identically in the oracle),
    bounding the per-key join fanout under adversarial repeated text.

    Plan shape (identical to the previous DataFrame-API build; now ONE
    spark.sql round trip — build latency ~0.31 s -> ~0.05 s):
    * 8-byte shingle hashes, not strings: the inverted-index self-join
      shuffles (int64, int64) rows instead of ~30-byte text (a 64-bit
      collision perturbs one count with p ~ |shingles|^2/2^65 —
      negligible); xxhash64 is variadic over the word columns so the
      shingle strings are never materialized.
    * the (doc_id, h) DISTINCT rides the up-front doc_id repartition
      (HashPartitioning(doc_id) satisfies the clustering) — no shuffle.
    * the document-frequency cap is a count-over-window keyed on h: ONE
      exchange on h that the self-join consumes in place on BOTH sides
      (identical canonical subtrees -> one reused shuffle). Deliberately
      no persist: a cache is a materialization barrier locally (+0.5 s
      measured) and unbounded executor storage at 100 TB.
    * SHUFFLE_HASH for the self-join: neither side needs ordering; skipping
      SMJ's two sorts measured 5.9 s -> 2.5 s cold.
    * the two denominator probes broadcast ONE shared cnt plan (identical
      subtrees -> the broadcast builds once; measured 1.7 -> 1.1 s)."""
    d = table(spark, sf_dir, "documents")
    n_part = shuffle_partitions(spark)
    return spark.sql(
        f"""
    WITH src AS (
      SELECT /*+ REPARTITION({n_part}, doc_id) */ doc_id, text FROM {{docs}}
    ),
    toks AS (
      SELECT doc_id, ws FROM (
        SELECT doc_id, split(trim(text), '\\\\s+') AS ws FROM src
      ) WHERE size(ws) >= 3
    ),
    sh0 AS (
      SELECT DISTINCT doc_id,
             xxhash64(element_at(ws, p), element_at(ws, p + 1),
                      element_at(ws, p + 2)) AS h
      FROM (SELECT doc_id, ws,
                   explode(sequence(1, size(ws) - 2)) AS p FROM toks)
    ),
    sh AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h, count(1) OVER (PARTITION BY h) AS df FROM sh0
      ) WHERE df <= {_MAX_SHINGLE_DF}
    ),
    cnt AS (SELECT doc_id, count(1) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT /*+ SHUFFLE_HASH(b) */
             a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS c
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT /*+ BROADCAST(ca), BROADCAST(cb) */
           doc_a, doc_b,
           round(c * 1.0D / (ca.n + cb.n - c), 6) AS jaccard
    FROM inter
    JOIN cnt ca ON doc_a = ca.doc_id
    JOIN cnt cb ON doc_b = cb.doc_id
    WHERE c * 1.0D / (ca.n + cb.n - c) >= 0.2
    """,
        docs=d,
    )


def _d03_oracle_sql() -> str:
    """DuckDB SQL for the ENTIRE d03 sketch pipeline — possible because every
    step is deterministic arithmetic over a hash both engines share (md5
    first-15-hex-digits as BIGINT of each word 3-gram; see
    _minhash_bands_sql — shingle_hash_table enumerates the same 3-grams
    but keys them with xxhash64). Same _HASH_AB
    constants inlined; band keys are the same exact string encodings; the
    first-matching-band dedup is equivalently a DISTINCT over (method, pair).
    """
    n_bands = _NUM_HASHES // _BAND_ROWS
    mins = ",\n        ".join(
        f"min(({a} * (h64 % {_P}) + {b}) % {_P}) AS m{i}"
        for i, (a, b) in enumerate(_HASH_AB)
    )
    sums = ",\n        ".join(f"sum((h64 >> {i}) & 1) AS s{i}" for i in range(64))
    bits = ",\n        ".join(
        f"(2 * s{i} > cnt)::BIGINT AS b{i}" for i in range(64)
    )
    mh_band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {i} AS band_id, "
        + " || '-' || ".join(
            f"m{i * _BAND_ROWS + j}::VARCHAR" for j in range(_BAND_ROWS)
        )
        + " AS band_key FROM sig"
        for i in range(n_bands)
    )
    sim_band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {n_bands + j} AS band_id, CAST(("
        + " + ".join(f"b{16 * j + k} * {1 << k}" for k in range(16))
        + ") AS VARCHAR) AS band_key FROM sig"
        for j in range(4)
    )
    est = "(" + " + ".join(
        f"(sa.m{i} = sb.m{i})::INT" for i in range(_NUM_HASHES)
    ) + f") / {float(_NUM_HASHES)}"
    hamming = "(" + " + ".join(
        f"(sa.b{i} <> sb.b{i})::INT" for i in range(64)
    ) + ")"
    return rf"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents
    ),
    pos AS (
      SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
      FROM d WHERE len(ws) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
                             1, 15))::BIGINT AS h64
      FROM pos
    ),
    sk AS MATERIALIZED (
      SELECT doc_id,
        {mins},
        {sums},
        count(*) AS cnt
      FROM sh GROUP BY doc_id
    ),
    sig AS MATERIALIZED (
      SELECT doc_id,
        {", ".join(f"m{i}" for i in range(_NUM_HASHES))},
        {bits}
      FROM sk
    ),
    bands AS MATERIALIZED (
      {mh_band_rows}
      UNION ALL
      {sim_band_rows}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.band_id < {n_bands} AS is_mh,
             a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT CASE WHEN is_mh THEN 'minhash' ELSE 'simhash' END AS method,
             doc_a, doc_b,
             CASE WHEN is_mh THEN round({est}, 6)
                  ELSE CAST({hamming} AS DOUBLE) END AS score
      FROM cand
      JOIN sig sa ON sa.doc_id = doc_a
      JOIN sig sb ON sb.doc_id = doc_b
    )
    SELECT method, doc_a, doc_b, score
    FROM scored
    WHERE method = 'minhash' OR score <= 3
    ORDER BY method, doc_a, doc_b
    """


@register(
    "d03_minhash_lsh",
    survey_ids=(),  # extension: MinHash+LSH + SimHash near-dup candidates
    oracle=_d03_oracle_sql(),
)
@plan_memo
def d03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH and SimHash candidate near-dup pairs on documents, as
    labeled (method, doc_a, doc_b, score) rows — score is the estimated
    jaccard for minhash, the hamming distance for simhash.

    Both sketches fold out of ONE pass AND one self-join: a shared deduped
    shingle-hash table (the (doc_id, h64) dedup rides the shingle table's
    doc_id partitioning — no extra shuffle; simhash requires the dedup,
    minhash is indifferent since MIN over a set equals MIN over the
    multiset) feeds a single groupBy(doc_id) carrying all 97 aggregates
    (32 minhash MINs + 64 simhash bit-SUMs + a count, all codegen; summing
    the raw bit and comparing 2*sum > count is ~2x cheaper per aggregate
    than a CASE'd +1/-1 sign sum). The simhash packs into ONE bigint, so
    hamming is a single bit_count(a^b) and each 16-bit LSH band is a
    mask-and-shift.

    Crucial scale/perf shape: BOTH sketches' LSH bands land in one exploded
    band table (minhash bands 0-7 keyed by the 4 signature slots dash-joined,
    simhash bands 8-11 keyed by the 16-bit block), so candidate generation
    is a SINGLE self-join whose two sides are the same canonical subtree —
    AQE builds the band exchange once, meaning the expensive sketch
    aggregation runs ONCE. The previous two-join union recomputed the
    97-agg sketch per sketch (measured 3.8s -> this shape 2x less agg
    work). Per-pair band dedup is the first-matching-band rule (a bounded
    projection, no distinct() shuffle). No persists anywhere (a cache
    barrier measured slower locally and would be TB-scale executor storage
    at 100 TB)."""
    docs = table(spark, sf_dir, "documents")
    return unified_sketch_pairs(docs)


def _unified_sketch_sql(
    n_part: int, id_col: str, text_col: str, max_hamming: int
) -> str:
    """The d03 pipeline as ONE SQL string (template slot {docs}). Identical
    Catalyst plan to the previous DataFrame-API build — the bands CTE's two
    join sides are the same canonical subtree, so the static ReuseExchange
    rule still computes the 97-aggregate sketch exactly once (plan-asserted
    in tests/test_plans.py) — but built in ONE spark.sql round trip: the
    per-build driver cost drops from ~0.52 s (97 F.expr py4j calls + a dozen
    DataFrame ops) to ~0.14 s, all of it JVM parse+analysis of the large
    plan. String construction itself is <1 ms.

    Expression notes (same as the old build): band keys are EXACT string
    encodings of the band tuple (injective — zero false candidates, and the
    oracle SQL reproduces them verbatim); the 64 simhash majority bits pack
    into one bigint (bit i set iff 2*sum_i > count), so hamming is a single
    bit_count(a^b); per-pair band dedup is the first-matching-band rule —
    minhash slice-compares the carried signatures over earlier bands,
    simhash tests the XOR's earlier 16-bit blocks for all-zero — a bounded
    projection, never a distinct() shuffle."""
    n_bands = _NUM_HASHES // _BAND_ROWS  # minhash bands: ids 0..n_bands-1
    mins = ",\n        ".join(
        f"cast(min(pmod({a}L * pmod(h64, {_P}) + {b}L, {_P})) as int) as m{i}"
        for i, (a, b) in enumerate(_HASH_AB)
    )
    sums = ",\n        ".join(
        f"sum(shiftright(h64, {i}) & 1) as s{i}" for i in range(64)
    )
    packed = " + ".join(
        f"shiftleft(cast(2 * s{i} > cnt as bigint), {i})" for i in range(64)
    )
    sig = "array(" + ", ".join(f"m{i}" for i in range(_NUM_HASHES)) + ")"
    mh_bands = ", ".join(
        "struct({i} as band_id, concat_ws('-', {cols}) as band_key)".format(
            i=i,
            cols=", ".join(
                f"sig[{i * _BAND_ROWS + j}]" for j in range(_BAND_ROWS)
            ),
        )
        for i in range(n_bands)
    )
    sim_bands = ", ".join(
        f"struct({n_bands + j} as band_id,"
        f" cast(shiftrightunsigned(sh64, {16 * j}) & 65535 as string)"
        " as band_key)"
        for j in range(4)
    )

    def _mask(j: int) -> int:  # signed-int64 view of 0xFFFF << 16j
        m = 0xFFFF << (16 * j)
        return m - (1 << 64) if m >= (1 << 63) else m

    def _sim_earlier(jj: int) -> str:  # any of blocks 0..jj-1 all-zero?
        if jj == 0:
            return "false"
        return " or ".join(f"(x & {_mask(j)}L) = 0" for j in range(jj))

    earlier_min = (
        "case when band_id = 0 then false else"
        " exists(sequence(0, band_id - 1),"
        f" j -> slice(sig_a, j * {_BAND_ROWS} + 1, {_BAND_ROWS})"
        f" = slice(sig_b, j * {_BAND_ROWS} + 1, {_BAND_ROWS})) end"
    )
    earlier_sim = "case band_id " + " ".join(
        f"when {n_bands + jj} then ({_sim_earlier(jj)})" for jj in range(4)
    ) + " end"
    est = (
        "size(filter(zip_with(sig_a, sig_b, (p, q) -> p = q), v -> v))"
        f" / {float(_NUM_HASHES)}"
    )
    return f"""
    WITH src AS (
      SELECT /*+ REPARTITION({n_part}, doc_id) */
             `{id_col}` AS doc_id, `{text_col}` AS text FROM {{docs}}
    ),
    toks AS (
      SELECT doc_id, ws FROM (
        SELECT doc_id, split(trim(text), '\\\\s+') AS ws FROM src
      ) WHERE size(ws) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             cast(conv(substr(md5(concat_ws(' ',
               element_at(ws, p), element_at(ws, p + 1), element_at(ws, p + 2)
             )), 1, 15), 16, 10) as bigint) AS h64
      FROM (SELECT doc_id, ws,
                   explode(sequence(1, size(ws) - 2)) AS p FROM toks)
    ),
    sketch AS (
      SELECT doc_id,
        {mins},
        {sums},
        count(1) AS cnt
      FROM sh GROUP BY doc_id
    ),
    sig_sh AS (
      SELECT doc_id, {sig} AS sig, ({packed}) AS sh64 FROM sketch
    ),
    bands AS (
      SELECT doc_id, sig, sh64, band.band_id, band.band_key FROM (
        SELECT doc_id, sig, sh64,
               explode(array({mh_bands}, {sim_bands})) AS band
        FROM sig_sh
      )
    ),
    pairs AS (
      SELECT /*+ SHUFFLE_HASH(b) */
             a.band_id AS band_id, a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b, (a.sh64 ^ b.sh64) AS x
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
    )
    SELECT case when band_id < {n_bands} then 'minhash'
                else 'simhash' end as method,
           doc_a, doc_b,
           case when band_id < {n_bands} then round({est}, 6)
                else cast(bit_count(x) as double) end as score
    FROM pairs
    WHERE not (case when band_id < {n_bands} then {earlier_min}
               else {earlier_sim} end)
      AND (band_id < {n_bands} or bit_count(x) <= {max_hamming})
    """


def unified_sketch_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """One-scan, one-self-join minhash+simhash candidate pairs (see d03).

    Built as a SINGLE ``spark.sql`` call with the input frame as a template
    arg — one py4j round trip for the whole ~100-aggregate pipeline (see
    _unified_sketch_sql for the plan-identity argument and the measured
    build-latency numbers). Same shuffle sizing rule as shingle_hash_table:
    spark.sql.shuffle.partitions is THE deployment-sized parallelism knob."""
    spark = docs.sparkSession
    n_part = shuffle_partitions(spark)
    return spark.sql(
        _unified_sketch_sql(n_part, id_col, text_col, max_hamming), docs=docs
    )
