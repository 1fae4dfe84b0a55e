"""Structured Streaming tests: transactional lake ingestion (micro-batch ==
snapshot), watermarked window aggregation, and the custom stateful
sessionizer. All use a finite file-stream source + availableNow so runs are
deterministic and bounded."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ducktales_spark.lake import LakeCatalog
from ducktales_spark.streaming import (
    sessionize,
    start_lake_ingest,
    windowed_counts,
)

T0 = dt.datetime(2024, 1, 1, 8, 0, 0)


def _mins(m):
    return T0 + dt.timedelta(minutes=m)


@pytest.fixture()
def source_dir(spark, tmp_path):
    """A 2-file parquet dir: file boundary == micro-batch boundary (with
    maxFilesPerTrigger=1), giving 2 deterministic micro-batches."""
    rows1 = [(1, _mins(0), "view", 1.0), (1, _mins(10), "view", 2.0),
             (2, _mins(5), "click", 3.0)]
    rows2 = [(1, _mins(130), "view", 4.0), (2, _mins(15), "click", 5.0),
             (1, _mins(140), "buy", 6.0), (1, _mins(260), "view", 7.0)]
    schema = "user_id bigint, ts timestamp, event_type string, value double"
    d = tmp_path / "src"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(d / "f1")
    )
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(d / "f2")
    )
    return d, schema


def _stream(spark, source_dir, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(source_dir))
    )


def test_lake_ingest_micro_batch_snapshots(spark, tmp_path, source_dir):
    """foreachBatch sink commits one lake snapshot per micro-batch; the epoch
    table makes replays idempotent (exactly-once appends)."""
    d, schema = source_dir
    lake = LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=2)
    lake.create_table(
        "events_s",
        spark.createDataFrame([], schema).schema,
    )
    v0 = lake.current_version()
    q = start_lake_ingest(
        _stream(spark, d, schema),
        lake,
        "events_s",
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert lake.read("events_s").count() == 7
    # >= 2 data snapshots beyond table creation (one per micro-batch)
    assert lake.current_version() >= v0 + 3
    # time travel into the ingestion history: some snapshot holds only batch 1
    counts = sorted(
        lake.read("events_s", version=v).count()
        for v in range(v0 + 1, lake.current_version() + 1)
    )
    assert counts[0] in (0, 3) and counts[-1] == 7

    # replay safety: restart with same checkpoint -> no duplicates
    q2 = start_lake_ingest(
        _stream(spark, d, schema),
        lake,
        "events_s",
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert lake.read("events_s").count() == 7


def test_windowed_counts_stream_matches_batch(spark, tmp_path, source_dir):
    """The SAME declarative plan runs incrementally under streaming and as a
    batch query; results must agree (complete output mode)."""
    d, schema = source_dir
    stream = windowed_counts(_stream(spark, d, schema), window="1 hour")
    q = (
        stream.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch_df = spark.createDataFrame(
        [], schema
    ).sparkSession.read.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(d))
    expect = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_counts(batch_df).collect()
    }
    assert got == expect and len(got) >= 3


def test_sessionize_stateful(spark, tmp_path, source_dir):
    """applyInPandasWithState sessionizer: sessions separated by >30min gaps
    close and emit; the still-open last session per user stays in state."""
    d, schema = source_dir
    out = sessionize(_stream(spark, d, schema))
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM sessions ORDER BY user_id, session_start"
    ).collect()
    # user 1: [0,10] closed by 130; [130,140] closed by 260; [260] still open
    sess = [(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in rows]
    assert (1, _mins(0), _mins(10), 2) in sess
    assert (1, _mins(130), _mins(140), 2) in sess
    # user 2: [5,15] never followed by a gap -> still open, not emitted
    assert all(u != 2 for (u, *_rest) in sess)


def test_lake_cdc_merge_stream(spark, tmp_path):
    """Streaming CDC apply: each micro-batch MERGEs into a keyed lake table;
    replays are idempotent; within-batch duplicate keys collapse to one row."""
    from ducktales_spark.streaming import start_lake_cdc_merge

    schema = "id bigint, v string, seq bigint"
    d = tmp_path / "cdc"
    # batch 1: initial keys 1..3 (key 2 duplicated in-batch; seq 2 must win)
    spark.createDataFrame(
        [(1, "a", 1), (2, "stale", 1), (2, "b", 2), (3, "c", 1)], schema
    ).coalesce(1).write.parquet(str(d / "f1"))
    # batch 2: update key 1, insert key 4
    spark.createDataFrame(
        [(1, "a2", 3), (4, "d", 1)], schema
    ).coalesce(1).write.parquet(str(d / "f2"))

    lake = LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=2)
    lake.create_table("state", spark.createDataFrame([], schema).schema)

    def run():
        q = start_lake_cdc_merge(
            _stream(spark, d, schema),
            lake,
            "state",
            on=["id"],
            order_by=["seq"],
            checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)

    run()
    got = {r["id"]: (r["v"], r["seq"]) for r in lake.read("state").collect()}
    assert got == {1: ("a2", 3), 2: ("b", 2), 3: ("c", 1), 4: ("d", 1)}

    # replay with the same checkpoint: no changes, no new data snapshots
    v = lake.current_version()
    run()
    assert lake.current_version() == v
    got2 = {r["id"]: (r["v"], r["seq"]) for r in lake.read("state").collect()}
    assert got2 == got


def test_replayed_batch_no_empty_snapshot(spark, tmp_path):
    """Review r2: a replayed batch must be a FULL no-op — no duplicate rows
    AND no spurious empty snapshot from committing the idempotency check."""
    from ducktales_spark.streaming.ingest import _commit_batch, _epoch_table

    lake = LakeCatalog(str(tmp_path / "lk"), spark)
    lake.sql("CREATE TABLE tgt (x INT)")
    ep = _epoch_table(lake, "tgt")
    df = spark.createDataFrame([(1,), (2,)], "x int")
    _commit_batch(lake, ep, 0, lambda tx: tx.insert("tgt", df))
    v_after = lake.current_version()
    _commit_batch(lake, ep, 0, lambda tx: tx.insert("tgt", df))  # replay
    assert lake.current_version() == v_after  # no empty snapshot
    assert lake.count("tgt") == 2  # no duplicate rows
    # a second stream into a different target gets its own epoch table
    lake.sql("CREATE TABLE tgt2 (x INT)")
    ep2 = _epoch_table(lake, "tgt2")
    assert ep2 != ep


def test_sessionize_property_random_streams(spark, tmp_path):
    """Property: for ANY time-split event stream (multiple micro-batches,
    per-user state carried across batches), the stateful sessionizer's
    emitted (closed) sessions equal the reference sessionization computed
    in plain Python — i.e. all sessions except each user's final open one.
    Randomized trials stand in for hypothesis (a Spark streaming query per
    example is too slow for shrinking anyway)."""
    import random as _random

    rng = _random.Random(20260814)
    for trial in range(6):
        n = rng.randint(1, 30)
        events = [
            (rng.randint(0, 3), _mins(rng.randint(0, 4000)))
            for _ in range(n)
        ]
        # time-ordered file split: batch boundaries respect event time, as
        # a watermarked production source would guarantee
        events.sort(key=lambda e: e[1])
        cut = rng.randint(0, n)
        parts = [p for p in (events[:cut], events[cut:]) if p]

        # expected: per-user 30-min-gap sessions, minus each user's last
        expected = set()
        by_user: dict = {}
        for uid, ts in events:
            by_user.setdefault(uid, []).append(ts)
        for uid, tss in by_user.items():
            tss.sort()
            sessions = []
            start = last = tss[0]
            count = 0
            for t in tss:
                if (t - last).total_seconds() > 1800:
                    sessions.append((uid, start, last, count))
                    start, count = t, 0
                last = t
                count += 1
            # final session stays open (NoTimeout) -> not emitted
            expected.update(sessions)

        d = tmp_path / f"prop{trial}"
        schema = "user_id bigint, ts timestamp"
        for i, part in enumerate(parts):
            spark.createDataFrame(part, schema).coalesce(1).write.parquet(
                str(d / f"f{i}")
            )
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(d))
        )
        name = f"prop_sessions_{trial}"
        q = (
            sessionize(src, gap_minutes=30)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["user_id"], r["session_start"], r["session_end"],
             r["n_events"])
            for r in spark.table(name).collect()
        }
        assert got == expected, (trial, sorted(got), sorted(expected))


# --- streaming deduplicating ingest ----------------------------------------

_LONG_A = ("the quick brown fox jumps over the lazy dog while the band "
           "plays a slow waltz under pale evening light near the old pier")
# one middle word changed vs _LONG_A -> jaccard ~0.87, well over 0.5
_LONG_A_NEAR = _LONG_A.replace("slow waltz", "fast waltz")
_LONG_B = ("colorless green ideas sleep furiously beneath seven restless "
           "moons that drift across a copper sky toward the silent harbor "
           "wall at dawn")


def _doc_stream(spark, tmp_path, batches):
    """batches: list of [(doc_id, text), ...] -> file-per-batch parquet
    stream (maxFilesPerTrigger=1 gives one micro-batch per file)."""
    schema = "doc_id bigint, text string"
    d = tmp_path / "docs_src"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / f"b{i}")
        )
    return _stream(spark, d, schema), schema


def test_streaming_dedup_ingest(spark, tmp_path):
    """Exact + MinHash near-dup filtering across micro-batches: survivors,
    dedup state, and the epoch marker commit as one snapshot; within-batch
    and cross-batch duplicates (exact and near) are all dropped; sketch-less
    short docs still exact-deduplicate."""
    from ducktales_spark.streaming import start_lake_dedup_ingest

    batches = [
        [
            (1, _LONG_A),         # kept
            (2, _LONG_B),         # kept
            (3, _LONG_A),         # within-batch exact dup of 1 -> dropped
            (4, _LONG_A_NEAR),    # within-batch near dup of 1 -> dropped
        ],
        [
            (5, _LONG_A),         # cross-batch exact dup -> dropped
            (6, _LONG_A_NEAR),    # cross-batch near dup -> dropped
            (7, "short doc"),     # sketch-less (< 3 words) -> kept
            (8, "short doc"),     # exact dup of 7 -> dropped
            (9, _LONG_B + " entirely different trailing content here now"),
            # ^ shares a band with _LONG_B but est jaccard < threshold with
            #   enough extra words? -> keep expectation computed below
        ],
    ]
    stream, schema = _doc_stream(spark, tmp_path, batches)
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    lake.create_table("docs", spark.createDataFrame([], schema).schema)
    q = start_lake_dedup_ingest(
        stream,
        lake,
        "docs",
        checkpoint_dir=str(tmp_path / "ckpt"),
        minhash_threshold=0.5,
        available_now=True,
    )
    q.awaitTermination(180)

    got = sorted(r.doc_id for r in lake.read("docs").collect())
    # doc 9 keeps iff its estimated jaccard vs doc 2 is < 0.5 — compute the
    # ground truth with the same deterministic sketch
    from ducktales_spark.queries.dedup import minhash_bands

    sigs = {
        r.doc_id: r.sig
        for r in minhash_bands(
            spark.createDataFrame(
                [(2, _LONG_B), (9, batches[1][4][1])], schema
            )
        ).collect()
    }
    est = sum(a == b for a, b in zip(sigs[2], sigs[9])) / 32.0
    expected = [1, 2, 7] + ([9] if est < 0.5 else [])
    assert got == expected, (got, expected, est)

    # state tables cover exactly the survivors
    hashes = sorted(r.doc_id for r in lake.read("_dedup_hash__docs").collect())
    assert hashes == expected
    band_ids = sorted(
        {r.doc_id for r in lake.read("_dedup_bands__docs").collect()}
    )
    assert band_ids == [d for d in expected if d not in (7,)]

    # replay safety: same source + checkpoint -> no new rows, no snapshots
    v = lake.current_version()
    stream3 = _stream(spark, tmp_path / "docs_src", schema)
    q2 = start_lake_dedup_ingest(
        stream3,
        lake,
        "docs",
        checkpoint_dir=str(tmp_path / "ckpt"),
        minhash_threshold=0.5,
        available_now=True,
    )
    q2.awaitTermination(180)
    assert sorted(r.doc_id for r in lake.read("docs").collect()) == expected
    assert lake.current_version() == v


def test_dedup_ingest_crash_between_staging_and_commit(spark, tmp_path):
    """Crash recovery for the exactly-once epoch protocol: the batch
    transaction dies AFTER the sink staged survivors + dedup state but
    BEFORE the atomic catalog publish (Transaction.commit). Nothing may be
    visible afterwards — no partial data, no orphaned state rows, no epoch
    marker, no snapshot — and a restart from the same checkpoint must
    replay the batch to exactly one copy of everything."""
    from ducktales_spark.lake.catalog import Transaction
    from ducktales_spark.streaming import start_lake_dedup_ingest
    from ducktales_spark.streaming.dedup import _state_tables
    from ducktales_spark.streaming.ingest import _epoch_table

    batches = [[(1, _LONG_A), (2, _LONG_B), (3, _LONG_A)]]
    stream, schema = _doc_stream(spark, tmp_path, batches)
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    lake.create_table("docs", spark.createDataFrame([], schema).schema)
    # ensure the epoch/state tables BEFORE injecting the crash, so the one
    # poisoned commit is the batch transaction itself
    _epoch_table(lake, "docs")
    _state_tables(lake, "docs", near_dup=True)
    v0 = lake.current_version()

    real_commit = Transaction.commit

    def crashing_commit(self):
        Transaction.commit = real_commit  # fail exactly once
        raise RuntimeError("injected crash: staged but not published")

    def run():
        return start_lake_dedup_ingest(
            _stream(spark, tmp_path / "docs_src", schema),
            lake,
            "docs",
            checkpoint_dir=str(tmp_path / "ckpt"),
            minhash_threshold=0.5,
            available_now=True,
        )

    Transaction.commit = crashing_commit
    try:
        q = run()
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(180)
    finally:
        Transaction.commit = real_commit

    # the failed attempt left NOTHING visible
    assert lake.read("docs").count() == 0
    assert lake.read("_dedup_hash__docs").count() == 0
    assert lake.read("_dedup_bands__docs").count() == 0
    assert lake.read("_ingest_epoch__docs").count() == 0
    assert lake.current_version() == v0

    # restart from the same checkpoint: Spark replays the batch; exactly one
    # copy of survivors + state + marker lands, in one snapshot
    q2 = run()
    q2.awaitTermination(180)
    assert sorted(r.doc_id for r in lake.read("docs").collect()) == [1, 2]
    assert sorted(
        r.doc_id for r in lake.read("_dedup_hash__docs").collect()
    ) == [1, 2]
    assert sorted(
        {r.doc_id for r in lake.read("_dedup_bands__docs").collect()}
    ) == [1, 2]
    assert [r.batch_id for r in lake.read("_ingest_epoch__docs").collect()] == [0]
    assert lake.current_version() == v0 + 1


def test_streaming_quality_redact_dedup_composition(spark, tmp_path):
    """The full corpus-prep composition on a STREAM: quality gate
    (quality_keep as a filter column) -> PII redaction -> deduplicating
    lake sink, per micro-batch. Mirrors pipelines.prepare_training_corpus
    stage order; PII variants of one doc must collapse to one survivor,
    low-quality docs must never reach the sink."""
    from pyspark.sql import functions as F

    from ducktales_spark.queries.text_pipeline import quality_keep, redact_pii
    from ducktales_spark.streaming import start_lake_dedup_ingest

    base = ("contact us for the offer and the terms that apply to the "
            "promotion which is valid in every region and includes the "
            "standard conditions we describe in the attached document at ")
    batches = [
        [
            (1, base + "alice@example.com today"),
            (2, "junk #### #### ####"),  # fails the quality gate
        ],
        [
            (3, base + "bob@sample.org today"),  # PII-variant of 1 -> dup
            (4, _LONG_B),
        ],
    ]
    stream, schema = _doc_stream(spark, tmp_path, batches)
    gated = stream.filter(quality_keep(F.col("text"), min_words=10))
    redacted = gated.withColumn("text", redact_pii(F.col("text")))
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    lake.create_table("corpus", spark.createDataFrame([], schema).schema)
    q = start_lake_dedup_ingest(
        redacted,
        lake,
        "corpus",
        checkpoint_dir=str(tmp_path / "ckpt"),
        minhash_threshold=0.5,
        available_now=True,
    )
    q.awaitTermination(180)
    got = {r.doc_id: r.text for r in lake.read("corpus").collect()}
    assert sorted(got) == [1, 4]
    assert "[EMAIL]" in got[1] and "alice" not in got[1]


def test_dedup_batch_standalone(spark):
    """dedup_batch as a bounded-corpus primitive: exact + near dedup with no
    prior state."""
    from ducktales_spark.streaming import dedup_batch

    df = spark.createDataFrame(
        [(10, _LONG_A), (11, _LONG_A), (12, _LONG_A_NEAR), (13, _LONG_B)],
        "doc_id bigint, text string",
    )
    survivors, hash_rows, band_rows = dedup_batch(
        df, "doc_id", "text", threshold=0.5
    )
    assert sorted(r.doc_id for r in survivors.collect()) == [10, 13]
    assert sorted(r.doc_id for r in hash_rows.collect()) == [10, 13]
    assert sorted({r.doc_id for r in band_rows.collect()}) == [10, 13]


def test_streaming_rollup_maintenance(spark, tmp_path, source_dir):
    """start_rollup_ingest: the rollup tracks the stream — after each
    micro-batch's append+refresh, the incremental rollup equals a
    from-scratch recompute over the source table; a crash injected BETWEEN
    the append and the refresh loses nothing (the next refresh folds both
    diffs)."""
    from ducktales_spark.lake.rollup import (
        _bucket_expr,
        create_rollup,
        refresh_rollup,
    )
    from ducktales_spark.streaming.ingest import start_rollup_ingest

    d, schema = source_dir
    lake = LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=2)
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    lake.create_table(
        "ev",
        StructType([
            StructField("user_id", LongType(), True),
            StructField("ts", TimestampType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
        ]),
    )
    create_rollup(
        lake, "ev_hourly", "ev", "ts", 3600,
        keys=("user_id",), sum_cols=("value",),
    )
    # a second, keys-only rollup carrying the round-8 aggregate kinds:
    # COUNT(col) rides the streaming diffs additively, the HLL sketch
    # unions on the insert-only batches, exact distinct recomputes
    create_rollup(
        lake, "ev_kinds", "ev", None,
        keys=("event_type",), count_cols=("value",),
        approx_cols=("user_id",), distinct_cols=("user_id",),
    )

    q = start_rollup_ingest(
        _stream(spark, d, schema), lake, "ev", "ev_hourly",
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(120)

    def _rows(df):
        return sorted(
            (r["bucket_start"], r["user_id"], r["n_rows"], r["sum_value"])
            for r in df.collect()
        )

    def recompute():
        # lake.read pins the snapshot at construction: rebuild per check
        return _rows(
            lake.read("ev")
            .groupBy(_bucket_expr("ts", 3600).alias("bucket_start"), "user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("value").alias("sum_value"),
            )
        )

    assert lake.read("ev").count() == 7  # both files landed exactly once
    assert _rows(lake.read("ev_hourly")) == recompute()

    # the second rollup refreshes off the SAME streamed diffs: every
    # round-8 aggregate kind equals its from-scratch recompute
    from ducktales_spark.lake.rollup import read_rollup

    refresh_rollup(lake, "ev_kinds")

    def kinds_recompute():
        return sorted(
            (r["event_type"], r["n_rows"], r["count_value"],
             r["distinct_user_id"], r["approx_distinct_user_id"])
            for r in lake.read("ev")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count("value").cast("bigint").alias("count_value"),
                F.count_distinct(F.col("user_id")).alias("distinct_user_id"),
                F.hll_sketch_agg(F.col("user_id").cast("string")).alias("h"),
            )
            .select(
                "event_type", "n_rows", "count_value", "distinct_user_id",
                F.hll_sketch_estimate("h").cast("bigint")
                .alias("approx_distinct_user_id"),
            )
            .collect()
        )

    def kinds_rows():
        return sorted(
            (r["event_type"], r["n_rows"], r["count_value"],
             r["distinct_user_id"], r["approx_distinct_user_id"])
            for r in read_rollup(lake, "ev_kinds").collect()
        )

    assert kinds_rows() == kinds_recompute()

    # a FILTERED rollup (round 9) refreshes off the same streamed diffs:
    # the stored WHERE gates which streamed rows fold in
    create_rollup(
        lake, "ev_big", "ev", None, keys=("event_type",),
        sum_cols=("value",), where="value >= 0.5",
    )

    def big_rows():
        return sorted(
            (r["event_type"], r["n_rows"], r["sum_value"])
            for r in lake.read("ev_big").collect()
        )

    def big_recompute():
        return sorted(
            (r["event_type"], r["n_rows"], r["sum_value"])
            for r in lake.read("ev", where="value >= 0.5")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("value").alias("sum_value"),
            )
            .collect()
        )

    assert big_rows() == big_recompute()

    # crash between append and refresh: append lands without its refresh...
    lake.insert("ev", lake.read("ev").limit(2))
    stale = _rows(lake.read("ev_hourly"))
    assert stale != recompute()  # rollup is legitimately behind
    # ...and the NEXT refresh (as the next batch would run) heals it
    refresh_rollup(lake, "ev_hourly")
    assert _rows(lake.read("ev_hourly")) == recompute()
    refresh_rollup(lake, "ev_kinds")
    assert kinds_rows() == kinds_recompute()
    refresh_rollup(lake, "ev_big")
    assert big_rows() == big_recompute()


def test_streaming_ingest_decontaminates(spark, tmp_path):
    """benchmark_df at the ingest boundary: documents sharing a word
    13-gram with the eval set never reach the table (across micro-batches),
    clean docs land normally, and dedup still applies to what survives."""
    from ducktales_spark.streaming import start_lake_dedup_ingest

    gram = " ".join(f"w{i}" for i in range(13))
    clean_a = " ".join(f"a{i}" for i in range(30))
    clean_b = " ".join(f"b{i}" for i in range(30))
    batches = [
        [
            (1, f"intro {gram} outro"),   # contaminated -> dropped
            (2, clean_a),                  # kept
        ],
        [
            (3, f"{gram} leading overlap"),  # contaminated -> dropped
            (4, clean_b),                    # kept
            (5, clean_a),                    # exact dup of 2 -> dropped
        ],
    ]
    stream, schema = _doc_stream(spark, tmp_path, batches)
    bench = spark.createDataFrame(
        [(100, f"prefix {gram} suffix")], schema
    )
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    lake.create_table("docs", spark.createDataFrame([], schema).schema)
    q = start_lake_dedup_ingest(
        stream,
        lake,
        "docs",
        checkpoint_dir=str(tmp_path / "ckpt"),
        minhash_threshold=None,
        benchmark_df=bench,
        available_now=True,
    )
    q.awaitTermination(180)
    assert sorted(r.doc_id for r in lake.read("docs").collect()) == [2, 4]


def test_streaming_ingest_decontaminates_fuzzy(spark, tmp_path):
    """benchmark_mode="fuzzy" at the ingest boundary: a NEAR-verbatim copy
    of an eval doc (a token substituted every 10 words — zero shared
    13-grams, so exact mode would pass it) is dropped by the MinHash path;
    unrelated docs land normally."""
    from ducktales_spark.streaming import start_lake_dedup_ingest

    base = [f"w{i}" for i in range(200)]
    para = " ".join(
        (f"SUB{i}" if i % 10 == 0 else w) for i, w in enumerate(base)
    )
    clean_a = " ".join(f"a{i}" for i in range(200))
    batches = [
        [(1, para), (2, clean_a)],
        [(3, " ".join(f"b{i}" for i in range(200)))],
    ]
    stream, schema = _doc_stream(spark, tmp_path, batches)
    bench = spark.createDataFrame([(100, " ".join(base))], schema)
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    lake.create_table("docs", spark.createDataFrame([], schema).schema)
    q = start_lake_dedup_ingest(
        stream,
        lake,
        "docs",
        checkpoint_dir=str(tmp_path / "ckpt"),
        minhash_threshold=None,
        benchmark_df=bench,
        benchmark_mode="fuzzy",
        benchmark_threshold=0.4,
        available_now=True,
    )
    q.awaitTermination(180)
    assert sorted(r.doc_id for r in lake.read("docs").collect()) == [2, 3]


def test_streaming_ingest_decontaminates_both(spark, tmp_path):
    """benchmark_mode="both" at the ingest boundary: the exact pass drops a
    doc leaking ONE verbatim benchmark 13-gram (invisible to fuzzy at any
    sane threshold) and the fuzzy pass drops a paraphrase (zero shared
    13-grams); the clean doc lands. Both benchmark states are precomputed
    once and the raw batch is persisted so the two passes share one scan."""
    from ducktales_spark.streaming import start_lake_dedup_ingest

    base = [f"w{i}" for i in range(200)]
    gram = " ".join(base[50:63])
    novel = [f"n{i}" for i in range(200)]
    verbatim_leak = (
        " ".join(novel[:100]) + f" {gram} " + " ".join(novel[100:])
    )
    para = " ".join(
        (f"SUB{i}" if i % 10 == 0 else w) for i, w in enumerate(base)
    )
    batches = [
        [(1, verbatim_leak), (2, " ".join(f"a{i}" for i in range(200)))],
        [(3, para)],
    ]
    stream, schema = _doc_stream(spark, tmp_path, batches)
    bench = spark.createDataFrame([(100, " ".join(base))], schema)
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    lake.create_table("docs", spark.createDataFrame([], schema).schema)
    q = start_lake_dedup_ingest(
        stream,
        lake,
        "docs",
        checkpoint_dir=str(tmp_path / "ckpt"),
        minhash_threshold=None,
        benchmark_df=bench,
        benchmark_mode="both",
        benchmark_threshold=0.4,
        available_now=True,
    )
    q.awaitTermination(180)
    assert sorted(r.doc_id for r in lake.read("docs").collect()) == [2]


def test_split_corpus_composes_onto_stream(spark, tmp_path):
    """Hash-mode splitting is a zero-shuffle projection, so it applies
    directly to a STREAMING DataFrame — and the streamed assignment equals
    the batch assignment doc-for-doc (the growth-stability property makes
    them necessarily identical)."""
    from ducktales_spark.corpus import split_corpus

    batches = [
        [(i, f"doc number {i} with some words") for i in range(40)],
        [(i, f"doc number {i} with some words") for i in range(40, 80)],
    ]
    stream, schema = _doc_stream(spark, tmp_path, batches)
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            got[r.doc_id] = r.split

    q = (
        split_corpus(stream, fr)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch_rows = [r for b in batches for r in b]
    want = {
        r.doc_id: r.split
        for r in split_corpus(
            spark.createDataFrame(batch_rows, schema), fr
        ).collect()
    }
    assert got == want and len(got) == 80
