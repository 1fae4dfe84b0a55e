"""D8 hardening: N writer PROCESSES x M commits racing one catalog.

The reference demos a concurrent writer thread against the DuckLake
catalog (demos/03_schema_evolution/demo.py:32-72); this suite stress-tests
the analogous contract here across real OS processes — the deployment
shape of a multi-writer lakehouse — against both catalog backends that can
boot in this sandbox (SQLite file, live PostgreSQL via pgmini).

Retry/backoff policy under test (the documented client contract,
lake/catalog.py Transaction.commit): the catalog serializes commits with a
write lock (SQLite BEGIN IMMEDIATE / PG advisory lock) and applies
first-committer-wins PER TABLE — a commit whose touched-table set
intersects a snapshot that landed after its base version raises
ConflictError and stages NOTHING. Writers retry the WHOLE transaction
(fresh base version, re-staged writes) with jittered exponential backoff;
lock-acquisition exhaustion surfaces as the same ConflictError, so one
retry loop covers both contention classes.

Invariants asserted: every commit lands exactly once (no lost updates),
snapshot ids are strictly monotone AND contiguous (the MAX+1 allocation
under the write lock can't skip or reuse), and per-writer sequences are
complete.
"""

from __future__ import annotations

import multiprocessing as mp
import os

import pytest

from ducktales_spark.lake import LakeCatalog
from ducktales_spark.lake.metastore import ConflictError

N_WRITERS = 4
N_COMMITS = 6
MAX_RETRIES = 60


def _writer(location, data_dir, wid, n_commits, q):
    """One writer process: n_commits transactions into the SHARED table
    (guaranteed per-table conflicts with every concurrent writer) plus a
    private per-writer table in the same transaction. No SparkSession:
    inlined-row writes and the commit protocol are pure catalog-side."""
    import random
    import time

    try:
        lake = LakeCatalog(location, spark=None, data_dir=data_dir,
                           inline_threshold=10_000)
        committed = []
        for seq in range(n_commits):
            for attempt in range(MAX_RETRIES):
                try:
                    with lake.transaction() as tx:
                        tx.insert_rows(
                            "log", [{"writer": wid, "seq": seq}]
                        )
                        tx.insert_rows(
                            f"w{wid}_private", [{"seq": seq}]
                        )
                    committed.append(seq)
                    break
                except ConflictError:
                    # jittered exponential backoff, capped — the documented
                    # client policy (module docstring)
                    time.sleep(
                        random.uniform(0.5, 1.5)
                        * 0.004
                        * min(2 ** attempt, 16)
                    )
            else:
                q.put(("fail", wid, f"commit {seq} exhausted retries"))
                return
        q.put(("ok", wid, committed))
    except Exception as e:  # surface real bugs, not a hung join
        q.put(("fail", wid, f"{type(e).__name__}: {e}"))


def _run_stress(location, data_dir, spark):
    from ducktales_spark.lake.schema import Field, TableSchema

    setup = LakeCatalog(location, spark=None, data_dir=data_dir,
                        inline_threshold=10_000)
    setup.create_table(
        "log",
        TableSchema((Field(1, "writer", "bigint"), Field(2, "seq", "bigint"))),
    )
    for w in range(N_WRITERS):
        setup.create_table(
            f"w{w}_private", TableSchema((Field(1, "seq", "bigint"),))
        )
    v0 = setup.current_version()

    ctx = mp.get_context("spawn")  # never fork a JVM-attached parent
    q = ctx.Queue()
    procs = [
        ctx.Process(
            target=_writer, args=(location, data_dir, w, N_COMMITS, q)
        )
        for w in range(N_WRITERS)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=180) for _ in procs]
    for p in procs:
        p.join(timeout=60)
    fails = [r for r in results if r[0] != "ok"]
    assert not fails, fails

    # read back through Spark in THIS process
    lake = LakeCatalog(location, spark, data_dir=data_dir)
    rows = [
        (r["writer"], r["seq"]) for r in lake.read("log").collect()
    ]
    # no lost updates, no duplicates: every (writer, seq) exactly once
    assert sorted(rows) == sorted(
        (w, s) for w in range(N_WRITERS) for s in range(N_COMMITS)
    )
    for w in range(N_WRITERS):
        assert lake.count(f"w{w}_private") == N_COMMITS
    # snapshot ids strictly monotone AND contiguous: exactly one snapshot
    # per successful commit, none skipped, none reused
    ids = [s["snapshot_id"] for s in lake.snapshots()]
    assert ids == sorted(set(ids))
    assert max(ids) == v0 + N_WRITERS * N_COMMITS
    # every commit's changes record names the shared table
    touched = [
        s for s in lake.snapshots()
        if s["snapshot_id"] > v0
        and "log" in s["changes"].get("tables_inserted_into", [])
    ]
    assert len(touched) == N_WRITERS * N_COMMITS


def test_multiprocess_writers_sqlite(spark, tmp_path):
    """N processes x M commits against one SQLite catalog file."""
    _run_stress(str(tmp_path / "cat"), None, spark)


def test_multiprocess_writers_postgres(spark, tmp_path, pg_dsn):
    """The same race against a live PostgreSQL catalog (advisory-lock
    serialization instead of BEGIN IMMEDIATE)."""
    _run_stress(pg_dsn, str(tmp_path / "pg_files"), spark)


# reuse the bootable-PG fixture from test_lake (module-scoped there; one
# server boot per module here as well)
from test_lake import pg_dsn  # noqa: E402,F401


def test_disjoint_merges_commit_without_retry(spark, tmp_path):
    """Delta-style fine-grained MERGE conflicts: two transactions merging
    DISJOINT key ranges on the same table both commit with no retry (the
    second validates its recorded read range against the first's
    added/removed file stats); overlapping ranges — and any non-merge
    write — still conflict first-committer-wins."""
    lake = LakeCatalog(
        str(tmp_path / "lk"), spark, inline_threshold=0
    )
    # key-clustered files: ids 0-9 in one file, 100-109 in another, so a
    # low-range merge's CoW rewrite never spans the high range
    lake.ctas(
        "t",
        spark.createDataFrame(
            [(i, 0) for i in range(10)], "id int, v int"
        ).coalesce(1),
    )
    lake.insert(
        "t",
        spark.createDataFrame(
            [(i, 0) for i in range(100, 110)], "id int, v int"
        ).coalesce(1),
    )

    def src(lo, hi, v):
        return spark.createDataFrame(
            [(i, v) for i in range(lo, hi)], "id int, v int"
        )

    # disjoint ranges: both commit, contiguous snapshots, no ConflictError
    tx1, tx2 = lake.transaction(), lake.transaction()
    tx1.merge("t", src(3, 7, 1), ["id"])
    tx2.merge("t", src(103, 107, 2), ["id"])
    v1 = tx1.commit()
    v2 = tx2.commit()  # the fine-grained pass: no retry needed
    assert v2 == v1 + 1
    got = {r["id"]: r["v"] for r in lake.read("t").collect()}
    assert all(got[i] == 1 for i in range(3, 7))
    assert all(got[i] == 2 for i in range(103, 107))
    assert all(got[i] == 0 for i in (0, 9, 100, 109))

    # overlapping ranges: second committer still conflicts
    tx3, tx4 = lake.transaction(), lake.transaction()
    tx3.merge("t", src(3, 7, 3), ["id"])
    tx4.merge("t", src(5, 9, 4), ["id"])
    tx3.commit()
    with pytest.raises(ConflictError):
        tx4.commit()

    # a SECOND-committing merge may fine-resolve against a concurrent
    # non-merge write (its read range vs that write's file stats) ...
    tx5, tx6 = lake.transaction(), lake.transaction()
    tx5.merge("t", src(103, 105, 5), ["id"])
    tx6.update("t", {"v": "v + 10"}, "id = 0")
    v6 = tx6.commit()
    assert tx5.commit() == v6 + 1  # update touched only the low file
    # ... and since r12 the reverse also fine-resolves: a second-committing
    # predicate UPDATE records its WHERE conjuncts as a read range, so it
    # commutes with a disjoint concurrent merge
    tx5b, tx6b = lake.transaction(), lake.transaction()
    tx5b.merge("t", src(103, 105, 8), ["id"])
    tx6b.update("t", {"v": "v + 10"}, "id = 0")
    v5b = tx5b.commit()
    assert tx6b.commit() == v5b + 1
    # a second-committing plain INSERT still has no read set: table-level
    tx5c, tx6c = lake.transaction(), lake.transaction()
    tx5c.merge("t", src(103, 105, 9), ["id"])
    tx6c.insert("t", src(500, 502, 0))
    tx5c.commit()
    with pytest.raises(ConflictError):
        tx6c.commit()

    # and a whole-table merge leg (NOT MATCHED BY SOURCE) does too
    tx7, tx8 = lake.transaction(), lake.transaction()
    tx7.merge("t", src(3, 5, 6), ["id"])
    tx8.merge(
        "t", src(100, 102, 7), ["id"],
        matched_clauses=[{"action": "update", "sets": {"v": "__s_v"}}],
        not_matched_by_source_clauses=[
            {"action": "delete", "cond": "id = 9"}
        ],
    )
    tx7.commit()
    with pytest.raises(ConflictError):
        tx8.commit()


def test_disjoint_updates_deletes_commit_without_retry(spark, tmp_path):
    """Fine-grained UPDATE/DELETE conflicts (r12): two predicate writes on
    DISJOINT key ranges both commit without retry — the second validates
    its WHERE-conjunct read region against the first's added/removed file
    stats — while overlapping ranges, unparseable predicates, and
    whole-table writes stay table-level first-committer-wins."""
    lake = LakeCatalog(str(tmp_path / "lk"), spark, inline_threshold=0)
    # key-clustered files so a low-range CoW rewrite never spans the high
    # range (same layout rationale as the merge test above)
    lake.ctas(
        "t",
        spark.createDataFrame(
            [(i, 0) for i in range(10)], "id int, v int"
        ).coalesce(1),
    )
    lake.insert(
        "t",
        spark.createDataFrame(
            [(i, 0) for i in range(100, 110)], "id int, v int"
        ).coalesce(1),
    )

    # disjoint UPDATE vs UPDATE: both commit, no retry
    tx1, tx2 = lake.transaction(), lake.transaction()
    tx1.update("t", {"v": "1"}, "id >= 3 AND id <= 6")
    tx2.update("t", {"v": "2"}, "id >= 103 AND id <= 106")
    v1 = tx1.commit()
    assert tx2.commit() == v1 + 1
    got = {r["id"]: r["v"] for r in lake.read("t").collect()}
    assert all(got[i] == 1 for i in range(3, 7))
    assert all(got[i] == 2 for i in range(103, 107))

    # disjoint UPDATE vs DELETE: both commit
    tx3, tx4 = lake.transaction(), lake.transaction()
    tx3.delete("t", "id = 0")
    tx4.update("t", {"v": "7"}, "id = 109")
    v3 = tx3.commit()
    assert tx4.commit() == v3 + 1
    assert 0 not in {r["id"] for r in lake.read("t").collect()}

    # overlapping predicates: second committer conflicts
    tx5, tx6 = lake.transaction(), lake.transaction()
    tx5.update("t", {"v": "5"}, "id >= 3 AND id <= 8")
    tx6.delete("t", "id = 5")
    tx5.commit()
    with pytest.raises(ConflictError):
        tx6.commit()

    # unparseable predicate (modulo): sound degradation to table-level —
    # conflicts even though the actual rows are disjoint
    tx7, tx8 = lake.transaction(), lake.transaction()
    tx7.update("t", {"v": "6"}, "id = 103")
    tx8.update("t", {"v": "8"}, "id % 2 = 0 AND id < 10")
    tx7.commit()
    with pytest.raises(ConflictError):
        tx8.commit()

    # whole-table delete: coarse, conflicts with any concurrent write
    tx9, tx10 = lake.transaction(), lake.transaction()
    tx9.update("t", {"v": "9"}, "id = 104")
    tx10.delete("t", None)
    tx9.commit()
    with pytest.raises(ConflictError):
        tx10.commit()


def test_attached_merge_fine_grained_conflicts(spark, tmp_path):
    """r13 verdict watch item, pinned: qualified ``MERGE INTO <att>.<t>``
    and USE-delegated MERGE both route through the ATTACHED catalog's own
    Transaction, so the fine-grained read-range machinery — not just
    table-level first-committer-wins — engages for the attached path too:
    a disjoint-region MERGE + UPDATE on an attached catalog both commit
    without retry, and overlapping regions still conflict."""
    att_path = str(tmp_path / "att")
    att = LakeCatalog(att_path, spark, inline_threshold=0)
    # key-clustered files: low ids and high ids in separate files, so a
    # low-range CoW rewrite never spans the high range
    att.ctas(
        "t",
        spark.createDataFrame(
            [(i, 0) for i in range(10)], "id int, v int"
        ).coalesce(1),
    )
    att.insert(
        "t",
        spark.createDataFrame(
            [(i, 0) for i in range(100, 110)], "id int, v int"
        ).coalesce(1),
    )
    main = LakeCatalog(str(tmp_path / "mainlk"), spark)
    main.sql(f"ATTACH '{att_path}' AS att")

    def src_sql(lo, hi, v):
        return " UNION ALL ".join(
            f"SELECT {i} AS id, {v} AS v" for i in range(lo, hi)
        )

    merge_tail = (
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    )

    # (1) qualified MERGE (autocommits, first committer) vs an OPEN direct
    # transaction's disjoint-range UPDATE (second committer): the update's
    # read range validates against the merge's added/removed low-range
    # files and commits WITHOUT retry
    tx = att.transaction()
    tx.update("t", {"v": "2"}, "id >= 103 AND id <= 106")
    main.sql(
        f"MERGE INTO att.t AS t USING ({src_sql(3, 7, 1)}) AS s {merge_tail}"
    )
    v1 = tx.commit()  # no ConflictError: disjoint regions commute
    got = {r["id"]: r["v"] for r in att.read("t").collect()}
    assert all(got[i] == 1 for i in range(3, 7))
    assert all(got[i] == 2 for i in range(103, 107))

    # (2) MERGE as the SECOND committer (staged under USE + BEGIN in the
    # attached catalog's delegate): a disjoint direct UPDATE lands first;
    # the merge's recorded source key range fine-resolves and commits
    main.sql("USE att")
    main.sql("BEGIN")
    main.sql(f"MERGE INTO t USING ({src_sql(3, 7, 5)}) AS s {merge_tail}")
    v2 = att.update("t", {"v": "9"}, "id = 109")
    main.sql("COMMIT")  # no ConflictError
    main.sql("USE main")
    got = {r["id"]: r["v"] for r in att.read("t").collect()}
    assert all(got[i] == 5 for i in range(3, 7))
    assert got[109] == 9

    # (3) overlapping regions on the attached catalog still conflict
    main.sql("USE att")
    main.sql("BEGIN")
    main.sql(f"MERGE INTO t USING ({src_sql(3, 7, 7)}) AS s {merge_tail}")
    att.update("t", {"v": "8"}, "id = 5")  # overlaps the merge's range
    with pytest.raises(ConflictError):
        main.sql("COMMIT")
    main.sql("USE main")
    # the conflicted delegate txn is closed: a fresh BEGIN works
    main.sql("USE att")
    main.sql("BEGIN")
    main.sql("ROLLBACK")
    main.sql("USE main")


def test_concurrent_deletes_of_one_file(spark, tmp_path):
    """Merge-on-read: two DELETEs of DISJOINT rows of ONE data file both
    commit without retry and both apply — each adds its own delete file,
    and the second finds none of the rows it matched among the first's
    positions, though the file's min/max covers both predicates. Two
    DELETEs of overlapping rows conflict."""
    lake = LakeCatalog(str(tmp_path / "lk"), spark, inline_threshold=0)
    lake.ctas(
        "t",
        spark.createDataFrame(
            [(i, 0) for i in range(20)], "id int, v int"
        ).coalesce(1),
    )
    tx1, tx2 = lake.transaction(), lake.transaction()
    assert tx1.delete("t", "id >= 2 AND id <= 4") == 3
    assert tx2.delete("t", "id >= 10 AND id <= 12") == 3
    v1 = tx1.commit()
    assert tx2.commit() == v1 + 1
    gone = {2, 3, 4, 10, 11, 12}
    assert sorted(r["id"] for r in lake.read("t").collect()) == [
        i for i in range(20) if i not in gone
    ]
    info = lake.table_info()[0]
    assert info["file_count"] == 1 and info["delete_file_count"] == 2
    assert lake.count("t") == 14

    # overlapping rows (id 8 in both): the second committer conflicts
    tx3, tx4 = lake.transaction(), lake.transaction()
    tx3.delete("t", "id >= 6 AND id <= 8")
    tx4.delete("t", "id >= 8 AND id <= 9")
    tx3.commit()
    with pytest.raises(ConflictError):
        tx4.commit()
    assert lake.count("t") == lake.read("t").count() == 11
