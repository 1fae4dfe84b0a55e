"""The three workloads: seeded op streams and how each op is executed.

Every workload is a closed loop with one client: the next op is issued
when the previous one has returned. Ops come in cycles of fixed
composition whose order the seed shuffles, and the timed window is a fixed
number of whole cycles, so every run, on any commit, measures the same mix
and the same number of ops.
"""

from __future__ import annotations

import datetime as dt
import random
import sqlite3
import time

from datagen import PRIORITIES

# The 12 relational headline queries and the 8 LLM-pipeline operators
# (the same sets as bench.py's HEADLINE and PIPELINE_OPS).
ANALYTIC_OPS = [
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

# Seconds one cycle takes on the reference host (4 cores, sf0.1); the
# window runs as many whole cycles as fit in --seconds at that pace.
NOMINAL_CYCLE_S = {"analytic": 6.5, "pipeline": 12.0, "lake-rw": 8.5}

# lake-rw: one cycle, in order: 19 writes (12 inlined one-row inserts, 2
# insert-selects, 2 updates, 2 deletes, 1 merge) with a read after every
# third, alternating head aggregates and AT (VERSION => v) counts; then
# CHECKPOINT and merge_adjacent_files. The order is fixed and the seed draws
# only the statements' parameters: a shuffled order made a cycle's cost
# depend on the seed (how many inlined rows a CHECKPOINT flushes, or an
# UPDATE rewrites, depends on where the inserts fall), which the spread
# across seeds then showed as noise.
LAKE_CYCLE = (
    "insert_values", "insert_select", "insert_values", "read_head",
    "insert_values", "update", "insert_values", "read_version",
    "insert_values", "delete", "insert_values", "read_head",
    "insert_values", "merge", "insert_values", "read_version",
    "insert_values", "insert_select", "update", "read_head",
    "insert_values", "delete", "insert_values", "insert_values", "read_version",
)
MAINTENANCE_EVERY = 19  # writes between CHECKPOINT + merge_adjacent_files
READ_PLAN_LRU = 64  # LakeCatalog's read-plan cache size
WRITE_KINDS = {"seed", "insert_values", "insert_select", "update", "delete",
               "merge", "checkpoint", "merge_files"}
COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
HEAD_SQL = ("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s "
            "FROM o GROUP BY o_orderstatus")


def _phases(tracer, df) -> None:
    """Force analysis, optimization and physical planning one at a time, so
    the traced run can time each Catalyst phase."""
    qe = df._jdf.queryExecution()
    with tracer.span("catalyst", "analyze"):
        qe.analyzed()
    with tracer.span("catalyst", "optimize"):
        qe.optimizedPlan()
    with tracer.span("catalyst", "physical"):
        qe.executedPlan()


class QueryWorkload:
    """Registry queries (``analytic``, ``pipeline``), each built through its
    ``fn`` and collected from a fresh Dataset, so a memoized plan is
    re-planned and re-executed rather than served from a finished one."""

    def __init__(self, spark, specs, sf_dir: str, names: list, seed: int, tracer):
        self.spark, self.specs, self.sf_dir = spark, specs, sf_dir
        self.names, self.seed, self.tracer = names, seed, tracer

    def cycle(self, i: int) -> list:
        order = list(self.names)
        random.Random(self.seed * 1_000_003 + i).shuffle(order)
        return [{"kind": n} for n in order]

    def prepare(self, op: dict) -> None:
        pass

    def execute(self, op: dict):
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("queries", "build"):
            df = self.specs[op["kind"]].fn(self.spark, self.sf_dir)
        op["build_s"] = time.perf_counter() - t0
        fresh = df.select("*")
        if tr.enabled:
            _phases(tr, fresh)
        op["rows"] = fresh.collect()
        op["fresh"] = fresh

    def finish(self, op: dict) -> None:
        """Untimed bookkeeping after an op."""
        op["cols"] = op.pop("fresh").columns


class LakeWorkload:
    """``lake-rw``: SQL through ``LakeCatalog.sql`` on a lake seeded with
    ``CREATE TABLE o AS SELECT * FROM orders``. Each op also carries its
    DuckDB translation, for the replay in ``check.replay_lake``."""

    def __init__(self, lake, lake_dir: str, n_orders: int, n_cust: int, seed: int, tracer):
        self.lake, self.tracer = lake, tracer
        self.n_orders, self.n_cust = n_orders, n_cust
        self.rng = random.Random(seed)
        self.snapshots: list = []  # every version published so far
        self.writes = 0
        self.n: dict = {}
        self._db = sqlite3.connect(f"{lake_dir}/catalog.db")

    def version(self) -> int:
        return self._db.execute("SELECT MAX(snapshot_id) FROM lake_snapshot").fetchone()[0]

    def seed_op(self) -> dict:
        sql = "CREATE TABLE o AS SELECT * FROM orders"
        return {"kind": "seed", "sql": sql, "duck": [sql]}

    def cycle(self, i: int) -> list:
        out = []
        for k in LAKE_CYCLE:
            out.append({"kind": k})
            if k not in ("read_head", "read_version"):
                self.writes += 1
                if self.writes % MAINTENANCE_EVERY == 0:
                    out += [{"kind": "checkpoint"}, {"kind": "merge_files"}]
        return out

    def _fill(self, op: dict) -> None:
        """Draw the statement for an op; version reads draw from the
        snapshots published so far, so this runs just before execution."""
        r, k = self.rng, op["kind"]
        i = self.n[k] = self.n.get(k, 0) + 1
        if k == "insert_values":
            day = dt.date(1995, 1, 1) + dt.timedelta(days=r.randrange(2400))
            vals = (f"{10_000_000 + i}, {r.randrange(self.n_cust)}, "
                    f"'{r.choice('FOP')}', {round(r.uniform(1000, 500000), 2)}, "
                    f"TIMESTAMP '{day} 00:00:00', '{r.choice(PRIORITIES)}'")
            sql = f"INSERT INTO o VALUES ({vals})"
            op.update(sql=sql, duck=[sql])
        elif k == "insert_select":
            a = r.randrange(self.n_orders - 1000)
            sql = (f"INSERT INTO o SELECT o_orderkey + {100_000_000 * i} AS o_orderkey, "
                   "o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
                   f"FROM orders WHERE o_orderkey BETWEEN {a} AND {a + 999}")
            op.update(sql=sql, duck=[sql])
        elif k == "update":
            c = r.randrange(self.n_cust - 100)
            sql = ("UPDATE o SET o_totalprice = o_totalprice + 1.5, o_orderstatus = 'F' "
                   f"WHERE o_custkey BETWEEN {c} AND {c + 99}")
            op.update(sql=sql, duck=[sql])
        elif k == "delete":
            c = r.randrange(self.n_cust - 30)
            sql = f"DELETE FROM o WHERE o_custkey BETWEEN {c} AND {c + 29}"
            op.update(sql=sql, duck=[sql])
        elif k == "merge":
            a = r.randrange(self.n_orders - 1000)
            src = ("SELECT CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey "
                   "ELSE o_orderkey + 50000000 END AS o_orderkey, o_custkey, "
                   "o_orderstatus, o_totalprice + 7 AS o_totalprice, o_orderdate, "
                   f"o_orderpriority FROM orders WHERE o_orderkey BETWEEN {a} AND {a + 999}")
            sql = (f"MERGE INTO o USING ({src}) s ON o.o_orderkey = s.o_orderkey "
                   "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice "
                   "WHEN NOT MATCHED THEN INSERT *")
            # duckdb 1.0 has no MERGE: the same effect as UPDATE ... FROM
            # plus an anti-joined INSERT
            op.update(sql=sql, duck=[
                f"UPDATE o SET o_totalprice = s.o_totalprice FROM ({src}) s "
                "WHERE o.o_orderkey = s.o_orderkey",
                f"INSERT INTO o SELECT {COLS} FROM ({src}) s "
                "WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.o_orderkey = s.o_orderkey)",
            ])
        elif k == "checkpoint":
            op.update(sql="CHECKPOINT o", duck=[])
        elif k == "merge_files":
            op.update(sql="CALL ducklake_merge_adjacent_files('o')", duck=[])
        elif k == "read_head":
            op.update(sql=HEAD_SQL, duck=[HEAD_SQL])
        elif k == "read_version":
            # alternate between the last READ_PLAN_LRU versions (cache-sized)
            # and the whole history (larger than the cache)
            pool = self.snapshots[-READ_PLAN_LRU:] if i % 2 else self.snapshots
            v = r.choice(pool)
            op.update(sql=f"SELECT count(*) AS n FROM o AT (VERSION => {v})",
                      version=v, duck=[])

    def prepare(self, op: dict) -> None:
        if "sql" not in op:
            self._fill(op)

    def execute(self, op: dict):
        df = self.lake.sql(op["sql"])
        if op["kind"] in ("read_head", "read_version"):
            if self.tracer.enabled:
                _phases(self.tracer, df)
            op["rows"] = df.collect()
            op["fresh"] = df

    def finish(self, op: dict) -> None:
        if "fresh" in op:
            op["cols"] = op.pop("fresh").columns
        if op["kind"] in WRITE_KINDS:
            op["snapshot"] = self.version()
            if op["snapshot"] not in self.snapshots[-1:]:
                self.snapshots.append(op["snapshot"])

    def storage(self, since: int) -> dict:
        """Catalog-DB view of storage: the seed table's bytes per row,
        files and bytes committed after snapshot ``since``, live files and
        live inlined rows."""
        q = self._db.execute
        seed_rows, seed_bytes = q(
            "SELECT SUM(row_count), SUM(file_bytes) FROM lake_data_file "
            "WHERE added_snapshot = ?", (self.snapshots[0],)).fetchone()
        files, nbytes = q(
            "SELECT COUNT(*), COALESCE(SUM(file_bytes), 0) FROM lake_data_file "
            "WHERE added_snapshot > ?", (since,)).fetchone()
        return {
            "bytes_per_row": seed_bytes / seed_rows,
            "files_written": files,
            "bytes_written": nbytes,
            "files_live": q("SELECT COUNT(*) FROM lake_data_file "
                            "WHERE removed_snapshot IS NULL").fetchone()[0],
            "inlined_rows_live": q("SELECT COUNT(*) FROM lake_inlined "
                                   "WHERE removed_snapshot IS NULL").fetchone()[0],
        }

