"""LakeCatalog: the lakehouse layer — transactions, snapshots, time travel,
schema evolution, inlining — over Spark + a SQL metadata store.

Architecture (mirrors the reference's, re-expressed for Spark — SURVEY.md §3):

* Data = parquet files written by distributed Spark jobs into per-table dirs
  (``utils/ducklake_utils.py:128-134``; ``README.md:16``).
* Metadata = rows in a SQL database (SQLite locally, PostgreSQL for prod);
  a commit inserts snapshot + data-file + schema rows in ONE SQL transaction
  (``README.md:202-209``) — that single round trip is the atomic commit point.
  Spark jobs only ever *stage* files; a crash before the catalog commit leaves
  unreferenced files that :meth:`LakeCatalog.gc` collects.
* Reads resolve (table, version) -> live file list -> ``spark.read.parquet``
  with per-file-schema-version projection, unioned with inlined rows.

Scale design: the commit path is O(#files touched) metadata rows, independent
of data volume; UPDATE/DELETE are copy-on-write rewrites of ONLY the files
whose min/max stats can match the predicate (stats.py), so point mutations on
a 100 TB table rewrite a few files, not the table. Constraint checks (PK /
NOT NULL) are distributed Spark jobs (anti-join / null-scan), never driver
loops.
"""

from __future__ import annotations

import datetime as _dt
import glob as _glob
import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field as _dcfield
from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DecimalType, StructType, TimestampType

from .metastore import ConflictError, Metastore, open_metastore
from .schema import (
    TableSchema,
    ddl_type,
    default_expr,
    default_fill,
    row_from_json,
    row_to_json,
)
from .stats import collect_file_stats, file_may_match, parse_conjuncts

__all__ = [
    "LakeCatalog",
    "Transaction",
    "LakeError",
    "ConstraintViolation",
    "ConflictError",
    "connect",
    "local_df",
]


class LakeError(Exception):
    pass


class ConstraintViolation(LakeError):
    """PK duplicate / NOT NULL violation — aborts the enclosing transaction
    (demos/01_transaction_rollback/demo.py:137-151)."""


@dataclass
class FileEntry:
    file_id: Optional[int]
    path: str
    row_count: int
    file_bytes: int
    schema_version: int
    col_stats: Optional[str]
    staged: bool = False


@dataclass
class InlinedEntry:
    row_id: Optional[int]
    schema_version: int
    row_json: str
    staged: bool = False


@dataclass
class TableState:
    """Driver-side view of one table inside a transaction: committed state at
    the txn's base version plus staged mutations (read-your-writes)."""

    name: str
    table_id: Optional[int]
    data_dir: str
    schemas: dict  # schema_version -> TableSchema
    schema_version: int
    files: list  # live FileEntry (committed-live + staged adds)
    inlined: list  # live InlinedEntry
    created: bool = False
    dropped: bool = False
    staged_schema_versions: list = _dcfield(default_factory=list)
    removed_file_ids: list = _dcfield(default_factory=list)
    removed_inlined_ids: list = _dcfield(default_factory=list)
    changes: set = _dcfield(default_factory=set)  # change-kind markers
    # Fine-grained conflict metadata (Delta-style WriteSerializable): one
    # entry per row-level mutation this txn ran on the table —
    # {"conjuncts": [(col, op, val), ...]} describing the region it READ:
    # a MERGE's source key range, or a predicate UPDATE/DELETE's WHERE
    # conjuncts (None = unparseable predicate = whole table, still sound,
    # just coarse). Commit uses it to let two mutations on DISJOINT
    # regions both commit without retry. Any mutation without a
    # recordable read set (schema change, whole-table write, a WHEN NOT
    # MATCHED BY SOURCE leg) sets coarse_write, falling back to
    # table-level first-committer-wins.
    read_ranges: list = _dcfield(default_factory=list)
    coarse_write: bool = False

    @property
    def schema(self) -> TableSchema:
        return self.schemas[self.schema_version]


def _zvalue(df: DataFrame, cols: list, schema: TableSchema):
    """Interleaved-bit z-value Column over ``cols`` — all built-in JVM
    expressions (codegen), no Python. Each column is bucketed into
    ``b = min(16, 62 // k)`` bits: range-normalized against its min/max
    (ONE bounded agg job, 2k scalars to the driver) for numeric/date/
    timestamp columns AND for strings — a string keys on its first 7
    UTF-8 bytes packed big-endian into a long (Delta's truncated-prefix
    approach: UTF-8 byte order equals code-point order, so the packed
    long is range-ordered exactly like the parquet min/max stats the
    pruner compares), NUL-padded so short strings sort before their
    extensions. Point AND range predicates on a string z column both
    prune; the degenerate case is a column whose values share a >= 7-byte
    common prefix, where every row lands in one bucket (the min/max
    normalization absorbs SHORTER shared prefixes). binary/boolean/
    array/map/struct take the top bits of xxhash64 (equality clustering
    only — a hash has no range order). NULLs land in bucket 0. Bit j of
    every column interleaves at position ``j*k + i``, the classic Morton
    order."""
    k = len(cols)
    b = min(16, max(1, 62 // k))
    types = {f.name: f.type.lower() for f in schema.fields}

    def _num(c: str):
        if types[c].startswith(("date", "timestamp")):
            return F.col(c).cast("timestamp").cast("double")
        if types[c].startswith(("string", "varchar", "char")):
            # first 7 bytes big-endian as a 56-bit long (sign-safe),
            # NUL-padded: numeric order == UTF-8 byte order == the
            # lexicographic order of the stats pruner
            return F.expr(
                f"cast(conv(hex(substring(encode(rpad(`{c}`, 7, char(0)),"
                " 'utf-8'), 1, 7)), 16, 10) as bigint)"
            ).cast("double")
        return F.col(c).cast("double")

    hashy = ("binary", "boolean", "array", "map", "struct")
    mmcols = [c for c in cols if not types[c].startswith(hashy)]
    mm = {}
    if mmcols:
        aggs = []
        for c in mmcols:
            aggs.append(F.min(_num(c)).alias(f"__mn_{c}"))
            aggs.append(F.max(_num(c)).alias(f"__mx_{c}"))
        row = df.agg(*aggs).collect()[0]
        mm = {c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in mmcols}
    buckets = []
    for c in cols:
        if types[c].startswith(hashy):
            bc = F.shiftrightunsigned(F.xxhash64(F.col(c)), 64 - b)
        else:
            mn, mx = mm[c]
            if mn is None or mx is None or float(mx) == float(mn):
                bc = F.lit(0).cast("long")
            else:
                bc = F.floor(
                    (_num(c) - F.lit(float(mn)))
                    / F.lit(float(mx) - float(mn))
                    * F.lit((1 << b) - 1)
                ).cast("long")
        buckets.append(F.coalesce(bc.cast("long"), F.lit(0).cast("long")))
    z = F.lit(0).cast("long")
    for j in range(b):
        for i, bc in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bc, j).bitwiseAND(F.lit(1)), j * k + i
                )
            )
    return z


class LakeCatalog:
    """A lakehouse catalog at a directory (SQLite metadata) or PostgreSQL DSN.

    ``ATTACH 'ducklake:<path>' AS lake`` (``utils/ducklake_utils.py:25-28``)
    becomes ``LakeCatalog(path, spark)``; the connection-string dispatch for
    PostgreSQL backends (``README.md:225-236``) is :func:`connect`.
    """

    def __init__(
        self,
        location: str,
        spark: SparkSession,
        data_dir: Optional[str] = None,
        inline_threshold: int = 64,
    ):
        self.spark = spark
        self.ms: Metastore = open_metastore(location)
        if data_dir is None:
            if location.startswith(
                ("postgresql://", "postgres://", "mysql://")
            ):
                # a DB-backed catalog has no filesystem location to derive
                # a data directory from (SQL spelling: DATA_PATH option)
                raise LakeError(
                    "data_dir is required for a database-backed catalog "
                    "(in SQL: ATTACH '...' AS name (DATA_PATH '/dir'))"
                )
            if location.startswith("sqlite:"):
                # explicit catalog FILE: data files live beside it
                from .metastore import sqlite_url_path

                data_dir = os.path.join(
                    os.path.dirname(os.path.abspath(
                        sqlite_url_path(location)
                    )),
                    "files",
                )
            else:
                data_dir = os.path.join(location, "files")
        self.root = data_dir
        os.makedirs(self.root, exist_ok=True)
        self.inline_threshold = inline_threshold
        self._sql_exec = None  # lazily-created SQL statement executor
        # Versioned-read memoization (the data.py scan-memo pattern): a
        # (table, resolved snapshot) pair's file list — and therefore its
        # DataFrame, which is just an analyzed plan — is immutable by
        # construction (files added later carry added_snapshot > v; files
        # removed later carry removed_snapshot > v, still matching the
        # as-of predicate). HEAD reads participate too: they resolve to a
        # concrete version first, so any later write changes the key and
        # can never serve stale plans. Bounded LRU; cleared by the two
        # paths that physically delete files (expire_snapshots, gc).
        from collections import OrderedDict

        self._read_cache: "OrderedDict" = OrderedDict()
        # retention horizon (MIN snapshot_id) observed at the last cache
        # validation — a cross-process expire_snapshots raises it, which
        # is the signal to evict entries below the new horizon (see read)
        self._cache_horizon = 0
        # "any snapshot" probe, not snapshot 0: expire_snapshots may have
        # retired the early history, and re-seeding id 0 would make expired
        # versions readable again (as silently-wrong empty states)
        if self.ms.one("SELECT 1 FROM lake_snapshot LIMIT 1") is None:
            with self.ms.tx() as t:
                # re-check under the write lock: two processes opening a
                # fresh catalog concurrently must not both insert id 0
                if t.exec(
                    self.ms._ph("SELECT 1 FROM lake_snapshot LIMIT 1")
                ).fetchone() is None:
                    t.exec(
                        "INSERT INTO lake_snapshot (snapshot_id, ts, changes) "
                        "VALUES (?, ?, ?)",
                        (0, _now_iso(), "{}"),
                    )

    # ------------------------------------------------------------------
    # transactions
    # ------------------------------------------------------------------
    def transaction(self) -> "Transaction":
        """``BEGIN TRANSACTION`` ... ``COMMIT``/``ROLLBACK``
        (demos/01_transaction_rollback/demo.py:85-104). Context manager:
        normal exit commits (one snapshot), exception rolls back with no
        partial effects across tables."""
        return Transaction(self)

    # autocommit single-op conveniences (one snapshot per op — the
    # reference's per-operation snapshot loop, demos/02_time_travel/demo.py:92-97)
    def create_table(self, name, schema, primary_key=(), partition_by=()):
        with self.transaction() as tx:
            tx.create_table(name, schema, primary_key, partition_by)

    def ctas(self, name, df: DataFrame, primary_key=(), partition_by=()):
        with self.transaction() as tx:
            tx.ctas(name, df, primary_key, partition_by)

    def insert(self, name, df: DataFrame):
        with self.transaction() as tx:
            tx.insert(name, df)

    def update(self, name, set_exprs: dict, where: Optional[str] = None) -> int:
        with self.transaction() as tx:
            return tx.update(name, set_exprs, where)

    def delete(self, name, where: Optional[str] = None) -> int:
        with self.transaction() as tx:
            return tx.delete(name, where)

    def merge(self, name, source: DataFrame, on: list, **kw) -> dict:
        with self.transaction() as tx:
            return tx.merge(name, source, on, **kw)

    def add_column(self, name, col, type_, default=None, backfill=None):
        with self.transaction() as tx:
            tx.add_column(name, col, type_, default, backfill)

    def drop_column(self, name, col):
        with self.transaction() as tx:
            tx.drop_column(name, col)

    def rename_column(self, name, old, new):
        with self.transaction() as tx:
            tx.rename_column(name, old, new)

    def set_not_null(self, name, col):
        with self.transaction() as tx:
            tx.set_not_null(name, col)

    def set_partition_by(self, name, cols):
        with self.transaction() as tx:
            tx.set_partition_by(name, cols)

    def set_zorder_by(self, name, cols):
        with self.transaction() as tx:
            tx.set_zorder_by(name, cols)

    def alter_column_type(self, name, col, new_type):
        with self.transaction() as tx:
            tx.alter_column_type(name, col, new_type)

    def drop_table(self, name):
        with self.transaction() as tx:
            tx.drop_table(name)

    def create_view(self, name, sql):
        with self.transaction() as tx:
            tx.create_view(name, sql)

    def drop_view(self, name):
        with self.transaction() as tx:
            tx.drop_view(name)

    def flush_inlined(self, name):
        with self.transaction() as tx:
            tx.flush_inlined(name)

    def compact(self, name, target_file_bytes: int = 128 << 20):
        with self.transaction() as tx:
            tx.compact(name, target_file_bytes)

    def optimize(self, name, zorder_by=None, target_file_bytes: int = 128 << 20):
        with self.transaction() as tx:
            tx.optimize(name, zorder_by, target_file_bytes)

    # ------------------------------------------------------------------
    # version resolution + reads (time travel: T1/T2, SURVEY.md §2.10)
    # ------------------------------------------------------------------
    def current_version(self) -> int:
        return self.ms.one("SELECT MAX(snapshot_id) FROM lake_snapshot")[0]

    def _resolve_version(
        self, version=None, timestamp=None, with_horizon: bool = False
    ):
        """-> resolved snapshot id; with ``with_horizon`` -> (id, horizon)
        where horizon is MIN(snapshot_id) — the retention floor a
        cross-process expire_snapshots raises — fetched by the SAME
        metastore query that resolves/validates the version, so the
        read-path cache guard costs zero extra round trips. The timestamp
        path returns horizon None (expired snapshots' rows are deleted,
        so a timestamp can never resolve to one — no guard needed)."""
        if version is not None and timestamp is not None:
            raise LakeError("pass version OR timestamp, not both")
        if with_horizon and timestamp is None:
            if version is None:
                row = self.ms.one(
                    "SELECT MAX(snapshot_id), MIN(snapshot_id) "
                    "FROM lake_snapshot"
                )
                return row[0], row[1]
            row = self.ms.one(
                "SELECT MAX(CASE WHEN snapshot_id = ? THEN snapshot_id "
                "END), MIN(snapshot_id) FROM lake_snapshot",
                (version,),
            )
            if row is None or row[0] is None:
                raise LakeError(f"unknown snapshot version {version}")
            return version, row[1]
        if with_horizon:
            return self._resolve_version(None, timestamp), None
        if timestamp is not None:  # AT (TIMESTAMP => ts) — T2
            if isinstance(timestamp, _dt.datetime):
                timestamp = _iso(timestamp)
            else:
                # normalize to the stored isoformat ('T' separator, UTC
                # naive): the common space-separated SQL form would compare
                # lexicographically BEFORE any same-day 'T' timestamp and
                # silently resolve to the previous day's snapshot
                try:
                    timestamp = _iso(
                        _dt.datetime.fromisoformat(str(timestamp).strip())
                    )
                except ValueError:
                    raise LakeError(f"unparseable timestamp {timestamp!r}")
            row = self.ms.one(
                "SELECT MAX(snapshot_id) FROM lake_snapshot WHERE ts <= ?",
                (timestamp,),
            )
            if row is None or row[0] is None:
                raise LakeError(f"no snapshot at or before {timestamp}")
            return row[0]
        if version is None:
            return self.current_version()
        if self.ms.one(
            "SELECT 1 FROM lake_snapshot WHERE snapshot_id=?", (version,)
        ) is None:
            raise LakeError(f"unknown snapshot version {version}")
        return version

    def _table_at(self, name: str, v: int):
        row = self.ms.one(
            "SELECT table_id, data_dir FROM lake_table WHERE name=? AND "
            "created_snapshot<=? AND (dropped_snapshot IS NULL OR "
            "dropped_snapshot>?) ORDER BY created_snapshot DESC",
            (name, v, v),
        )
        if row is None:
            raise LakeError(f"table {name!r} does not exist at version {v}")
        return row

    def _schemas_at(self, table_id: int, v: int):
        rows = self.ms.q(
            "SELECT schema_version, schema_json FROM lake_schema WHERE "
            "table_id=? AND created_snapshot<=? ORDER BY schema_version",
            (table_id, v),
        )
        return {sv: TableSchema.from_json(sj) for sv, sj in rows}

    def read(
        self, name: str, version=None, timestamp=None, where: Optional[str] = None
    ) -> DataFrame:
        """Versioned table scan (S2/T1/T2). ``version=None`` = current.

        ``where`` (SQL predicate string) enables catalog-side data skipping
        (SURVEY.md §4): the file list is pruned with min/max stats BEFORE the
        DataFrame is constructed — like Delta data skipping, a layer above
        parquet row-group pruning — and the predicate is then applied to the
        surviving rows, so results are always exact."""
        # Version resolution carries the cross-process cache guard for
        # free: ANOTHER session's expire_snapshots deletes files under
        # plans cached here (only the local cache is cleared there). Its
        # observable footprint is the retention horizon, which the same
        # resolving query returns. Entries at/above the horizon reference
        # only files the expire left alone (removed_snapshot > cutoff or
        # NULL), so they stay valid; entries below it are dropped — and
        # are unreachable anyway, because resolving an expired version
        # raises inside _resolve_version.
        v, horizon = self._resolve_version(
            version, timestamp, with_horizon=True
        )
        if where is None:
            if horizon is not None and horizon != self._cache_horizon:
                self._cache_horizon = horizon
                for k in [k for k in self._read_cache if k[1] < horizon]:
                    del self._read_cache[k]
            hit = self._read_cache.get((name, v))
            if hit is not None:
                self._read_cache.move_to_end((name, v))
                return hit
        table_id, _ = self._table_at(name, v)
        schemas = self._schemas_at(table_id, v)
        current = schemas[max(schemas)]
        files = [
            FileEntry(*r)
            for r in self.ms.q(
                "SELECT file_id, path, row_count, file_bytes, schema_version, "
                "col_stats FROM lake_data_file WHERE table_id=? AND "
                "added_snapshot<=? AND (removed_snapshot IS NULL OR "
                "removed_snapshot>?)",
                (table_id, v, v),
            )
        ]
        inlined = [
            InlinedEntry(*r)
            for r in self.ms.q(
                "SELECT row_id, schema_version, row_json FROM lake_inlined "
                "WHERE table_id=? AND added_snapshot<=? AND "
                "(removed_snapshot IS NULL OR removed_snapshot>?)",
                (table_id, v, v),
            )
        ]
        if where is not None:
            conjuncts = parse_conjuncts(where)
            # pruning resolves predicate names against the CURRENT schema:
            # stats are keyed by stable field_id, so this survives renames
            # (the write-time schema would miss renamed columns and, after
            # a name reuse, prune against the WRONG column's stats)
            files = [
                fe
                for fe in files
                if file_may_match(fe.col_stats, conjuncts, current)
            ]
            return self._build_df(files, inlined, schemas, current).filter(
                F.expr(where)
            )
        df = self._build_df(files, inlined, schemas, current)
        self._read_cache[(name, v)] = df
        if len(self._read_cache) > 64:
            self._read_cache.popitem(last=False)
        return df

    def count(self, name: str, version=None) -> int:
        """Metadata-only COUNT(*) (SURVEY.md §4 'metadata queries very
        fast', exploration/benchmark_ducklake.sh:155-172): answered from
        catalog row counts without launching a Spark job."""
        v = self._resolve_version(version)
        table_id, _ = self._table_at(name, v)
        rc = self.ms.one(
            "SELECT COALESCE(SUM(row_count),0) FROM lake_data_file WHERE "
            "table_id=? AND added_snapshot<=? AND (removed_snapshot IS NULL "
            "OR removed_snapshot>?)",
            (table_id, v, v),
        )[0]
        ic = self.ms.one(
            "SELECT COUNT(*) FROM lake_inlined WHERE table_id=? AND "
            "added_snapshot<=? AND (removed_snapshot IS NULL OR "
            "removed_snapshot>?)",
            (table_id, v, v),
        )[0]
        return rc + ic

    def _build_df(self, files, inlined, schemas, current: TableSchema) -> DataFrame:
        """file list (+ inlined rows) -> one DataFrame in the current schema.

        Files are grouped by the schema_version they were written under; each
        group is read with that version's StructType (no footer inference) and
        projected to the current schema by FIELD ID — renames and drops are
        metadata-only, adds fill the default (SURVEY.md §1.3)."""
        parts = []
        by_sv: dict = {}
        for fe in files:
            by_sv.setdefault(fe.schema_version, []).append(fe.path)
        for sv, paths in sorted(by_sv.items()):
            stored = schemas[sv]
            df = self.spark.read.schema(stored.to_struct()).parquet(*paths)
            parts.append(_project(df, stored, current))
        if inlined or not parts:
            # coerce each value to the CURRENT column type: after a
            # cross-family ALTER COLUMN TYPE (int -> double/decimal) a row
            # inlined under the old type must build into the widened
            # column the way parquet rows do via _project's cast
            rows = [
                tuple(
                    _coerce_read(v, f.type)
                    for v, f in zip(
                        row_from_json(e.row_json, current), current.fields
                    )
                )
                for e in inlined
            ]
            parts.append(local_df(self.spark, rows, current.to_struct()))
        return reduce(DataFrame.unionByName, parts)

    # ------------------------------------------------------------------
    # introspection (T3/T6/S7/S8)
    # ------------------------------------------------------------------
    def snapshots(self) -> list:
        """``ducklake_snapshots(db)``: snapshot_id, snapshot_time,
        schema_version, changes (``utils/ducklake_utils.py:58-62``)."""
        out = []
        for sid, ts, ch in self.ms.q(
            "SELECT snapshot_id, ts, changes FROM lake_snapshot "
            "ORDER BY snapshot_id"
        ):
            sv = self.ms.one(
                "SELECT COUNT(*) FROM lake_schema WHERE created_snapshot<=?",
                (sid,),
            )[0]
            out.append(
                {
                    "snapshot_id": sid,
                    "snapshot_time": _dt.datetime.fromisoformat(ts),
                    "schema_version": sv,
                    "changes": json.loads(ch),
                }
            )
        return out

    def snapshots_df(self) -> DataFrame:
        rows = [
            (s["snapshot_id"], s["snapshot_time"], s["schema_version"],
             json.dumps(s["changes"], sort_keys=True))
            for s in self.snapshots()
        ]
        return local_df(
            self.spark, rows, "snapshot_id bigint, snapshot_time timestamp, "
            "schema_version bigint, changes string"
        )

    def tables(self, version=None) -> list:
        v = self._resolve_version(version)
        return [
            r[0]
            for r in self.ms.q(
                "SELECT name FROM lake_table WHERE created_snapshot<=? AND "
                "(dropped_snapshot IS NULL OR dropped_snapshot>?) ORDER BY name",
                (v, v),
            )
        ]

    def columns(self, name: str, version=None) -> list:
        v = self._resolve_version(version)
        table_id, _ = self._table_at(name, v)
        schemas = self._schemas_at(table_id, v)
        sch = schemas[max(schemas)]
        return [(f.name, f.type, f.nullable) for f in sch.fields]

    def file_stats(self, name: str, version=None) -> list:
        """Per-data-file catalog metadata: [{path, row_count, file_bytes,
        columns: {col: {min, max, nulls}}}] — the reader-side face of the
        footer stats that drive file pruning (SURVEY §4). Metadata-only
        (one catalog query, no Spark job): operators can size or route
        work from it — e.g. the vector near-dup screen derives per-bucket
        populations here instead of scanning the index — the same way the
        pruned read path consumes the identical rows. Inlined rows have no
        file and do not appear."""
        from .schema import value_from_json

        v = self._resolve_version(version)
        table_id, _ = self._table_at(name, v)
        schemas = self._schemas_at(table_id, v)
        current = schemas[max(schemas)]
        fid_to_name = {f.field_id: f.name for f in current.fields}
        out = []
        for path, rc, fb, cs in self.ms.q(
            "SELECT path, row_count, file_bytes, col_stats FROM "
            "lake_data_file WHERE table_id=? AND added_snapshot<=? AND "
            "(removed_snapshot IS NULL OR removed_snapshot>?)",
            (table_id, v, v),
        ):
            cols = {}
            for fid, st in (json.loads(cs) if cs else {}).items():
                col = fid_to_name.get(int(fid))
                if col is not None:
                    cols[col] = {
                        "min": value_from_json(st.get("min")),
                        "max": value_from_json(st.get("max")),
                        "nulls": st.get("nulls"),
                    }
            out.append(
                {
                    "path": path,
                    "row_count": rc,
                    "file_bytes": fb,
                    "columns": cols,
                }
            )
        return out

    def table_info(self) -> list:
        """``ducklake_table_info``-style per-table file/row stats (T6)."""
        v = self.current_version()
        out = []
        for name in self.tables():
            table_id, _ = self._table_at(name, v)
            fc, rc, fb = self.ms.one(
                "SELECT COUNT(*), COALESCE(SUM(row_count),0), "
                "COALESCE(SUM(file_bytes),0) FROM lake_data_file WHERE "
                "table_id=? AND added_snapshot<=? AND (removed_snapshot IS "
                "NULL OR removed_snapshot>?)",
                (table_id, v, v),
            )
            ic = self.ms.one(
                "SELECT COUNT(*) FROM lake_inlined WHERE table_id=? AND "
                "added_snapshot<=? AND (removed_snapshot IS NULL OR "
                "removed_snapshot>?)",
                (table_id, v, v),
            )[0]
            out.append(
                {
                    "table_name": name,
                    "file_count": fc,
                    "row_count": rc + ic,
                    "file_bytes": fb,
                    "inlined_rows": ic,
                }
            )
        return out

    def views(self, version=None) -> dict:
        v = self._resolve_version(version)
        return dict(
            self.ms.q(
                "SELECT name, view_sql FROM lake_view WHERE created_snapshot<=? "
                "AND (dropped_snapshot IS NULL OR dropped_snapshot>?)",
                (v, v),
            )
        )

    def table_changes(self, name: str, v1: int, v2: int) -> DataFrame:
        """``ducklake_table_changes`` (T4): row-level diff between versions via
        ``exceptAll`` (``utils/ducklake_utils.py:65-78``). Columns = the v2
        schema restricted to FIELDS that also exist at v1 — matched by
        field id and served under the v2 names/types, so the diff stays
        correct across RENAME (same id, new name) and widening TYPE
        changes (v1 side cast to the v2 type — exact for every cast the
        user-facing widening gate admits; engine-forced retypes of rollup
        STATE columns are not diffed through this path). A name-based
        intersection would silently drop renamed
        columns from the diff — and with them every rollup refresh that
        crosses the rename snapshot."""
        d1, d2 = self.read(name, version=v1), self.read(name, version=v2)

        def _schema_at(v: int):
            tid, _ = self._table_at(name, v)
            schemas = self._schemas_at(tid, v)
            return schemas[max(schemas)]

        by_id1 = {f.field_id: f for f in _schema_at(v1).fields}
        pairs = [
            (by_id1[f.field_id].name, f)
            for f in _schema_at(v2).fields
            if f.field_id in by_id1
        ]
        p1 = d1.select(
            *[F.col(a).cast(f.type).alias(f.name) for a, f in pairs]
        )
        p2 = d2.select(*[f.name for _, f in pairs])
        ins = p2.exceptAll(p1).withColumn("change_type", F.lit("insert"))
        dele = p1.exceptAll(p2).withColumn("change_type", F.lit("delete"))
        return ins.unionByName(dele)

    # ------------------------------------------------------------------
    # session bind + maintenance
    # ------------------------------------------------------------------
    def bind(self, version=None) -> None:
        """Register every table (at ``version``) and view as temp views so
        queries run in plain Spark SQL (the reference's ``USE lake``,
        demos/01_transaction_rollback/demo.py:30)."""
        for t in self.tables(version):
            self.read(t, version=version).createOrReplaceTempView(t)
        for vname, vsql in self.views(version).items():
            self.spark.sql(vsql).createOrReplaceTempView(vname)

    def sql(self, query: str, version=None) -> DataFrame:
        """Execute ONE SQL statement against the lake — the reference's
        ``conn.execute(sql)`` surface (``utils/ducklake_utils.py:53``).

        Reads run through Catalyst with DuckLake's time-travel syntax
        ``FROM t AT (VERSION => 3)`` / ``AT (TIMESTAMP => ...)``
        (README.md:216-220) rewritten to versioned temp views. DDL/DML/
        transaction statements (CREATE/ALTER/DROP/INSERT/UPDATE/DELETE/
        BEGIN/COMMIT/ROLLBACK) dispatch to the transactional API — see
        :mod:`ducktales_spark.lake.sql` for the statement inventory."""
        if self._sql_exec is None:
            from .sql import SQLExecutor

            self._sql_exec = SQLExecutor(self)
        return self._sql_exec.execute(query, version)

    def _rewrite_at(self, query: str) -> str:
        """Rewrite ``t AT (VERSION|TIMESTAMP => x)`` clauses to registered
        versioned temp views (SURVEY.md §4 'snapshot-scoped scan binding' —
        no Catalyst parser extension needed). A clause must START outside
        a string literal: ``SELECT 't AT (VERSION => 1)'`` is data. The
        clause's own payload may hold a literal (TIMESTAMP => '...'),
        which is consumed as part of the match."""
        import re as _re

        from .sql import SQLExecutor

        def _rewrite(m: "_re.Match") -> str:
            tname, kind, val = m.group(1), m.group(2).upper(), m.group(3)
            if kind == "VERSION":
                v = int(val)
                df = self.read(tname, version=v)
                view = f"{tname}__at_v{v}"
            else:
                ts = val.strip("'\"")
                v = self._resolve_version(timestamp=ts)
                df = self.read(tname, version=v)
                view = f"{tname}__at_v{v}"
            df.createOrReplaceTempView(view)
            return view

        pat = _re.compile(
            r"\b([A-Za-z_][A-Za-z0-9_]*)\s+AT\s*\(\s*(VERSION|TIMESTAMP)"
            r"\s*=>\s*([^)]+)\)",
            _re.I,
        )
        out, i = [], 0
        while True:
            m = SQLExecutor._search_nonliteral(pat, query, i)
            if m is None:
                out.append(query[i:])
                return "".join(out)
            out.append(query[i: m.start()])
            out.append(_rewrite(m))
            i = m.end()

    def export_to(self, other: "LakeCatalog") -> None:
        """Catalog migration (D15, demos/05_catalog_portability/demo.py:199-280):
        recreate every live table (schema + PK + data) and view in ``other``."""
        for name in self.tables():
            table_id, _ = self._table_at(name, self.current_version())
            schemas = self._schemas_at(table_id, self.current_version())
            sch = schemas[max(schemas)]
            with other.transaction() as tx:
                tx.create_table(name, sch, sch.primary_key)
                tx.insert(name, self.read(name))
        for vname, vsql in self.views().items():
            other.create_view(vname, vsql)
        # Rollup meta tables stamp the catalog version their rollup
        # reflects — SOURCE version numbers, meaningless in the target's
        # history (a later REFRESH would diff from an arbitrary mid-export
        # snapshot and double-count). Restamp at the target's HEAD: the
        # exported rollup state reflects the exported source state by
        # construction.
        other.restamp_rollup_metas()

    def restamp_rollup_metas(self, only=None) -> None:
        """Rewrite well-formed rollup meta companions' ``last_version`` to
        THIS catalog's HEAD — the post-migration fixup export_to and SQL
        ``IMPORT DATABASE`` share (imported stamps carry source-catalog
        version numbers, meaningless here). ``only`` (a set of table
        names) restricts the restamp to metas belonging to that set: an
        IMPORT into a catalog that already holds unrelated live MVs must
        not advance THEIR stamps past unfolded base-table deltas (that
        would make a later REFRESH silently skip those rows)."""
        all_names = set(self.tables())
        names = all_names if only is None else all_names & set(only)
        v_head = self.current_version()
        for name in names:
            # sibling check is against ALL tables: the MV table itself may
            # sit outside a narrowed `only` set and the meta is still real
            if not name.endswith("__rollup_meta") or name[: -len("__rollup_meta")] not in all_names:
                continue
            # Guard like _mv_overlay: a user table that merely NAMES like
            # rollup meta (X__rollup_meta with a sibling X) must not get its
            # rows rewritten. Real rollup meta is exactly one row carrying
            # the rollup definition columns — check the SHAPE before
            # collecting (schema is metadata; the row-count probe reads at
            # most 2 rows), so a huge decoy table is never pulled to the
            # driver during export.
            from .rollup import META_REQUIRED_COLS

            meta_df = self.read(name)
            if not META_REQUIRED_COLS <= set(meta_df.columns):
                continue
            if self.count(name) != 1:  # metadata-only, no scan
                continue
            rows = [r.asDict() for r in meta_df.collect()]
            for r in rows:
                r["last_version"] = v_head
            with self.transaction() as tx:
                tx.delete(name)
                tx.insert_rows(name, rows)

    def expire_snapshots(
        self,
        before_version: Optional[int] = None,
        before_timestamp=None,
        keep_last: Optional[int] = None,
    ) -> dict:
        """Retention maintenance (beyond the reference surface — its
        ``cleanup_ducklake`` is test teardown; this is the Iceberg
        expire-snapshots / Delta VACUUM analog a production lakehouse needs:
        without it history grows without bound and no data file can ever be
        physically deleted).

        Expires every snapshot strictly below the cutoff: those versions are
        no longer time-travelable, and data files / inlined rows visible
        ONLY to expired versions (``removed_snapshot <= cutoff``) are purged
        from the catalog and disk. Files live at the cutoff or later are
        untouched, as is everything needed to read any retained version.
        Metadata changes commit in one catalog transaction; physical file
        deletion happens after (a crash in between leaves unreferenced
        files, collected by :meth:`gc`)."""
        if keep_last is not None:
            cutoff = max(0, self.current_version() - keep_last + 1)
        elif before_timestamp is not None:
            cutoff = self._resolve_version(timestamp=before_timestamp)
        elif before_version is not None:
            cutoff = before_version
        else:
            raise LakeError(
                "pass before_version, before_timestamp, or keep_last"
            )
        cutoff = min(cutoff, self.current_version())  # never expire HEAD
        doomed = self.ms.q(
            "SELECT path, file_bytes FROM lake_data_file WHERE "
            "removed_snapshot IS NOT NULL AND removed_snapshot <= ?",
            (cutoff,),
        )
        with self.ms.tx() as t:
            t.exec(
                self.ms._ph(
                    "DELETE FROM lake_data_file WHERE removed_snapshot IS "
                    "NOT NULL AND removed_snapshot <= ?"
                ),
                (cutoff,),
            )
            inl = t.exec(
                self.ms._ph(
                    "DELETE FROM lake_inlined WHERE removed_snapshot IS "
                    "NOT NULL AND removed_snapshot <= ?"
                ),
                (cutoff,),
            ).rowcount
            t.exec(
                self.ms._ph(
                    "DELETE FROM lake_view WHERE dropped_snapshot IS "
                    "NOT NULL AND dropped_snapshot <= ?"
                ),
                (cutoff,),
            )
            # tables dropped before the cutoff are gone from every retained
            # version; remove their metadata entirely — INCLUDING data-file /
            # inlined rows still marked live (drop_table doesn't touch them),
            # else their parquet survives forever and gc() keeps seeing it
            # referenced (permanent storage leak).
            for (tid,) in t.exec(
                self.ms._ph(
                    "SELECT table_id FROM lake_table WHERE dropped_snapshot "
                    "IS NOT NULL AND dropped_snapshot <= ?"
                ),
                (cutoff,),
            ).fetchall():
                doomed.extend(
                    t.exec(
                        self.ms._ph(
                            "SELECT path, file_bytes FROM lake_data_file "
                            "WHERE table_id=?"
                        ),
                        (tid,),
                    ).fetchall()
                )
                t.exec(
                    self.ms._ph("DELETE FROM lake_data_file WHERE table_id=?"),
                    (tid,),
                )
                inl += t.exec(
                    self.ms._ph("DELETE FROM lake_inlined WHERE table_id=?"),
                    (tid,),
                ).rowcount
                t.exec(
                    self.ms._ph("DELETE FROM lake_schema WHERE table_id=?"),
                    (tid,),
                )
                t.exec(
                    self.ms._ph("DELETE FROM lake_table WHERE table_id=?"),
                    (tid,),
                )
            ns = t.exec(
                self.ms._ph(
                    "DELETE FROM lake_snapshot WHERE snapshot_id < ?"
                ),
                (cutoff,),
            ).rowcount
        self._read_cache.clear()  # expired versions' plans point at doomed files
        removed_bytes = 0
        for path, nbytes in doomed:
            try:
                os.remove(path)
                removed_bytes += nbytes or 0
            except OSError:
                pass  # already gone; harmless
        return {
            "cutoff_version": cutoff,
            "snapshots_expired": ns,
            "files_deleted": len(doomed),
            "bytes_reclaimed": removed_bytes,
            "inlined_rows_purged": inl,
        }

    def gc(self, min_age_seconds: float = 3600.0) -> list:
        """Delete parquet files on disk that no catalog row references
        (staged-but-never-committed leftovers after a crash).

        Only files older than ``min_age_seconds`` are removed: a file staged
        by an IN-FLIGHT transaction in another process is also unreferenced
        until its commit — deleting it would corrupt that table the moment
        the writer publishes its lake_data_file rows."""
        import time as _time

        self._read_cache.clear()  # plans must not outlive unreferenced files
        cutoff = _time.time() - min_age_seconds
        referenced = {
            r[0] for r in self.ms.q("SELECT path FROM lake_data_file")
        }
        removed = []
        for p in _glob.glob(os.path.join(self.root, "**", "*.parquet"),
                            recursive=True):
            if p not in referenced:
                try:
                    if os.path.getmtime(p) > cutoff:
                        continue  # possibly staged by an in-flight writer
                    os.remove(p)
                    removed.append(p)
                except OSError:
                    pass  # vanished concurrently; fine
        return removed


class Transaction:
    """Multi-statement, multi-table atomic unit; commit = one snapshot (D5).

    Spark jobs inside the transaction eagerly stage parquet files; ALL
    metadata mutations buffer driver-side and hit the catalog DB in one SQL
    transaction at commit (EP2). Optimistic concurrency: first committer
    wins per table; later conflicting commits raise :class:`ConflictError`
    and the caller retries (D8)."""

    def __init__(self, catalog: LakeCatalog):
        self.c = catalog
        self.base_version = catalog.current_version()
        self._states: dict = {}
        self._view_ops: list = []  # (name, sql_or_None)
        # pre-existing tables dropped then re-created in THIS txn (CREATE OR
        # REPLACE): table_id -> name. Their TableState is overwritten by the
        # new table's, so commit must close the old lake_table row from here.
        self._replaced: dict = {}
        self._staged_dirs: list = []
        self._done = False
        self._rollup_metas_cache: dict = None  # see _rollup_metas

    # -- context manager ------------------------------------------------
    def __enter__(self):
        return self

    def __exit__(self, et, ev, tb):
        if et is None and not self._done:
            self.commit()
        elif not self._done:
            self.rollback()
        return False

    # -- state loading ---------------------------------------------------
    def _state(self, name: str, must_exist: bool = True) -> TableState:
        st = self._states.get(name)
        if st is not None:
            if st.dropped and must_exist:
                raise LakeError(f"table {name!r} dropped in this transaction")
            return st
        v = self.base_version
        try:
            table_id, data_dir = self.c._table_at(name, v)
        except LakeError:
            if must_exist:
                raise
            return None  # type: ignore[return-value]
        schemas = self.c._schemas_at(table_id, v)
        files = [
            FileEntry(*r)
            for r in self.c.ms.q(
                "SELECT file_id, path, row_count, file_bytes, schema_version, "
                "col_stats FROM lake_data_file WHERE table_id=? AND "
                "added_snapshot<=? AND (removed_snapshot IS NULL OR "
                "removed_snapshot>?)",
                (table_id, v, v),
            )
        ]
        inlined = [
            InlinedEntry(*r)
            for r in self.c.ms.q(
                "SELECT row_id, schema_version, row_json FROM lake_inlined "
                "WHERE table_id=? AND added_snapshot<=? AND "
                "(removed_snapshot IS NULL OR removed_snapshot>?)",
                (table_id, v, v),
            )
        ]
        st = TableState(
            name=name,
            table_id=table_id,
            data_dir=data_dir,
            schemas=schemas,
            schema_version=max(schemas),
            files=files,
            inlined=inlined,
        )
        self._states[name] = st
        return st

    # -- reads (read-your-writes) ----------------------------------------
    def read(self, name: str) -> DataFrame:
        st = self._state(name)
        return self.c._build_df(st.files, st.inlined, st.schemas, st.schema)

    # -- DDL -------------------------------------------------------------
    def create_table(self, name: str, schema, primary_key=(), partition_by=()) -> None:
        """D9 (transactional DDL — demos/01_transaction_rollback/demo.py:33-55).

        ``partition_by`` declares clustering columns: every write range-
        repartitions on them so each data file covers a narrow value interval
        and the catalog's min/max file skipping becomes partition pruning
        (the scan-path half of what hive-style partitioning buys, without
        path-encoded values — stats already do the pruning)."""
        exists = self._state(name, must_exist=False)
        if exists is not None and not exists.dropped:
            raise LakeError(f"table {name!r} already exists")
        if exists is not None and exists.dropped and not exists.created:
            # drop+recreate of a pre-existing table: the new TableState below
            # replaces the dropped one in _states, so retain the drop here or
            # commit would leave two live lake_table rows under one name.
            self._replaced[exists.table_id] = name
        if not isinstance(schema, TableSchema):
            schema = TableSchema.from_struct(schema, primary_key, partition_by)
        elif primary_key or partition_by:
            schema = TableSchema(
                schema.fields,
                tuple(primary_key) or schema.primary_key,
                tuple(partition_by) or schema.partition_by,
            )
        for c in schema.partition_by:
            try:
                schema.field_by_name(c)
            except KeyError:
                raise LakeError(
                    f"unknown partition column {c!r} for table {name!r}"
                ) from None
        data_dir = os.path.join(
            self.c.root, f"{name}_{uuid.uuid4().hex[:8]}"
        )
        st = TableState(
            name=name,
            table_id=None,
            data_dir=data_dir,
            schemas={1: schema},
            schema_version=1,
            files=[],
            inlined=[],
            created=True,
            staged_schema_versions=[1],
        )
        st.changes.add("tables_created")
        self._states[name] = st

    def ctas(self, name: str, df: DataFrame, primary_key=(), partition_by=()) -> int:
        """S5: CREATE TABLE AS SELECT (``utils/ducklake_utils.py:101-111``) —
        schema inferred from the DataFrame. Returns rows written."""
        self.create_table(name, df.schema, primary_key, partition_by)
        return self.insert(name, df)

    def drop_table(self, name: str) -> None:
        st = self._state(name)
        # like drop_column: a table an MV aggregates cannot silently vanish
        # (the MV would be permanently unrefreshable, and a later recreate
        # would pair UNRELATED field ids in the CDC diff). DROP the view
        # first. The guard skips rollups already dropped in this txn —
        # create_rollup(replace=True) drops the pair itself.
        for mv, row in self._rollup_metas().items():
            mv_st = self._states.get(mv)
            if row.get("src") == name and not (mv_st and mv_st.dropped):
                raise LakeError(
                    f"table {name!r} is the source of materialized view "
                    f"{mv!r}; DROP MATERIALIZED VIEW {mv} first"
                )
        st.dropped = True
        st.changes.add("tables_dropped")

    def _evolve(self, st: TableState, new_schema: TableSchema, marker: str):
        st.schema_version += 1
        st.schemas[st.schema_version] = new_schema
        st.staged_schema_versions.append(st.schema_version)
        st.changes.add(marker)
        st.coarse_write = True  # schema changes never conflict-resolve finely

    def add_column(self, name, col, type_, default=None, backfill=None) -> None:
        """D10: ALTER TABLE ADD COLUMN [DEFAULT v]. Old files never rewritten —
        reads fill the default (demos/03_schema_evolution/demo.py:118).
        ``backfill`` (SQL expr string) additionally rewrites existing rows
        (the add+backfill pattern, demo.py:140-158)."""
        st = self._state(name)
        # next field id = max over EVERY schema version, not just live
        # columns: a dropped column's id must never be reused (old files
        # would resurrect its data under the new column's name)
        nid = max(s.max_field_id() for s in st.schemas.values()) + 1
        self._evolve(st, st.schema.add_column(col, type_, default, nid),
                     "tables_altered")
        if backfill is not None:
            self.update(name, {col: backfill}, None)

    def drop_column(self, name, col) -> None:
        st = self._state(name)
        # a column a continuous aggregate maintains cannot silently vanish
        # from under it — dropping its state is destructive, so it must be
        # the user's explicit call (TimescaleDB blocks this the same way)
        for mv, row, cols in self._dependent_rollups(name):
            if col in cols:
                raise LakeError(
                    f"column {col!r} is maintained by materialized view "
                    f"{mv!r}; DROP MATERIALIZED VIEW {mv} first"
                )
        self._evolve(st, st.schema.drop_column(col), "tables_altered")

    def rename_column(self, name, old, new) -> None:
        st = self._state(name)
        self._evolve(st, st.schema.rename_column(old, new), "tables_altered")
        self._rename_in_dependent_rollups(name, old, new)

    def set_partition_by(self, name, cols) -> None:
        """X2: change the clustering spec (DuckLake ALTER TABLE ... SET
        PARTITIONED BY). Metadata-only — no file rewrites: old files keep
        their narrow min/max stats under the OLD spec (still pruneable),
        future writes range-repartition on the new columns, and compact()
        re-clusters everything under the new spec."""
        st = self._state(name)
        try:
            self._evolve(
                st, st.schema.set_partition_by(cols), "tables_altered"
            )
        except KeyError as e:
            raise LakeError(
                f"unknown partition column for table {name!r}: {e.args[0]}"
            ) from None

    def set_zorder_by(self, name, cols) -> None:
        """Persist (or with empty ``cols`` RESET) the z-order spec —
        metadata-only, like set_partition_by: no rewrite here. optimize()
        applies the clustering; compact() and later optimize() calls
        re-apply it, so routine maintenance never silently destroys the
        clustering a full-table rewrite paid for (Delta persists its
        cluster spec the same way)."""
        st = self._state(name)
        try:
            self._evolve(st, st.schema.set_zorder_by(cols), "tables_altered")
        except KeyError as e:
            raise LakeError(
                f"unknown z-order column for table {name!r}: {e.args[0]}"
            ) from None

    def set_not_null(self, name, col) -> None:
        """D13: validates existing rows first (a distributed null-scan), then
        records the constraint for future writes."""
        st = self._state(name)
        df = self.read(name)
        if df.filter(F.col(col).isNull()).limit(1).count() > 0:
            raise ConstraintViolation(
                f"column {col!r} contains NULLs; cannot SET NOT NULL"
            )
        self._evolve(st, st.schema.set_not_null(col), "tables_altered")

    def alter_column_type(self, name, col, new_type) -> None:
        """ALTER COLUMN ... TYPE (widening only): metadata-only — the new
        schema version records the type, existing files keep theirs and the
        read path casts stored -> current by field id (the same machinery
        as add/drop/rename; no data rewrite). Narrowing raises
        (schema.TableSchema.alter_column_type). Rollups maintaining the
        column widen their stored state in the same transaction (see
        _widen_dependent_rollups)."""
        st = self._state(name)
        old_type = st.schema.field_by_name(col).type
        try:
            new_schema = st.schema.alter_column_type(col, new_type)
        except ValueError as e:
            raise LakeError(str(e)) from None
        self._evolve(st, new_schema, "tables_altered")
        self._widen_dependent_rollups(name, col, old_type, new_type)

    _ROLLUP_COL_LISTS = (
        "keys", "sum_cols", "minmax_cols",
        "count_cols", "approx_cols", "distinct_cols",
    )

    def _rollup_metas(self) -> dict:
        """mv_name -> meta row dict for every rollup AS THIS TRANSACTION
        SEES IT — staged DDL included, so in a BEGIN block the second ALTER
        observes the first one's follow-through (meta restamped with the
        new names), not stale committed state. Memoized per transaction:
        MV create/drop is refused inside explicit transactions and
        autocommit runs a single op, so the MV set is fixed for this
        transaction's lifetime (one enumeration pays for every DDL in the
        block); _rename_in_dependent_rollups updates entries in place
        after restamping. Read-only meta loads never mark their states
        changed, so commit ignores them (no spurious conflicts)."""
        if self._rollup_metas_cache is None:
            from .rollup import _meta_name

            names = set(self.c.tables())
            for n, st in self._states.items():
                (names.discard if st.dropped else names.add)(n)
            cache = {}
            for mv in sorted(n for n in names if _meta_name(n) in names):
                # Guard like export_to (catalog.py export path): a USER
                # table merely NAMED X__rollup_meta with a sibling X must
                # never be pulled to the driver here — check the column
                # SHAPE (staged-schema metadata, no scan) and probe at
                # most 2 rows before collecting
                mst = self._state(_meta_name(mv))
                from .rollup import META_REQUIRED_COLS

                if not META_REQUIRED_COLS <= {
                    f.name for f in mst.schema.fields
                }:
                    continue
                meta = self.read(_meta_name(mv)).limit(2).collect()
                if len(meta) == 1:
                    cache[mv] = meta[0].asDict()
            self._rollup_metas_cache = cache
        return self._rollup_metas_cache

    def _dependent_rollups(self, src_name):
        """[(mv_name, meta_row_dict, {maintained source columns})] for every
        rollup whose source is ``src_name`` — schema evolution of the
        source must keep these consistent (widen/rename propagate, drop is
        blocked)."""
        out = []
        for mv, row in self._rollup_metas().items():
            if row.get("src") != src_name:
                continue
            ke = json.loads(row.get("key_exprs") or "{}")
            cols = set()
            for key in self._ROLLUP_COL_LISTS:
                for c in json.loads(row.get(key) or "[]"):
                    if key == "keys" and c in ke:
                        continue  # expression-key ALIAS, not a source col
                    cols.add(c)
            for expr in ke.values():
                cols.update(self._expr_source_cols(src_name, expr))
            if row.get("time_col"):
                cols.add(row["time_col"])
            cols.update(self._predicate_cols(src_name, row))
            out.append((mv, row, cols))
        return out

    def _expr_source_cols(self, src_name: str, text: str) -> set:
        """Source columns a stored SQL expression references (bare
        identifiers naming source columns; function names and literals
        excluded by the scanner) — the guard set for expression keys,
        exactly like _predicate_cols guards a filtered MV's WHERE."""
        from .rollup import scan_sql_identifiers

        names = {f.name for f in self._state(src_name).schema.fields}
        lower = {n.lower(): n for n in names}
        return {
            lower[nm.lower()]
            for _s, _e, nm in scan_sql_identifiers(text)
            if nm.lower() in lower
        }

    def _predicate_cols(self, src_name: str, row: dict) -> set:
        """Source columns a filtered MV's WHERE references: every bare
        identifier in the stored predicate that names a source column
        (function names and literals excluded by the scanner). These are
        guarded like maintained columns — dropping one would make every
        refresh unresolvable."""
        where = row.get("where_sql")
        return self._expr_source_cols(src_name, where) if where else set()

    def _widen_dependent_rollups(self, src_name, col, old_type, new_type) -> None:
        """A continuous aggregate stores state TYPED BY its source column:
        sum_<c> is BIGINT for integer sources, min_<c>/max_<c> and key
        columns carry the column type verbatim. Widening the source
        without widening that state would make the next refresh's _align
        silently cast fractional or overflowing deltas back down to the
        old type — data corruption, not an error — so every dependent
        rollup's stored columns widen inside this same transaction.
        COUNT/COUNT(col)/exact-distinct counts (bigint) are
        type-independent and stay put; HLL sketch state hashes the STRING
        cast of the value, whose representation CHANGES across
        cross-family widenings (int 7 -> double "7.0") — those sketches
        are rebuilt from the source (see below), int-family rank growth
        keeps the same digits and stays put."""
        from .schema import _decimal

        t = new_type.strip().lower()
        int_family = ("tinyint", "smallint", "int", "bigint")
        if t in ("float", "double"):
            sum_t = "double"  # Spark: sum(float/double) -> double
        elif t in int_family:
            sum_t = "bigint"  # sum(int family) -> bigint
        else:
            d = _decimal(t)
            # Spark: sum(decimal(p,s)) -> decimal(min(38, p+10), s)
            sum_t = f"decimal({min(38, d[0] + 10)},{d[1]})" if d else None
        probe = None  # empty source-schema frame, built once across MVs
        for mv, row, _cols in self._dependent_rollups(src_name):
            ke = json.loads(row.get("key_exprs") or "{}")
            targets = {}
            if col in json.loads(row.get("keys") or "[]") and col not in ke:
                targets[col] = t
            if col in json.loads(row.get("sum_cols") or "[]") and sum_t:
                targets[f"sum_{col}"] = sum_t
            if col in json.loads(row.get("minmax_cols") or "[]"):
                targets[f"min_{col}"] = t
                targets[f"max_{col}"] = t
            resketch = col in json.loads(
                row.get("approx_cols") or "[]"
            ) and not (old_type.lower() in int_family and t in int_family)
            # a widened column referenced by an EXPRESSION key can change
            # both the expr's output type and (for type-dependent exprs
            # like a string cast: int 7 -> double '7.0') its output
            # VALUES — re-derive the stored alias type from the widened
            # source and rebuild the state, same discipline as sketches
            expr_key_hits = [
                a for a, e in ke.items()
                if col in self._expr_source_cols(src_name, e)
            ]
            if not targets and not resketch and not expr_key_hits:
                continue
            st_mv = self._state(mv)
            sch = st_mv.schema
            changed = False
            if expr_key_hits:
                if probe is None:
                    probe = self.c.spark.createDataFrame(
                        [], self._state(src_name).schema.to_struct()
                    )
                for a in expr_key_hits:
                    new_t = (
                        probe.select(F.expr(ke[a]).alias(a))
                        .schema[0].dataType.simpleString()
                    )
                    if sch.field_by_name(a).type.lower() != new_t.lower():
                        targets[a] = new_t
                # rebuild UNCONDITIONALLY: even a same-family widen with an
                # unchanged alias type can change expr OUTPUT VALUES
                # (typeof(v) flips 'int'->'bigint'; a string cast flips
                # '7'->'7.0' on cross-family) — proving value-invariance
                # would need expression analysis, and widening is a rare
                # explicit-DDL moment, so conservative is correct
                resketch = True
            for cname, ctype in targets.items():
                if sch.field_by_name(cname).type.lower() != ctype:
                    # force: sum state follows Spark's sum type for the
                    # widened source (bigint sums of an int column become
                    # double sums when the column goes double — exactly
                    # the cast a from-scratch recompute would produce)
                    sch = sch.alter_column_type(cname, ctype, force=True)
                    changed = True
            if changed:
                self._evolve(st_mv, sch, "tables_altered")
            if resketch:
                # the sketch input is the value's STRING form, which just
                # changed (int 7 -> double "7.0"): existing sketches can no
                # longer union with future deltas. Rebuild the rollup's
                # state from the (staged) source under the new type — the
                # rare, explicit-DDL-time cost that keeps the pinned
                # incremental == recompute invariant true afterwards.
                self._recompute_rollup_state(mv, row)

    def _recompute_rollup_state(self, mv: str, row: dict) -> None:
        """Rebuild a rollup's stored state inside THIS transaction, from the
        COMMITTED source snapshot at the txn's base version projected to
        the STAGED schema (the widened type is what forces the rebuild;
        ``_project`` maps committed -> staged by field id, so earlier
        staged renames/widens in the same BEGIN block apply too). Staged
        DATA rows are deliberately excluded: they commit at a version
        > base, so the next refresh's base->head diff folds them in
        exactly once. Reading the staged state here (read-your-writes)
        AND stamping base would bake those rows into the rebuilt state
        and then re-apply them — silent double counting. The meta stamp
        (base version) is mirrored into the cached row so a later DDL in
        the same block (e.g. RENAME) restamps from the rebuilt value, not
        a stale pre-rebuild one."""
        from .rollup import _agg_exprs, _bucket_expr, _stamp_meta_tx

        def _lst(key):
            return tuple(json.loads(row.get(key) or "[]"))

        src = row["src"]
        staged_sch = self._state(src).schema
        table_id, _ = self.c._table_at(src, self.base_version)
        committed = self.c._schemas_at(table_id, self.base_version)
        committed_sch = committed[max(committed)]
        df = self.c.read(src, version=self.base_version)
        if committed_sch.to_json() != staged_sch.to_json():
            df = _project(df, committed_sch, staged_sch)
        if row.get("where_sql"):
            df = df.filter(F.expr(row["where_sql"]))
        from .rollup import _key_group_cols, _key_exprs_of

        df = (
            df.groupBy(
                _bucket_expr(
                    row["time_col"] or None, int(row["bucket_s"])
                ).alias("bucket_start"),
                *_key_group_cols(_lst("keys"), _key_exprs_of(row)),
            )
            .agg(
                *_agg_exprs(
                    _lst("sum_cols"),
                    minmax_cols=_lst("minmax_cols"),
                    count_cols=_lst("count_cols"),
                    approx_cols=_lst("approx_cols"),
                    distinct_cols=_lst("distinct_cols"),
                    var_cols=_lst("var_cols"),
                )
            )
        )
        self.delete(mv)
        self.insert(mv, df)
        _stamp_meta_tx(self, self.c, mv, row, self.base_version)
        row["last_version"] = self.base_version

    def _rename_in_dependent_rollups(self, src_name, old, new) -> None:
        """Renaming a maintained source column follows through to every
        dependent rollup — its meta lists/time_col and the derived stored
        column names (sum_<old> -> sum_<new>, key columns verbatim) — in
        the same transaction, so the next refresh's diff (which carries
        the NEW source names) keeps resolving. Without this the MV was
        permanently unrefreshable after a rename (AnalysisException on
        the old name)."""
        from .rollup import _stamp_meta_tx

        prefixes = {
            "keys": ("",),  # key column stored under the source name
            "sum_cols": ("sum_",),
            "minmax_cols": ("min_", "max_"),
            "count_cols": ("count_",),
            "approx_cols": ("hll_",),
            "distinct_cols": ("distinct_",),
            "var_cols": ("sumsq_",),
        }
        from .rollup import scan_sql_identifiers

        for mv, row, cols in self._dependent_rollups(src_name):
            ke = json.loads(row.get("key_exprs") or "{}")
            # cols is derived from the CURRENT (already-renamed) schema, so
            # a predicate-only (or expr-key-only) reference to the old name
            # is invisible in it — scan the stored TEXTS for `old` directly
            in_where = bool(row.get("where_sql")) and any(
                nm.lower() == old.lower()
                for _s, _e, nm in scan_sql_identifiers(row["where_sql"])
            )
            in_key_expr = any(
                nm.lower() == old.lower()
                for e in ke.values()
                for _s, _e2, nm in scan_sql_identifiers(e)
            )
            if old not in cols and not in_where and not in_key_expr:
                continue
            renames = []
            for key, prefs in prefixes.items():
                lst = json.loads(row.get(key) or "[]")
                if old in lst and not (key == "keys" and old in ke):
                    row[key] = json.dumps(
                        [new if c == old else c for c in lst]
                    )
                    renames += [(f"{p}{old}", f"{p}{new}") for p in prefs]
            if in_key_expr:
                from .rollup import rewrite_sql_identifiers

                row["key_exprs"] = json.dumps({
                    a: rewrite_sql_identifiers(e, {old: new})
                    for a, e in ke.items()
                })
            if row.get("time_col") == old:
                row["time_col"] = new  # bucket expr re-derives from meta
            if row.get("where_sql"):
                from .rollup import rewrite_sql_identifiers

                row["where_sql"] = rewrite_sql_identifiers(
                    row["where_sql"], {old: new}
                )
            if row.get("having_sql") and renames:
                # the HAVING references STORED/read-face names, which just
                # changed with the source rename: follow the stored pairs
                # plus the derived read-face names (avg_<c> rides sum_<c>,
                # approx_distinct_<c> rides hll_<c>)
                from .rollup import rewrite_sql_identifiers

                face_map = dict(renames)
                if (f"sum_{old}", f"sum_{new}") in renames:
                    face_map[f"avg_{old}"] = f"avg_{new}"
                if (f"hll_{old}", f"hll_{new}") in renames:
                    face_map[f"approx_distinct_{old}"] = (
                        f"approx_distinct_{new}"
                    )
                if (f"sumsq_{old}", f"sumsq_{new}") in renames:
                    face_map[f"var_{old}"] = f"var_{new}"
                    face_map[f"stddev_{old}"] = f"stddev_{new}"
                row["having_sql"] = rewrite_sql_identifiers(
                    row["having_sql"], face_map
                )
            st_mv = self._state(mv)
            sch = st_mv.schema
            for a, b in renames:
                sch = sch.rename_column(a, b)
            if renames:
                self._evolve(st_mv, sch, "tables_altered")
            _stamp_meta_tx(self, self.c, mv, row, int(row["last_version"]))

    def create_view(self, name, sql) -> None:
        self._view_ops.append((name, sql))

    def drop_view(self, name) -> None:
        self._view_ops.append((name, None))

    def _default_maker(self, f):
        """Per-statement thunk producing the insert-time default for one
        field. Clock expressions evaluate ONCE per statement (SQL-standard
        statement-constant CURRENT_TIMESTAMP, matching the DataFrame path's
        single F.expr) and volatile ones (uuid/rand) per ROW — all
        driver-side, so the inlined fast path never launches a Spark job.
        Unrecognized expressions fall back to one spark.sql eval per
        statement."""
        expr = default_expr(f)
        if expr is None:
            v = default_fill(f)
            return lambda: v
        key = expr.strip().upper().rstrip("()").strip()
        if key in ("CURRENT_TIMESTAMP", "NOW", "LOCALTIMESTAMP",
                   "CURRENT_DATE", "TODAY"):
            # evaluate in the SESSION timezone, matching the DataFrame
            # path's F.expr('CURRENT_TIMESTAMP') — naive UTC here would make
            # the stored value depend on which write path the row took
            try:
                from zoneinfo import ZoneInfo

                tz = ZoneInfo(
                    self.c.spark.conf.get("spark.sql.session.timeZone")
                )
            except Exception:
                tz = _dt.timezone.utc
            now = _dt.datetime.now(tz).replace(tzinfo=None)
            v = now.date() if key in ("CURRENT_DATE", "TODAY") else now
            return lambda: v
        if key in ("UUID",):
            return lambda: str(uuid.uuid4())
        if key in ("RAND", "RANDOM"):
            import random as _random

            return _random.random
        v = self.c.spark.sql(f"SELECT {expr} AS v").first()["v"]
        return lambda: v

    # -- DML -------------------------------------------------------------
    def _align(self, df: DataFrame, schema: TableSchema) -> DataFrame:
        extra = set(df.columns) - set(schema.names())
        if extra:
            raise LakeError(f"unknown columns {sorted(extra)}")
        cols = []
        for f in schema.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(f.type).alias(f.name))
            else:
                expr = default_expr(f)
                base = F.expr(expr) if expr else F.lit(default_fill(f))
                cols.append(base.cast(f.type).alias(f.name))
        return df.select(*cols)

    def _check_constraints(self, st: TableState, df: DataFrame) -> None:
        sch = st.schema
        nn = [f.name for f in sch.fields if not f.nullable]
        if nn:
            cond = reduce(lambda a, b: a | b, [F.col(c).isNull() for c in nn])
            if df.filter(cond).limit(1).count() > 0:
                raise ConstraintViolation(f"NOT NULL violated in {nn}")
        pk = list(sch.primary_key)
        if pk:
            if (
                df.groupBy(*pk).count().filter(F.col("count") > 1).limit(1)
                .count() > 0
            ):
                raise ConstraintViolation(f"duplicate primary key in batch {pk}")
            existing = self.c._build_df(st.files, st.inlined, st.schemas, sch)
            clash = (
                df.select(*pk)
                .join(existing.select(*pk), pk, "left_semi")
                .limit(1)
                .count()
            )
            if clash:
                raise ConstraintViolation(
                    f"primary key violation on {pk} in table {st.name!r}"
                )

    def _write_staged(self, st: TableState, df: DataFrame, cluster: bool = True) -> list:
        """Write df as staged parquet; return FileEntry list (stats from
        footers — at cluster scale these arrive from write-task metrics).

        Clustered tables range-repartition on their partition columns first:
        each output file then covers a narrow min/max interval, so stats
        pruning (read / UPDATE / DELETE candidate selection) skips whole
        files — the partition-pruning path at 100 TB. No explicit partition
        count: AQE coalesces small writes to few files, big writes spread.

        Range clustering runs the RangePartitioner's SAMPLING job over the
        input before the write — i.e. the input plan executes TWICE. For
        plain scans that second pass is a cheap re-read, but a plan with a
        Python-boundary node (the vector-index build: cogrouped
        assignment kernel) pays the whole kernel + Arrow transit again
        (r16 measured: the v01 index build ran its assignment kernel 2x).
        Those plans are materialized ONCE via a lazy localCheckpoint — the
        sampling job populates executor-local blocks as a side effect and
        the write shuffle re-reads blocks instead of recomputing; one
        local write+read of the output bytes replaces a full re-run of
        the upstream DAG. Kept conditional on a Python node so cheap
        JVM-only writes keep the zero-copy path."""
        pcols = st.schemas[st.schema_version].partition_by
        if cluster and pcols and all(c in df.columns for c in pcols):
            if _runs_python(df):
                df = df.localCheckpoint(eager=False)
            df = df.repartitionByRange(*[F.col(c) for c in pcols])
        stagedir = os.path.join(st.data_dir, f"stage-{uuid.uuid4().hex[:12]}")
        w = df.write.mode("overwrite")
        # Parquet-native BLOOM FILTERS on the point-lookup columns: primary
        # key (the MERGE/CDC key path — candidate files are chosen by
        # min/max stats, then the SCAN's pushed equality/IN filters consult
        # the bloom to skip whole row groups inside large files) and the
        # z-order columns (clustered for ranges; the bloom adds exact
        # membership for point probes). Row-group-level skipping inside a
        # file is the tier the catalog's file-level min/max pruning cannot
        # provide; at 128 MB files the bloom is bounded to <= 1 MiB per
        # column chunk (parquet-mr's cap, set explicitly), < 1% overhead.
        sch = st.schemas[st.schema_version]
        bloom_cols = [
            c
            for c in dict.fromkeys((*sch.primary_key, *sch.zorder_by))
            if c in df.columns
        ]
        if bloom_cols:
            w = w.option("parquet.bloom.filter.max.bytes", str(1 << 20))
            for c in bloom_cols:
                w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        w.parquet(stagedir)
        self._staged_dirs.append(stagedir)
        sch = st.schemas[st.schema_version]
        entries = []
        for p in sorted(_glob.glob(os.path.join(stagedir, "*.parquet"))):
            rows, nbytes, stats = collect_file_stats(p, sch)
            if rows == 0:
                continue
            entries.append(
                FileEntry(None, p, rows, nbytes, st.schema_version, stats, True)
            )
        return entries

    def insert(self, name: str, df: DataFrame) -> int:
        """D1/D2: append rows (VALUES or query result). Tiny batches inline
        into the catalog DB instead of creating a data file (M1,
        README.md:62; demos/04_small_file_optimization/demo.py:314-368).
        Returns the number of rows written (from the write's own file
        footers — callers must not re-execute the source to count)."""
        st = self._state(name)
        df = self._align(df, st.schema)
        self._check_constraints(st, df)
        entries = self._write_staged(st, df)
        total = sum(e.row_count for e in entries)
        if 0 < total <= self.c.inline_threshold:
            import pyarrow.parquet as pq

            for e in entries:
                for rowdict in pq.read_table(e.path).to_pylist():
                    st.inlined.append(
                        InlinedEntry(
                            None,
                            st.schema_version,
                            row_to_json(rowdict, st.schema),
                            True,
                        )
                    )
            d = self._staged_dirs.pop()
            shutil.rmtree(d, ignore_errors=True)
        else:
            st.files.extend(entries)
        st.changes.add("tables_inserted_into")
        st.coarse_write = True
        return total

    def insert_rows(self, name: str, rows: list) -> None:
        """INSERT ... VALUES convenience: list of dicts/tuples. Coerces plain
        Python literals to the declared types (float -> Decimal rounded
        HALF_UP to the column's scale etc.), like a SQL VALUES clause
        would.

        Tiny batches on PK-less tables take the pure-driver fast path: rows
        go straight into the inlined-rows buffer with Python-side NOT NULL
        checks — no Spark job, no parquet file. With the single-SQL-txn
        commit a one-row call costs about 0.6 ms median on a 4-core
        host, commit included: the reference's 'sub-millisecond writes
        with inlining' (README.md:243; M1). The same write as SQL,
        ``INSERT ... VALUES`` through ``LakeCatalog.sql``, also pays
        Spark's parse and collect of the literal: 25-29 ms median (48-60
        ms while its casts were one Column each and its status frame a
        Python RDD). PK tables still need the distributed duplicate check,
        so they use the DataFrame path."""
        st = self._state(name)
        fields = st.schema.fields
        # (precision, scale) of each DECIMAL column, with Spark's defaults,
        # parsed here: the fast path must not need a JVM
        decimals = {}
        for f in fields:
            m = re.fullmatch(
                r"(?:decimal|dec|numeric)(?:\((\d+)(?:,(\d+))?\))?",
                f.type.replace(" ", "").lower(),
            )
            if m:
                decimals[f.name] = (int(m[1] or 10), int(m[2] or 0))

        def coerce(v, f):
            if v is None:
                return None
            if f.name in decimals:
                # round to the scale here, as Spark would, so an inlined
                # row stores the value every later read returns
                try:
                    return fit_decimal(v, *decimals[f.name])
                except ValueError as e:
                    raise LakeError(f"column {f.name!r}: {e}") from None
            return v

        if rows and isinstance(rows[0], dict):
            # absent key -> declared DEFAULT; present-but-None -> NULL;
            # unknown key -> error (mirrors _align on the DataFrame path —
            # silently storing the DEFAULT on a typo'd column is data loss)
            known = {f.name for f in fields}
            for r in rows:
                unknown = set(r) - known
                if unknown:
                    raise LakeError(
                        f"unknown column(s) {sorted(unknown)} for table "
                        f"{name!r}; have {sorted(known)}"
                    )
            makers = {f.name: self._default_maker(f) for f in fields}
            data = [
                tuple(
                    coerce(
                        r[f.name] if f.name in r else makers[f.name](),
                        f,
                    )
                    for f in fields
                )
                for r in rows
            ]
        else:
            for r in rows:
                # check BEFORE zip: zip silently truncates too-wide rows
                if len(r) != len(fields):
                    raise LakeError(
                        f"row width {len(r)} != {len(fields)} columns"
                    )
            data = [
                tuple(coerce(v, f) for v, f in zip(r, fields)) for r in rows
            ]
        for tup in data:
            for v, f in zip(tup, fields):
                if v is None and not f.nullable:
                    raise ConstraintViolation(
                        f"NOT NULL violated for {f.name!r}"
                    )
        if 0 < len(data) <= self.c.inline_threshold and not st.schema.primary_key:
            for tup in data:
                st.inlined.append(
                    InlinedEntry(
                        None,
                        st.schema_version,
                        row_to_json(
                            {f.name: v for f, v in zip(fields, tup)},
                            st.schema,
                        ),
                        True,
                    )
                )
            st.changes.add("tables_inserted_into")
            st.coarse_write = True
            return
        self.insert(name, local_df(self.c.spark, data, st.schema.to_struct()))

    def _rewrite(
        self,
        st: TableState,
        where: Optional[str],
        transform,
        deleting: bool = False,
    ) -> int:
        """Copy-on-write core for UPDATE/DELETE: pick candidate files by
        min/max stats pruning, include live inlined rows, rewrite candidates
        with ``transform(df, pred)``, swap in metadata. Non-matching files are
        untouched — the 100 TB point-mutation path."""
        conjuncts = parse_conjuncts(where) if where else []
        sch = st.schema
        candidates = [
            fe
            for fe in st.files
            if where is None
            or file_may_match(fe.col_stats, conjuncts, sch)
        ]
        touched_inlined = list(st.inlined)
        if not candidates and not touched_inlined:
            return 0
        src = self.c._build_df(candidates, touched_inlined, st.schemas, sch)
        pred = F.expr(where) if where else F.lit(True)
        # The matched count piggybacks on the rewrite pass — candidates are
        # read ONCE, not twice (a separate count() is a full second scan of
        # every candidate file at 100 TB). Trade-off: when stats pruning
        # admits candidate files that turn out to contain NO matching row,
        # this writes (then discards) a copy of those files where the old
        # pre-count returned after a read; matched DML saves a full read.
        # True no-ops with non-overlapping stats still return above without
        # touching data.
        # * deleting=True: matched = rows-before (pure metadata: file
        #   row_counts + inlined) minus rows actually written.
        # * update, unclustered: an Observation on the write job.
        # * update, clustered: repartitionByRange's sampling pass would
        #   double-fire the observed metrics (verified), so only this path
        #   keeps the separate pre-count.
        clustered = bool(st.schemas[st.schema_version].partition_by)
        obs = None
        if deleting:
            out = transform(src, pred)
        elif clustered:
            matched = src.filter(pred).count()
            if matched == 0:
                return 0
            out = transform(src, pred)
        else:
            from pyspark.sql import Observation

            obs = Observation()
            out = transform(
                src.observe(
                    obs, F.sum(F.when(pred, 1).otherwise(0)).alias("matched")
                ),
                pred,
            )
        staged = self._write_staged(st, out)
        if deleting:
            before = sum(fe.row_count for fe in candidates) + len(touched_inlined)
            matched = before - sum(e.row_count for e in staged)
        elif obs is not None:
            matched = int(obs.get["matched"] or 0)
        if matched == 0:
            # nothing actually matched (stats pruning false positives):
            # discard the identical rewrite, keep the original files live
            d = self._staged_dirs.pop()
            shutil.rmtree(d, ignore_errors=True)
            return 0
        # swap: remove candidates + all inlined, add rewritten files
        for fe in candidates:
            if fe.staged:
                st.files.remove(fe)  # staged-in-this-txn file simply dropped
            else:
                st.files.remove(fe)
                st.removed_file_ids.append(fe.file_id)
        for ie in touched_inlined:
            st.inlined.remove(ie)
            if not ie.staged:
                st.removed_inlined_ids.append(ie.row_id)
        st.files.extend(staged)
        return matched

    def update(self, name: str, set_exprs: dict, where: Optional[str] = None) -> int:
        """D3: UPDATE ... SET ... [WHERE] as a distributed copy-on-write
        rewrite (demos/01_transaction_rollback/demo.py:96-102). ``set_exprs``
        maps column -> SQL expression (may reference any column; CASE WHEN
        works, demos/03_schema_evolution/demo.py:146-156)."""
        st = self._state(name)
        for c in set_exprs:
            st.schema.field_by_name(c)  # KeyError -> unknown column

        def xform(df: DataFrame, pred):
            return df.withColumns(
                {
                    c: F.when(pred, F.expr(e).cast(st.schema.field_by_name(c).type))
                    .otherwise(F.col(c))
                    for c, e in set_exprs.items()
                }
            )

        n = self._rewrite(st, where, xform)
        st.changes.add("tables_updated")
        self._record_row_read(st, where)
        return n

    def delete(self, name: str, where: Optional[str] = None) -> int:
        """D4: DELETE FROM [WHERE]. Full-table delete is metadata-only (mark
        every live file removed — no rewrite, demos/02_time_travel/demo.py:112);
        predicate delete rewrites only stats-matching files."""
        st = self._state(name)
        if where is None:
            n = sum(fe.row_count for fe in st.files) + len(st.inlined)
            for fe in st.files:
                if not fe.staged:
                    st.removed_file_ids.append(fe.file_id)
            st.files.clear()
            for ie in st.inlined:
                if not ie.staged:
                    st.removed_inlined_ids.append(ie.row_id)
            st.inlined.clear()
        else:
            n = self._rewrite(
                st,
                where,
                lambda df, pred: df.filter(~pred | pred.isNull()),
                deleting=True,
            )
        st.changes.add("tables_deleted_from")
        self._record_row_read(st, where)
        return n

    def _record_row_read(self, st: TableState, where: Optional[str]) -> None:
        """Record a predicate UPDATE/DELETE's read region for fine-grained
        commit-time conflict resolution (the MERGE read-range mechanism):
        the statement read exactly the rows matching ``where`` plus the
        full content of the candidate files it rewrote — and every
        rewritten candidate matches the WHERE conjuncts by construction
        (_rewrite selects candidates with the same file_may_match), so
        the conjunct region covers both. A concurrent snapshot commutes
        iff none of its added/removed files may hold rows in this region.
        ``where=None`` (whole-table) and unparseable predicates stay
        sound: None conjuncts make file_may_match return True for every
        file, degrading to table-level first-committer-wins."""
        if where is None:
            st.coarse_write = True
        else:
            st.read_ranges.append({"conjuncts": parse_conjuncts(where)})

    def merge(
        self,
        name: str,
        source: DataFrame,
        on: list,
        when_matched: str = "update",
        when_not_matched: str = "insert",
        update_sets: Optional[dict] = None,
        insert_sets: Optional[dict] = None,
        matched_clauses: Optional[list] = None,
        not_matched_clauses: Optional[list] = None,
        not_matched_by_source_clauses: Optional[list] = None,
        sequence_col: Optional[str] = None,
        auto_merge_schema: bool = False,
    ) -> dict:
        """MERGE/upsert (Delta-style CDC apply; beyond the reference surface,
        which reaches the same state via UPDATE+INSERT pairs, e.g.
        demos/01_transaction_rollback/demo.py:96-102 + :58-66).

        ``when_matched``: "update" replaces the matched target row with the
        source row, "delete" removes it, "skip" keeps it. ``when_not_matched``:
        "insert" appends unmatched source rows, "skip" drops them.

        ``update_sets`` (partial updates — real CDC feeds carry deltas, not
        whole rows): {target_column: SQL expression}; matched rows keep
        every column NOT in the dict. ``insert_sets``: per-column
        expressions for the insert branch; columns NOT in the dict take
        their DEFAULT (standard ``INSERT (cols) VALUES`` semantics — pass
        ``None``/``{}`` for the star form, which fills every column from
        the same-named source column then the default).
        Expressions reference TARGET columns by their plain
        names and SOURCE columns as ``__s_<col>`` (``lake.sql('MERGE …')``
        rewrites ``alias.col`` qualifiers to this contract). With either
        dict the source is NOT aligned to the target schema — it only needs
        the ``on`` key columns plus whatever the expressions use, so a
        narrow partial-update feed never fabricates the untouched columns.
        Merge key columns cannot be assigned.

        ``matched_clauses`` / ``not_matched_clauses`` (conditional
        multi-clause CDC, first-match-wins — the Delta/standard-SQL
        ``WHEN MATCHED AND <cond> THEN ...`` shape): ordered lists of
        ``{"cond": <sql or None>, "action": "update"|"delete",
        "sets": {...}}`` (matched) / ``{"cond": ..., "sets": {...}}``
        (not-matched; ``{}`` = same-named source columns then defaults).
        A matched row takes the FIRST clause whose condition holds
        (condition expressions use the same target-plain / ``__s_<col>``
        contract); a row matching no clause keeps its current values.
        Only the LAST clause in each list may omit its condition.
        Mutually exclusive with the flat when_matched/update_sets form.
        ``matched`` in the result stays the raw matched-target-row count
        (clause conditions don't change which files rewrite);
        ``inserted`` is the count of rows actually appended.

        ``not_matched_by_source_clauses`` (the standard tri-clause MERGE's
        third leg — WHEN NOT MATCHED BY SOURCE — the full-sync/mirror CDC
        pattern the reference composes from DELETE + versioned re-INSERT,
        demos/02_time_travel/demo.py:112,228-235): ordered clauses
        ``{"cond": <sql or None>, "action": "update"|"delete",
        "sets": {...}}`` applied, first-match-wins, to TARGET rows whose
        key matches NO source row. No source row exists for them, so
        conditions and sets reference target columns only (``__s_<col>``
        is rejected) and update clauses require an explicit sets dict.
        Passing any by-source clause selects the clausal form (only
        explicitly passed clause lists act — standard MERGE semantics).
        The result carries ``acted_by_source``: the count of target rows
        a by-source clause fired on.

        ``sequence_col`` (out-of-order CDC feeds, Debezium-style): before
        clause routing, the source keeps only the LATEST row per key by
        this column (rank() — NULL sequence sorts last). Rows tied on
        (key, sequence) all survive the rank and then fail the existing
        duplicate-merge-key check, so an ambiguous feed is a clean
        ConstraintViolation, never a nondeterministic winner.

        ``auto_merge_schema`` (opt-in, Delta autoMerge-style): a source
        carrying columns the target lacks ADDs them (nullable, no
        default; rows untouched by the merge read NULL) and a shared
        column whose source type is strictly WIDER upgrades the target
        via the exact-representability rules (schema.can_widen) — all in
        THIS transaction, one snapshot with the data change. The
        sequence column is transport metadata and is never auto-added.
        Off by default: an unexpected feed column is a schema error, not
        a silent DDL.

        Scale path: the source's per-key min/max bounds prune the candidate
        file list exactly like UPDATE/DELETE (stats.py), then a key-column
        semi-join tagged with input_file_name() shrinks the rewrite to the
        files that actually CONTAIN a matched key — so merging into a table
        clustered on a different column than the merge key (where min/max
        ranges prune nothing) still rewrites only the truly hit files. One
        shuffle join over hit candidates + source; untouched files never
        rewritten."""
        if when_matched not in ("update", "delete", "skip"):
            raise LakeError(f"bad when_matched {when_matched!r}")
        if when_not_matched not in ("insert", "skip"):
            raise LakeError(f"bad when_not_matched {when_not_matched!r}")
        if update_sets is not None and when_matched != "update":
            raise LakeError("update_sets requires when_matched='update'")
        if insert_sets is not None and when_not_matched != "insert":
            raise LakeError("insert_sets requires when_not_matched='insert'")
        clausal = (
            matched_clauses is not None
            or not_matched_clauses is not None
            or not_matched_by_source_clauses is not None
        )
        if clausal and (
            update_sets is not None
            or insert_sets is not None
            or when_matched != "update"
            or when_not_matched != "insert"
        ):
            # the flat flags are IGNORED by the clausal branch — silently
            # accepting a non-default one would drop the caller's action
            raise LakeError(
                "pass matched_clauses/not_matched_clauses OR the flat "
                "when_matched/update_sets form, not both"
            )
        if not on:
            raise LakeError("merge requires at least one key column")
        if sequence_col is not None:
            # schema-free presence checks, BEFORE any staged DDL below
            if sequence_col not in source.columns:
                raise LakeError(
                    f"merge source lacks sequence column {sequence_col!r}"
                )
            missing = [k for k in on if k not in source.columns]
            if missing:
                raise LakeError(
                    f"merge source lacks key column(s) {missing}"
                )
        if clausal:
            mc = [dict(cl) for cl in (matched_clauses or [])]
            nmc = [dict(cl) for cl in (not_matched_clauses or [])]
            bsc = [dict(cl) for cl in (not_matched_by_source_clauses or [])]
            for cl in mc + nmc + bsc:
                # '' and None both mean "no condition" — normalize so the
                # ordering check below and _clause_chain can never disagree
                # (a falsy cond compiles to lit(True))
                cl["cond"] = cl.get("cond") or None
            for i, cl in enumerate(mc):
                if cl.get("action") not in ("update", "delete"):
                    raise LakeError(
                        f"matched clause action must be update/delete: {cl}"
                    )
                if cl["action"] == "update" and not isinstance(
                    cl.get("sets"), dict
                ):
                    raise LakeError("update clause needs a 'sets' dict")
                if cl["cond"] is None and i != len(mc) - 1:
                    raise LakeError(
                        "only the last WHEN MATCHED clause may omit its "
                        "AND <condition>"
                    )
            for i, cl in enumerate(nmc):
                if not isinstance(cl.get("sets"), dict):
                    raise LakeError(
                        "not-matched clause needs a 'sets' dict ({} = "
                        "same-named source columns)"
                    )
                if cl["cond"] is None and i != len(nmc) - 1:
                    raise LakeError(
                        "only the last WHEN NOT MATCHED clause may omit "
                        "its AND <condition>"
                    )
            for i, cl in enumerate(bsc):
                if cl.get("action") not in ("update", "delete"):
                    raise LakeError(
                        f"by-source clause action must be update/delete: {cl}"
                    )
                if cl["action"] == "update" and not isinstance(
                    cl.get("sets"), dict
                ):
                    raise LakeError(
                        "by-source update clause needs a 'sets' dict (no "
                        "source row exists to replace from)"
                    )
                if cl["cond"] is None and i != len(bsc) - 1:
                    raise LakeError(
                        "only the last WHEN NOT MATCHED BY SOURCE clause "
                        "may omit its AND <condition>"
                    )
                for txt in [cl["cond"] or ""] + [
                    str(v) for v in (cl.get("sets") or {}).values()
                ]:
                    # literal-stripped: a '__s_' inside a STRING LITERAL
                    # is data, not a source-column reference
                    from .rollup import strip_sql_literals

                    if "__s_" in strip_sql_literals(txt):
                        raise LakeError(
                            "by-source clause expressions see only the "
                            "target row — no source columns are in scope"
                        )
        else:
            # normalize the flat form onto the clause machinery so ONE
            # assembly path exists for every custom merge; sets=None on an
            # update clause means full-row replace (same-named source cols)
            mc = (
                [{"cond": None, "action": "update", "sets": update_sets}]
                if when_matched == "update"
                else [{"cond": None, "action": "delete"}]
                if when_matched == "delete"
                else []
            )
            nmc = (
                [{"cond": None, "sets": insert_sets}]
                if when_not_matched == "insert"
                else []
            )
            bsc = []
        st = self._state(name)
        sch = st.schema
        if auto_merge_schema:
            # Staged DDL starts HERE — everything parseable was validated
            # above, so a statement that fails its parse-level checks never
            # leaves schema evolution behind in an explicit transaction.
            # (Failures past this point — e.g. the duplicate-merge-key
            # check, which needs a Spark job — are restored by the SQL
            # face's statement-level snapshot; Python-API callers get the
            # transaction context manager's full rollback.)
            from .schema import can_widen

            # case-INSENSITIVE detection (the lake's column model is
            # case-sensitive, but creating a case-duplicate of an existing
            # column would make every later reference ambiguous): a source
            # column differing only in case widens the canonical target
            # column, never adds a twin
            tnames = {f.name.lower(): f.name for f in sch.fields}
            evolved = False
            for sf in source.schema.fields:
                stype = sf.dataType.simpleString()
                low = sf.name.lower()
                if sf.name == sequence_col and low not in tnames:
                    continue  # transport metadata, never auto-added
                if low not in tnames:
                    self.add_column(name, sf.name, stype)
                    evolved = True
                    continue
                canonical = tnames[low]
                ttype = sch.field_by_name(canonical).type
                if ttype.lower() != stype.lower() and can_widen(
                    ttype, stype
                ):
                    self.alter_column_type(name, canonical, stype)
                    evolved = True
            if evolved:
                st = self._state(name)
                sch = st.schema
        for k in on:
            sch.field_by_name(k)
        if sequence_col is not None:
            from pyspark.sql.window import Window

            # latest-wins per key; rank (not row_number) keeps exact
            # (key, sequence) ties so the duplicate-key check below turns
            # an ambiguous feed into a clean error. Keys arriving in a
            # FOREIGN type partition CAST to the target type — matching
            # and the duplicate check both compare cast keys, so source
            # keys that only coincide after the cast ('01' and '1'
            # against an int key) must dedup as ONE key here, not two.
            src_types = dict(source.dtypes)
            cast_keys = [
                k for k in on
                if src_types.get(k, "").lower()
                != sch.field_by_name(k).type.lower()
            ]
            if cast_keys:
                # ...but a non-NULL key value that does not CONVERT would
                # either throw an opaque ANSI cast error mid-job or (under
                # try_cast semantics) silently collapse DISTINCT business
                # keys into one NULL partition and drop all but the
                # latest — feed corruption is a loud, clean error, never
                # silent row loss (one bounded take(1) probe with
                # try_cast, only on foreign-typed key feeds)
                corrupt = source.filter(
                    reduce(
                        lambda a, b: a | b,
                        [
                            F.col(k).isNotNull()
                            & F.col(k)
                            .try_cast(sch.field_by_name(k).type)
                            .isNull()
                            for k in cast_keys
                        ],
                    )
                ).take(1)
                if corrupt:
                    raise ConstraintViolation(
                        f"merge key(s) {cast_keys} contain values that "
                        "cast to NULL under the target key type; cannot "
                        "sequence-dedup a corrupted key feed"
                    )
            w = Window.partitionBy(
                *[
                    F.col(k).cast(sch.field_by_name(k).type)
                    if k in cast_keys
                    else F.col(k)
                    for k in on
                ]
            ).orderBy(F.col(sequence_col).desc_nulls_last())
            source = (
                source.withColumn("__seq_rk", F.rank().over(w))
                .filter(F.col("__seq_rk") == 1)
                .drop("__seq_rk")
            )
            if sequence_col not in {f.name for f in sch.fields} and not (
                clausal
                or update_sets is not None
                or insert_sets is not None
            ):
                # the flat form aligns the source to the target schema —
                # a non-target sequence column has done its job (custom
                # forms keep it: expressions may reference __s_<seq>)
                source = source.drop(sequence_col)
        custom = clausal or update_sets is not None or insert_sets is not None
        nmc_conditional = any(cl.get("cond") for cl in nmc)
        if custom:
            all_sets = [cl.get("sets") or {} for cl in mc + nmc + bsc]
            for sets in all_sets:
                for c in sets:
                    sch.field_by_name(c)
            bad_keys = set().union(
                *[set(cl.get("sets") or {}) for cl in mc + bsc]
            ) & set(on)
            if bad_keys:
                raise LakeError(
                    f"cannot assign merge key column(s) {sorted(bad_keys)}"
                )
            missing = [k for k in on if k not in source.columns]
            if missing:
                raise LakeError(
                    f"merge source lacks key column(s) {missing}"
                )
            # keys still CAST to the target type (a string-typed id feed
            # must match an int key column the way _align would make it)
            key_types = {k: sch.field_by_name(k).type for k in on}
            src = source.select(
                *[
                    F.col(c).cast(key_types[c]).alias(c) if c in key_types
                    else F.col(c)
                    for c in source.columns
                ]
            ).persist()
        elif when_matched == "delete" and when_not_matched == "skip":
            # pure delete: only the keys matter — a takedown/CDC-delete
            # feed with extra payload columns must not be forced through
            # full-schema alignment (and the keys-only projection prunes
            # the source scan to the key columns)
            missing = [k for k in on if k not in source.columns]
            if missing:
                raise LakeError(
                    f"merge source lacks key column(s) {missing}"
                )
            src = source.select(
                *[
                    F.col(k).cast(sch.field_by_name(k).type).alias(k)
                    for k in on
                ]
            ).persist()
        else:
            src = self._align(source, sch).persist()
        persisted = [src]  # every persist in this merge unpersists in finally
        try:
            bounds = src.agg(
                *[F.min(k).alias(f"mn_{k}") for k in on],
                *[F.max(k).alias(f"mx_{k}") for k in on],
            ).first()
            conjuncts = []
            for k in on:
                mn, mx = bounds[f"mn_{k}"], bounds[f"mx_{k}"]
                if mn is not None and mx is not None:
                    conjuncts.extend([(k, ">=", mn), (k, "<=", mx)])
            candidates = [
                fe
                for fe in st.files
                if not conjuncts
                or file_may_match(fe.col_stats, conjuncts, sch)
            ]
            touched_inlined = list(st.inlined)
            # fine-grained conflict metadata: this merge READ exactly the
            # key-range region described by conjuncts (plus all inlined
            # rows — commit conflicts on any concurrent inlined change).
            # A WHEN NOT MATCHED BY SOURCE leg reads the whole table (the
            # complement of the source keys), so it poisons the fine path.
            if bsc:
                st.coarse_write = True
            else:
                st.read_ranges.append({"conjuncts": list(conjuncts)})
            target = self.c._build_df(candidates, touched_inlined, st.schemas, sch)
            # One action answers dup-key check + matched + unmatched: src keys
            # left-join per-key target counts, then a global aggregate.
            # `matched` counts TARGET rows hit (PK-less targets may hold
            # duplicate keys); `inserted` is the anti-join count, NOT
            # src.count()-matched, which goes negative on duplicate targets.
            stats = (
                src.groupBy(*on).agg(F.count(F.lit(1)).alias("_sc"))
                .join(
                    target.groupBy(*on).agg(F.count(F.lit(1)).alias("_tc")),
                    on, "left",
                )
                .agg(
                    F.max("_sc").alias("_dup"),
                    F.sum("_tc").alias("_matched"),
                    F.count(F.when(F.col("_tc").isNull(), 1)).alias("_unmatched"),
                )
                .first()
            )
            if (stats["_dup"] or 0) > 1:
                raise ConstraintViolation(
                    f"duplicate merge keys {list(on)} in source"
                )
            matched = int(stats["_matched"] or 0)
            # nmc is the normalized not-matched clause list for BOTH forms
            # (the flat form maps when_not_matched onto it), so it — not
            # the flat flag, which clausal callers never set — decides
            # whether unmatched source rows can insert
            inserted = int(stats["_unmatched"] or 0) if nmc else 0
            # Custom-expression scaffolding: source columns ride the join
            # under reserved __s_<col> names so expressions can reference
            # both rows without ambiguous-attribute resolution (the merge
            # keys join by explicit target-col == __s_col equality).
            srcR = src.select(
                *[F.col(c).alias(f"__s_{c}") for c in src.columns]
            )
            jcond = reduce(
                lambda a, b: a & b,
                [F.col(k) == F.col(f"__s_{k}") for k in on],
            )
            # WHEN NOT MATCHED BY SOURCE scans the WHOLE table (its rows
            # are the complement of the source keys — range pruning cannot
            # bound them), tagged by file, anti-joined on the keys, and
            # filtered by the clause chain: only files actually HOLDING a
            # firing row rewrite (a mirror-sync of an already-synced
            # table rewrites nothing)
            bs_files, bs_inlined, bs_acted = [], [], 0
            if bsc:
                bs_files, bs_inlined, bs_acted = self._miss_subset(
                    st, sch, src, on, bsc
                )
            bs_fire = bs_acted > 0

            _clause_chain = _clause_chain_expr

            def _ins_frame(tgt):
                """Unmatched source rows -> target-schema rows through the
                not-matched clause list: the first clause whose condition
                holds supplies the row. A star-form clause (``sets`` empty
                or None) fills every field from the same-named source
                column, then the column default (exactly _align's fill);
                a clause with an EXPLICIT sets dict fills unlisted fields
                with the column DEFAULT only — standard SQL/Delta
                ``INSERT (cols) VALUES`` semantics (unlisted columns never
                silently inherit same-named source values). Rows matching
                no clause are dropped."""
                ib = (
                    srcR.join(tgt, jcond, "left_anti")
                    .withColumn("__clause", _clause_chain(nmc))
                    .filter(F.col("__clause") > 0)
                )
                cols = []
                for f in sch.fields:
                    expr = default_expr(f)
                    dflt = (
                        F.expr(expr) if expr else F.lit(default_fill(f))
                    )
                    samenamed = (
                        F.col(f"__s_{f.name}")
                        if f"__s_{f.name}" in srcR.columns
                        else dflt
                    )
                    chain = None
                    for i, cl in enumerate(nmc, 1):
                        sets = cl.get("sets") or {}
                        if f.name in sets:
                            v = F.expr(sets[f.name])
                        elif sets:
                            v = dflt  # explicit column list: default fill
                        else:
                            v = samenamed  # star form
                        chain = (
                            F.when(F.col("__clause") == i, v)
                            if chain is None
                            else chain.when(F.col("__clause") == i, v)
                        )
                    col = chain.otherwise(dflt) if chain is not None else dflt
                    cols.append(col.cast(f.type).alias(f.name))
                return ib.select(*cols)

            if (
                (custom and not mc) or (not custom and when_matched == "skip")
            ) and not bs_fire:
                # target rows untouched: no COW rewrite — append unmatched
                # source rows as new files and leave every candidate in place.
                if inserted == 0:
                    res = {"matched": matched, "inserted": 0}
                    if clausal:
                        res["acted"] = 0
                        res["acted_by_source"] = 0
                    return res
                if custom:
                    new_rows = _ins_frame(target)
                    if nmc_conditional:
                        new_rows = new_rows.persist()
                        persisted.append(new_rows)
                        inserted = new_rows.count()
                        if inserted == 0:
                            res = {"matched": matched, "inserted": 0}
                            if clausal:
                                res["acted"] = 0
                                res["acted_by_source"] = 0
                            return res
                else:
                    new_rows = src.join(target, on, "left_anti")
                st.files.extend(self._write_staged(st, new_rows))
                st.changes.add("tables_inserted_into")
                res = {"matched": matched, "inserted": inserted}
                if clausal:
                    res["acted"] = 0
                    res["acted_by_source"] = 0
                return res
            effective = matched
            if effective == 0 and inserted == 0 and not bs_fire:
                res = {"matched": matched, "inserted": 0}
                if clausal:
                    res["acted"] = 0
                    res["acted_by_source"] = 0
                return res

            # Shrink the copy-on-write set to files that actually CONTAIN a
            # matched key. Range-based candidate pruning keeps every file
            # whose key min/max spans the source bounds — on a table
            # clustered on a DIFFERENT column than the merge key (e.g. the
            # vector index, clustered on centroid_id, merged on vec_id)
            # that is ~every file, and rewriting a no-hit file just copies
            # it. One extra key-column-pruned scan (semi-join tagged with
            # input_file_name) is cheap next to rewriting the table; files
            # and inlined rows without a hit stay EXACTLY in place. Also
            # covers matched == 0 inserts: nothing rewrites, the new rows
            # append.
            candidates, touched_inlined = self._hit_subset(
                st, sch, candidates, touched_inlined, src, on, matched
            )
            if bs_fire:
                # union the by-source hit set into the rewrite set (a file
                # can hold both matched and by-source-firing rows; both
                # subsets filter st.files / st.inlined, so object identity
                # dedupes)
                have = {id(fe) for fe in candidates}
                candidates = candidates + [
                    fe for fe in bs_files if id(fe) not in have
                ]
                have_i = {id(ie) for ie in touched_inlined}
                touched_inlined = touched_inlined + [
                    ie for ie in bs_inlined if id(ie) not in have_i
                ]
            target = self.c._build_df(
                candidates, touched_inlined, st.schemas, sch
            )
            ins_df = None
            # matched rows a clause actually fires on: zero when NO matched
            # clause exists (a by-source-only merge must not count — or
            # byte-identically rewrite — matched rows it never touches)
            acted = matched if mc else 0
            if custom:
                # matched rows route through the first-match clause index:
                # update clauses override assigned columns, delete clauses
                # drop the row, index 0 (no clause held) keeps it verbatim
                joined = target.join(srcR, jcond, "inner").withColumn(
                    "__clause", _clause_chain(mc)
                )
                mc_conditional = any(cl.get("cond") for cl in mc)
                if mc_conditional and matched:
                    joined = joined.persist()
                    persisted.append(joined)
                    acted = joined.filter(F.col("__clause") > 0).count()
                if nmc:
                    ins_df = _ins_frame(target)
                    if nmc_conditional:
                        # conditions shrink the insert set below the raw
                        # unmatched count: report what actually lands
                        ins_df = ins_df.persist()
                        persisted.append(ins_df)
                        inserted = ins_df.count()
                if acted == 0 and not bs_fire:
                    # no matched clause fired (or nothing matched): the
                    # matched side is a no-op — never rewrite hit files
                    # byte-identical; unmatched inserts append as new files
                    if inserted:
                        st.files.extend(self._write_staged(st, ins_df))
                        st.changes.add("tables_inserted_into")
                    res = {"matched": matched, "inserted": inserted}
                    if clausal:
                        res["acted"] = 0
                        res["acted_by_source"] = 0
                    return res
                keep_matched_verbatim = acted == 0  # bs_fire holds here
                if keep_matched_verbatim:
                    # matched side is a no-op: shrink the rewrite to the
                    # by-source hit files only (ins_df above was built
                    # against the matched-superset target, so the insert
                    # set stays correct; matched rows living in by-source
                    # files carry through verbatim below)
                    candidates = list(bs_files)
                    touched_inlined = list(bs_inlined)
                    target = self.c._build_df(
                        candidates, touched_inlined, st.schemas, sch
                    )
                anti = target.join(srcR, jcond, "left_anti")
                if bs_fire:
                    # route unmatched target rows through the by-source
                    # clause chain: delete clauses drop the row, update
                    # clauses override assigned columns, index 0 keeps it
                    anti = anti.withColumn("__bs", _clause_chain(bsc))
                    bs_del = [
                        i for i, cl in enumerate(bsc, 1)
                        if cl["action"] == "delete"
                    ]
                    if bs_del:
                        anti = anti.filter(~F.col("__bs").isin(bs_del))
                    bs_cols = []
                    for f in sch.fields:
                        col = F.col(f.name)
                        for i, cl in enumerate(bsc, 1):
                            if cl["action"] != "update":
                                continue
                            if f.name in cl["sets"]:
                                col = F.when(
                                    F.col("__bs") == i,
                                    F.expr(cl["sets"][f.name]).cast(f.type),
                                ).otherwise(col)
                        bs_cols.append(col.cast(f.type).alias(f.name))
                    anti = anti.select(*bs_cols)
                if keep_matched_verbatim:
                    parts = [anti, target.join(srcR, jcond, "left_semi")]
                    if ins_df is not None:
                        parts.append(ins_df)
                    out = reduce(DataFrame.unionByName, parts)
                    for fe in candidates:
                        st.files.remove(fe)
                        if not fe.staged:
                            st.removed_file_ids.append(fe.file_id)
                    for ie in touched_inlined:
                        st.inlined.remove(ie)
                        if not ie.staged:
                            st.removed_inlined_ids.append(ie.row_id)
                    st.files.extend(self._write_staged(st, out))
                    if any(cl["action"] == "update" for cl in bsc):
                        st.changes.add("tables_updated")
                    if any(cl["action"] == "delete" for cl in bsc):
                        st.changes.add("tables_deleted_from")
                    if inserted:
                        st.changes.add("tables_inserted_into")
                    return {
                        "matched": matched,
                        "inserted": inserted,
                        "acted": 0,
                        "acted_by_source": bs_acted,
                    }
                parts = [anti]
                m = joined
                delete_idx = [
                    i for i, cl in enumerate(mc, 1)
                    if cl["action"] == "delete"
                ]
                if delete_idx:
                    m = m.filter(~F.col("__clause").isin(delete_idx))
                upd_cols = []
                for f in sch.fields:
                    col = F.col(f.name)
                    for i, cl in enumerate(mc, 1):
                        if cl["action"] != "update":
                            continue
                        sets = cl["sets"]
                        if sets is None:
                            # full-row replace: same-named source columns
                            if (
                                f"__s_{f.name}" in srcR.columns
                                and f.name not in on
                            ):
                                rep = F.col(f"__s_{f.name}")
                            else:
                                continue
                        elif f.name in sets:
                            rep = F.expr(sets[f.name])
                        else:
                            continue
                        col = F.when(
                            F.col("__clause") == i, rep.cast(f.type)
                        ).otherwise(col)
                    upd_cols.append(col.cast(f.type).alias(f.name))
                parts.append(m.select(*upd_cols))
                if ins_df is not None:
                    parts.append(ins_df)
            else:
                keep = target.join(src, on, "left_anti")
                parts = [keep]
                if when_matched == "update" and when_not_matched == "insert":
                    parts.append(src)  # all source rows land
                elif when_matched == "update":
                    parts.append(src.join(target, on, "left_semi"))
                elif when_not_matched == "insert":
                    parts.append(src.join(target, on, "left_anti"))
            out = reduce(DataFrame.unionByName, parts)

            for fe in candidates:
                st.files.remove(fe)
                if not fe.staged:
                    st.removed_file_ids.append(fe.file_id)
            for ie in touched_inlined:
                st.inlined.remove(ie)
                if not ie.staged:
                    st.removed_inlined_ids.append(ie.row_id)
            st.files.extend(self._write_staged(st, out))
            if custom:
                if acted:
                    if any(cl["action"] == "update" for cl in mc):
                        st.changes.add("tables_updated")
                    if any(cl["action"] == "delete" for cl in mc):
                        st.changes.add("tables_deleted_from")
                if bs_acted:
                    if any(cl["action"] == "update" for cl in bsc):
                        st.changes.add("tables_updated")
                    if any(cl["action"] == "delete" for cl in bsc):
                        st.changes.add("tables_deleted_from")
            elif effective:
                st.changes.add(
                    "tables_deleted_from" if when_matched == "delete"
                    else "tables_updated"
                )
            if inserted:
                st.changes.add("tables_inserted_into")
            res = {"matched": matched, "inserted": inserted}
            if clausal:
                res["acted"] = acted
                res["acted_by_source"] = bs_acted
            return res
        finally:
            for df_ in persisted:
                df_.unpersist()

    def _hit_subset(
        self, st, sch, candidates, touched_inlined, src, on, matched
    ):
        """Files / inlined entries among the range-pruned candidates that
        actually hold a row matching a source key (see merge). Key columns
        only cross the scan; file identity rides ``input_file_name()``."""
        if not matched:
            return [], []  # pure-insert merge: rewrite nothing
        hit_files = candidates
        if candidates:
            tagged = self._tagged_scan(st, sch, candidates, cols=on)
            hit_files = _files_by_uri(candidates, (
                r["__f"]
                for r in tagged.join(src.select(*on), on, "left_semi")
                .select("__f")
                .distinct()
                .collect()
            ))
        hit_inlined = touched_inlined
        if touched_inlined:
            inl = self.c._build_df([], touched_inlined, st.schemas, sch)
            if (
                inl.select(*on)
                .join(src.select(*on), on, "left_semi")
                .limit(1)
                .count()
                == 0
            ):
                hit_inlined = []
        if matched > 0 and not hit_files and not hit_inlined:
            # Invariant: matched target rows LIVE somewhere. An empty hit
            # set here means file-identity normalization diverged between
            # the catalog path and input_file_name() — proceeding would
            # duplicate every matched row (update) or silently no-op
            # (delete) while reporting matched=N. Fail loudly instead.
            raise LakeError(
                "merge internal error: matched rows found but no hit "
                "file/inlined entry (file URI normalization mismatch?)"
            )
        return hit_files, hit_inlined

    def _tagged_scan(self, st, sch, files, cols=None):
        """Union-of-schema-versions scan of ``files`` projected to the
        current schema (optionally to ``cols`` only) and tagged with
        ``input_file_name()`` as ``__f`` — the shared base of the merge
        legs' hit-/miss-subset scans (one URI-normalization contract)."""
        by_sv: dict = {}
        for fe in files:
            by_sv.setdefault(fe.schema_version, []).append(fe.path)
        parts = []
        for sv, paths in sorted(by_sv.items()):
            stored = st.schemas[sv]
            sdf = self.c.spark.read.schema(stored.to_struct()).parquet(
                *paths
            )
            p = _project(sdf, stored, sch)
            if cols is not None:
                p = p.select(*cols)
            parts.append(p.withColumn("__f", F.input_file_name()))
        return reduce(DataFrame.unionByName, parts)

    def _miss_subset(self, st, sch, src, on, bsc):
        """Files / inlined entries holding >=1 target row whose key matches
        NO source row AND on which a by-source clause fires (see merge,
        WHEN NOT MATCHED BY SOURCE). The complement of the source keys is
        unboundable by min/max stats, so this scans the whole table — but
        only the key columns plus the clause-condition columns cross the
        scan (Catalyst prunes the rest), and ONE action returns both the
        firing-row count and the distinct hit-file set, so an
        already-synced mirror rewrites nothing."""
        chain = _clause_chain_expr(bsc)
        n_rows, hit_files = 0, []
        if st.files:
            tagged = self._tagged_scan(st, sch, st.files)
            row = (
                tagged.join(src.select(*on), on, "left_anti")
                .withColumn("__bs", chain)
                .filter(F.col("__bs") > 0)
                .agg(
                    F.count(F.lit(1)).alias("_n"),
                    F.collect_set("__f").alias("_fs"),
                )
                .first()
            )
            n_rows = int(row["_n"] or 0)
            hit_files = _files_by_uri(st.files, row["_fs"] or [])
            if n_rows > 0 and not hit_files:
                raise LakeError(
                    "merge internal error: by-source rows fired but no "
                    "hit file (file URI normalization mismatch?)"
                )
        hit_inlined, n_inl = [], 0
        if st.inlined:
            inl = self.c._build_df([], list(st.inlined), st.schemas, sch)
            n_inl = (
                inl.join(src.select(*on), on, "left_anti")
                .withColumn("__bs", chain)
                .filter(F.col("__bs") > 0)
                .count()
            )
            if n_inl:
                hit_inlined = list(st.inlined)
        return hit_files, hit_inlined, n_rows + n_inl

    # -- maintenance (M1/M2) --------------------------------------------
    def flush_inlined(self, name: str) -> None:
        """Materialize inlined rows to a parquet file (the compaction half of
        M1)."""
        st = self._state(name)
        if not st.inlined:
            return
        df = self.c._build_df([], st.inlined, st.schemas, st.schema).coalesce(1)
        for ie in st.inlined:
            if not ie.staged:
                st.removed_inlined_ids.append(ie.row_id)
        st.inlined.clear()
        # a flushed inline batch is tiny — one file, not worth a cluster shuffle
        st.files.extend(self._write_staged(st, df, cluster=False))
        st.changes.add("tables_compacted")
        st.coarse_write = True

    def _zcluster(self, st: TableState, df: DataFrame, cols, nparts: int):
        """Range-repartition + sort ``df`` on (non-z partition columns,
        z-value of ``cols``) — the clustering shape optimize() establishes
        and compact() must re-apply. A table with a declared partition_by
        keeps it: z-order applies WITHIN the partition ranges (Delta's
        ZORDER-within-partition semantic), so partition-column file
        pruning is preserved and the z columns gain tight stats inside
        each range. Boundary caveat: range-exchange boundaries come from
        reservoir sampling, so at most ONE file per internal output-
        partition boundary may straddle two partition values (the sample
        error lands the cut a few hundred rows off the exact group edge).
        At scale — thousands of files per partition — the straddle share
        is ~0; making it exact would cost a second full shuffle (rank
        window) or a directory-partitioned write layout, neither worth it
        for a maintenance verb."""
        z = _zvalue(df, list(cols), st.schema)
        lead = [
            F.col(c)
            for c in st.schema.partition_by
            if c not in cols
        ]
        keys = [*lead, F.col("__z")]
        return (
            df.withColumn("__z", z)
            .repartitionByRange(int(nparts), *keys)
            .sortWithinPartitions(*keys)
            .drop("__z")
        )

    def _replace_files(self, st: TableState, df: DataFrame, change: str) -> None:
        """Swap the table's whole file/inlined set for the rewrite ``df``
        (compact/optimize tail): record removals for committed entries,
        write the new staged files, then physically delete staged parquet
        that just fell out of the plan — those files were never published,
        and leaving them on disk orphans them until gc (r13 ADVICE). The
        deletes happen AFTER the write executes (the rewrite's scan reads
        the old files)."""
        staged_paths = [fe.path for fe in st.files if fe.staged]
        for fe in st.files:
            if not fe.staged:
                st.removed_file_ids.append(fe.file_id)
        st.files.clear()
        for ie in st.inlined:
            if not ie.staged:
                st.removed_inlined_ids.append(ie.row_id)
        st.inlined.clear()
        # already clustered/sized by the caller; don't re-shuffle in the
        # write path
        st.files.extend(self._write_staged(st, df, cluster=False))
        for p in staged_paths:
            try:
                os.remove(p)
            except OSError:
                pass
        # the superseded stage dirs are parquet-free now (every staged file
        # of this table was just replaced) — remove them from disk and from
        # the staged-dir list too, or repeated compact/optimize inside one
        # transaction accumulates empty stage-*/_SUCCESS dirs under
        # data_dir (r14 ADVICE). The glob guard keeps any dir that still
        # holds referenced parquet (defensive; dirs are per-write-call).
        for d in {os.path.dirname(p) for p in staged_paths}:
            if not _glob.glob(os.path.join(d, "*.parquet")):
                shutil.rmtree(d, ignore_errors=True)
                try:
                    self._staged_dirs.remove(d)
                except ValueError:
                    pass
        st.changes.add(change)
        st.coarse_write = True

    def compact(self, name: str, target_file_bytes: int = 128 << 20) -> None:
        """M2: rewrite the table into ~target-sized files (+ flush inlined).
        A persisted z-order spec (optimize / SET ZORDER BY) is RE-APPLIED —
        compaction must not silently destroy clustering a full-table
        rewrite paid for; otherwise partition_by re-clusters (coalesce
        would interleave value ranges across files and destroy skipping
        selectivity), and an unclustered table just coalesces — no
        shuffle when only reducing file count."""
        st = self._state(name)
        total = sum(fe.file_bytes for fe in st.files)
        if not st.files and not st.inlined:
            return
        nparts = max(1, -(-total // target_file_bytes))
        df = self.c._build_df(st.files, st.inlined, st.schemas, st.schema)
        if st.schema.zorder_by:
            df = self._zcluster(st, df, st.schema.zorder_by, nparts)
        elif st.schema.partition_by:
            df = df.repartitionByRange(
                int(nparts), *[F.col(c) for c in st.schema.partition_by]
            )
        else:
            df = df.coalesce(int(nparts))
        self._replace_files(st, df, "tables_compacted")

    def optimize(
        self,
        name: str,
        zorder_by=None,
        target_file_bytes: int = 128 << 20,
    ) -> None:
        """Multi-column clustering rewrite — the Delta ``OPTIMIZE ...
        ZORDER BY`` / Iceberg ``rewrite_data_files(sort_order)`` analog
        (beyond the reference surface, like expire_snapshots: a 100 TB
        deployment needs it for multi-dimensional data skipping). The
        whole table is rewritten ordered by the interleaved-bit z-value
        of the given columns, so every output file covers a narrow
        min/max interval on EVERY z column at once and the stats-pruning
        layer (read(where=...), UPDATE/DELETE candidate selection,
        MERGE key pruning) skips most files for point/range predicates
        on any of them — a single-column sort only achieves that for its
        leading column. Numeric/date/timestamp columns interleave their
        value range (min/max from one bounded agg); string columns
        interleave their first-7-UTF-8-bytes prefix long (range-ordered
        like the stats the pruner compares — see _zvalue; Delta's
        truncated-prefix approach), so string point AND range predicates
        both prune.
        Copy-on-write through the normal staged-commit path: time travel
        to pre-optimize versions is unaffected, and the rewrite is
        all-or-nothing on commit.

        The spec PERSISTS: explicit ``zorder_by`` columns are recorded in
        the table schema (one metadata-only evolution, same machinery as
        SET PARTITIONED BY) so compact() and later bare ``optimize(name)``
        calls re-apply them; ``optimize(name)`` with no columns re-clusters
        on the persisted spec. ALTER TABLE ... SET/RESET ZORDER BY edits
        the spec without rewriting."""
        st = self._state(name)
        if zorder_by is None:
            cols = list(st.schema.zorder_by)
            if not cols:
                raise LakeError(
                    f"table {name!r} has no persisted z-order spec; pass "
                    "zorder_by columns (or ALTER TABLE ... SET ZORDER BY)"
                )
        else:
            cols = (
                [c.strip() for c in zorder_by.split(",")]
                if isinstance(zorder_by, str)
                else list(zorder_by)
            )
            if not cols:
                raise LakeError("optimize requires at least one zorder column")
            for c in cols:
                if c not in {f.name for f in st.schema.fields}:
                    raise LakeError(f"unknown zorder column {c!r}")
            if tuple(cols) != st.schema.zorder_by:
                self.set_zorder_by(name, cols)
        if not st.files and not st.inlined:
            return
        df = self.c._build_df(st.files, st.inlined, st.schemas, st.schema)
        total = sum(fe.file_bytes for fe in st.files)
        nparts = max(1, -(-total // target_file_bytes))
        df = self._zcluster(st, df, cols, nparts)
        self._replace_files(st, df, "tables_optimized")

    def _read_range_conflict(self, t, st: TableState, sid: int) -> bool:
        """Does concurrent snapshot ``sid`` intersect any of this txn's
        recorded MERGE read ranges on ``st``? Sound via file min/max
        stats: a file ADDED by sid may hold rows my merge would have
        matched; a file REMOVED by sid may have held rows whose content
        my rewrite/insert decisions depended on — either overlapping the
        read range is a conflict. Missing stats conservatively conflict
        (file_may_match returns True). Inlined-row changes always
        conflict: their key values live inside row_json, not in
        range-checkable stats."""
        ms = self.c.ms
        n = t.exec(
            ms._ph(
                "SELECT COUNT(*) FROM lake_inlined WHERE table_id=? AND "
                "(added_snapshot=? OR removed_snapshot=?)"
            ),
            (st.table_id, sid, sid),
        ).fetchone()[0]
        if n:
            return True
        rows = t.exec(
            ms._ph(
                "SELECT col_stats FROM lake_data_file WHERE table_id=? "
                "AND (added_snapshot=? OR removed_snapshot=?)"
            ),
            (st.table_id, sid, sid),
        ).fetchall()
        sch = st.schema
        return any(
            file_may_match(cs, mr["conjuncts"], sch)
            for (cs,) in rows
            for mr in st.read_ranges
        )

    # -- commit / rollback ----------------------------------------------
    def commit(self) -> int:
        """The atomic commit point: ONE catalog-DB transaction publishes every
        staged file + metadata mutation; returns the new snapshot id.

        Multi-writer contract (stress-tested across processes in
        tests/test_lake_concurrency.py): commits serialize on the
        backend's write lock (SQLite BEGIN IMMEDIATE / PG advisory lock /
        MySQL GET_LOCK) and snapshot ids allocate MAX+1 under that lock —
        strictly monotone and contiguous. Conflict detection is
        first-committer-wins PER TABLE: if any snapshot later than this
        transaction's base touched one of its tables, ConflictError is
        raised and NOTHING is published (staged parquet is cleaned up).
        The client retry policy is to re-run the WHOLE transaction — new
        base version, re-staged writes — with jittered exponential
        backoff; lock-acquisition exhaustion raises the same
        ConflictError, so one retry loop covers both contention
        classes."""
        self._done = True
        touched = {
            n for n, st in self._states.items() if st.changes or st.created
        } | {n for n, _ in self._view_ops}
        ms = self.c.ms
        row_markers = {
            "tables_inserted_into", "tables_updated", "tables_deleted_from"
        }
        try:
            with ms.tx() as t:
                for sid, chj in t.exec(
                    ms._ph("SELECT snapshot_id, changes FROM lake_snapshot "
                           "WHERE snapshot_id > ?"),
                    (self.base_version,),
                ).fetchall():
                    ch = json.loads(chj)
                    others = set()
                    for names in ch.values():
                        others.update(names)
                    for nm in sorted(touched & others):
                        # Delta-style fine-grained resolution: when BOTH
                        # sides' changes to this table are row-level and
                        # ours came only through mutations with recorded
                        # read sets (MERGE key ranges, predicate UPDATE/
                        # DELETE WHERE conjuncts), disjoint regions
                        # commute — both commit, no retry. Anything else
                        # (schema change, drop/create, whole-table write,
                        # plain INSERT) stays table-level
                        # first-committer-wins.
                        st = self._states.get(nm)
                        conc = {mk for mk, names in ch.items() if nm in names}
                        fine = (
                            st is not None
                            and st.read_ranges
                            and not st.coarse_write
                            and not st.created
                            and not st.dropped
                            and st.changes <= row_markers
                            and conc <= row_markers
                        )
                        if not fine or self._read_range_conflict(t, st, sid):
                            raise ConflictError(
                                f"snapshot {sid} already modified {nm!r}"
                            )
                new_v = (
                    t.exec(
                        "SELECT COALESCE(MAX(snapshot_id),-1) FROM lake_snapshot"
                    ).fetchone()[0]
                    + 1
                )
                changes: dict = {}
                for nm, st in self._states.items():
                    if not (st.changes or st.created):
                        continue
                    for marker in sorted(st.changes):
                        changes.setdefault(marker, []).append(nm)
                    if st.created and st.dropped:
                        # created AND dropped inside this txn: net effect is
                        # no table — emit neither a lake_table row nor files
                        # (markers above still record both events)
                        continue
                    if st.created:
                        t.exec(
                            "INSERT INTO lake_table (name, data_dir, "
                            "created_snapshot) VALUES (?,?,?)",
                            (nm, st.data_dir, new_v),
                        )
                        st.table_id = t.exec(
                            "SELECT table_id FROM lake_table WHERE name=? AND "
                            "created_snapshot=?",
                            (nm, new_v),
                        ).fetchone()[0]
                    if st.dropped and not st.created:
                        t.exec(
                            "UPDATE lake_table SET dropped_snapshot=? WHERE "
                            "table_id=?",
                            (new_v, st.table_id),
                        )
                        continue
                    for sv in st.staged_schema_versions:
                        t.exec(
                            "INSERT INTO lake_schema (table_id, schema_version,"
                            " created_snapshot, schema_json) VALUES (?,?,?,?)",
                            (st.table_id, sv, new_v, st.schemas[sv].to_json()),
                        )
                    for fe in st.files:
                        if fe.staged:
                            t.exec(
                                "INSERT INTO lake_data_file (table_id, path, "
                                "row_count, file_bytes, schema_version, "
                                "added_snapshot, col_stats) VALUES "
                                "(?,?,?,?,?,?,?)",
                                (st.table_id, fe.path, fe.row_count,
                                 fe.file_bytes, fe.schema_version, new_v,
                                 fe.col_stats),
                            )
                    if st.removed_file_ids:
                        t.exec(
                            "UPDATE lake_data_file SET removed_snapshot=? "
                            f"WHERE file_id IN ({','.join('?' * len(st.removed_file_ids))})",
                            (new_v, *st.removed_file_ids),
                        )
                    for ie in st.inlined:
                        if ie.staged:
                            t.exec(
                                "INSERT INTO lake_inlined (table_id, "
                                "schema_version, added_snapshot, row_json) "
                                "VALUES (?,?,?,?)",
                                (st.table_id, ie.schema_version, new_v,
                                 ie.row_json),
                            )
                    if st.removed_inlined_ids:
                        t.exec(
                            "UPDATE lake_inlined SET removed_snapshot=? WHERE "
                            f"row_id IN ({','.join('?' * len(st.removed_inlined_ids))})",
                            (new_v, *st.removed_inlined_ids),
                        )
                for tid, nm in self._replaced.items():
                    t.exec(
                        "UPDATE lake_table SET dropped_snapshot=? WHERE "
                        "table_id=? AND dropped_snapshot IS NULL",
                        (new_v, tid),
                    )
                    changes.setdefault("tables_dropped", []).append(nm)
                for vname, vsql in self._view_ops:
                    t.exec(
                        "UPDATE lake_view SET dropped_snapshot=? WHERE name=? "
                        "AND dropped_snapshot IS NULL",
                        (new_v, vname),
                    )
                    if vsql is None:
                        changes.setdefault("views_dropped", []).append(vname)
                    else:
                        t.exec(
                            "INSERT INTO lake_view (name, view_sql, "
                            "created_snapshot) VALUES (?,?,?)",
                            (vname, vsql, new_v),
                        )
                        changes.setdefault("views_created", []).append(vname)
                t.exec(
                    "INSERT INTO lake_snapshot (snapshot_id, ts, changes) "
                    "VALUES (?,?,?)",
                    (new_v, _now_iso(), json.dumps(changes, sort_keys=True)),
                )
            return new_v
        except BaseException:
            self._cleanup_staged()
            raise

    def rollback(self) -> None:
        """D6: abort — discard buffered metadata, delete staged parquet. No
        partial effects across tables
        (demos/01_transaction_rollback/demo.py:148-151)."""
        self._done = True
        self._cleanup_staged()
        self._states.clear()
        self._view_ops.clear()

    # -- statement-level atomicity (SQL face) ---------------------------
    def _snapshot_staging(self):
        """Deep copy of the driver-side staging buffers, taken by the SQL
        executor before each statement inside an explicit transaction so a
        FAILED statement restores them — Postgres/DuckDB statement
        atomicity. Without this, a statement that stages mutations before
        its failure point (e.g. MERGE WITH SCHEMA EVOLUTION staging an ADD
        COLUMN and then hitting the duplicate-merge-key check) would leave
        those mutations for a later COMMIT to persist. Everything here is
        plain driver-side data (TableState/FileEntry/TableSchema — no
        DataFrames), so deepcopy is safe; _staged_dirs is deliberately NOT
        restored (parquet staged by the failed statement simply becomes
        unreferenced, collected by gc() like any crash residue)."""
        import copy

        return (
            copy.deepcopy(self._states),
            list(self._view_ops),
            dict(self._replaced),
            copy.deepcopy(self._rollup_metas_cache),
        )

    def _restore_staging(self, snap) -> None:
        (
            self._states,
            self._view_ops,
            self._replaced,
            self._rollup_metas_cache,
        ) = snap

    def _cleanup_staged(self) -> None:
        for d in self._staged_dirs:
            shutil.rmtree(d, ignore_errors=True)
        self._staged_dirs.clear()


def _clause_chain_expr(clauses):
    """First-match-wins clause index for MERGE clause lists (1-based;
    0 = no clause condition held). A falsy/absent cond compiles to
    lit(True), so only the last clause may omit it (validated in merge)."""
    chain = None
    for i, cl in enumerate(clauses, 1):
        c = F.expr(cl["cond"]) if cl.get("cond") else F.lit(True)
        chain = (
            F.when(c, F.lit(i)) if chain is None else chain.when(c, F.lit(i))
        )
    return chain.otherwise(F.lit(0)) if chain is not None else F.lit(0)


def _files_by_uri(files, uris):
    """File entries among ``files`` whose normalized path matches one of
    the input_file_name() URIs."""
    hits = {_norm_file_uri(u) for u in uris}
    return [fe for fe in files if _norm_file_uri(fe.path) in hits]


def _norm_file_uri(p: str) -> str:
    """Normalize a file path / URI for identity comparison between catalog
    FileEntry paths and Spark's ``input_file_name()`` output.

    Handles BOTH slash conventions for scheme URIs — Hadoop's
    ``Path.toString`` commonly emits single-slash ``file:/x/y`` while
    ``input_file_name()`` emits ``file:///x/y`` — and preserves
    scheme + netloc for object stores (``s3a://bucket/k`` must not
    collapse to ``/k``, which would collide across buckets). Local
    ``file:`` URIs normalize to the plain absolute path so they compare
    equal to FileEntry's os paths."""
    from urllib.parse import unquote, urlsplit

    # scheme must be >= 2 chars: a single-letter prefix is a Windows drive
    # path ('C:/x'), not a URI — misparsing it would make every FileEntry
    # path mismatch input_file_name() and trip the merge hit-subset guard
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]+):", p)
    if m:
        u = urlsplit(p)
        path = unquote(u.path)
        if u.scheme.lower() == "file" and not u.netloc:
            return path
        return f"{u.scheme.lower()}://{u.netloc}{path}"
    return os.path.abspath(p)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-held rows -> a DataFrame over a JVM LocalRelation.

    ``createDataFrame(list)`` plans a Python-RDD scan (``ExistingRDD``):
    every action on it runs a Spark job through a Python worker — a
    1-row frame measured 0.26 s to build and collect that way against
    0.02 s as a LocalRelation on a 4-core host. The rows go to the JVM
    as one Arrow table instead, which plans a ``LocalTableScan`` whatever
    the session's Arrow setting, for zero rows too. ``schema`` is a
    StructType or a DDL string. A naive datetime in a TIMESTAMP column
    is local time, as ``createDataFrame(list)`` and ``collect()`` take
    it. A DECIMAL value is rounded HALF_UP to the column's scale, as
    Spark rounds it (Arrow refuses a lossy rescale). Arrow does not
    check nullability: a NULL in a NOT NULL column raises here, or
    Catalyst would fold later IS NULL checks on it to false."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        # a private copy: the parsed StructType is cached and shared
        schema = StructType(list(ddl_type(schema).fields))
    cols = []
    for i, f in enumerate(schema.fields):
        col = [r[i] for r in rows]
        if not f.nullable and any(v is None for v in col):
            raise ValueError(f"NULL in NOT NULL column {f.name!r}")
        if isinstance(f.dataType, TimestampType):
            utc = _dt.timezone.utc
            col = [v if v is None else v.astimezone(utc) for v in col]
        elif isinstance(f.dataType, DecimalType):
            p, sc = f.dataType.precision, f.dataType.scale
            col = [v if v is None else fit_decimal(v, p, sc) for v in col]
        cols.append(col)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, arrow.types)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def fit_decimal(v, precision: int, scale: int):
    """``v`` as a Decimal rounded HALF_UP to ``scale`` places, the
    rescale Spark applies to a value bound for ``decimal(precision,
    scale)``. ValueError if the result needs more than ``precision``
    digits."""
    import decimal

    ctx = decimal.Context(prec=2 * 38, rounding=decimal.ROUND_HALF_UP)
    if not isinstance(v, decimal.Decimal):
        v = decimal.Decimal(str(v))  # a float as written: 1.005 -> 1.01
    if not v.is_finite():
        raise ValueError(f"{v} does not fit decimal({precision},{scale})")
    q = v.quantize(decimal.Decimal(1).scaleb(-scale), context=ctx)
    if len(q.as_tuple().digits) > precision:
        raise ValueError(f"{v} does not fit decimal({precision},{scale})")
    return q


def _runs_python(df: DataFrame) -> bool:
    """True iff ``df``'s executed plan has a Python-boundary node. Every
    such node class (batch and Arrow UDF eval, map and (co)group in pandas
    or Arrow, window and aggregate in pandas) lives in Spark's
    ``execution.python`` package. The plan's JSON names each node's class,
    and an adaptive plan nests its input plan there, so one JVM call
    covers the whole tree and no operator name can slip past."""
    plan = df._jdf.queryExecution().executedPlan().toJSON()
    return '"class":"org.apache.spark.sql.execution.python.' in plan


def _coerce_read(v, t: str):
    """Read-time coercion of an inlined-row value to the CURRENT column
    type. ALTER COLUMN TYPE is metadata-only, so a value inlined as INT
    must build into a widened DOUBLE/FLOAT/DECIMAL column the way parquet
    rows do via _project's cast (int-family widenings need no help:
    Python ints build into any integer column)."""
    if v is None:
        return v
    t = t.lower()
    if (
        t in ("double", "float")
        and isinstance(v, int)
        and not isinstance(v, bool)
    ):
        return float(v)
    if t.startswith("decimal") and isinstance(v, (int, float)):
        import decimal

        return decimal.Decimal(str(v))
    return v


def _project(df: DataFrame, stored: TableSchema, current: TableSchema) -> DataFrame:
    # identity projection (no evolution between the file's schema and the
    # read schema) — skip the per-column cast/alias select outright: the
    # column ops cost ~45 ms of py4j per read, which the no-evolution
    # common case (every fresh table, every bench versioned read) was
    # paying for nothing
    if stored is current or (
        len(stored.fields) == len(current.fields)
        and all(
            sf.field_id == cf.field_id
            and sf.name == cf.name
            and sf.type == cf.type
            for sf, cf in zip(stored.fields, current.fields)
        )
    ):
        return df
    by_id = {f.field_id: f for f in stored.fields}
    cols = []
    for f in current.fields:
        sf = by_id.get(f.field_id)
        if sf is not None:
            cols.append(F.col(sf.name).cast(f.type).alias(f.name))
        else:
            # rows predating the field get the DDL-time frozen value, never a
            # per-read re-evaluation (a read must not change the data)
            cols.append(F.lit(default_fill(f)).cast(f.type).alias(f.name))
    return df.select(*cols)


def _now_iso() -> str:
    return _iso(_dt.datetime.now(_dt.timezone.utc))


def _iso(ts: _dt.datetime) -> str:
    if ts.tzinfo is not None:
        ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return ts.isoformat()


def connect(url: str, spark: SparkSession, **kw) -> LakeCatalog:
    """``ATTACH 'ducklake:<target>'`` equivalent: ``connect("lake:<dir>")`` or
    ``connect("lake:postgresql://...", data_dir=...)``. The ``lake:`` prefix
    is optional."""
    if url.startswith("lake:"):
        url = url[len("lake:"):]
    return LakeCatalog(url, spark, **kw)
