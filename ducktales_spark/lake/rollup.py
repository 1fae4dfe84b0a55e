"""Continuous aggregates ("hypertable rollup") over lake tables.

A rollup is a lake table holding time-bucketed additive aggregates
(COUNT + SUMs, optionally grouped) of a source lake table, plus a tiny meta
table recording its definition and the catalog snapshot it reflects.
``refresh`` advances it INCREMENTALLY: the row-level diff between the last
refreshed snapshot and now (``table_changes``, T4) is folded into per-bucket
deltas (+1/-1 signed), and only the affected buckets are touched — the
TimescaleDB/Materialize continuous-aggregate model, built from this repo's
own CDC + MERGE primitives instead of a bespoke engine.

A rollup's definition is the one row of its ``<name>__rollup_meta`` table,
and only this module knows that format: :class:`RollupDef` decodes and
encodes the row, :func:`find_rollup` is the one answer to "is this name a
rollup, and what is its definition?", and :meth:`RollupDef.state` builds
rollup state from source rows for every path (create, the incremental
delta, both recomputes, and the catalog's rebuild after a widening).

Scale shape (100 TB source, say years of events):
* refresh cost is O(changes since last refresh), never O(source) — the diff
  aggregates with one shuffle keyed on (bucket, groups);
* the rollup-side read is pruned to the delta's bucket min/max before the
  join (stats-based file skipping turns that into partition pruning on a
  bucket-clustered rollup);
* the write path is MERGE, which rewrites only files whose key ranges
  overlap the touched buckets;
* only additive aggregates are maintained (count, sum — avg is sum/count at
  read time), because additivity is what makes deletes subtractable. This is
  the same restriction real continuous aggregates impose on their
  incremental path.
"""

from __future__ import annotations

import datetime as _dt
import json
from dataclasses import dataclass, field, fields
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from .lexer import column_refs, rewrite_sql_identifiers
from .schema import ddl_type


def _bucket_expr(time_col, bucket_s: int):
    """Bucket start as TIMESTAMP, NTZ-safe (the driver's events.ts has
    shipped as both TIMESTAMP and TIMESTAMP_NTZ across data generations;
    unix_micros rejects NTZ, timestampdiff over two cast TIMESTAMPs does
    not — the j06/x06 pattern).

    ``time_col=None`` degenerates to ONE constant bucket (epoch 0): the
    rollup then maintains a plain keys-only GROUP BY — an incremental
    materialized aggregate view — through the identical diff/merge
    machinery."""
    if time_col is None:
        return F.expr("timestamp_seconds(0)")
    us = (
        "timestampdiff(MICROSECOND, timestamp'1970-01-01 00:00:00', "
        f"cast({time_col} as timestamp))"
    )
    return F.expr(
        f"timestamp_seconds(floor(({us}) / {bucket_s * 1_000_000}) "
        f"* {bucket_s})"
    )


def _agg_exprs(d: "RollupDef", sign=None, sketches: bool = True):
    """The maintained aggregates of rollup ``d`` (see RollupDef.state):
    all of them, or with ``sign`` only the additive ones, signed."""
    n = F.sum(sign) if sign is not None else F.count(F.lit(1))
    out = [n.cast("bigint").alias("n_rows")]
    for c in d.sum_cols:
        v = F.col(c) * sign if sign is not None else F.col(c)
        out.append(F.sum(v).alias(f"sum_{c}"))
    for c in d.var_cols:
        # sum of squares: additive exactly like sum (a delete subtracts
        # v^2), carried in DOUBLE — variance is a float-domain statistic
        # and squaring a wide decimal would overflow its precision. The
        # read face derives var_/stddev_ from (sumsq, sum, count); the
        # usual sum-of-squares cancellation caveat applies at extreme
        # mean/variance ratios (the trade every additive engine makes).
        sq = F.col(c).cast("double") * F.col(c).cast("double")
        v = sq * sign if sign is not None else sq
        out.append(F.sum(v).alias(f"sumsq_{c}"))
    for c in d.count_cols:  # COUNT(col): null-skipping, signed => additive
        v = (
            F.sum(F.when(F.col(c).isNotNull(), sign).otherwise(0))
            if sign is not None
            else F.count(F.col(c))
        )
        out.append(v.cast("bigint").alias(f"count_{c}"))
    for c in d.approx_cols if sketches else ():
        # HLL sketch (insert-side only: a delete-bearing diff routes to the
        # recompute path — sketches are unionable, never subtractable).
        # Sketch the STRING cast: hll_sketch_agg accepts only int/bigint/
        # string/binary, and the cast is injective for every scalar type,
        # so distinct counts are unchanged — and every path (create,
        # delta-union, recompute) shares this expression, so sketches
        # always merge like with like.
        out.append(
            F.hll_sketch_agg(F.col(c).cast("string")).alias(f"hll_{c}")
        )
    if sign is not None:
        return out
    for c in d.minmax_cols:  # recompute paths only: a max can't subtract
        out.append(F.min(c).alias(f"min_{c}"))
        out.append(F.max(c).alias(f"max_{c}"))
    for c in d.distinct_cols:  # exact COUNT(DISTINCT): recompute only
        out.append(F.count_distinct(F.col(c)).alias(f"distinct_{c}"))
    return out


def meta_table(name: str) -> str:
    """The name of rollup ``name``'s meta table."""
    return f"{name}__rollup_meta"


# the columns a table needs before find_rollup reads it as rollup meta
META_REQUIRED_COLS = frozenset({"src", "bucket_s", "sum_cols", "last_version"})
_LISTS = (
    "keys", "sum_cols", "minmax_cols", "count_cols", "approx_cols",
    "distinct_cols", "var_cols",
)
_BIGINT = ("bucket_s", "last_version")


@dataclass
class RollupDef:
    """A rollup's definition: the one row of its ``<name>__rollup_meta``
    table, decoded. The fields are the meta columns, in table order; the
    lists are stored as JSON text, ``key_exprs`` as a JSON object
    ({stored alias: SQL expression} for expression keys), and a text
    stored as ``''`` means none (``time_col`` none = a keys-only view in
    one constant bucket). Metas written before a column existed lack it:
    :meth:`from_row` reads a missing column as none, and :meth:`to_row`
    writes back only the ``columns`` the stored row has."""

    src: str
    time_col: Optional[str] = None
    bucket_s: int = 3600
    keys: tuple = ()
    sum_cols: tuple = ()
    minmax_cols: tuple = ()
    count_cols: tuple = ()
    approx_cols: tuple = ()
    distinct_cols: tuple = ()
    # filters SOURCE rows before they enter the maintained state
    where_sql: Optional[str] = None
    key_exprs: dict = field(default_factory=dict)
    # filters GROUPS of the read face at read time: the state is always
    # maintained unfiltered, so a group that crosses the threshold (either
    # way) shows or hides exactly as a from-scratch GROUP BY ... HAVING
    having_sql: Optional[str] = None
    var_cols: tuple = ()
    # buckets strictly before this timestamp are expired
    retain_after: Optional[str] = None
    last_version: int = 0
    columns: tuple = ()  # the stored row's meta columns; () = all of them

    def __post_init__(self):
        self.columns = self.columns or _META_COLS

    @classmethod
    def from_row(cls, row) -> "RollupDef":
        d = row.asDict() if hasattr(row, "asDict") else dict(row)
        kw = {}
        for c in _META_COLS:
            v = d.get(c)
            if c in _LISTS:
                kw[c] = tuple(json.loads(v)) if v else ()
            elif c == "key_exprs":
                kw[c] = json.loads(v) if v else {}
            elif c in _BIGINT:
                kw[c] = int(v)
            else:
                kw[c] = v or None
        return cls(**kw, columns=tuple(c for c in _META_COLS if c in d))

    def to_row(self) -> dict:
        out = {}
        for c in self.columns:
            v = getattr(self, c)
            if c in _LISTS:
                v = json.dumps(list(v))
            elif c == "key_exprs":
                v = json.dumps(v)
            elif c not in _BIGINT:
                v = v or ""
            out[c] = v
        return out

    def write(self, tx, name: str, create: bool = False) -> None:
        """Store this definition as rollup ``name``'s meta row inside
        ``tx``: in a new meta table, or in place of the stored row."""
        meta = meta_table(name)
        if create:
            tx.create_table(meta, ddl_type(", ".join(
                f"{c} {'bigint' if c in _BIGINT else 'string'}"
                for c in self.columns
            )))
        else:
            tx.delete(meta)
        tx.insert_rows(meta, [self.to_row()])

    def stamp(self, tx, name: str, version: int) -> None:
        """Record inside ``tx`` that rollup ``name`` reflects ``version``."""
        self.last_version = version
        self.write(tx, name)

    def rows(self, df: DataFrame) -> DataFrame:
        """The source rows the rollup aggregates (its WHERE applied)."""
        return df.filter(F.expr(self.where_sql)) if self.where_sql else df

    def state(
        self, df: DataFrame, signed: bool = False, sketches: bool = True
    ) -> DataFrame:
        """The rollup state of source rows ``df``: one row per (bucket,
        keys) of the rows the WHERE keeps, with every maintained
        aggregate, and no bucket before the retention horizon (so no
        path can resurrect an expired bucket). Expression keys evaluate
        here only, so every path agrees on a key's value.

        ``signed`` makes it the CDC delta of ``table_changes`` rows: each
        counts +1 (insert) or -1 (delete), and only additive state is
        built (HLL sketches too, unless ``sketches`` is false)."""
        sign = (
            F.when(F.col("change_type") == "insert", 1).otherwise(-1)
            if signed else None
        )
        keys = [
            F.expr(self.key_exprs[k]).alias(k) if k in self.key_exprs
            else F.col(k)
            for k in self.keys
        ]
        out = self.rows(df).groupBy(
            _bucket_expr(self.time_col, self.bucket_s).alias("bucket_start"),
            *keys,
        ).agg(*_agg_exprs(self, sign, sketches))
        if self.retain_after:
            out = out.filter(
                F.col("bucket_start")
                >= F.expr(f"timestamp'{self.retain_after}'")
            )
        return out

    def source_cols(self) -> set:
        """The source columns the rollup names directly: its time column
        and every maintained column (an expression key's alias is not
        one; the columns its expression reads are the caller's to find)."""
        cols = {self.time_col} if self.time_col else set()
        for key in _LISTS:
            cols.update(
                c for c in getattr(self, key)
                if not (key == "keys" and c in self.key_exprs)
            )
        return cols

    def rename(self, old: str, new: str) -> Optional[list]:
        """Follow the rename of source column ``old`` to ``new`` through
        this definition: maintained lists, time column, WHERE, expression
        keys and the HAVING (which names stored and read-face columns).
        Returns the stored-column renames [(old, new)], or None when the
        definition does not name ``old`` at all."""
        def mentions(text):
            return any(r.name.lower() == old.lower() for r in column_refs(text))

        in_where = bool(self.where_sql) and mentions(self.where_sql)
        in_key_expr = any(mentions(e) for e in self.key_exprs.values())
        if old not in self.source_cols() and not (in_where or in_key_expr):
            return None
        renames = []
        for key, prefs in _STORED.items():
            lst = getattr(self, key)
            if old in lst and not (key == "keys" and old in self.key_exprs):
                setattr(self, key, tuple(new if c == old else c for c in lst))
                renames += [(f"{p}{old}", f"{p}{new}") for p in prefs]
        if in_key_expr:
            self.key_exprs = {
                a: rewrite_sql_identifiers(e, {old: new})
                for a, e in self.key_exprs.items()
            }
        if self.time_col == old:
            self.time_col = new
        if self.where_sql:
            self.where_sql = rewrite_sql_identifiers(
                self.where_sql, {old: new}
            )
        if self.having_sql and renames:
            face = dict(renames)
            for stored, derived in _FACE.items():
                if (f"{stored}{old}", f"{stored}{new}") in renames:
                    for p in derived:
                        face[f"{p}{old}"] = f"{p}{new}"
            self.having_sql = rewrite_sql_identifiers(self.having_sql, face)
        return renames


_META_COLS = tuple(f.name for f in fields(RollupDef) if f.name != "columns")
# the stored-state column prefixes each maintained list carries (a plain
# key column is stored under its source name)
_STORED = {
    "keys": ("",),
    "sum_cols": ("sum_",),
    "minmax_cols": ("min_", "max_"),
    "count_cols": ("count_",),
    "approx_cols": ("hll_",),
    "distinct_cols": ("distinct_",),
    "var_cols": ("sumsq_",),
}
# read-face columns derived from a stored prefix (see apply_read_face)
_FACE = {
    "sum_": ("avg_",),
    "hll_": ("approx_distinct_",),
    "sumsq_": ("var_", "stddev_"),
}


def find_rollup(
    lake, name: str, version=None, tables=None, tx=None
) -> Optional[RollupDef]:
    """The definition of materialized view ``name`` at ``version`` (or as
    transaction ``tx`` of ``lake`` sees it), None when ``name`` is not
    one. ``tables`` is the set of table names visible there, when the
    caller has it.

    An MV is a table with a companion ``<name>__rollup_meta`` that has
    the meta columns and exactly one row. A user table that only shares
    the companion's name is not one, and is never pulled to the driver:
    its columns are checked first (metadata), then its row count
    (catalog metadata; a two-row probe inside a transaction)."""
    meta = meta_table(name)
    if tables is None:
        tables = lake.tables(version)
    if name not in tables or meta not in tables:
        return None
    df = lake.read(meta, version=version) if tx is None else tx.read(meta)
    if not META_REQUIRED_COLS <= set(df.columns):
        return None
    if tx is None and lake.count(meta, version) != 1:
        return None
    rows = df.limit(2).collect()
    return RollupDef.from_row(rows[0]) if len(rows) == 1 else None


def find_rollups(lake, version=None, tables=None, tx=None, cache=None) -> dict:
    """{name: RollupDef} for every materialized view among ``tables``
    (default: every table at ``version``), through :func:`find_rollup`.
    ``cache`` ({name: (version, RollupDef or None)}, outside transactions
    only) keeps each answer for the catalog version it was found at."""
    if tables is None:
        tables = set(lake.tables(version))
    names = sorted(n for n in tables if meta_table(n) in tables)
    if names and tx is None and version is None:
        version = lake.current_version()  # one version for all of them
    out = {}
    for n in names:
        hit = cache.get(n) if cache is not None else None
        if hit is not None and hit[0] == version:
            d = hit[1]
        else:
            d = find_rollup(lake, n, version, tables, tx)
            if cache is not None:
                cache[n] = (version, d)
        if d is not None:
            out[n] = d
    return out


def _require(lake, name: str, version=None) -> RollupDef:
    d = find_rollup(lake, name, version)
    if d is None:
        raise RollupError(f"no materialized view named {name!r}")
    return d


def read_face(lake, name: str, version=None, tables=None) -> DataFrame:
    """Table ``name`` at ``version`` as SQL reads it: a materialized view
    through its read face, any other table as stored."""
    df = lake.read(name, version=version)
    d = find_rollup(lake, name, version, tables)
    return df if d is None else apply_read_face(df, d)


def restamp_rollups(lake, only=None) -> None:
    """Stamp every materialized view (those named in ``only``, when
    given) with ``lake``'s HEAD version: after a migration (export_to,
    IMPORT DATABASE) the stored stamps are version numbers of another
    catalog, meaningless here. An IMPORT restamps only the views it
    created: advancing a pre-existing view's stamp would make its next
    refresh skip unfolded source changes."""
    v_head = lake.current_version()
    tables = set(lake.tables(v_head))
    if only is not None:
        tables &= set(only)  # an IMPORT creates an MV and its meta together
    for mv, d in find_rollups(lake, v_head, tables).items():
        with lake.transaction() as tx:
            d.stamp(tx, mv, v_head)


class RollupError(Exception):
    pass


def create_rollup(
    lake,
    name: str,
    src: str,
    time_col: Optional[str],
    bucket_s: int = 3600,
    keys: tuple = (),
    sum_cols: tuple = (),
    minmax_cols: tuple = (),
    count_cols: tuple = (),
    approx_cols: tuple = (),
    distinct_cols: tuple = (),
    replace: bool = False,
    where: Optional[str] = None,
    key_exprs: Optional[dict] = None,
    having: Optional[str] = None,
    var_cols: tuple = (),
) -> None:
    """Materialize the initial rollup of ``src`` and its meta table in ONE
    catalog transaction, stamped with the snapshot version it reflects.

    ``replace=True`` drops an existing rollup of the same name INSIDE that
    same transaction, so CREATE OR REPLACE is atomic: a reader either sees
    the old rollup or the new one, never a gap, and a failure anywhere
    (source read, aggregation, write) rolls the whole snapshot back with
    the old rollup intact.

    ``time_col=None`` makes this a keys-only incrementally-maintained
    materialized aggregate view (one constant bucket; every refresh
    mechanism — CDC diff, signed deltas, pruned MERGE — is identical).

    ``count_cols`` adds null-skipping ``COUNT(col)`` columns
    (``count_<c>``): additive exactly like n_rows (the signed delta counts
    only rows where the column is non-null), so they ride the O(changes)
    fast path.

    ``approx_cols`` adds APPROX COUNT DISTINCT columns as HLL sketches
    (``hll_<c>``, read face exposes ``approx_distinct_<c>`` estimates):
    sketches UNION (insert-only diffs stay O(changes)) but never subtract,
    so a diff containing any delete routes that refresh through the
    partial-recompute path.

    ``minmax_cols`` adds MIN/MAX columns and ``distinct_cols`` adds exact
    ``COUNT(DISTINCT col)`` columns (``distinct_<c>``) — both non-additive,
    so refreshes of a rollup that has them switch from signed-delta folding
    to PARTIAL RECOMPUTE: only the buckets the diff touched are
    re-aggregated from the CURRENT source (time-range-pruned read when
    time_col is set — stats skip non-overlapping source files), then
    MERGEd. O(source rows in touched buckets) per refresh instead of
    O(changes) — the standard continuous-aggregate trade for
    non-invertible aggregates (a deleted max cannot be subtracted out).

    ``var_cols`` adds additive VARIANCE/STDDEV state: a DOUBLE
    sum-of-squares column (``sumsq_<c>``) folded with the same signed
    deltas as sums. Every var column must ALSO be in ``sum_cols`` and
    ``count_cols`` (enforced here): the read face derives
    ``var_<c>`` = (sumsq - sum^2/count) / (count - 1) and
    ``stddev_<c>`` = sqrt(var) — sample semantics with the NULL-skipping
    count denominator, exactly SQL VAR_SAMP/STDDEV_SAMP.

    ``having`` is a predicate over the rollup's READ FACE (keys,
    bucket_start, n_rows, sum_/avg_/min_/max_/count_/distinct_/
    approx_distinct_/var_/stddev_ columns). It is applied at READ time only — the
    state is maintained unfiltered, so groups crossing the threshold in
    either direction appear/disappear exactly like a from-scratch
    ``GROUP BY ... HAVING`` recompute (physically dropping sub-threshold
    groups would instead lose their accumulators and corrupt later
    refreshes)."""
    d = RollupDef(
        src, time_col or None, bucket_s, tuple(keys), tuple(sum_cols),
        minmax_cols=tuple(minmax_cols), count_cols=tuple(count_cols),
        approx_cols=tuple(approx_cols), distinct_cols=tuple(distinct_cols),
        where_sql=where or None, key_exprs=dict(key_exprs or {}),
        having_sql=having or None, var_cols=tuple(var_cols),
    )
    for c in d.var_cols:
        if c not in d.sum_cols or c not in d.count_cols:
            raise RollupError(
                f"VAR/STDDEV column {c!r} needs SUM({c}) and COUNT({c}) "
                "maintained too (the read-face formula divides by the "
                "null-skipping count): add both"
            )
    for alias in d.key_exprs:
        if alias not in d.keys:
            raise RollupError(
                f"key_exprs alias {alias!r} is not a key (add it to keys)"
            )
    d.last_version = version = lake.current_version()
    base = lake.read(src, version=version)
    types = dict(base.dtypes)
    for c in d.sum_cols:
        t = types.get(c, "").lower()
        if not (
            t in ("tinyint", "smallint", "int", "bigint", "float", "double")
            or t.startswith("decimal")
        ):
            # clean, pre-transaction error instead of an opaque
            # AnalysisException inside the CTAS: additive SUM/AVG state is
            # only foldable for numeric scalars (arrays/strings have no
            # subtractable sum). Keys, COUNT(DISTINCT), and
            # APPROX_COUNT_DISTINCT over complex types remain fine — they
            # hash/compare, never add.
            raise RollupError(
                f"SUM/AVG column {c!r} has non-additive type {t or '?'}: "
                "only numeric scalar columns can be sum-maintained"
            )
    # a filtered continuous aggregate (WHERE over SOURCE columns) is
    # maintainable because the CDC diff rows carry those columns, so every
    # refresh path applies the same predicate to the diff / recompute
    # input; stats skipping makes it a file-pruning read here, too
    df = d.state(base)
    if having:
        # analyze the predicate against the (empty) read face BEFORE the
        # transaction: under replace=True a typo'd HAVING must fail here
        # with the existing rollup untouched
        try:
            apply_read_face(df.limit(0), d).schema
        except Exception as e:
            raise RollupError(f"invalid HAVING predicate: {e}") from None
    old = replace and find_rollup(lake, name) is not None
    with lake.transaction() as tx:
        if old:
            tx.drop_table(name)
            tx.drop_table(meta_table(name))
        # bucket-clustered so stats pruning on bucket_start acts as
        # partition pruning for refreshes and reads
        tx.ctas(name, df, partition_by=("bucket_start",))
        d.write(tx, name, create=True)


def apply_read_face(df: DataFrame, d: RollupDef) -> DataFrame:
    """Apply rollup ``d``'s read face to its stored state ``df``:
    ``avg_<c>`` = sum/n for every sum column, ``var_<c>``/``stddev_<c>``
    for every variance column, ``approx_distinct_<c>`` = the HLL estimate
    for every sketch column with the raw binary ``hll_<c>`` state dropped
    (an implementation detail, like Timescale's partials), then the
    HAVING. SINGLE source of truth: read_rollup and every SQL read of an
    MV (the SQL executor's statement binder) derive their faces here, so
    they can never drift."""
    for c in d.sum_cols:
        df = df.withColumn(f"avg_{c}", F.col(f"sum_{c}") / F.col("n_rows"))
    for c in d.var_cols:
        # sample variance from additive state: (sumsq - sum^2/count) /
        # (count - 1), NULL below two non-null values (SQL VAR_SAMP),
        # clamped at 0 against float round-off going negative
        cnt = F.col(f"count_{c}").cast("double")
        mean_sq = (
            F.col(f"sum_{c}").cast("double")
            * F.col(f"sum_{c}").cast("double")
            / cnt
        )
        var = F.when(
            F.col(f"count_{c}") >= 2,
            F.greatest(
                (F.col(f"sumsq_{c}") - mean_sq) / (cnt - 1), F.lit(0.0)
            ),
        )
        df = df.withColumn(f"var_{c}", var).withColumn(
            f"stddev_{c}", F.sqrt(var)
        )
    for c in d.approx_cols:
        df = df.withColumn(
            f"approx_distinct_{c}",
            F.coalesce(
                F.hll_sketch_estimate(F.col(f"hll_{c}")), F.lit(0)
            ).cast("bigint"),
        ).drop(f"hll_{c}")
    if d.having_sql:
        # applied AFTER the derived columns so HAVING may reference
        # avg_/approx_distinct_
        df = df.filter(F.expr(d.having_sql))
    return df


def derived_columns(d: RollupDef) -> list:
    """DESCRIBE's view of the read face: [(column_name, ddl_type,
    hidden_stored_column_or_None)] — the companion of apply_read_face."""
    out = [(f"avg_{c}", "DOUBLE", None) for c in d.sum_cols]
    for c in d.var_cols:
        out.append((f"var_{c}", "DOUBLE", None))
        out.append((f"stddev_{c}", "DOUBLE", None))
    out += [
        (f"approx_distinct_{c}", "BIGINT", f"hll_{c}")
        for c in d.approx_cols
    ]
    return out


def read_rollup(lake, name: str, version: Optional[int] = None) -> DataFrame:
    """The rollup's read face (see apply_read_face). Aggregates that are
    NOT derivable from the maintained state — stddev, percentiles — are
    deliberately absent: maintaining them incrementally requires the
    minmax-style partial-recompute path (re-aggregate touched buckets from
    the source), not a read-time formula. Keys-only materialized views
    read identically (their single epoch-0 bucket included)."""
    d = _require(lake, name, version)
    return apply_read_face(lake.read(name, version=version), d)


def refresh_rollup(lake, name: str) -> dict:
    """Fold source changes since the last refresh into the rollup.
    Returns {"from_version", "to_version", "changed_buckets"}."""
    d = _require(lake, name)
    v0, v1 = d.last_version, lake.current_version()
    if v0 not in {s["snapshot_id"] for s in lake.snapshots()} and v0 < v1:
        # The stamped base snapshot was retired by expire_snapshots: the
        # CDC diff (and the partial-recompute bounds derived from it) can
        # no longer be computed, and without this fallback the rollup
        # would be permanently unrefreshable. Full recompute at v1 — the
        # same answer the incremental path converges to, at O(source)
        # cost once; subsequent refreshes are incremental again.
        return _refresh_full_recompute(lake, name, d, v0, v1)
    if v1 <= v0 or not _src_touched(lake, d.src, v0, v1):
        # Metadata-only no-op: the snapshot log records which tables each
        # snapshot touched, so a refresh when the source didn't change never
        # walks a row-level diff (and doesn't write a snapshot of its own —
        # otherwise every no-op refresh would mint one). The rollup's own
        # create/refresh snapshots land in (v0, v1] and are skipped the same
        # way.
        return {"from_version": v0, "to_version": v0, "changed_buckets": 0}

    # A filtered MV judges each DIFF row by its own values: an UPDATE that
    # moves a row across the predicate boundary arrives as delete(old) +
    # insert(new), so membership changes fold correctly.
    changes = lake.table_changes(d.src, v0, v1)
    nonadditive = bool(d.minmax_cols or d.distinct_cols)
    if d.approx_cols and not nonadditive:
        # HLL sketches union but never subtract: any delete in the diff
        # invalidates sketch folding for its buckets, so the whole refresh
        # routes through partial recompute. Insert-only diffs (the
        # append-mostly common case) stay on the O(changes) fast path with
        # the delta sketches hll_union-ed in. One cheap existence probe on
        # the (already narrow) CDC diff decides; a delete the WHERE
        # excludes does not count.
        nonadditive = bool(
            d.rows(changes).filter(F.col("change_type") == "delete").take(1)
        )
    delta = d.state(changes, signed=True, sketches=not nonadditive)
    # Prune the rollup-side read to the delta's bucket range BEFORE joining:
    # refreshes of a time-ordered source touch a narrow recent window, so the
    # stats-pruned read skips almost every rollup file.
    bounds = delta.agg(
        F.min("bucket_start").alias("lo"), F.max("bucket_start").alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        # changes existed but every (insert, delete) pair cancelled
        # (a cancelling pair cannot change COUNT(col)/sketch state either:
        # the deleted row IS the inserted row, value for value)
        with lake.transaction() as tx:
            d.stamp(tx, name, v1)
        return {"from_version": v0, "to_version": v1, "changed_buckets": 0}
    if nonadditive:
        return _refresh_recompute(lake, name, d, delta, bounds, v0, v1)
    old = lake.read(name, where=(
        f"bucket_start >= '{bounds['lo']}' AND bucket_start <= '{bounds['hi']}'"
    ))
    join_keys = ["bucket_start", *d.keys]
    merged = (
        delta.alias("d")
        .join(old.alias("o"), join_keys, "left")
        .select(
            *join_keys,
            (
                F.coalesce(F.col("o.n_rows"), F.lit(0))
                + F.col("d.n_rows")
            ).cast("bigint").alias("n_rows"),
            *[
                (
                    F.coalesce(F.col(f"o.sum_{c}"), F.lit(0.0))
                    + F.col(f"d.sum_{c}")
                ).alias(f"sum_{c}")
                for c in d.sum_cols
            ],
            *[
                (
                    F.coalesce(F.col(f"o.sumsq_{c}"), F.lit(0.0))
                    + F.col(f"d.sumsq_{c}")
                ).alias(f"sumsq_{c}")
                for c in d.var_cols
            ],
            *[
                (
                    F.coalesce(F.col(f"o.count_{c}"), F.lit(0))
                    + F.col(f"d.count_{c}")
                ).cast("bigint").alias(f"count_{c}")
                for c in d.count_cols
            ],
            *[
                # new bucket: the delta sketch stands alone; existing
                # bucket: union (insert-only path — deletes recompute)
                F.when(
                    F.col(f"o.hll_{c}").isNull(), F.col(f"d.hll_{c}")
                )
                .otherwise(
                    F.expr(f"hll_union(o.hll_{c}, d.hll_{c})")
                )
                .alias(f"hll_{c}")
                for c in d.approx_cols
            ],
        )
    )
    merged = merged.persist()  # count + two merges share one execution
    try:
        upserts = merged.filter(F.col("n_rows") > 0)
        gone = merged.filter(F.col("n_rows") <= 0)
        n_changed = merged.count()
        with lake.transaction() as tx:
            tx.merge(name, upserts, on=join_keys,
                     when_matched="update", when_not_matched="insert")
            tx.merge(name, gone, on=join_keys,
                     when_matched="delete", when_not_matched="skip")
            d.stamp(tx, name, v1)
    finally:
        merged.unpersist()
    return {
        "from_version": v0,
        "to_version": v1,
        "changed_buckets": n_changed,
    }


def _src_touched(lake, src: str, v0: int, v1: int) -> bool:
    """True iff any snapshot in (v0, v1] touched ``src`` under ANY change
    key (created/inserted_into/updated/deleted_from/altered/...; unknown
    future keys count as touched — a false positive only costs an empty
    diff walk, a false negative would silently stale the rollup). Read from
    the snapshot log's changes payload (driver-side scan of the listing; at
    a scale where snapshots number millions this becomes one SQL filter on
    the catalog DB, same information)."""
    for s in lake.snapshots():
        if v0 < s["snapshot_id"] <= v1:
            for tables in s["changes"].values():
                if isinstance(tables, (list, tuple)) and src in tables:
                    return True
    return False


def _refresh_full_recompute(lake, name, d: RollupDef, v0, v1) -> dict:
    """Rebuild the whole rollup from the source at ``v1`` (the expired-base
    escape hatch): one delete + one insert + the meta stamp in a single
    catalog transaction, so readers never observe a half-rebuilt rollup."""
    df = d.state(lake.read(d.src, version=v1))
    with lake.transaction() as tx:
        tx.delete(name)
        n = tx.insert(name, df)
        d.stamp(tx, name, v1)
    return {"from_version": v0, "to_version": v1, "changed_buckets": n}


def _refresh_recompute(
    lake, name, d: RollupDef, delta, bounds, v0, v1
) -> dict:
    """Non-additive refresh: re-aggregate the touched (bucket, keys) groups
    from the CURRENT source and MERGE them in; groups whose rows all
    vanished are deleted. The source read is pruned to the touched bucket
    time range when the rollup has a time column (raw-column predicate so
    catalog stats can skip files)."""
    join_keys = ["bucket_start", *d.keys]
    touched = delta.select(*join_keys).distinct()
    # Pin the recompute at v1 (the version the diff was taken against):
    # under concurrent writers a commit landing between current_version()
    # and this read would otherwise leak data newer than the stamped
    # last_version, breaking the rollup==recompute-at-last_version
    # invariant until the next refresh happened to run.
    src = lake.read(d.src, version=v1)
    if d.time_col is not None:
        ts = f"cast({d.time_col} as timestamp)"
        # bounds["hi"] is the START of the last touched bucket
        src = src.filter(
            f"{ts} >= '{bounds['lo']}' AND {ts} < timestamp'{bounds['hi']}'"
            f" + INTERVAL {d.bucket_s} SECONDS"
        )
    regroup = d.state(src)
    # persist: count + merge would otherwise re-run the touched-bucket
    # re-aggregation (the dominant cost of this path) up to four times
    fresh = regroup.join(touched, join_keys, "inner").persist()
    gone = touched.join(regroup, join_keys, "left_anti").persist()
    try:
        n_changed = fresh.count() + gone.count()
        with lake.transaction() as tx:
            tx.merge(name, fresh, on=join_keys,
                     when_matched="update", when_not_matched="insert")
            tx.merge(name, gone, on=join_keys,
                     when_matched="delete", when_not_matched="skip")
            d.stamp(tx, name, v1)
    finally:
        fresh.unpersist()
        gone.unpersist()
    return {
        "from_version": v0,
        "to_version": v1,
        "changed_buckets": n_changed,
    }


def apply_retention(lake, name: str, drop_before: str) -> int:
    """Retention policy for a time-bucketed rollup (the TimescaleDB
    ``add_retention_policy`` idea as an explicit verb): expire every
    bucket strictly before ``drop_before`` and remember the horizon in
    the meta row — ONE catalog transaction, so readers see the expiry
    and the recorded policy atomically, and AT (VERSION =>) reads of
    earlier snapshots still show the expired buckets (time travel is the
    archive). Every refresh path filters folded/recomputed buckets by
    the stored horizon, so late-arriving source rows (or the
    expired-base full recompute) can never resurrect expired buckets.
    Returns the number of expired rollup rows."""
    d = _require(lake, name)
    if not d.time_col:
        raise RollupError(
            f"{name!r} is a keys-only materialized view (no time bucket): "
            "retention needs a time-bucketed rollup"
        )
    # strict literal check: this value lands inside DELETE/refresh
    # predicates as a timestamp literal, so only ISO date[time] passes
    ts = drop_before.strip()
    try:
        _dt.datetime.fromisoformat(ts)
    except ValueError:
        raise RollupError(
            f"drop_before must be an ISO date/timestamp, got {ts!r}"
        ) from None
    prev = d.retain_after
    if prev and _dt.datetime.fromisoformat(prev) > _dt.datetime.fromisoformat(ts):
        raise RollupError(
            f"retention horizon may only advance (current {prev!r}, "
            f"got {ts!r}): expired buckets are already gone at HEAD"
        )
    d.retain_after = ts
    with lake.transaction() as tx:
        if "retain_after" not in d.columns:
            # meta written before retention existed: widen it in the same
            # transaction so the row below can carry the horizon
            tx.add_column(meta_table(name), "retain_after", "string")
            d.columns += ("retain_after",)
        n = tx.delete(name, f"bucket_start < timestamp'{ts}'")
        d.write(tx, name)
    return n
