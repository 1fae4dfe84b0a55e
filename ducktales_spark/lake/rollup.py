"""Continuous aggregates ("hypertable rollup") over lake tables.

A rollup is a lake table holding time-bucketed additive aggregates
(COUNT + SUMs, optionally grouped) of a source lake table, plus a tiny meta
table recording its definition and the catalog snapshot it reflects.
``refresh`` advances it INCREMENTALLY: the row-level diff between the last
refreshed snapshot and now (``table_changes``, T4) is folded into per-bucket
deltas (+1/-1 signed), and only the affected buckets are touched — the
TimescaleDB/Materialize continuous-aggregate model, built from this repo's
own CDC + MERGE primitives instead of a bespoke engine.

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

import json
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from .catalog import local_df


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


def _agg_exprs(
    sum_cols: tuple,
    sign=None,
    minmax_cols: tuple = (),
    count_cols: tuple = (),
    approx_cols: tuple = (),
    distinct_cols: tuple = (),
    var_cols: tuple = (),
):
    n = F.sum(sign) if sign is not None else F.count(F.lit(1))
    out = [n.cast("bigint").alias("n_rows")]
    for c in sum_cols:
        v = F.col(c) * sign if sign is not None else F.col(c)
        out.append(F.sum(v).alias(f"sum_{c}"))
    for c in var_cols:
        # sum of squares: additive exactly like sum (a delete subtracts
        # v^2), carried in DOUBLE — variance is a float-domain statistic
        # and squaring a wide decimal would overflow its precision. The
        # read face derives var_/stddev_ from (sumsq, sum, count); the
        # usual sum-of-squares cancellation caveat applies at extreme
        # mean/variance ratios (the trade every additive engine makes).
        sq = F.col(c).cast("double") * F.col(c).cast("double")
        v = sq * sign if sign is not None else sq
        out.append(F.sum(v).alias(f"sumsq_{c}"))
    for c in count_cols:  # COUNT(col): null-skipping, signed => additive
        v = (
            F.sum(F.when(F.col(c).isNotNull(), sign).otherwise(0))
            if sign is not None
            else F.count(F.col(c))
        )
        out.append(v.cast("bigint").alias(f"count_{c}"))
    for c in approx_cols:
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
    for c in minmax_cols:  # only on recompute paths (sign is None)
        out.append(F.min(c).alias(f"min_{c}"))
        out.append(F.max(c).alias(f"max_{c}"))
    for c in distinct_cols:  # exact COUNT(DISTINCT): recompute paths only
        out.append(F.count_distinct(F.col(c)).alias(f"distinct_{c}"))
    return out


def _meta_name(name: str) -> str:
    return f"{name}__rollup_meta"


# the column shape every decoy guard checks before trusting (or reading)
# a *__rollup_meta table — ONE definition so the guards can never drift
META_REQUIRED_COLS = frozenset({"src", "bucket_s", "sum_cols", "last_version"})


def _where_of(m) -> Optional[str]:
    """The rollup's WHERE predicate ('' / missing column = unfiltered —
    metas written before filtered MVs existed simply have none)."""
    d = m.asDict() if hasattr(m, "asDict") else dict(m)
    return d.get("where_sql") or None


def _having_of(m) -> Optional[str]:
    """The rollup's HAVING predicate over its READ FACE ('' / missing
    column = none — metas written before HAVING existed simply have
    none). Unlike where_sql (which filters source rows before they enter
    the maintained state), having_sql filters GROUPS at read time: the
    state is always maintained unfiltered, so a group that later crosses
    the threshold (in either direction) appears/disappears exactly as a
    from-scratch GROUP BY ... HAVING recompute would show it."""
    d = m.asDict() if hasattr(m, "asDict") else dict(m)
    return d.get("having_sql") or None


def _retain_of(m) -> Optional[str]:
    """The rollup's retention horizon: buckets strictly BEFORE this
    timestamp are expired ('' / missing column = keep everything — metas
    written before retention existed simply have none)."""
    d = m.asDict() if hasattr(m, "asDict") else dict(m)
    return d.get("retain_after") or None


def _retention_filter(df: DataFrame, m) -> DataFrame:
    """Drop sub-horizon buckets from a refresh-path frame so a refresh
    (incremental fold, partial recompute, or the expired-base full
    recompute) can never resurrect buckets a retention policy expired."""
    r = _retain_of(m)
    if not r:
        return df
    return df.filter(F.col("bucket_start") >= F.expr(f"timestamp'{r}'"))


def _key_exprs_of(m) -> dict:
    """The rollup's expression-key map {stored_column_alias: sql_expr}
    ({} / missing column = every key is a plain source column — metas
    written before expression keys existed simply have none)."""
    d = m.asDict() if hasattr(m, "asDict") else dict(m)
    s = d.get("key_exprs")
    return json.loads(s) if s else {}


def _key_group_cols(keys, key_exprs):
    """Source-side grouping columns: plain keys by name, expression keys
    computed and stored under their alias. Every refresh path and the
    create both group through this — the single place the expr evaluates,
    so incremental and recompute can never disagree on a key's value."""
    ke = key_exprs or {}
    return [
        F.expr(ke[k]).alias(k) if k in ke else F.col(k) for k in keys
    ]


def scan_sql_identifiers(text: str, with_qualifiers: bool = False):
    """Yield column-like identifier spans in one SQL expression:
    quote-aware (string literals skipped, '' escapes handled), and an
    identifier immediately followed by ``(`` is a FUNCTION name, not a
    column reference. The SINGLE scanner shared by predicate-column
    discovery, rename follow-through (rewriting a stored predicate), and
    the MERGE expression rewriter — one place to fix quoting/keyword
    handling.

    ``with_qualifiers=False`` (default): yields ``(start, end, name)``
    for BARE identifiers only — a dotted pair like ``a.b`` yields both
    parts separately (callers matching plain column names are unaffected:
    qualifiers aren't column names).
    ``with_qualifiers=True``: yields ``(start, end, name, qualifier)``
    where a dotted reference ``q.c`` arrives as ONE span with
    qualifier='q' and bare identifiers carry qualifier=None."""
    import re as _re

    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        m = _re.match(r"[A-Za-z_][A-Za-z0-9_]*", text[i:])
        if not m:
            i += 1
            continue
        j = i + m.end()
        if with_qualifiers:
            mq = _re.match(r"\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)", text[j:])
            if mq:
                yield (i, j + mq.end(), mq.group(1), m.group(0))
                i = j + mq.end()
                continue
        k = j
        while k < n and text[k].isspace():
            k += 1
        if not (k < n and text[k] == "("):
            if with_qualifiers:
                yield (i, j, m.group(0), None)
            else:
                yield (i, j, m.group(0))
        i = j


def map_sql_nonliteral(text: str, fn, literal_fn=None) -> str:
    """Apply ``fn`` to the segments of ``text`` OUTSIDE single-quoted
    string literals (''-escape aware), copying literals verbatim (or
    through ``literal_fn``) — the ONE literal-walk shared by the HAVING
    aggregate rewriter, SQL-text normalization, and literal stripping,
    using the same quoting rules as :func:`scan_sql_identifiers` (a
    future quoting fix lands in all of them)."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text[i] == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            lit = text[i : j + 1]
            out.append(lit if literal_fn is None else literal_fn(lit))
            i = j + 1
        else:
            j = text.find("'", i)
            seg = text[i:] if j < 0 else text[i:j]
            out.append(fn(seg))
            i = n if j < 0 else j
    return "".join(out)


def strip_sql_literals(text: str) -> str:
    """Replace every string literal with an empty ``''`` so substring /
    identifier scans can never match literal CONTENT — the shared
    replacement for ad-hoc literal-stripping regexes."""
    return map_sql_nonliteral(
        text, lambda s: s, literal_fn=lambda _s: "''"
    )


def rewrite_sql_identifiers(text: str, mapping: dict) -> str:
    """Replace bare identifiers per ``mapping`` (case-insensitive keys),
    leaving literals and function names alone."""
    low = {k.lower(): v for k, v in mapping.items()}
    out, prev = [], 0
    for s, e, name in scan_sql_identifiers(text):
        rep = low.get(name.lower())
        if rep is not None:
            out.append(text[prev:s])
            out.append(rep)
            prev = e
    out.append(text[prev:])
    return "".join(out)


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
    keys, sum_cols = tuple(keys), tuple(sum_cols)
    minmax_cols = tuple(minmax_cols)
    count_cols, approx_cols = tuple(count_cols), tuple(approx_cols)
    distinct_cols, var_cols = tuple(distinct_cols), tuple(var_cols)
    for c in var_cols:
        if c not in sum_cols or c not in count_cols:
            raise RollupError(
                f"VAR/STDDEV column {c!r} needs SUM({c}) and COUNT({c}) "
                "maintained too (the read-face formula divides by the "
                "null-skipping count): add both"
            )
    key_exprs = dict(key_exprs or {})
    for alias in key_exprs:
        if alias not in keys:
            raise RollupError(
                f"key_exprs alias {alias!r} is not a key (add it to keys)"
            )
    version = lake.current_version()
    base = lake.read(src, version=version)
    types = dict(base.dtypes)
    for c in sum_cols:
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
    if where:
        # filtered continuous aggregate (``WHERE`` over SOURCE columns):
        # maintainable because the CDC diff rows carry those columns, so
        # every refresh path applies the same predicate to the diff /
        # recompute input. Catalog-side stats skipping makes this filter a
        # file-pruning read at create time, too.
        base = base.filter(F.expr(where))
    df = (
        base
        .groupBy(
            _bucket_expr(time_col, bucket_s).alias("bucket_start"),
            *_key_group_cols(keys, key_exprs),
        )
        .agg(
            *_agg_exprs(
                sum_cols,
                minmax_cols=minmax_cols,
                count_cols=count_cols,
                approx_cols=approx_cols,
                distinct_cols=distinct_cols,
                var_cols=var_cols,
            )
        )
    )
    meta_dict = {
        "sum_cols": json.dumps(list(sum_cols)),
        "approx_cols": json.dumps(list(approx_cols)),
        "count_cols": json.dumps(list(count_cols)),
        "var_cols": json.dumps(list(var_cols)),
    }
    if having:
        # analyze the predicate against the (empty) read face BEFORE the
        # transaction: under replace=True a typo'd HAVING must fail here
        # with the existing rollup untouched
        try:
            apply_read_face(df.limit(0), meta_dict).filter(
                F.expr(having)
            ).schema
        except Exception as e:
            raise RollupError(f"invalid HAVING predicate: {e}") from None
    with lake.transaction() as tx:
        if replace:
            existing = set(lake.tables())
            if name in existing:
                tx.drop_table(name)
            if _meta_name(name) in existing:
                tx.drop_table(_meta_name(name))
        # bucket-clustered so stats pruning on bucket_start acts as
        # partition pruning for refreshes and reads
        tx.ctas(name, df, partition_by=("bucket_start",))
        meta = local_df(
            lake.spark,
            [
                (
                    src,
                    time_col or "",  # "" = keys-only materialized view
                    bucket_s,
                    json.dumps(list(keys)),
                    json.dumps(list(sum_cols)),
                    json.dumps(list(minmax_cols)),
                    json.dumps(list(count_cols)),
                    json.dumps(list(approx_cols)),
                    json.dumps(list(distinct_cols)),
                    where or "",  # "" = unfiltered
                    json.dumps(key_exprs),  # {} = all keys plain columns
                    having or "",  # "" = no read-face group filter
                    json.dumps(list(var_cols)),
                    "",  # retain_after: no retention policy yet
                    version,
                )
            ],
            "src string, time_col string, bucket_s bigint, "
            "keys string, sum_cols string, minmax_cols string, "
            "count_cols string, approx_cols string, distinct_cols string, "
            "where_sql string, key_exprs string, having_sql string, "
            "var_cols string, retain_after string, last_version bigint",
        )
        tx.ctas(_meta_name(name), meta)


def _meta_list(m, key: str) -> tuple:
    """JSON list column from a meta row, () when the column predates the
    feature (meta written by an older create_rollup has no count/approx/
    distinct columns — those rollups simply maintain none)."""
    d = m.asDict() if hasattr(m, "asDict") else dict(m)
    s = d.get(key)
    return tuple(json.loads(s)) if s else ()


def apply_read_face(df: DataFrame, meta_row) -> DataFrame:
    """Apply the rollup read-face contract to a stored-state DataFrame:
    ``avg_<c>`` = sum/n for every sum column, ``approx_distinct_<c>`` = the
    HLL estimate for every sketch column with the raw binary ``hll_<c>``
    state dropped (an implementation detail, like Timescale's partials).
    SINGLE source of truth — read_rollup, the SQL executor's MV overlay,
    and its AT-version rewrite all derive their faces here, so they can
    never drift."""
    for c in _meta_list(meta_row, "sum_cols"):
        df = df.withColumn(f"avg_{c}", F.col(f"sum_{c}") / F.col("n_rows"))
    for c in _meta_list(meta_row, "var_cols"):
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
    for c in _meta_list(meta_row, "approx_cols"):
        df = df.withColumn(
            f"approx_distinct_{c}",
            F.coalesce(
                F.hll_sketch_estimate(F.col(f"hll_{c}")), F.lit(0)
            ).cast("bigint"),
        ).drop(f"hll_{c}")
    having = _having_of(meta_row)
    if having:
        # read-time group filter (see _having_of): applied AFTER the
        # derived columns so HAVING may reference avg_/approx_distinct_
        df = df.filter(F.expr(having))
    return df


def derived_columns(meta_row) -> list:
    """DESCRIBE's view of the read face: [(column_name, ddl_type,
    hidden_stored_column_or_None)] — the companion of apply_read_face."""
    out = [
        (f"avg_{c}", "DOUBLE", None)
        for c in _meta_list(meta_row, "sum_cols")
    ]
    for c in _meta_list(meta_row, "var_cols"):
        out.append((f"var_{c}", "DOUBLE", None))
        out.append((f"stddev_{c}", "DOUBLE", None))
    out += [
        (f"approx_distinct_{c}", "BIGINT", f"hll_{c}")
        for c in _meta_list(meta_row, "approx_cols")
    ]
    return out


def read_rollup(lake, name: str, version: Optional[int] = None) -> DataFrame:
    """The rollup's read face (see apply_read_face). Aggregates that are
    NOT derivable from the maintained state — stddev, percentiles — are
    deliberately absent: maintaining them incrementally requires the
    minmax-style partial-recompute path (re-aggregate touched buckets from
    the source), not a read-time formula. Keys-only materialized views
    read identically (their single epoch-0 bucket included)."""
    meta_rows = lake.read(_meta_name(name), version=version).collect()
    if len(meta_rows) != 1:
        raise RollupError(f"rollup meta for {name!r} is corrupt")
    return apply_read_face(lake.read(name, version=version), meta_rows[0])


def refresh_rollup(lake, name: str) -> dict:
    """Fold source changes since the last refresh into the rollup.
    Returns {"from_version", "to_version", "changed_buckets"}."""
    meta_rows = lake.read(_meta_name(name)).collect()
    if len(meta_rows) != 1:
        raise RollupError(f"rollup meta for {name!r} is corrupt")
    m = meta_rows[0]
    keys = tuple(json.loads(m["keys"]))
    key_exprs = _key_exprs_of(m)
    sum_cols = tuple(json.loads(m["sum_cols"]))
    minmax_cols = tuple(json.loads(m["minmax_cols"]))
    count_cols = _meta_list(m, "count_cols")
    approx_cols = _meta_list(m, "approx_cols")
    distinct_cols = _meta_list(m, "distinct_cols")
    var_cols = _meta_list(m, "var_cols")
    v0, v1 = int(m["last_version"]), lake.current_version()
    if v0 not in {s["snapshot_id"] for s in lake.snapshots()} and v0 < v1:
        # The stamped base snapshot was retired by expire_snapshots: the
        # CDC diff (and the partial-recompute bounds derived from it) can
        # no longer be computed, and without this fallback the rollup
        # would be permanently unrefreshable. Full recompute at v1 — the
        # same answer the incremental path converges to, at O(source)
        # cost once; subsequent refreshes are incremental again.
        return _refresh_full_recompute(
            lake, name, m, keys, sum_cols, minmax_cols, v0, v1,
            count_cols, approx_cols, distinct_cols, var_cols,
        )
    if v1 <= v0 or not _src_touched(lake, m["src"], v0, v1):
        # Metadata-only no-op: the snapshot log records which tables each
        # snapshot touched, so a refresh when the source didn't change never
        # walks a row-level diff (and doesn't write a snapshot of its own —
        # otherwise every no-op refresh would mint one). The rollup's own
        # create/refresh snapshots land in (v0, v1] and are skipped the same
        # way.
        return {"from_version": v0, "to_version": v0, "changed_buckets": 0}

    changes = lake.table_changes(m["src"], v0, v1)
    where = _where_of(m)
    if where:
        # filtered MV: the predicate applies to the DIFF rows by their own
        # values — an UPDATE that moves a row across the predicate boundary
        # arrives as delete(old)+insert(new), each judged on its own row,
        # so membership changes fold correctly. Deletes OUTSIDE the
        # predicate also stop forcing the approx recompute path below.
        changes = changes.filter(F.expr(where))
    nonadditive = bool(minmax_cols or distinct_cols)
    if approx_cols and not nonadditive:
        # HLL sketches union but never subtract: any delete in the diff
        # invalidates sketch folding for its buckets, so the whole refresh
        # routes through partial recompute. Insert-only diffs (the
        # append-mostly common case) stay on the O(changes) fast path with
        # the delta sketches hll_union-ed in. One cheap existence probe on
        # the (already narrow) CDC diff decides.
        nonadditive = bool(
            changes.filter(F.col("change_type") == "delete").take(1)
        )
    sign = F.when(F.col("change_type") == "insert", 1).otherwise(-1)
    delta = (
        changes.groupBy(
            _bucket_expr(m["time_col"] or None, int(m["bucket_s"])).alias(
                "bucket_start"
            ),
            *_key_group_cols(keys, key_exprs),
        )
        .agg(
            *_agg_exprs(
                sum_cols,
                sign=sign,
                count_cols=count_cols,
                approx_cols=() if nonadditive else approx_cols,
                var_cols=var_cols,
            )
        )
    )
    delta = _retention_filter(delta, m)
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
        _stamp_meta(lake, name, m, v1)
        return {"from_version": v0, "to_version": v1, "changed_buckets": 0}
    if nonadditive:
        return _refresh_recompute(
            lake, name, m, keys, sum_cols, minmax_cols, delta, bounds,
            v0, v1, count_cols, approx_cols, distinct_cols, var_cols,
        )
    old = lake.read(name, where=(
        f"bucket_start >= '{bounds['lo']}' AND bucket_start <= '{bounds['hi']}'"
    ))
    join_keys = ["bucket_start", *keys]
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
                for c in sum_cols
            ],
            *[
                (
                    F.coalesce(F.col(f"o.sumsq_{c}"), F.lit(0.0))
                    + F.col(f"d.sumsq_{c}")
                ).alias(f"sumsq_{c}")
                for c in var_cols
            ],
            *[
                (
                    F.coalesce(F.col(f"o.count_{c}"), F.lit(0))
                    + F.col(f"d.count_{c}")
                ).cast("bigint").alias(f"count_{c}")
                for c in count_cols
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
                for c in approx_cols
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
            _stamp_meta_tx(tx, lake, name, m, v1)
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


def _stamp_meta(lake, name: str, m, version: int) -> None:
    with lake.transaction() as tx:
        _stamp_meta_tx(tx, lake, name, m, version)


def _stamp_meta_tx(tx, lake, name: str, m, version: int) -> None:
    # carry every meta column the row actually has (metas written before
    # count/approx/distinct existed keep their narrower schema), restamping
    # only last_version
    row = m.asDict() if hasattr(m, "asDict") else dict(m)
    row["bucket_s"] = int(row["bucket_s"])
    row["last_version"] = version
    tx.delete(_meta_name(name))
    tx.insert_rows(_meta_name(name), [row])


def _refresh_full_recompute(
    lake, name, m, keys, sum_cols, minmax_cols, v0, v1,
    count_cols=(), approx_cols=(), distinct_cols=(), var_cols=(),
) -> dict:
    """Rebuild the whole rollup from the source at ``v1`` (the expired-base
    escape hatch): one delete + one insert + the meta stamp in a single
    catalog transaction, so readers never observe a half-rebuilt rollup."""
    base = lake.read(m["src"], version=v1)
    where = _where_of(m)
    if where:
        base = base.filter(F.expr(where))
    df = (
        base
        .groupBy(
            _bucket_expr(m["time_col"] or None, int(m["bucket_s"])).alias(
                "bucket_start"
            ),
            *_key_group_cols(keys, _key_exprs_of(m)),
        )
        .agg(
            *_agg_exprs(
                sum_cols,
                minmax_cols=minmax_cols,
                count_cols=count_cols,
                approx_cols=approx_cols,
                distinct_cols=distinct_cols,
                var_cols=var_cols,
            )
        )
    )
    df = _retention_filter(df, m)
    with lake.transaction() as tx:
        tx.delete(name)
        n = tx.insert(name, df)
        _stamp_meta_tx(tx, lake, name, m, v1)
    return {"from_version": v0, "to_version": v1, "changed_buckets": n}


def _refresh_recompute(
    lake, name, m, keys, sum_cols, minmax_cols, delta, bounds, v0, v1,
    count_cols=(), approx_cols=(), distinct_cols=(), var_cols=(),
) -> dict:
    """Non-additive refresh: re-aggregate the touched (bucket, keys) groups
    from the CURRENT source and MERGE them in; groups whose rows all
    vanished are deleted. The source read is pruned to the touched bucket
    time range when the rollup has a time column (raw-column predicate so
    catalog stats can skip files)."""
    time_col = m["time_col"] or None
    join_keys = ["bucket_start", *keys]
    touched = delta.select(*join_keys).distinct()
    # Pin the recompute at v1 (the version the diff was taken against):
    # under concurrent writers a commit landing between current_version()
    # and this read would otherwise leak data newer than the stamped
    # last_version, breaking the rollup==recompute-at-last_version
    # invariant until the next refresh happened to run.
    src = lake.read(m["src"], version=v1)
    where = _where_of(m)
    if where:
        src = src.filter(F.expr(where))
    if time_col is not None:
        hi_excl = bounds["hi"]  # bucket START of the last touched bucket
        src = src.filter(
            f"cast({time_col} as timestamp) >= '{bounds['lo']}' AND "
            f"cast({time_col} as timestamp) < timestamp'{hi_excl}' + "
            f"INTERVAL {int(m['bucket_s'])} SECONDS"
        )
    regroup = (
        src.groupBy(
            _bucket_expr(time_col, int(m["bucket_s"])).alias("bucket_start"),
            *_key_group_cols(keys, _key_exprs_of(m)),
        )
        .agg(
            *_agg_exprs(
                sum_cols,
                minmax_cols=minmax_cols,
                count_cols=count_cols,
                approx_cols=approx_cols,
                distinct_cols=distinct_cols,
                var_cols=var_cols,
            )
        )
    )
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
            _stamp_meta_tx(tx, lake, name, m, v1)
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
    import datetime as _dt

    meta_rows = lake.read(_meta_name(name)).collect()
    if len(meta_rows) != 1:
        raise RollupError(f"rollup meta for {name!r} is corrupt")
    row = meta_rows[0].asDict()
    if not row.get("time_col"):
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
    prev = row.get("retain_after") or None
    if prev and _dt.datetime.fromisoformat(prev) > _dt.datetime.fromisoformat(ts):
        raise RollupError(
            f"retention horizon may only advance (current {prev!r}, "
            f"got {ts!r}): expired buckets are already gone at HEAD"
        )
    had_col = "retain_after" in row
    row["retain_after"] = ts
    row["bucket_s"] = int(row["bucket_s"])
    with lake.transaction() as tx:
        if not had_col:
            # meta written before retention existed: widen it in the same
            # transaction so the restamp below can carry the horizon
            tx.add_column(_meta_name(name), "retain_after", "string")
        n = tx.delete(name, f"bucket_start < timestamp'{ts}'")
        _stamp_meta_tx(tx, lake, name, row, int(row["last_version"]))
    return n
