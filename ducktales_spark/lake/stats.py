"""Per-file column statistics + predicate-based file skipping.

The reference models file-level min/max/null_count stats in catalog metadata
(``demos/04_small_file_optimization/demo.py:68,85-88,109-114,131-145``) and
exposes them via ``ducklake_table_info`` (``exploration/ducklake_analysis.sh:105``).
We collect them from parquet footers at commit time and use them to prune the
file list BEFORE constructing the DataFrame (driver-side, like Delta data
skipping — SURVEY.md §4). Parquet row-group stats then give a second,
built-in skipping layer inside the scan.

Scale note: footer reads are O(#staged files) per commit and happen where the
files were just written; at cluster scale the same stats arrive from executor
write-task metrics instead — the catalog schema doesn't change. Pruning keeps
UPDATE/DELETE/MERGE scanning only matching files, and merge-on-read writes a
delete file for each file holding a matched row instead of copying it, which
is what makes point-updates on a 100 TB table feasible.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
from decimal import Decimal
from typing import Any, Optional

from .lexer import split_top, tokens
from .schema import TableSchema, value_from_json, value_to_json

# Types whose min/max ordering matches Python's (-> safe to prune on).
_PRUNABLE = {"tinyint", "smallint", "int", "bigint", "float", "double", "date",
             "timestamp", "string", "boolean"}


def collect_file_stats(path: str, schema: TableSchema) -> tuple:
    """(row_count, file_bytes, col_stats_json) from one parquet file footer."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    mm_groups: dict = {}  # fid -> row groups contributing min/max
    null_groups: dict = {}  # fid -> row groups with a KNOWN null_count
    name_to_id = {f.name: f.field_id for f in schema.fields}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema.split(".")[0]
            fid = name_to_id.get(name)
            if fid is None:
                continue
            st = col.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[fid] = nulls.get(fid, 0) + st.null_count
                null_groups[fid] = null_groups.get(fid, 0) + 1
            try:
                if st.has_min_max:
                    mn, mx = st.min, st.max
                else:
                    continue
            except Exception:  # types pyarrow can't decode stats for
                continue
            mm_groups[fid] = mm_groups.get(fid, 0) + 1
            if fid not in mins or _lt(mn, mins[fid]):
                mins[fid] = mn
            if fid not in maxs or _lt(maxs[fid], mx):
                maxs[fid] = mx
    # a stat is usable only if EVERY row group contributed it: a partial
    # min/max (or null count) says nothing about the uncovered groups and
    # pruning on it would silently drop matching rows. Unknown null count
    # stores None -> the IS NULL branch treats it as 'may match'.
    n_rg = md.num_row_groups
    stats = {
        str(fid): {
            "min": value_to_json(
                mins.get(fid) if mm_groups.get(fid) == n_rg else None
            ),
            "max": value_to_json(
                maxs.get(fid) if mm_groups.get(fid) == n_rg else None
            ),
            "nulls": (
                nulls.get(fid) if null_groups.get(fid) == n_rg else None
            ),
        }
        for fid in set(mins) | set(maxs) | set(nulls)
    }
    import os

    return md.num_rows, os.path.getsize(path), json.dumps(stats)


def _lt(a, b) -> bool:
    try:
        return a < b
    except TypeError:
        return False


# --------------------------------------------------------------------------
# Conjunctive predicate parser for pruning. Full predicate evaluation happens
# in Spark; this only needs to answer "can this file possibly match?" for the
# common shapes (P3/P4/P6/P7): col <op> literal [AND ...], col IN (...),
# col IS [NOT] NULL. Anything it can't parse -> no pruning (scan all files),
# never wrong results.
# --------------------------------------------------------------------------

_CMP = re.compile(
    r"^\s*(\w+)\s*(=|==|!=|<>|<=|>=|<|>)\s*(.+?)\s*$", re.S
)
_IN = re.compile(r"^\s*(\w+)\s+IN\s*\((.+)\)\s*$", re.I | re.S)
_NULL = re.compile(r"^\s*(\w+)\s+IS\s+(NOT\s+)?NULL\s*$", re.I)


def _parse_literal(tok: str) -> Optional[Any]:
    tok = tok.strip()
    if re.fullmatch(r"-?\d+", tok):
        return int(tok)
    if re.fullmatch(r"-?\d*\.\d+([eE][+-]?\d+)?", tok):
        return float(tok)
    toks, q, body = tokens(tok), tok[:1], tok[1:-1]
    if (
        len(toks) == 1
        and toks[0].kind == "str"
        and q in ("'", '"')
        and len(tok) > 1
        and tok[-1] == q
        and q not in body.replace(q + q, "")
        and "\\" not in body
    ):
        # one terminated, non-raw string literal; one with backslash
        # escapes stays unparsed rather than decoded by a second rule set
        s = body.replace(q + q, q)
        for parse in (_dt.date.fromisoformat, _dt.datetime.fromisoformat):
            try:
                if re.fullmatch(r"\d{4}-\d{2}-\d{2}([ T].*)?", s):
                    return parse(s)
            except ValueError:
                pass
        return s
    if tok.upper() in ("TRUE", "FALSE"):
        return tok.upper() == "TRUE"
    return None  # expression, subquery, column ref -> unparseable


def parse_conjuncts(pred_sql: str) -> Optional[list]:
    """Split a WHERE-style predicate into [(col, op, value)] conjuncts.
    Returns None if any conjunct is unparseable (=> no pruning)."""
    out = []
    # split on top-level AND: a parenthesized/OR predicate, or the AND of
    # a BETWEEN, leaves a conjunct that fails to parse and disables pruning
    for part in split_top(pred_sql, "AND"):
        part = part.strip()
        m = _NULL.match(part)
        if m:
            out.append((m.group(1), "is_not_null" if m.group(2) else "is_null", None))
            continue
        m = _IN.match(part)
        if m:
            vals = [_parse_literal(v) for v in split_top(m.group(2))]
            if any(v is None for v in vals):
                return None
            out.append((m.group(1), "in", vals))
            continue
        m = _CMP.match(part)
        if m:
            col, op, lit = m.group(1), m.group(2), _parse_literal(m.group(3))
            if lit is None:
                return None
            out.append((col, {"==": "=", "<>": "!="}.get(op, op), lit))
            continue
        return None
    return out


def file_may_match(
    col_stats_json: Optional[str], conjuncts: Optional[list], schema: TableSchema
) -> bool:
    """min/max interval check: False only when NO row in the file can satisfy
    the predicate. Missing stats or unparseable predicate -> True."""
    if conjuncts is None or not col_stats_json:
        return True
    stats = json.loads(col_stats_json)
    for col, op, val in conjuncts:
        try:
            f = schema.field_by_name(col)  # CURRENT schema: name -> fid
        except KeyError:
            return True
        if f.type.split("(")[0] not in _PRUNABLE:
            continue  # type whose stats ordering we don't trust: may match
        fid = str(f.field_id)
        s = stats.get(fid)
        if s is None:
            continue
        mn = value_from_json(s.get("min"))
        mx = value_from_json(s.get("max"))
        if op == "is_null":
            # nulls is None when any row group lacked a null count -> the
            # file MAY contain NULLs; only a known 0 can prune
            if s.get("nulls", 1) == 0:
                return False
            continue
        if op == "is_not_null":
            continue  # nulls count doesn't tell us total rows; stay safe
        if mn is None or mx is None:
            continue
        if op == "in":
            # coerce each member; an un-coercible member MAY match (stay
            # safe), so it blocks pruning rather than counting as outside
            # the interval. (The scalar coercion below would turn the whole
            # list into None and skip this conjunct entirely.)
            coerced = [_coerce_like(v, mn) for v in val]
            try:
                if all(c is not None for c in coerced) and all(
                    c < mn or c > mx for c in coerced
                ):
                    return False
            except TypeError:
                pass
            continue
        val = _coerce_like(val, mn)
        if val is None:
            continue
        try:
            if op == "=" and (val < mn or val > mx):
                return False
            if op == "<" and mn >= val:
                return False
            if op == "<=" and mn > val:
                return False
            if op == ">" and mx <= val:
                return False
            if op == ">=" and mx < val:
                return False
            # op == "!=" prunes only single-value files; skip (rare win)
        except TypeError:
            continue
    return True


def _coerce_like(val: Any, ref: Any) -> Optional[Any]:
    """Coerce a parsed literal to the stats value's type for comparison."""
    if isinstance(ref, type(val)) or val is None:
        return val
    try:
        if isinstance(ref, _dt.datetime) and isinstance(val, _dt.date):
            return _dt.datetime(val.year, val.month, val.day)
        if isinstance(ref, _dt.date) and isinstance(val, _dt.datetime):
            return val.date()
        if isinstance(ref, (int, float)) and isinstance(val, (int, float)):
            return val
        if isinstance(ref, Decimal) and isinstance(val, (int, float, str)):
            return Decimal(str(val))
        if isinstance(ref, bytes) and isinstance(val, str):
            return val.encode()
    except Exception:
        return None
    return None
