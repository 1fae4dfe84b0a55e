"""Result checking, outside the timed window.

Query results are compared to the registry's DuckDB ``oracle`` SQL run on
the same parquet files: same column names, same row count, and the same
rows up to float tolerance, in any order. An op whose result hash is
recorded for the scale factor in ``recorded_hashes.json`` (``results``) is
compared to that hash instead; this covers ops without an oracle and ops
whose oracle is too slow to run in every benchmark run (c04's takes over
three minutes at sf0.1 on 4 cores). A hash is recorded only after its
result matched the oracle.

The lake stream is replayed statement by statement in DuckDB. Every read
is compared to the replay's answer at the same point of the stream (for
``AT (VERSION => v)``, the replay's row count after the last write that
had published version ``v``), and the final head to the replay's table.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

import duckdb

from ducktales_spark.data import TABLES

REL_TOL = 1e-6
ABS_TOL = 1e-6
RECORDED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "recorded_hashes.json")


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # a nested Row
        return tuple(_norm(x) for x in v)
    return v


def _key(v):
    """Sort key that puts float-jittered twins next to each other."""
    if isinstance(v, float):
        return ("f", float(f"{v:.6g}") if math.isfinite(v) else repr(v))
    if isinstance(v, tuple):
        return ("t", tuple(_key(x) for x in v))
    return (type(v).__name__, repr(v))


def canonical(cols, rows) -> tuple:
    """(sorted lower-case column names, rows reordered to match and
    sorted) — the order-insensitive form both sides are compared in."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(_key(v) for v in r))
    return [cols[i] for i in order], out


def value_hash(cols, rows) -> str:
    c, r = canonical(cols, rows)
    return hashlib.sha1(repr((c, r)).encode()).hexdigest()


def rounded_hash(cols, rows) -> str:
    """Hash with floats at 6 significant digits, stable across runs."""
    c, r = canonical(cols, rows)

    def rnd(v):
        if isinstance(v, float):
            return _key(v)
        if isinstance(v, tuple):
            return tuple(rnd(x) for x in v)
        return v

    return hashlib.sha1(repr((c, [tuple(rnd(v) for v in x) for x in r])).encode()).hexdigest()


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, decimal.Decimal) or isinstance(b, decimal.Decimal):
        return type(a) is type(b) and str(a) == str(b)
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
            return math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def same_result(cols_a, rows_a, cols_b, rows_b) -> bool:
    ca, ra = canonical(cols_a, rows_a)
    cb, rb = canonical(cols_b, rows_b)
    if ca != cb or len(ra) != len(rb):
        return False
    return all(_close(x, y) for x, y in zip(ra, rb))


class QueryChecker:
    """Collects each op's distinct results during the window; ``verify``
    then checks every distinct result once."""

    def __init__(self, specs, sf_dir: str, sf: float):
        self.specs, self.sf_dir = specs, sf_dir
        with open(RECORDED) as f:
            self.recorded = json.load(f)["results"].get(str(sf), {})
        self.seen: dict = {}  # (name, exact hash) -> (cols, rows)

    def record(self, name: str, cols, rows) -> tuple:
        key = (name, value_hash(cols, rows))
        self.seen.setdefault(key, (cols, rows))
        return key

    def verify(self) -> dict:
        """(name, hash) -> True when that result is correct."""
        con = duck(self.sf_dir)
        ok = {}
        expected: dict = {}
        for (name, h), (cols, rows) in self.seen.items():
            oracle = self.specs[name].oracle
            if name in self.recorded or not oracle:
                ok[(name, h)] = self.recorded.get(name) == rounded_hash(cols, rows)
                continue
            if name not in expected:
                res = con.execute(oracle)
                expected[name] = ([d[0] for d in res.description], res.fetchall())
            ok[(name, h)] = same_result(cols, rows, *expected[name])
        con.close()
        return ok


def replay_lake(sf_dir: str, stream: list) -> tuple:
    """Replay the lake stream in DuckDB.

    ``stream`` is the executed op list: dicts with ``kind``, ``duck`` (the
    DuckDB statements), ``snapshot`` (the lake version after the op) and,
    for reads, ``cols``/``rows`` (the lake's answer). Returns (per-op ok
    list, replay connection, user rows written per op)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'")
    count_at: list = []  # (snapshot, head row count) after each write
    ok, user_rows = [], []
    for op in stream:
        if "error" in op:  # the lake rejected it whole, so the replay skips it
            ok.append(False)
            user_rows.append(0)
            continue
        if op["kind"] == "read_version":
            v = op["version"]
            n = [c for s, c in count_at if s <= v][-1]
            ok.append(same_result(op["cols"], op["rows"], ["n"], [(n,)]))
            user_rows.append(0)
            continue
        if op["kind"] == "read_head":
            res = con.execute(op["duck"][0])
            exp = ([d[0] for d in res.description], res.fetchall())
            ok.append(same_result(op["cols"], op["rows"], *exp))
            user_rows.append(0)
            continue
        rows = 0
        for stmt in op["duck"]:
            r = con.execute(stmt).fetchone()
            rows += int(r[0]) if r and isinstance(r[0], int) else 0
        user_rows.append(rows if op["kind"] != "delete" else 0)
        count_at.append((op["snapshot"], con.execute("SELECT count(*) FROM o").fetchone()[0]))
        ok.append(True)
    return ok, con, user_rows
