"""SQL statement executor for the lake.

The reference's entire user surface is SQL strings driven through
``conn.execute(...)`` (``utils/ducklake_utils.py:53``; every demo) — DDL,
DML, transactions, and reads. This module gives ``LakeCatalog.sql()`` the
same statement coverage so a reference user can port scripts verbatim:

* ``BEGIN [TRANSACTION]`` / ``COMMIT`` / ``ROLLBACK``
  (demos/01_transaction_rollback/demo.py:85-104)
* ``USE <catalog>`` (demo.py:30) — an ATTACH'd name becomes the default
  catalog; any other name is the bound catalog
* ``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t (col TYPE [PRIMARY KEY]
  [NOT NULL] [DEFAULT expr], ..., [PRIMARY KEY (cols)]) [PARTITION BY
  (cols)]`` (demo.py:33-55); a type is one word with an optional ``(…)``
  or ``<…>`` group (``DECIMAL(10, 2)``, ``ARRAY<FLOAT>``)
* ``CREATE [OR REPLACE] TABLE t [PARTITION BY (cols)] AS <select>``
  (utils/ducklake_utils.py:101-111)
* ``CREATE [OR REPLACE] VIEW v AS <select>``
  (demos/03_schema_evolution/demo.py:273-288)
* ``CREATE [OR REPLACE] MATERIALIZED VIEW mv AS SELECT ...`` /
  ``REFRESH MATERIALIZED VIEW mv`` / ``DROP MATERIALIZED VIEW mv`` —
  the continuous-aggregate tier (:mod:`ducktales_spark.lake.rollup`)
  behind SQL, completing the reference's conn.execute()-everything
  ergonomics. The SELECT must be the incrementally-maintainable subset:
  ``SELECT <keys...>, [time_bucket(INTERVAL '1 hour', ts),]
  COUNT(*)/COUNT(col)/COUNT(DISTINCT col)/APPROX_COUNT_DISTINCT(col)/
  SUM/AVG/MIN/MAX/STDDEV/VARIANCE(col)... FROM <lake table> [WHERE <pred over source
  columns, no subqueries>] GROUP BY ... [HAVING <pred over the selected
  aggregates/keys>]`` — no JOIN (the same restriction TimescaleDB
  continuous aggregates and Materialize place on their incremental
  paths; the WHERE is maintainable because CDC diff rows carry the
  predicate columns — the reference's own summary-view pattern filters
  rows, demos/03_schema_evolution/demo.py:273-288 — and the HAVING is a
  READ-TIME group filter over the maintained face, so state for a group
  that dips below the threshold is never lost). Whether a name is an MV,
  and its definition, come from one lookup
  (:func:`~ducktales_spark.lake.rollup.find_rollup`): a plain table beside
  a user table named like an MV's meta companion is not an MV. Every SQL
  read of an MV — current, ``AT (VERSION|TIMESTAMP =>)``, attached, inside
  a view or a transaction — goes through
  :func:`~ducktales_spark.lake.rollup.apply_read_face`, so
  ``SELECT avg_<c> FROM mv`` works without hand-dividing and
  ``approx_distinct_<c>`` reads as the HLL estimate, never raw sketch
  bytes.
* ``DROP TABLE / DROP VIEW``
* ``ALTER TABLE t ADD COLUMN <column definition>`` / ``DROP COLUMN`` /
  ``RENAME COLUMN a TO b`` / ``ALTER COLUMN c SET NOT NULL``
  (demos/03_schema_evolution/demo.py:118,195,196,221) /
  ``ALTER COLUMN c [SET DATA] TYPE t`` (widening casts only —
  README.md:50 claims type changes; old files cast at read time)
* ``INSERT INTO t [(cols)] VALUES (...), (...)`` (demo 01:58-66) and
  ``INSERT INTO t [(cols)] <select>`` (demos/02_time_travel/demo.py:228-235);
  ``INSERT OR REPLACE|IGNORE INTO`` (DuckDB's ON CONFLICT shorthands,
  upsert/skip by PRIMARY KEY via the MERGE machinery)
* ``UPDATE t SET a = expr [, ...] [WHERE pred]`` (demo 01:96-102)
* ``DELETE FROM t [WHERE pred]`` (demos/02_time_travel/demo.py:112) and
  ``TRUNCATE [TABLE] t`` (DuckDB's spelling of the metadata-only full
  delete)
* ``COPY <table|(subquery)> TO '<path>' [(FORMAT PARQUET|CSV, ...)]`` —
  DuckDB's export verb: ``*.parquet``/``*.csv`` paths write ONE file
  (coalesced, DuckDB parity), any other path writes a directory of part
  files (the distributed scale path) — and its inverses: ``COPY t FROM
  '<path>'`` (transactional file ingestion through the normal insert
  path) and the ``read_parquet('path')`` / ``read_csv('path')`` table
  functions (files, part-file directories, or globs; csv auto-detects
  header + types like DuckDB)
* ``ATTACH '<path>' AS name`` / ``DETACH name`` — bind a SECOND lake
  catalog for qualified ``name.table`` reads and writes (the reference's
  side-by-side dev/prod migration, utils/ducklake_utils.py:27,
  demos/05_catalog_portability/demo.py:194-299), and ``COPY FROM
  DATABASE a TO b`` (DuckDB's whole-catalog migration verb; ``main``
  names the bound catalog).
* anything else -> read query via Catalyst; ``t AT (VERSION|TIMESTAMP =>
  x)`` reads ``t`` at that version (README.md:216-220)
* ``SELECT count(*)|count(1) [[AS] alias] FROM <name> [AT (VERSION|
  TIMESTAMP => x)]``, where the binder would read ``<name>`` as a lake
  table (bare, ``main.``/attached-qualified, under USE, at the
  ``version=`` argument or inside a transaction), is answered from the
  catalog like ``LakeCatalog.count`` (staged tables from their
  transaction state): one local row with Spark's column name and type,
  no scan and no Spark job: 11-14 ms against 0.10-0.15 s for the scan
  (sf0.1 ``orders`` with a delete file, 4 cores).
  A view, a materialized view, a session temp view, ``count(col)``, a
  WHERE, GROUP BY or join, and a table absent at that version run as
  queries

Statement text is read with one lexer (:mod:`~ducktales_spark.lake.lexer`)
that follows Spark's lexical rules: ``'…'`` and ``"…"`` are string literals
with backslash and doubled-quote escapes, ``R'…'`` is raw, a backticked name
is an identifier, ``--`` and nesting ``/* */`` are comments. Clause
boundaries (top-level commas, WHERE, WHEN, THEN, AND) are found among its
tokens, so a keyword, comma or semicolon inside a literal, identifier or
comment is never one. A statement's head — its verb, the target it names
and the text after the target — is read once (``_head``), and the verb
picks one handler from the verb table (``_VERBS``); each handler reads only
the text after the target. A write runs on the catalog ``_target`` picks.
A write verb whose syntax its handler does not accept raises
:class:`LakeSQLError`: no write reaches Spark's own DDL. Every *query
body* (SELECT in CTAS/INSERT/VIEW, VALUES lists, SET/WHERE expressions) is
handed to Spark SQL — we never re-implement expression parsing, so the
full Catalyst surface is available inside each statement.

Every lake name a statement reads — table, view, ``AT`` version, attached
``cat.t``, file or metadata function — is resolved by one binder
(``SQLExecutor._bound``) in one scope, for reads, UPDATE/DELETE predicates
and view bodies alike. It takes the tables a statement reads from Catalyst's
parse tree and binds each under a view name unique to the statement, which
lives only for the statement.
"""

from __future__ import annotations

import functools
import json
import re
import uuid
from contextlib import contextmanager
from typing import NamedTuple, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame

from .catalog import local_df
from .lexer import (
    assignment,
    bq,
    column_refs,
    items,
    map_code,
    match_paren,
    names,
    search_code,
    split_top,
    statements,
    strip,
    strip_sql_literals,
    sub_code,
    token_name,
    tokens,
    top_words,
    unwrap_parens,
)
from .rollup import (
    apply_read_face,
    apply_retention,
    create_rollup,
    derived_columns,
    find_rollup,
    find_rollups,
    meta_table,
    read_face,
    refresh_rollup,
    restamp_rollups,
)
from .schema import Field, TableSchema

__all__ = ["SQLExecutor", "LakeSQLError"]


class LakeSQLError(Exception):
    pass


_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
# a ``[cat.]name AT (VERSION|TIMESTAMP => x)`` clause: it must start outside
# a string literal (``SELECT 't AT (VERSION => 1)'`` is data), and its
# payload may hold one (``TIMESTAMP => '…'``)
_AT = re.compile(
    rf"\b(?:({_IDENT})\s*\.\s*)?({_IDENT})\s+AT\s*\(\s*(VERSION|TIMESTAMP)"
    r"\s*=>\s*([^)]+)\)",
    re.I,
)


# the verb phrases that name a target, optionally catalog-qualified
_TARGET = re.compile(
    r"(INSERT(?:\s+OR\s+(?:REPLACE|IGNORE))?\s+INTO|UPDATE|DELETE\s+FROM"
    r"|TRUNCATE(?:\s+TABLE)?|MERGE(?:\s+WITH\s+SCHEMA\s+EVOLUTION)?\s+INTO"
    r"|CREATE(?:\s+OR\s+REPLACE)?\s+(?:TABLE(?:\s+IF\s+NOT\s+EXISTS)?"
    r"|(?:MATERIALIZED\s+)?VIEW)"
    r"|DROP\s+(?:TABLE|(?:MATERIALIZED\s+)?VIEW)(?:\s+IF\s+EXISTS)?"
    r"|ALTER\s+TABLE|REFRESH\s+MATERIALIZED\s+VIEW|CHECKPOINT)"
    rf"\s+({_IDENT})(?:\s*\.\s*({_IDENT}))?\b",
    re.I,
)


class _Head(NamedTuple):
    verb: str  # the first word, upper case
    writes: bool
    words: frozenset  # the words of the target-naming phrase, upper case
    cat: Optional[str]  # the target's catalog qualifier, if any
    table: Optional[str]  # the target the phrase names
    rest: str  # the text after the target (after the verb, without one)


def _head(q: str) -> _Head:
    """What a (comment-stripped) statement's head says: its verb, whether
    it writes (from the verb table; of the COPY forms only ``COPY <table>
    FROM`` writes), and the target its verb phrase names."""
    verb = re.match(r"\w*", q).group().upper()
    writes = verb in _VERBS and _VERBS[verb][1]
    if verb == "COPY":
        writes = bool(re.match(rf"COPY\s+{_IDENT}\s+FROM\b", q, re.I))
    m = _TARGET.match(q)
    if m is None:
        return _Head(verb, writes, frozenset(), None, None, q[len(verb):])
    cat, table = m.group(2, 3) if m.group(3) else (None, m.group(2))
    words = frozenset(m.group(1).upper().split())
    return _Head(verb, writes, words, cat, table, q[m.end():])


def _seq(s) -> list:  # a Scala Seq reached over py4j, as a list
    return [s.apply(i) for i in range(s.size())]


@functools.cache  # a class lookup over py4j costs ~1 ms
def _cte_substitution(jvm):
    return jvm.org.apache.spark.sql.catalyst.analysis.CTESubstitution


class _Count(NamedTuple):
    alias: str  # the result column's name, Spark's own when unaliased
    cat: Optional[str]  # the table's catalog qualifier, if any
    table: Optional[str]  # None when an AT clause names it
    at: Optional["re.Match"]  # the ``_AT`` clause, if any


def _count_stmt(q: str) -> Optional[_Count]:
    """What ``SELECT count(*)|count(1) [[AS] alias] FROM <name> [AT
    (VERSION|TIMESTAMP => x)]`` names, read from its tokens; None for any
    other statement."""
    sig = [t for t in tokens(q) if t.kind not in ("ws", "comment")]
    head = [t.text.upper() for t in sig[:6]]
    if head[:3] != ["SELECT", "COUNT", "("] or head[4:5] != [")"] or (
        head[3] not in ("*", "1")
    ):
        return None
    k, alias = 5, "count(1)"
    if head[5:] != ["FROM"]:
        if k < len(sig) and sig[k].text.upper() == "AS":
            k += 1
        alias = token_name(sig[k]) if k < len(sig) else None
        k += 1
        if alias is None or k >= len(sig) or sig[k].text.upper() != "FROM":
            return None
    rest, sig = q[sig[k].end:].strip(), sig[k + 1:]
    at = _AT.fullmatch(rest)
    if at is not None:
        return _Count(alias, None, None, at)
    names = [token_name(t) for t in sig[::2]]
    if None in names or any(t.text != "." for t in sig[1::2]):
        return None
    if len(sig) == 1:
        return _Count(alias, None, names[0], None)
    return _Count(alias, *names, None) if len(sig) == 3 else None


# reference (DuckDB) type -> Spark DDL type string (SURVEY.md §1.2)
_TYPE_MAP = {
    "integer": "int",
    "int": "int",
    "int4": "int",
    "bigint": "bigint",
    "int8": "bigint",
    "smallint": "smallint",
    "tinyint": "tinyint",
    "varchar": "string",
    "text": "string",
    "string": "string",
    "double": "double",
    "real": "float",
    "float": "float",
    "boolean": "boolean",
    "bool": "boolean",
    "timestamp": "timestamp",
    "date": "date",
}


_NESTED_TYPE = re.compile(r"(array|map|struct)\s*<(.*)>", re.I | re.S)


def _map_type(t: str) -> str:
    """A DuckDB type spelling -> Spark DDL, the element, key, value and
    field types inside ``ARRAY<…>``, ``MAP<…>`` and ``STRUCT<…>`` too."""
    t = t.strip()
    m = _NESTED_TYPE.fullmatch(t)
    if m:
        kind, args = m.group(1).lower(), _type_args(m.group(2))
        mapped = (
            [_struct_field(a) for a in args] if kind == "struct"
            else [_map_type(a) for a in args]
        )
        return f"{kind}<{', '.join(mapped)}>"
    t = t.lower()
    m = re.fullmatch(r"(varchar|char)\s*\(\s*\d+\s*\)", t)
    if m:
        return "string"  # length is a hint, unenforced (SURVEY §1.2)
    m = re.fullmatch(r"(decimal|numeric)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return f"decimal({m.group(2)},{m.group(3)})"
    if t in _TYPE_MAP:
        return _TYPE_MAP[t]
    return t  # assume already a Spark DDL type


def _type_args(text: str) -> list:
    """The comma-separated arguments of a type's ``<…>``; a comma nested in
    ``<…>``, ``(…)`` or a backticked name separates nothing."""
    out, level, start = [], 0, 0
    for t in tokens(text):
        if t.kind != "op" or t.depth:
            continue
        if t.text == "<":
            level += 1
        elif t.text == ">":
            level -= 1
        elif t.text == "," and level == 0:
            out.append(text[start:t.start])
            start = t.end
    out.append(text[start:])
    return [a.strip() for a in out]


def _struct_field(text: str) -> str:
    """One ``STRUCT<…>`` field, ``name [:] type`` -> ``name: <Spark type>``."""
    sig = [t for t in tokens(text) if t.kind not in ("ws", "comment")]
    name = token_name(sig[0]) if sig else None
    rest = text[sig[1].start:] if len(sig) > 1 else ""
    rest = rest[1:] if rest.startswith(":") else rest
    if name is None or not rest.strip():
        raise LakeSQLError(f"bad STRUCT field: {text.strip()!r}")
    if not re.fullmatch(r"[A-Za-z_]\w*", name):
        name = bq(name)
    return f"{name}: {_map_type(rest)}"


class _Column(NamedTuple):
    name: str
    type: str  # Spark DDL
    nullable: bool
    primary: bool
    default: Optional[str]  # the DEFAULT expression's text


_CONSTRAINTS = frozenset(("NOT", "NULL", "PRIMARY", "DEFAULT"))


def _column_def(text: str) -> _Column:
    """One column definition: ``name type [NOT NULL | NULL | PRIMARY KEY |
    DEFAULT expr]...``. The name may be backticked; the type is one word
    with an optional ``(…)`` or ``<…>`` group; a DEFAULT expression runs to
    the next constraint keyword."""
    sig = [t for t in tokens(text) if t.kind not in ("ws", "comment")]
    bad = LakeSQLError(f"bad column definition: {text.strip()!r}")
    if len(sig) < 2 or token_name(sig[0]) is None or sig[1].kind != "word":
        raise bad
    k = 2
    if k < len(sig) and sig[k].text in ("(", "<"):
        level = 0
        for k in range(2, len(sig)):
            level += {"(": 1, "<": 1, ")": -1, ">": -1}.get(sig[k].text, 0)
            if level == 0:
                break
        if level:
            raise bad
        k += 1
    typ = _map_type(text[sig[1].start:sig[k - 1].end])
    nullable, primary, default = True, False, None
    while k < len(sig):
        word = sig[k].text.upper() if sig[k].kind == "word" else ""
        nxt = sig[k + 1].text.upper() if k + 1 < len(sig) else ""
        if word == "NOT" and nxt == "NULL":
            nullable, k = False, k + 2
        elif word == "NULL":
            k += 1
        elif word == "PRIMARY" and nxt == "KEY":
            primary, nullable, k = True, False, k + 2
        elif word == "DEFAULT" and nxt:
            j = k + 2
            while j < len(sig) and not (
                sig[j].kind == "word"
                and sig[j].depth == 0
                and sig[j].text.upper() in _CONSTRAINTS
            ):
                j += 1
            default, k = text[sig[k + 1].start:sig[j - 1].end], j
        else:
            raise bad
    return _Column(token_name(sig[0]), typ, nullable, primary, default)


def _column_defs(text: str) -> list:
    """The comma-separated items of a column-definition list; a comma inside
    a type's ``<…>`` (``MAP<STRING, INT>``) separates nothing."""
    out = []
    for piece in split_top(text):
        open_angles = out and sum(
            {"<": 1, ">": -1}.get(t.text, 0)
            for t in tokens(out[-1])
            if t.kind == "op" and t.depth == 0
        )
        if open_angles:
            out[-1] += "," + piece
        else:
            out.append(piece)
    return [p.strip() for p in out if p.strip()]


def _name_list(text: str, what: str) -> list:
    """The names of a parenthesized identifier list, ``(a, `b c`)``."""
    t = text.strip()
    cols = (
        names(t[1:-1]) if t.startswith("(") and match_paren(t, 0) == len(t) - 1
        else None
    )
    if not cols:
        raise LakeSQLError(f"bad {what} column list: {text.strip()!r}")
    return cols


def _partition_by(text: str):
    """A leading ``PARTITION BY (cols)`` -> (cols, the text after it);
    ((), text) without one."""
    t = text.strip()
    m = re.match(r"PARTITION\s+BY\s*(?=\()", t, re.I)
    if m is None:
        return (), t
    close = match_paren(t, m.end())
    if close < 0:
        raise LakeSQLError(f"unbalanced PARTITION BY list: {t!r}")
    return (
        _name_list(t[m.end():close + 1], "PARTITION BY"),
        t[close + 1:].strip(),
    )


def _norm_sql_expr(t: str) -> str:
    """Normalize one SQL expression for TEXTUAL identity comparison:
    lowercase + collapse whitespace OUTSIDE string literals, literals
    verbatim — so ``concat(r, 'EU')`` never compares equal to
    ``concat(r, 'eu')`` (the matching is textual, like Postgres matching
    a GROUP BY item to a select expression by equivalence; semantically
    different literals must be a mismatch)."""
    return map_code(t, lambda s: re.sub(r"\s+", " ", s).lower()).strip()


class _Scope:
    """What one statement reads: its executor's catalog at one version, or
    the open transaction's base version with its staged tables and views
    on top (read-your-writes); and the temp views bound for it so far."""

    def __init__(self, ex: "SQLExecutor", version=None):
        tx = self.tx = ex._tx if version is None else None
        if tx is None:
            self.version = ex.c._resolve_version(version)
            tables, self.views = ex.c._names_at(self.version)
        else:
            self.version = tx.base_version
            tables, self.views = tx.names()
        self.tables = set(tables)
        # lowercased -> lake name (Spark resolves names case-insensitively)
        self.names = {n.lower(): n for n in [*self.views, *self.tables]}
        self.bound = {}  # binding key -> temp view registered for it
        self.binding = set()  # names whose binding has started


class SQLExecutor:
    """Stateful statement executor bound to one LakeCatalog (the analog of a
    DuckDB connection with the ducklake catalog attached).

    The executor ``LakeCatalog.sql`` makes is the *session*: it owns the
    attach list and the USE default. Each attached catalog gets one
    executor of its own, made by the session (``_att_executor``), which
    shares the session's attach list and holds that catalog's open
    transaction and read bindings."""

    def __init__(self, catalog):
        self.c = catalog
        self._tx = None  # open explicit transaction, if any
        # mv_name -> (catalog_version, RollupDef or None), so an MV read
        # doesn't re-collect the one-row meta table on every statement.
        # Keyed by name with only the latest version kept: a
        # long-lived executor on a busy catalog stays O(#MVs), not
        # O(#MVs x versions)
        self._mv_defs = {}
        self._session = self  # the executor that owns the attach list
        self._alias = None  # this catalog's ATTACH name (None: the session)
        # ATTACH'd secondary catalogs: lowercased name -> LakeCatalog.
        # Session-scoped like DuckDB's ATTACH; read via qualified
        # name.table references, written via qualified targets
        # (_target), migrated via COPY FROM DATABASE.
        self._attached = {}
        # the session's executors of the attached catalogs, by name
        self._att_sql = {}
        # `USE <attached>` default-catalog selection (None = bound catalog)
        self._use = None
        # names attached with (READ_ONLY): writes into them raise
        self._att_readonly = set()

    # -- existence as the next statement sees it (an open txn's DDL must be
    # visible to its checks, not just committed state) -------------------
    def _table_exists(self, name: str) -> bool:
        return name in _Scope(self).tables

    def _view_exists(self, name: str) -> bool:
        return name in _Scope(self).views

    # ------------------------------------------------------------------
    def execute(self, sql: str, version=None) -> DataFrame:
        """Statement dispatch: under ``USE <attached>`` the statement is
        that catalog's executor's to run; otherwise its verb picks a handler
        from ``_VERBS`` (no handler: a read query), and a write's handler
        runs on the executor ``_target`` picks.

        A write inside an explicit transaction is STATEMENT-ATOMIC
        (Postgres/DuckDB semantics): a statement that raises restores the
        transaction's staging buffers to their pre-statement state, so a
        later COMMIT can never persist the partial effects of a failed
        statement (e.g. schema evolution a failed MERGE WITH SCHEMA
        EVOLUTION had staged). Snapshot/restore is pure driver-side
        metadata — no Spark job. Reads and the transaction verbs skip it:
        a SELECT-heavy interactive txn must not pay O(loaded file entries)
        deepcopy per read."""
        if self._use is not None:
            if self._use in self._attached:
                return self._att_executor(self._use).execute(sql, version)
            self._use = None  # DETACH'd underneath
        q = strip(sql)
        head = _head(q)
        entry = _VERBS.get(head.verb)
        if entry is None:
            return self._query(q, version)
        tgt = self
        if head.writes:
            tgt, head = self._target(head)
        tx = tgt._tx
        if tx is None or not head.writes:
            out = entry[0](tgt, head, self)
        else:
            snap = tx._snapshot_staging()
            try:
                out = entry[0](tgt, head, self)
            except BaseException:
                if tgt._tx is tx:  # txn still open: undo this statement only
                    tx._restore_staging(snap)
                raise
        return self._query(q, version) if out is None else out

    def _catalog(self, cat: str) -> Optional["SQLExecutor"]:
        """The executor of the catalog named ``cat``: an attached name, or
        ``main`` for the bound catalog; None for any other name."""
        key = cat.lower()
        if key in self._attached:
            return self._att_executor(key)
        return self._session if key == "main" else None

    def _target(self, head: _Head):
        """The executor a write lands on, and its head as that executor
        reads it (no qualifier). An unqualified target is this executor's
        (under USE, the USE'd catalog's); ``main`` and this catalog's own
        name qualify to their catalogs like any attached name. ``CHECKPOINT
        <name>`` names a whole catalog when ``<name>`` is an attached name
        or ``main`` and no local table of that name exists. A write into a
        READ_ONLY attachment raises, and so does a write into another
        catalog while this one has an open transaction (one write target
        per transaction, DuckDB's cross-database rule)."""
        cat, table = head.cat, head.table
        if (
            head.verb == "CHECKPOINT"
            and cat is None
            and table is not None
            and not head.rest
            and self._catalog(table) is not None
            and not self._table_exists(table)
        ):
            cat, table = table, None
        tgt = self
        if cat is not None:
            tgt = self._catalog(cat)
            if tgt is None:
                raise LakeSQLError(f"no attached catalog named {cat!r}")
        if head.writes:
            if tgt is not self:
                self._no_txn(f"write to attached catalog {cat!r}")
            if tgt._alias in self._att_readonly:
                raise LakeSQLError(
                    f"catalog {tgt._alias!r} is attached READ_ONLY"
                )
        return tgt, head._replace(cat=None, table=table)

    # -- statement handlers: handler(executor, head, issuer). A write's
    # executor is its target; source queries (INSERT ... SELECT, CTAS,
    # MERGE USING) are built by the issuing executor, so they may read any
    # catalog the issuer can. A read handler returns None for a form it
    # does not own, which then runs as a query. ---------------------------
    def _txn(self, head: _Head, src) -> DataFrame:
        """``BEGIN`` / ``COMMIT`` / ``ROLLBACK`` ``[TRANSACTION]``."""
        if not re.fullmatch(r"(?:\s+TRANSACTION)?", head.rest, re.I):
            raise LakeSQLError(f"bad {head.verb} statement")
        if head.verb == "BEGIN":
            if self._tx is not None:
                raise LakeSQLError("transaction already open")
            self._tx = self.c.transaction()
            return self._status("BEGIN", 0)
        if self._tx is None:
            raise LakeSQLError("no open transaction")
        tx, self._tx = self._tx, None
        if head.verb == "COMMIT":
            return self._status("COMMIT", tx.commit())
        tx.rollback()
        return self._status("ROLLBACK", 0)

    def _use_stmt(self, head: _Head, src) -> DataFrame:
        """DuckDB's default-catalog switch, the reference migration flow's
        spelling (demos/05_catalog_portability/demo.py:200, 212 `USE dev` /
        `USE prod`): an ATTACH'd name becomes the default for subsequent
        statements (each run by that catalog's executor, including its
        own BEGIN/COMMIT state); any other name — the bound catalog under
        whatever alias the user mounted it — resets to the bound
        catalog."""
        m = re.fullmatch(rf"\s+({_IDENT})", head.rest)
        if m is None:
            raise LakeSQLError("bad USE statement: expected USE <catalog>")
        s, key = self._session, m.group(1).lower()
        if key != s._use and s._use is not None:
            # switching away while the CURRENT default's executor holds an
            # open transaction would leave it dangling (a later USE back
            # could land it; a DETACH would silently discard its staged
            # writes) — refuse, like the main-txn guard on entering USE
            cur = s._att_sql.get(s._use)
            if cur is not None and cur._tx is not None:
                raise LakeSQLError(
                    f"catalog {s._use!r} has an open transaction: "
                    "COMMIT or ROLLBACK it before USE"
                )
        if key in s._attached:
            s._no_txn("USE <attached catalog>")
            s._use = key
        else:
            s._use = None
        return self._status("USE", 0)

    def _show(self, head: _Head, src):
        what = head.rest.strip().upper()
        if what == "DATABASES":
            # DuckDB's attach-list introspection: the bound catalog
            # (spelled 'main', its USE-reset alias) plus every ATTACH'd
            # name, with the read-only flag and the current default
            s = self._session
            rows = [("main", False, s._use is None)] + [
                (n, n in s._att_readonly, n == s._use)
                for n in sorted(s._attached)
            ]
            return local_df(
                self.c.spark,
                rows,
                "name string, read_only boolean, is_default boolean",
            )
        return self._show_tables() if what == "TABLES" else None

    def _show_tables(self) -> DataFrame:
        """The tables and views a statement reads (``_Scope``): inside a
        transaction, with its own DDL."""
        scope = _Scope(self)
        # an MV's meta companion is an implementation detail: list the MV
        # once (its meta stays directly readable/describable)
        mvs = (
            scope.tx._rollup_metas() if scope.tx is not None
            else find_rollups(self.c, scope.version, scope.tables)
        )
        hidden = {meta_table(mv) for mv in mvs}
        listed = sorted((scope.tables | set(scope.views)) - hidden)
        return local_df(self.c.spark, [(n,) for n in listed], "name string")

    def _describe_stmt(self, head: _Head, src):
        """``DESCRIBE [cat.]t`` (demos/03_schema_evolution/demo.py:112,124;
        exploration/ducklake_analysis.sh:194 ``DESCRIBE lake.sales_data``):
        a qualifier naming an ATTACH'd catalog or ``main`` describes that
        catalog's table, any other qualifier is the bound catalog's own
        alias. ``DESCRIBE <query>`` (DuckDB) gives the query's resolved
        schema as rows — analysis only, nothing executes."""
        rest = head.rest.strip()
        m = re.fullmatch(rf"(?:({_IDENT})\s*\.\s*)?({_IDENT})", rest)
        if m:
            return self._reader(m.group(1))._describe(m.group(2))
        if not re.match(r"(?:SELECT|WITH|FROM)\b", rest, re.I):
            return None
        df = self._query(rest)
        return local_df(
            self.c.spark,
            [
                (
                    f.name,
                    f.dataType.simpleString().upper(),
                    "YES" if f.nullable else "NO",
                    None,
                    None,
                    None,
                )
                for f in df.schema.fields
            ],
            "column_name string, column_type string, null string, "
            "key string, default string, extra string",
        )

    def _reader(self, cat: Optional[str]) -> "SQLExecutor":
        """The executor that reads a ``cat.``-qualified name: an attached
        name or ``main`` is that catalog; no qualifier, or any other one
        (the bound catalog's mount alias), is this executor."""
        return (cat and self._catalog(cat)) or self

    def _pragma(self, head: _Head, src):
        # DuckDB/SQLite spellings of DESCRIBE and SHOW TABLES
        m = re.fullmatch(
            rf"\s+table_info\s*\(\s*'?(?:({_IDENT})\.)?({_IDENT})'?\s*\)",
            head.rest,
            re.I,
        )
        if m:
            return self._reader(m.group(1))._describe(m.group(2))
        if re.fullmatch(r"\s+show_tables", head.rest, re.I):
            return self._show_tables()
        return None

    def _create(self, head: _Head, src) -> DataFrame:
        name, rest, w = head.table, head.rest.strip(), head.words
        if name is None:
            raise LakeSQLError(
                "bad CREATE statement: expected CREATE [OR REPLACE] "
                "TABLE|VIEW|MATERIALIZED VIEW <name> ..."
            )
        replace = "REPLACE" in w
        if "VIEW" in w:
            m = re.match(r"AS\s+(.*)$", rest, re.I | re.S)
            if m is None:
                raise LakeSQLError(f"CREATE VIEW {name} needs AS <select>")
            if "MATERIALIZED" in w:
                return self._create_mv(name, m.group(1), replace=replace)
            if not replace and self._view_exists(name):
                raise LakeSQLError(f"view {name!r} exists")
            self._run(lambda tx: tx.create_view(name, m.group(1)))
            return self._status("CREATE VIEW", 0)
        if "EXISTS" in w and self._table_exists(name):  # IF NOT EXISTS
            return self._status("CREATE TABLE", 0)
        if rest.startswith("("):  # the column-list form
            bad = LakeSQLError(
                f"bad CREATE TABLE {name}: expected (<column definitions>) "
                "[PARTITION BY (cols)]"
            )
            close = match_paren(rest, 0)
            if close < 0:
                raise bad
            partition_by, tail = _partition_by(rest[close + 1:])
            if tail:
                raise bad
            exists = self._table_exists(name)
            if exists and not replace:
                raise LakeSQLError(f"table {name!r} exists")
            schema = self._table_schema(rest[1:close])

            def op(tx):
                if exists:
                    tx.drop_table(name)
                tx.create_table(name, schema, partition_by=partition_by)

            self._run(op)
            return self._status("CREATE TABLE", 0)
        # CTAS (S5), optionally range-clustered (X2)
        partition_by, tail = _partition_by(rest)
        m = re.match(r"AS\s+(.*)$", tail, re.I | re.S)
        if m is None:
            raise LakeSQLError(
                f"bad CREATE TABLE {name}: expected (<column definitions>) "
                "or [PARTITION BY (cols)] AS <select>"
            )
        df = src._query(m.group(1))
        n = [0]

        def op(tx):
            st = tx._state(name, must_exist=False)
            if replace and st is not None and not st.dropped:
                tx.drop_table(name)
            n[0] = tx.ctas(name, df, partition_by=partition_by)

        self._run(op)
        # row count comes from the write itself (tx.ctas), not a second
        # execution of the source query
        return self._status("CREATE TABLE AS", n[0])

    def _table_schema(self, text: str) -> TableSchema:
        """A CREATE TABLE column-definition list: column definitions and
        an optional table-level ``PRIMARY KEY (cols)``."""
        fields, pk = [], []
        for part in _column_defs(text):
            m = re.fullmatch(r"PRIMARY\s+KEY\s*(\(.*\))", part, re.I | re.S)
            if m:
                pk.extend(_name_list(m.group(1), "PRIMARY KEY"))
                continue
            col = _column_def(part)
            if col.primary:
                pk.append(col.name)
            default = None if col.default is None else self._literal(col.default)
            fields.append(
                Field(len(fields) + 1, col.name, col.type, col.nullable, default)
            )
        return TableSchema(tuple(fields), tuple(pk))

    def _drop(self, head: _Head, src) -> DataFrame:
        name, w = head.table, head.words
        if name is None or head.rest.strip():
            raise LakeSQLError(
                "bad DROP statement: expected DROP TABLE|VIEW|MATERIALIZED "
                "VIEW [IF EXISTS] <name>"
            )
        if "MATERIALIZED" in w:
            return self._drop_mv(name, if_exists="EXISTS" in w)
        label, exists = (
            ("DROP VIEW", self._view_exists) if "VIEW" in w
            else ("DROP TABLE", self._table_exists)
        )
        if "EXISTS" in w and not exists(name):
            return self._status(label, 0)
        if "VIEW" in w:
            self._run(lambda tx: tx.drop_view(name))
        else:
            self._run(lambda tx: tx.drop_table(name))
        return self._status(label, 0)

    def _alter(self, head: _Head, src) -> DataFrame:
        t, rest = head.table, head.rest.strip()
        if t is None:
            raise LakeSQLError("bad ALTER statement: expected ALTER TABLE <t> ...")
        m = re.match(r"ADD\s+COLUMN\s+", rest, re.I)
        if m:
            col = _column_def(rest[m.end():])
            if not col.nullable:
                raise LakeSQLError(
                    "ADD COLUMN takes a type and an optional DEFAULT"
                )
            default = None if col.default is None else self._literal(col.default)
            self._run(lambda tx: tx.add_column(t, col.name, col.type, default))
            return self._status("ALTER TABLE", 0)
        m = re.fullmatch(rf"DROP\s+COLUMN\s+({_IDENT})", rest, re.I)
        if m:
            self._run(lambda tx: tx.drop_column(t, m.group(1)))
            return self._status("ALTER TABLE", 0)
        m = re.fullmatch(
            rf"RENAME\s+COLUMN\s+({_IDENT})\s+TO\s+({_IDENT})", rest, re.I
        )
        if m:
            self._run(lambda tx: tx.rename_column(t, *m.group(1, 2)))
            return self._status("ALTER TABLE", 0)
        m = re.fullmatch(
            rf"ALTER\s+COLUMN\s+({_IDENT})\s+SET\s+NOT\s+NULL", rest, re.I
        )
        if m:
            self._run(lambda tx: tx.set_not_null(t, m.group(1)))
            return self._status("ALTER TABLE", 0)
        # ALTER COLUMN c TYPE T / SET DATA TYPE T (widening casts only —
        # the reference's "change data types" claim, README.md:50)
        m = re.fullmatch(
            rf"ALTER\s+COLUMN\s+({_IDENT})\s+(?:SET\s+DATA\s+)?TYPE\s+(\w.*)",
            rest,
            re.I | re.S,
        )
        if m:
            col = _column_def(f"{m.group(1)} {m.group(2)}")
            if col.default is not None or not col.nullable:
                raise LakeSQLError(f"bad column type {m.group(2)!r}")
            self._run(lambda tx: tx.alter_column_type(t, col.name, col.type))
            return self._status("ALTER TABLE", 0)
        # SET/RESET PARTITIONED BY and ZORDER BY — metadata-only spec edits
        # (see Transaction.set_zorder_by); CALL optimize applies a
        # z-order, compact() re-applies it
        m = re.fullmatch(
            r"(SET|RESET)\s+(PARTITIONED|ZORDER)\s+BY\s*(.*)", rest, re.I | re.S
        )
        if m and (m.group(1).upper() == "SET") == bool(m.group(3)):
            cols = (
                _name_list(m.group(3), m.group(2).upper() + " BY")
                if m.group(3) else ()
            )
            if m.group(2).upper() == "ZORDER":
                self._run(lambda tx: tx.set_zorder_by(t, cols))
            else:
                self._run(lambda tx: tx.set_partition_by(t, cols))
            return self._status("ALTER TABLE", 0)
        raise LakeSQLError(f"unsupported ALTER TABLE action: {rest!r}")

    def _insert(self, head: _Head, src) -> DataFrame:
        name, body, cols = head.table, head.rest.strip(), None
        if name is None or not body:
            raise LakeSQLError(
                "bad INSERT statement: expected INSERT [OR REPLACE|IGNORE] "
                "INTO <table> [(cols)] VALUES ... | <query>"
            )
        # a leading "(a, b, c)" name list is the column list; a leading
        # "(SELECT ..." is a parenthesized query body
        if body.startswith("("):
            close = match_paren(body, 0)
            cols = names(body[1:close]) if close > 0 else None
            if cols:
                body = body[close + 1:].strip()
        mode = next((m for m in ("REPLACE", "IGNORE") if m in head.words), None)
        if re.match(r"VALUES\b", body, re.I):
            df = self.c.spark.sql(f"SELECT * FROM ({body})")
            # VALUES yields col1..colN: name them from the column list,
            # else positionally in table order
            schema = self._schema_of(name)
            vals = df.columns
            targets = cols or [f.name for f in schema.fields][: len(vals)]
            if len(vals) != len(targets):
                raise LakeSQLError(
                    f"INSERT INTO {name} has {len(vals)} values per row "
                    f"for {len(targets)} columns"
                )
            # Cast each VALUES column to its TARGET column type before
            # collecting: Spark types a bare `2.0` literal DECIMAL(2,1),
            # and an un-cast Decimal stored in an inlined row would fail
            # the read-side DataFrame build against a DOUBLE column.
            # One projection: a Column object per cast costs a py4j
            # round trip each.
            types = {f.name: f.type for f in schema.fields}
            df = df.selectExpr(
                *[
                    f"CAST({bq(v)} AS {types[c]}) AS {bq(c)}"
                    if c in types
                    else f"{bq(v)} AS {bq(c)}"
                    for v, c in zip(vals, targets)
                ]
            )
            if mode:
                return self._upsert_insert(name, df, mode)
            # a literal VALUES plan is a LocalRelation — collect() is
            # driver-side, so tiny inserts take insert_rows' no-Spark-job
            # inlining fast path. A one-row statement costs 25-29 ms
            # median on a 4-core host (48-60 ms before the one-projection
            # cast), nearly all of it Spark parsing and collecting the
            # literal; insert_rows itself takes about 0.6 ms
            rows = [dict(zip(targets, tup)) for tup in df.collect()]
            self._run(lambda tx: tx.insert_rows(name, rows))
            return self._status("INSERT", len(rows))
        df = src._query(body)
        if cols is not None:
            if len(cols) != len(df.columns):
                raise LakeSQLError(
                    f"column list has {len(cols)} names, query "
                    f"produces {len(df.columns)} columns"
                )
            df = df.toDF(*cols)
        if mode:
            return self._upsert_insert(name, df, mode)
        n = [0]

        def op(tx):
            n[0] = tx.insert(name, df)

        self._run(op)
        # count from the write itself — not a second source execution
        return self._status("INSERT", n[0])

    def _update(self, head: _Head, src) -> DataFrame:
        name = head.table
        m = re.match(r"\s+SET\b", head.rest, re.I)
        if name is None or m is None:
            raise LakeSQLError(
                "bad UPDATE statement: expected UPDATE <table> SET c = expr "
                "[, ...] [WHERE pred]"
            )
        # SET and WHERE, subqueries included, read the statement's scope:
        # pre-statement state, DuckDB UPDATE semantics
        with self._bound(head.rest[m.end():], carrier="SELECT ") as setlist:
            # split at the LAST top-level WHERE: a first-match split breaks
            # SET expressions containing subqueries or 'where' in a literal
            where = None
            wpos = top_words(setlist, "WHERE")
            if wpos:
                setlist, where = (
                    setlist[: wpos[-1]],
                    setlist[wpos[-1] + len("WHERE"):].strip(),
                )
                if not where:
                    raise LakeSQLError("UPDATE ... WHERE needs a predicate")
            sets = {}
            for part in items(setlist):
                a = assignment(part)
                if a is None or a[0] is not None:
                    raise LakeSQLError(f"bad SET clause: {part!r}")
                sets[a[1]] = a[2]
            if not sets:
                raise LakeSQLError("UPDATE needs at least one SET assignment")
            n = [0]

            def op(tx):
                n[0] = tx.update(name, sets, where)

            self._run(op)
        return self._status("UPDATE", n[0])

    def _delete(self, head: _Head, src) -> DataFrame:
        name, rest, where = head.table, head.rest.strip(), None
        m = re.match(r"WHERE\b", rest, re.I)
        if name is None or (rest and m is None):
            raise LakeSQLError(
                "bad DELETE statement: expected DELETE FROM <table> "
                "[WHERE pred]"
            )
        if m:
            where = rest[m.end():].strip()
            if not where:
                raise LakeSQLError("DELETE ... WHERE needs a predicate")
        n = [0]
        # subqueries read the statement's scope: pre-statement state
        with self._bound(where or "", carrier="SELECT 1 WHERE ") as bound:

            def op(tx):
                n[0] = tx.delete(name, bound or None)

            self._run(op)
        return self._status("DELETE", n[0])

    def _truncate(self, head: _Head, src) -> DataFrame:
        # DuckDB's TRUNCATE spelling of the full-table DELETE: the engine's
        # no-WHERE delete is metadata-only (files marked removed, no
        # rewrite), so this is O(metadata) at any scale
        name = head.table
        if name is None or head.rest.strip():
            raise LakeSQLError(
                "bad TRUNCATE statement: expected TRUNCATE [TABLE] <table>"
            )
        n = [0]

        def op(tx):
            n[0] = tx.delete(name, None)

        self._run(op)
        return self._status("TRUNCATE", n[0])

    def _checkpoint(self, head: _Head, src) -> DataFrame:
        """DuckDB's CHECKPOINT flushes buffered WAL state to storage; the
        lake analogue is flushing catalog-inlined rows into parquet files
        (README.md:243 inlining). One table, all tables, one attached table
        (``CHECKPOINT att.t``), or a whole attached catalog (``CHECKPOINT
        att`` — DuckDB's database argument; _target resolves it)."""
        if head.rest.strip():
            raise LakeSQLError(
                "bad CHECKPOINT statement: expected CHECKPOINT [[cat.]table "
                "| cat]"
            )
        flushed = [head.table] if head.table else list(self.c.tables())

        def op(tx):
            for t in flushed:
                tx.flush_inlined(t)

        self._run(op)
        return self._status("CHECKPOINT", len(flushed))

    def _copy(self, head: _Head, src) -> DataFrame:
        m = re.fullmatch(
            rf"\s+FROM\s+DATABASE\s+({_IDENT})\s+TO\s+({_IDENT})",
            head.rest,
            re.I,
        )
        if m:
            return self._session._copy_database_stmt(m.group(1), m.group(2))
        m = re.fullmatch(
            rf"\s*(\(.*\)|{_IDENT})\s+TO\s+'((?:[^']|'')*)'"
            r"\s*(?:\(\s*(.*?)\s*\))?",
            head.rest,
            re.I | re.S,
        )
        if m:
            # external file writes are not transactional — refuse
            # inside BEGIN like the other self-committing verbs
            self._no_txn("COPY")
            return self._copy_stmt(
                m.group(1), m.group(2).replace("''", "'"), m.group(3)
            )
        m = re.fullmatch(
            rf"\s+({_IDENT})\s+FROM\s+'((?:[^']|'')*)'"
            r"\s*(?:\(\s*(.*?)\s*\))?",
            head.rest,
            re.I | re.S,
        )
        if m:
            # DuckDB's file-ingestion verb: read the external file(s) and
            # INSERT them through the normal transactional write path
            # (columns aligned by name, missing ones defaulted, unknown ones
            # refused — the insert contract), so unlike COPY TO it composes
            # with BEGIN/ROLLBACK; csv header detection as in _external_df
            name, path = m.group(1), m.group(2).replace("''", "'")
            o = self._copy_options(
                m.group(3), path, "COPY FROM",
                ("format", "header", "delimiter", "quote", "columns"),
            )
            df = self._external_df(
                path, o["format"], o["header"], o.get("delimiter", ","),
                quote=o.get("quote", '"'),
                # mis-sniffed header/type recovery without leaving SQL:
                # same struct grammar as read_csv's columns argument
                columns=(
                    self._parse_csv_columns(o["columns"])
                    if "columns" in o else None
                ),
            )
            n = [0]

            def op(tx):
                n[0] = tx.insert(name, df)

            self._run(op)
            return self._status("COPY", n[0])
        raise LakeSQLError(
            "bad COPY statement: expected COPY <table|(subquery)> "
            "TO '<path>' [(FORMAT PARQUET|CSV, HEADER, DELIMITER, "
            "OVERWRITE, PARTITION_BY (cols))] or COPY <table> FROM "
            "'<path>' [(FORMAT PARQUET|CSV, HEADER, DELIMITER)]"
        )

    # -- materialized views (continuous aggregates behind SQL) ----------
    _MV_UNITS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
    # time-dependent / volatile names refused in a filtered MV's WHERE
    # (both call forms matter: current_timestamp parses as a bare keyword,
    # now() as a function)
    _MV_NONDETERMINISTIC = frozenset(
        "now current_timestamp current_date current_time localtimestamp "
        "today rand randn random uuid shuffle unix_timestamp "
        "current_timezone session_user current_user user "
        "monotonically_increasing_id input_file_name "
        "spark_partition_id".split()
    )
    _MV_AGG = re.compile(
        rf"^(COUNT|SUM|AVG|MIN|MAX|APPROX_COUNT_DISTINCT"
        rf"|STDDEV_SAMP|STDDEV_POP|STDDEV|VAR_SAMP|VAR_POP|VARIANCE)\s*"
        rf"\(\s*(DISTINCT\s+)?(\*|{_IDENT})\s*\)"
        rf"(?:\s+AS\s+({_IDENT}))?$",
        re.I,
    )
    _MV_BUCKET = re.compile(
        r"^time_bucket\s*\(\s*(?:INTERVAL\s+'(\d+)\s*"
        rf"(second|minute|hour|day)s?'|(\d+))\s*,\s*({_IDENT})\s*\)"
        rf"(?:\s+AS\s+({_IDENT}))?$",
        re.I,
    )
    # unanchored _MV_AGG twin for rewriting aggregate spellings inside a
    # HAVING predicate to their canonical read-face column names
    _MV_HAVING_AGG = re.compile(
        rf"\b(COUNT|SUM|AVG|MIN|MAX|APPROX_COUNT_DISTINCT"
        rf"|STDDEV_SAMP|STDDEV|VAR_SAMP|VARIANCE)\s*"
        rf"\(\s*(DISTINCT\s+)?(\*|{_IDENT})\s*\)",
        re.I,
    )

    # -- MERGE INTO (SQL face of Transaction.merge) ----------------------
    @staticmethod
    def _scan_merge_source(rest: str):
        """The USING payload: ``(subquery) ...`` or a table name —
        optionally catalog-qualified (``dev.changes``) -> (src_sql,
        src_name, tail) with exactly one of the first two set."""
        rest = rest.lstrip()
        if rest.startswith("("):
            end = match_paren(rest, 0)
            if end < 0:
                raise LakeSQLError("unbalanced parens in MERGE USING")
            return rest[1:end], None, rest[end + 1 :]
        mm = re.match(rf"^({_IDENT}(?:\s*\.\s*{_IDENT})?)", rest)
        if not mm:
            raise LakeSQLError("bad MERGE USING clause")
        return None, mm.group(1), rest[mm.end() :]

    def _merge(self, head: _Head, src) -> DataFrame:
        """``MERGE [WITH SCHEMA EVOLUTION] INTO t [AS a] USING
        (<query>|table) [AS b] ON <equi-cond>
        [SEQUENCE BY <source col>]
        WHEN MATCHED [AND cond] THEN UPDATE SET (* | c = expr, ...) | DELETE
        WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT [* | (cols) VALUES (exprs)]
        WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... | DELETE``

        The full standard tri-clause MERGE: BY SOURCE clauses act on
        target rows absent from the source (mirror/full-sync CDC — the
        reference composes this from DELETE + versioned re-INSERT,
        demos/02_time_travel/demo.py:112,228-235); their expressions see
        only the target row. ``SEQUENCE BY`` (non-standard, Databricks
        APPLY CHANGES-style) keeps only the latest source row per key for
        out-of-order CDC feeds; exact (key, sequence) ties are a clean
        duplicate-key error.

        The SQL face of the engine's merge: the ON condition must be a
        conjunction of target-key = source-key equalities (the engine's
        merge contract — its file pruning and hit-subset scan key on those
        columns); WHEN clauses map to when_matched / when_not_matched with
        per-column SET/VALUES expressions rewritten to the engine contract
        (target columns plain, source columns ``__s_<col>``). DuckLake
        itself ships MERGE as SQL surface; the reference's demos reach the
        same state via UPDATE+INSERT pairs
        (demos/01_transaction_rollback/demo.py:58-102)."""
        target, evolve = head.table, "EVOLUTION" in head.words
        m = re.match(
            rf"(?:\s+(?:AS\s+)?(?!USING\b)({_IDENT}))?\s+USING\s+(.*)$",
            head.rest,
            re.I | re.S,
        )
        if target is None or m is None:
            raise LakeSQLError("bad MERGE INTO syntax")
        t_alias, rest = m.group(1), m.group(2)
        if not self._table_exists(target):
            raise LakeSQLError(f"no such table: {target!r}")
        src_sql, src_name, rest = self._scan_merge_source(rest)
        mm = re.match(rf"^\s*(?:AS\s+)?(?!ON\b)({_IDENT})", rest, re.I)
        s_alias = None
        if mm:
            s_alias, rest = mm.group(1), rest[mm.end() :]
        mm = re.match(r"^\s*ON\b", rest, re.I)
        if not mm:
            raise LakeSQLError("MERGE requires an ON condition")
        rest = rest[mm.end() :]
        # clause heads: a top-level WHEN followed by [NOT] MATCHED (a bare
        # WHEN belongs to a CASE in an un-parenthesized SET expression)
        wpos = [
            p
            for p in top_words(rest, "WHEN")
            if re.match(r"WHEN\s+(NOT\s+)?MATCHED\b", rest[p:], re.I)
        ]
        if not wpos:
            raise LakeSQLError("MERGE requires at least one WHEN clause")
        on_txt = rest[: wpos[0]]
        seq_qual = seq_name = None
        mseq = re.search(
            rf"\bSEQUENCE\s+BY\s+(?:({_IDENT})\s*\.\s*)?({_IDENT})\s*$",
            on_txt,
            re.I,
        )
        if mseq:
            seq_qual, seq_name = mseq.group(1), mseq.group(2)
            on_txt = on_txt[: mseq.start()]
        cond = unwrap_parens(on_txt.strip())
        clauses_text = rest[wpos[0] :]

        # source DataFrame binds pre-statement state (read-your-writes
        # inside an open txn), exactly like UPDATE/DELETE subqueries; the
        # issuing executor builds it, so it may read any catalog
        src_df = src._query(
            src_sql if src_sql is not None else f"SELECT * FROM {src_name}"
        )
        sch = self._schema_of(target)
        t_cols = {f.name.lower(): f.name for f in sch.fields}
        s_cols = {c.lower(): c for c in src_df.columns}
        t_al = (t_alias or target).lower()
        # a catalog-qualified source's implicit alias is the bare table
        # name (standard SQL: USING dev.changes ... ON changes.id = ...)
        s_al = (
            s_alias or (src_name or "").rsplit(".", 1)[-1].strip()
        ).lower()
        if s_al == t_al:
            raise LakeSQLError(
                "MERGE target and source need distinct aliases"
            )

        def _side(qual, col):
            ql, cl = (qual or "").lower(), col.lower()
            if ql == t_al:
                if cl not in t_cols:
                    raise LakeSQLError(f"unknown target column {col!r}")
                return ("t", t_cols[cl])
            if ql and ql == s_al:
                if cl not in s_cols:
                    raise LakeSQLError(f"unknown source column {col!r}")
                return ("s", s_cols[cl])
            if ql:
                raise LakeSQLError(f"unknown alias {qual!r} in MERGE ON")
            in_t, in_s = cl in t_cols, cl in s_cols
            if in_t and in_s:
                return ("both", col)
            if in_t:
                return ("t", t_cols[cl])
            if in_s:
                return ("s", s_cols[cl])
            raise LakeSQLError(f"unknown column {col!r} in MERGE ON")

        pairs = []  # (target_key, source_key)
        for conj in split_top(cond, "AND"):
            mm = re.match(
                rf"^(?:({_IDENT})\s*\.\s*)?({_IDENT})\s*=\s*"
                rf"(?:({_IDENT})\s*\.\s*)?({_IDENT})$",
                unwrap_parens(conj),
            )
            if not mm:
                raise LakeSQLError(
                    f"MERGE ON supports only key equalities "
                    f"(AND-ed); got {conj.strip()!r}"
                )
            a = _side(mm.group(1), mm.group(2))
            b = _side(mm.group(3), mm.group(4))
            sides = {a[0], b[0]}
            if sides == {"both"} or (a[0] == "both" and b[0] == "both"):
                pairs.append((t_cols[a[1].lower()], s_cols[b[1].lower()]))
            elif "t" in sides and ("s" in sides or "both" in sides):
                t_key = a[1] if a[0] == "t" else b[1]
                other = b if a[0] == "t" else a
                pairs.append((t_key, s_cols[other[1].lower()]))
            elif "s" in sides and "both" in sides:
                s_key = a[1] if a[0] == "s" else b[1]
                other = b if a[0] == "s" else a
                pairs.append((t_cols[other[1].lower()], s_key))
            else:
                raise LakeSQLError(
                    f"MERGE ON equality must pair a target and a source "
                    f"column: {conj.strip()!r}"
                )
        if not pairs:
            # a degenerate ON ('ON WHEN MATCHED ...', 'ON ()') would
            # otherwise reach the engine with on=[] and die inside
            # src.agg()/reduce() with an opaque PySpark error
            raise LakeSQLError(
                "MERGE ON requires at least one target = source key equality"
            )

        # rename source key columns to the target key names; src_map sends
        # ORIGINAL source spellings to the engine's __s_<renamed> names
        on, src_map = [], {}
        for cl, orig in s_cols.items():
            src_map[cl] = f"__s_{orig}"
        for t_key, s_key in pairs:
            on.append(t_key)
            if s_key.lower() == t_key.lower():
                # same column, possibly spelled with different case: align
                # the spelling, never a collision (it IS that column)
                if s_key != t_key:
                    src_df = src_df.withColumnRenamed(s_key, t_key)
                    src_map[s_key.lower()] = f"__s_{t_key}"
            else:
                if t_key.lower() in s_cols:
                    raise LakeSQLError(
                        f"cannot rename source key {s_key!r} to {t_key!r}:"
                        f" the source already has a {t_key!r} column"
                    )
                src_df = src_df.withColumnRenamed(s_key, t_key)
                src_map[s_key.lower()] = f"__s_{t_key}"
        on_lower = frozenset(k.lower() for k in on)
        seq_engine = None
        if seq_name is not None:
            sq = (seq_qual or "").lower()
            if sq and sq != s_al:
                raise LakeSQLError(
                    f"SEQUENCE BY column must come from the source "
                    f"(got alias {seq_qual!r})"
                )
            scl = seq_name.lower()
            if scl not in s_cols:
                raise LakeSQLError(
                    f"unknown source column {seq_name!r} in SEQUENCE BY"
                )
            # src_map sends the ORIGINAL spelling to __s_<renamed>; the
            # engine wants the post-rename source column name
            seq_engine = src_map[scl][len("__s_"):]
            if seq_engine.lower() in on_lower:
                raise LakeSQLError(
                    "SEQUENCE BY column cannot be a merge key (it is "
                    "constant within a key)"
                )
        if evolve:
            # WITH SCHEMA EVOLUTION: every column the ENGINE will add
            # (auto_merge_schema) becomes referenceable as a target column
            # at parse time — that is the POST-rename source column set
            # minus the sequence column (transport metadata, never added).
            # Augmenting from the raw s_cols here would leak pre-rename
            # key spellings and the sequence column into UPDATE SET *.
            for c in src_df.columns:
                if seq_engine is not None and c == seq_engine:
                    continue
                t_cols.setdefault(c.lower(), c)

        def _parse_update_sets(body, by_source=False):
            if body.strip() == "*":
                if by_source:
                    raise LakeSQLError(
                        "UPDATE SET * needs a source row; a WHEN NOT "
                        "MATCHED BY SOURCE clause must assign explicit "
                        "expressions"
                    )
                sets = {
                    t_cols[cl]: f"__s_{s_cols[cl]}"
                    for cl in (set(t_cols) & set(s_cols))
                    if t_cols[cl] not in on
                }
                if not sets:
                    raise LakeSQLError(
                        "UPDATE SET *: no non-key source column matches "
                        "a target column"
                    )
                return sets
            sets = {}
            for part in items(body):
                a = assignment(part)
                if a is None:
                    raise LakeSQLError(f"bad SET clause: {part!r}")
                qual, col, expr = a
                if qual and qual.lower() != t_al:
                    raise LakeSQLError(
                        f"SET may only assign target columns: {part!r}"
                    )
                cl = col.lower()
                if cl not in t_cols:
                    raise LakeSQLError(f"unknown target column {col!r}")
                sets[t_cols[cl]] = self._rewrite_merge_expr(
                    expr, t_al, s_al, src_map,
                    set(t_cols), insert_ctx=False, key_cols=on_lower,
                    by_source_ctx=by_source,
                )
            return sets

        def _parse_insert_sets(body):
            if body in ("", "*"):
                return {}  # same-named source cols, then defaults
            close = match_paren(body, 0) if body.startswith("(") else -1
            ms = re.fullmatch(
                r"\s*VALUES\s*\((.*)\)", body[close + 1:], re.I | re.S
            )
            cols = names(body[1:close]) if close > 0 else None
            if not ms or not cols:
                raise LakeSQLError(
                    "INSERT clause must be *, empty, or "
                    "(cols) VALUES (exprs)"
                )
            exprs = items(ms.group(1))
            if len(cols) != len(exprs):
                raise LakeSQLError(
                    f"INSERT column list has {len(cols)} names, "
                    f"VALUES has {len(exprs)} expressions"
                )
            sets = {}
            for c, e in zip(cols, exprs):
                cl = c.lower()
                if cl not in t_cols:
                    raise LakeSQLError(
                        f"unknown target column {c!r} in INSERT"
                    )
                sets[t_cols[cl]] = self._rewrite_merge_expr(
                    e.strip(), t_al, s_al, src_map,
                    set(t_cols), insert_ctx=True, key_cols=on_lower,
                )
            return sets

        matched_cls, not_matched_cls, by_source_cls = [], [], []
        cpos = [p - wpos[0] for p in wpos]
        clauses = [
            clauses_text[p + len("WHEN") : q].strip()
            for p, q in zip(cpos, cpos[1:] + [len(clauses_text)])
        ]
        for clause in clauses:
            if not clause:
                continue
            mm = re.match(
                r"^(NOT\s+)?MATCHED(\s+BY\s+(SOURCE|TARGET))?\b(.*)$",
                clause,
                re.I | re.S,
            )
            if not mm:
                raise LakeSQLError(f"bad MERGE WHEN clause: WHEN {clause!r}")
            is_not, by_word, rest2 = (
                bool(mm.group(1)),
                (mm.group(3) or "").upper(),
                mm.group(4),
            )
            if by_word and not is_not:
                raise LakeSQLError(
                    "BY SOURCE / BY TARGET applies to WHEN NOT MATCHED "
                    "clauses only"
                )
            is_by_source = is_not and by_word == "SOURCE"
            # the clause's own THEN is a top-level THEN followed by an
            # action verb whose PRECEDING text has balanced CASE/END
            # pairs: a CASE ... THEN inside the AND-condition leaves an
            # open CASE before it, and a 'THEN <column named update>'
            # inside a SET-body CASE comes after the real anchor — pick
            # the first balanced candidate
            tpos = [
                p
                for p in top_words(rest2, "THEN")
                if re.match(
                    r"THEN\s+(UPDATE|DELETE|INSERT)\b", rest2[p:], re.I
                )
            ]
            if not tpos:
                raise LakeSQLError(
                    f"MERGE WHEN clause needs THEN "
                    f"UPDATE/DELETE/INSERT: WHEN {clause!r}"
                )
            p = next(
                (
                    q
                    for q in tpos
                    if len(top_words(rest2[:q], "CASE"))
                    == len(top_words(rest2[:q], "END"))
                ),
                tpos[-1],
            )
            cond_txt = rest2[:p].strip()
            action_txt = rest2[p + len("THEN") :].strip()
            cond = None
            if cond_txt:
                ma = re.match(r"^AND\s+(.*)$", cond_txt, re.I | re.S)
                if not ma:
                    raise LakeSQLError(
                        f"bad MERGE clause condition (expected AND "
                        f"<predicate>): {cond_txt!r}"
                    )
                # a NOT MATCHED condition sees only the source row; a
                # BY SOURCE condition sees only the target row
                cond = self._rewrite_merge_expr(
                    ma.group(1).strip(), t_al, s_al, src_map,
                    set(t_cols),
                    insert_ctx=is_not and not is_by_source,
                    key_cols=on_lower,
                    by_source_ctx=is_by_source,
                )
            if is_by_source:
                if re.fullmatch(r"DELETE", action_txt, re.I):
                    by_source_cls.append({"cond": cond, "action": "delete"})
                else:
                    mu = re.match(
                        r"^UPDATE\s+SET\s+(.*)$", action_txt, re.I | re.S
                    )
                    if not mu:
                        raise LakeSQLError(
                            "WHEN NOT MATCHED BY SOURCE supports "
                            "UPDATE SET ... or DELETE"
                        )
                    by_source_cls.append({
                        "cond": cond,
                        "action": "update",
                        "sets": _parse_update_sets(
                            mu.group(1).strip(), by_source=True
                        ),
                    })
            elif is_not:
                mi = re.match(r"^INSERT\s*(.*)$", action_txt, re.I | re.S)
                if not mi:
                    raise LakeSQLError(
                        "WHEN NOT MATCHED supports only INSERT"
                    )
                not_matched_cls.append(
                    {"cond": cond, "sets": _parse_insert_sets(mi.group(1).strip())}
                )
            elif re.fullmatch(r"DELETE", action_txt, re.I):
                matched_cls.append({"cond": cond, "action": "delete"})
            else:
                mu = re.match(
                    r"^UPDATE\s+SET\s+(.*)$", action_txt, re.I | re.S
                )
                if not mu:
                    raise LakeSQLError(
                        "WHEN MATCHED supports UPDATE SET ... or DELETE"
                    )
                matched_cls.append({
                    "cond": cond,
                    "action": "update",
                    "sets": _parse_update_sets(mu.group(1).strip()),
                })
        if not matched_cls and not not_matched_cls and not by_source_cls:
            raise LakeSQLError("MERGE requires at least one WHEN clause")

        n = [0]

        def op(tx):
            r = tx.merge(
                target, src_df, on=on,
                matched_clauses=matched_cls or None,
                not_matched_clauses=not_matched_cls or None,
                not_matched_by_source_clauses=by_source_cls or None,
                sequence_col=seq_engine,
                auto_merge_schema=evolve,
            )
            # matched rows only count as affected when a matched clause
            # ACTS on them: 'acted' excludes matched rows whose every
            # clause condition was false; insert-only merges report
            # inserts; by-source merges report the rows a by-source clause
            # fired on
            n[0] = r["acted"] + r["inserted"] + r["acted_by_source"]

        self._run(op)
        return self._status("MERGE", n[0])

    # SQL keywords never rewritten as bare column references: a source
    # column named 'end' or 'then' must be alias-qualified (s.end) to be
    # referenced — rewriting the bare keyword would corrupt CASE/interval
    # expressions that legitimately contain these words
    _SQL_KEYWORDS = frozenset(
        "case when then else end and or not in is null true false "
        "between like ilike rlike distinct cast interval as div exists "
        "all any some asc desc nulls first last over escape".split()
    )

    def _rewrite_merge_expr(
        self, expr, t_al, s_al, src_map, t_cols, insert_ctx,
        key_cols=frozenset(), by_source_ctx=False,
    ) -> str:
        """Rewrite alias-qualified references in one MERGE SET/VALUES
        expression to the engine contract (target plain, source
        ``__s_<col>``), over the shared quote-aware identifier scanner
        (lexer.column_refs — function names pass through).
        An unqualified name present on BOTH sides is an ambiguity error
        (standard-engine behavior — a ported statement must never silently
        compute from the wrong side), EXCEPT the merge key columns, whose
        two sides are provably equal on every matched row; SQL keywords
        never rewrite bare. In INSERT VALUES no target row is in scope:
        target-qualified refs are a clean parse-time error and unqualified
        source names always rewrite. In a BY SOURCE clause
        (``by_source_ctx``) no SOURCE row is in scope: source references
        (qualified or bare) are a clean parse-time error and unqualified
        names resolve to the target without ambiguity."""
        out, prev = [], 0
        for start, _, end, name, qual in column_refs(expr):
            ql, cl = (qual or "").lower(), name.lower()
            rep = None
            if qual is not None and ql == t_al:
                if insert_ctx:
                    raise LakeSQLError(
                        f"target column reference {qual}.{name} is not in "
                        "scope in a MERGE INSERT VALUES clause (no target "
                        "row exists for an unmatched source row)"
                    )
                if cl not in t_cols:
                    raise LakeSQLError(
                        f"unknown target column {name!r} in MERGE expression"
                    )
                rep = name
            elif qual is not None and s_al and ql == s_al:
                if by_source_ctx:
                    raise LakeSQLError(
                        f"source column reference {qual}.{name} is not "
                        "in scope in a WHEN NOT MATCHED BY SOURCE clause "
                        "(no source row exists for an unmatched target "
                        "row)"
                    )
                if cl not in src_map:
                    raise LakeSQLError(
                        f"unknown source column {name!r} in MERGE expression"
                    )
                rep = src_map[cl]
            elif qual is None and cl not in self._SQL_KEYWORDS:
                if by_source_ctx:
                    if cl in src_map and cl not in t_cols:
                        raise LakeSQLError(
                            f"source column {name!r} is not in scope in "
                            "a WHEN NOT MATCHED BY SOURCE clause"
                        )
                    # target-only scope: bare names resolve to the target
                elif cl in src_map and (insert_ctx or cl not in t_cols):
                    rep = src_map[cl]
                elif (
                    cl in src_map and cl in t_cols and cl not in key_cols
                ):
                    raise LakeSQLError(
                        f"column reference {name!r} is ambiguous in a "
                        "MERGE expression (present on both target and "
                        "source) — qualify it with an alias"
                    )
            if rep is not None:
                quoted = expr[end - 1] == "`"
                out += [expr[prev:start], bq(rep) if quoted else rep]
                prev = end
        out.append(expr[prev:])
        return "".join(out)

    # -- CALL-style maintenance (DuckLake ships these as SQL surface) ----
    def _rows_arg(self, tok, what):
        """A statement argument naming rows: a lake table/view name or a
        parenthesized subquery, evaluated through the same read face as
        every other statement (shared by the CALL verbs and COPY)."""
        t = tok.strip()
        if t.startswith("("):
            return self._query(unwrap_parens(t))
        if re.fullmatch(_IDENT, t):
            return self._query(f"SELECT * FROM {t}")
        raise LakeSQLError(
            f"{what} must be a table name or (subquery); got {tok!r}"
        )

    def _external_df(
        self, path: str, fmt: str, header, delim: str, quote: str = '"',
        columns=None,
    ):
        """Read an external parquet/csv file, part-file directory, or
        glob. ``columns`` ({name: ddl_type}) declares the csv schema
        outright (inference off; header defaults to ABSENT then, like
        DuckDB's read_csv with columns). Otherwise ``header=None``
        triggers the DuckDB-style sniff: read WITHOUT a header first —
        any non-string inferred column means the first record is DATA (a
        header line would have forced every column to string). All-string
        columns are ambiguous; the first record is then compared against
        sampled data rows — an empty or duplicated first-row value, or a
        first-row value that reappears in its own column's data, marks it
        DATA; otherwise a header is assumed and a warning points at the
        explicit ``header``/``columns`` overrides."""
        if fmt == "parquet":
            return self.c.spark.read.parquet(path)
        rd = self.c.spark.read.option("sep", delim).option("quote", quote)
        if columns:
            ddl = ", ".join(f"`{n}` {t}" for n, t in columns.items())
            return (
                rd.schema(ddl)
                .option("header", str(bool(header)).lower())
                .csv(path)
            )
        rd = rd.option("inferSchema", "true")
        if header is None:
            nohdr = rd.option("header", "false").csv(path)
            if any(t != "string" for _c, t in nohdr.dtypes):
                header = False
            else:
                header = self._sniff_header_all_text(nohdr, path)
        return rd.option("header", str(bool(header)).lower()).csv(path)

    @staticmethod
    def _sniff_header_all_text(nohdr, path: str) -> bool:
        """Header-vs-data call for the ambiguous all-text csv: column
        names are unique, non-empty, and don't normally recur as their
        own column's values — any counter-signal from a bounded sample
        marks the first record as DATA. A True verdict warns visibly: a
        headerless all-text file would silently lose its first row."""
        sample = nohdr.limit(101).collect()
        if not sample:
            return False
        first, rest = sample[0], sample[1:]
        vals = [first[c] for c in nohdr.columns]
        if any(v is None or str(v).strip() == "" for v in vals):
            return False  # header names are never empty
        if len({str(v) for v in vals}) != len(vals):
            return False  # header names are unique
        for c in nohdr.columns:
            if any(r[c] == first[c] for r in rest):
                return False  # 'name' reappearing as a value => data
        import warnings

        warnings.warn(
            f"read_csv: assuming the first record of {path!r} is a "
            "header (all columns are text); pass header => false or "
            "columns => {...} if it is data",
            stacklevel=2,
        )
        return True

    @staticmethod
    def _copy_options(opts_text, path: str, what: str, keys) -> dict:
        """COPY's ``(KEY value, ...)`` options as {key: value text without
        outer quotes}; DELIM/SEP spell ``delimiter`` and TYPES ``columns``.
        ``format`` comes from the path's suffix when absent, and
        ``header`` is True/False, or None when absent."""
        opts = {}
        for item in items(opts_text or ""):
            mm = re.match(r"([A-Za-z_]+)\s*(.*)$", item, re.S)
            if not mm:
                raise LakeSQLError(f"bad COPY option {item!r}")
            k = mm.group(1).lower()
            k = {"delim": "delimiter", "sep": "delimiter", "types": "columns"}.get(k, k)
            if k not in keys:
                raise LakeSQLError(f"unknown {what} option {k!r}")
            opts[k] = mm.group(2).strip().strip("'")
        fmt = opts.get("format") or (
            "csv" if path.lower().endswith(".csv") else "parquet"
        )
        if fmt.lower() not in ("parquet", "csv"):
            raise LakeSQLError(f"unsupported COPY format {fmt!r} (parquet/csv)")
        opts["format"] = fmt.lower()
        header = opts.get("header")
        opts["header"] = None if header is None else header.lower() != "false"
        return opts

    def _copy_stmt(self, srctok: str, path: str, opts_text: str) -> DataFrame:
        """``COPY <table|(subquery)> TO '<path>' [(FORMAT PARQUET|CSV
        [, HEADER true|false] [, DELIMITER 'c'] [, OVERWRITE]
        [, PARTITION_BY (cols)])]`` — DuckDB's result-export verb over
        Spark's writers; PARTITION_BY produces DuckDB's hive-partitioned
        tree (``col=value/`` directories, each partition written by its
        own tasks).

        Two output shapes, chosen by the path:
        * ``*.parquet`` / ``*.csv`` — ONE file, DuckDB parity: the frame is
          coalesced to a single writer task (serializes the write — the
          small-export convenience form; existing file replaced, like
          DuckDB). Written to a temp dir next to the target, then moved,
          so a crash never leaves a half-written target.
        * anything else — a DIRECTORY of part files via the native
          distributed write (the 100-TB path: every task writes its own
          file). Refuses to clobber an existing directory unless
          OVERWRITE is given.
        """
        import glob as _glob
        import os

        df = self._rows_arg(srctok, "COPY source")
        o = self._copy_options(
            opts_text, path, "COPY",
            ("format", "header", "delimiter", "overwrite", "partition_by"),
        )
        fmt, header, delim = o["format"], o["header"], o.get("delimiter", ",")
        overwrite = o.get("overwrite", "false").lower() != "false"
        # DuckDB's hive-partitioned export: one value-directory tree, each
        # partition written by its own tasks — the native distributed
        # layout for downstream pruning
        partition_by = [
            c.strip("'\"") for c in items(unwrap_parens(o.get("partition_by", "")))
        ]
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise LakeSQLError(
                f"PARTITION_BY column(s) {missing} not in the COPY source"
            )
        low = path.lower()
        single = low.endswith(".parquet") or low.endswith(".csv")
        if partition_by and single:
            raise LakeSQLError(
                "PARTITION_BY writes a directory tree; the target must "
                "not be a single *.parquet/*.csv file"
            )
        # target checks BEFORE any job runs (a clobber refusal must not
        # cost a source scan)
        if single and os.path.isdir(path):
            raise LakeSQLError(
                f"single-file COPY target {path!r} is a DIRECTORY "
                "(remove it, or use a directory-form path without the "
                ".parquet/.csv suffix)"
            )
        if not single and os.path.exists(path) and not overwrite:
            raise LakeSQLError(
                f"COPY target {path!r} exists (pass OVERWRITE to "
                "replace the directory)"
            )
        write_header = fmt == "csv" and header is not False

        def _write(target, frame):
            w = frame.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            if fmt == "csv":
                # DuckDB writes a header line by default; Spark doesn't
                w = w.option("header", str(write_header).lower())
                w = w.option("sep", delim)
            getattr(w, fmt)(target)

        def _rows_written(files):
            """Row count FROM the written files (parquet footers / csv
            line counts) — never a second execution of the source query:
            the export runs ONE job, the count is pure metadata/local IO,
            and a non-deterministic source can't make the reported count
            disagree with what landed."""
            total = 0
            for p in files:
                if fmt == "parquet":
                    import pyarrow.parquet as pq

                    total += pq.ParquetFile(p).metadata.num_rows
                else:
                    # quote-aware record count: embedded newlines inside
                    # quoted string values must not inflate the reported
                    # row count (raw b'\n' counting did). Arrow's csv
                    # reader when it parses cleanly, stdlib csv otherwise.
                    hdr = 1 if write_header else 0
                    try:
                        import pyarrow.csv as _pacsv

                        total += max(0, _pacsv.read_csv(
                            p,
                            read_options=_pacsv.ReadOptions(
                                autogenerate_column_names=True
                            ),
                            parse_options=_pacsv.ParseOptions(
                                delimiter=delim, newlines_in_values=True
                            ),
                        ).num_rows - hdr)
                    except Exception:
                        import csv as _csv

                        with open(
                            p, newline="", encoding="utf-8",
                            errors="replace",
                        ) as fh:
                            nrec = sum(
                                1 for _ in _csv.reader(fh, delimiter=delim)
                            )
                        total += max(0, nrec - hdr)
            return total

        if single:
            self._write_single_file(path, lambda d: _write(d, df.coalesce(1)))
            n = _rows_written([path])
        else:
            _write(path, df)
            pattern = (
                "/".join(["*"] * len(partition_by)) + "/part-*"
                if partition_by
                else "part-*"
            )
            n = _rows_written(
                sorted(_glob.glob(os.path.join(path, pattern)))
            )
        return self._status("COPY", n)

    def _call(self, head: _Head, src) -> DataFrame:
        """``CALL expire_snapshots(...)`` / ``CALL compact(t [, bytes])`` /
        ``CALL flush_inlined(t)`` / ``CALL gc([min_age_seconds])`` —
        SQL verbs over the existing maintenance engines (catalog.py), so a
        SQL-first maintenance job never needs the Python API. DuckLake
        spellings accepted: ducklake_expire_snapshots,
        ducklake_merge_adjacent_files (-> compact),
        ducklake_cleanup_old_files (-> gc).

        A CALL names its target catalog inside its arguments — a
        qualified first argument of a table-level verb (``compact(att.t)``,
        ``'att.t'``) or ``catalog => 'att'`` — so it is routed here, once
        they are read, through _target; probe_vector_index is the one verb
        that only reads. A QUOTED dotted argument only splits when its
        prefix names an attached catalog (or 'main'): ``CALL
        compact('a.b')`` on a table literally named ``a.b`` is a table
        lookup, not a routing error."""
        m = re.fullmatch(rf"\s*({_IDENT})\s*\((.*)\)", head.rest, re.S)
        if m is None:
            raise LakeSQLError(
                "bad CALL statement: expected CALL <procedure>(<args>)"
            )
        fn, argstext = m.groups()
        self._no_txn("CALL")
        f = fn.lower()
        if f.startswith("ducklake_"):
            f = f[len("ducklake_") :]
        f = {"merge_adjacent_files": "compact", "cleanup_old_files": "gc"}.get(
            f, f
        )
        pos, named = [], {}
        for a in items(argstext):
            mm = re.match(rf"^({_IDENT})\s*=>\s*(.+)$", a.strip(), re.S)
            if mm:
                named[mm.group(1).lower()] = mm.group(2).strip()
            else:
                pos.append(a.strip())
        cat = None
        if "catalog" in named and f in _CALL_CATALOG_VERBS:
            cat = str(self._call_value(named.pop("catalog")))
        elif pos and f in _CALL_TABLE_VERBS:
            t = pos[0]
            quoted = t.startswith("'") and t.endswith("'")
            if quoted:
                t = t[1:-1].replace("''", "'")
            mm = re.fullmatch(rf"({_IDENT})\s*\.\s*({_IDENT})", t)
            if mm and (not quoted or self._catalog(mm.group(1))):
                cat, pos[0] = mm.group(1), mm.group(2)
        tgt, _ = self._target(
            head._replace(cat=cat, writes=f != "probe_vector_index")
        )
        return tgt._run_call(fn, f, pos, named)

    @staticmethod
    def _call_value(tok):
        t = tok.strip()
        if t.startswith("'") and t.endswith("'"):
            return t[1:-1].replace("''", "'")
        if t.lower() in ("true", "false"):
            return t.lower() == "true"
        if re.fullmatch(_IDENT, t):
            return t  # bare identifier = table name
        try:
            return int(t)
        except ValueError:
            try:
                return float(t)
            except ValueError:
                raise LakeSQLError(f"bad CALL argument {tok!r}")

    def _run_call(self, fn: str, f: str, pos: list, named: dict) -> DataFrame:
        _val, _df_arg = self._call_value, self._rows_arg
        if f == "expire_snapshots":
            kw = {}
            for k, v in named.items():
                key = {"older_than": "before_timestamp"}.get(k, k)
                if key not in (
                    "before_version", "before_timestamp", "keep_last"
                ):
                    raise LakeSQLError(f"unknown expire_snapshots arg {k!r}")
                kw[key] = _val(v)
            if pos:
                raise LakeSQLError(
                    "expire_snapshots takes named arguments only "
                    "(before_version => n | before_timestamp => 'ts' | "
                    "keep_last => n)"
                )
            r = self.c.expire_snapshots(**kw)
            return local_df(
                self.c.spark,
                [tuple(int(r[k]) for k in sorted(r))],
                ", ".join(f"{k} bigint" for k in sorted(r)),
            )
        if f == "compact":
            args = [_val(v) for v in pos]
            if not args:
                raise LakeSQLError("compact(table [, target_file_bytes])")
            tfb = named.get("target_file_bytes")
            if tfb is not None:
                args.append(_val(tfb))
            self.c.compact(*args[:2])
            return self._status("CALL compact", 0)
        if f == "optimize":
            # Delta's OPTIMIZE ... ZORDER BY as a maintenance verb:
            # CALL optimize('t' [, zorder_by => 'a,b']
            #               [, target_file_bytes => n])
            # zorder_by omitted = re-cluster on the table's PERSISTED spec
            # (optimize records explicit columns in the schema, so compact
            # and later bare optimize calls keep the clustering)
            if len(pos) != 1:
                raise LakeSQLError(
                    "optimize(table [, zorder_by => 'col[,col...]'] "
                    "[, target_file_bytes => n])"
                )
            kw = {}
            if "zorder_by" in named:
                kw["zorder_by"] = _val(named["zorder_by"])
            if "target_file_bytes" in named:
                kw["target_file_bytes"] = _val(named["target_file_bytes"])
            self.c.optimize(_val(pos[0]), **kw)
            return self._status("CALL optimize", 0)
        if f == "flush_inlined":
            if len(pos) != 1:
                raise LakeSQLError("flush_inlined(table)")
            self.c.flush_inlined(_val(pos[0]))
            return self._status("CALL flush_inlined", 0)
        if f in ("add_retention_policy", "apply_retention"):
            # bucket expiry on a time-bucketed rollup (TimescaleDB's
            # add_retention_policy idea as an explicit one-shot verb):
            # expire + record the horizon in ONE catalog txn; AT(VERSION)
            # reads keep the archive, refreshes can't resurrect (rollup.py)
            if len(pos) != 1 or "drop_before" not in named:
                raise LakeSQLError(
                    "add_retention_policy(mv, drop_before => 'timestamp')"
                )
            if find_rollup(self.c, _val(pos[0])) is None:
                raise LakeSQLError(
                    f"no materialized view named {pos[0]!r}"
                )
            n = apply_retention(
                self.c, _val(pos[0]), str(_val(named["drop_before"]))
            )
            return self._status("CALL add_retention_policy", n)
        if f == "gc":
            age = named.get("min_age_seconds") or (pos[0] if pos else None)
            removed = self.c.gc(
                **({"min_age_seconds": float(_val(age))} if age else {})
            )
            return self._status("CALL gc", len(removed))
        if f in (
            "build_vector_index", "extend_vector_index",
            "remove_vectors", "probe_vector_index",
        ):
            # X15 lifecycle as SQL verbs — same engines as the Python API
            # (ducktales_spark/vector_index.py); probe returns its result
            # set like a table function
            from .. import vector_index as _vx

            if not pos:
                raise LakeSQLError(f"{f} needs an index name")
            idx = _val(pos[0])
            if not isinstance(idx, str):
                raise LakeSQLError(f"{f}: bad index name {pos[0]!r}")
            if f == "build_vector_index":
                if len(pos) != 2:
                    raise LakeSQLError(
                        "build_vector_index(index, source_table|(subquery)"
                        " [, n_centroids => n, refine_iterations => n, "
                        "quantize => true|false])"
                    )
                kw = {}
                for k, v in named.items():
                    if k not in (
                        "n_centroids", "refine_iterations",
                        "coarse_threshold", "quantize",
                    ):
                        raise LakeSQLError(
                            f"unknown build_vector_index arg {k!r}"
                        )
                    kw[k] = _val(v)
                n_cent = _vx.build_vector_index(
                    self.c, idx, _df_arg(pos[1], "source"), **kw
                )
                return self._status("CALL build_vector_index", int(n_cent))
            if f == "extend_vector_index":
                if len(pos) != 2:
                    raise LakeSQLError(
                        "extend_vector_index(index, source_table|(subquery)"
                        " [, route_width => n])"
                    )
                kw = {}
                for k, v in named.items():
                    if k != "route_width":
                        raise LakeSQLError(
                            f"unknown extend_vector_index arg {k!r}"
                        )
                    kw[k] = _val(v)
                _vx.extend_vector_index(
                    self.c, idx, _df_arg(pos[1], "source"), **kw
                )
                return self._status("CALL extend_vector_index", 0)
            if f == "remove_vectors":
                if len(pos) != 2:
                    raise LakeSQLError(
                        "remove_vectors(index, ids_table|(subquery))"
                    )
                n = _vx.remove_vectors(
                    self.c, idx, _df_arg(pos[1], "ids")
                )
                return self._status("CALL remove_vectors", int(n))
            # probe_vector_index: queries are driver-small by the probe's
            # own contract (|Q| x k result pairs), so toPandas here is the
            # documented bounded collect, not a scale leak
            if len(pos) != 2:
                raise LakeSQLError(
                    "probe_vector_index(index, queries_table|(subquery)"
                    " [, k => n, nprobe => n])"
                )
            kw = {}
            for k, v in named.items():
                if k not in ("k", "nprobe", "coarse_nprobe", "version"):
                    raise LakeSQLError(
                        f"unknown probe_vector_index arg {k!r}"
                    )
                kw[k] = _val(v)
            qdf = _df_arg(pos[1], "queries").toPandas()
            return _vx.probe_vector_index(self.c, idx, qdf, **kw)
        raise LakeSQLError(f"unknown procedure {fn!r}")

    def _no_txn(self, stmt: str) -> None:
        if self._tx is not None:
            raise LakeSQLError(
                f"{stmt} cannot run inside an explicit transaction: it "
                "commits catalog snapshots of its own (same restriction "
                "as the reference's ducklake DDL-in-txn limits)"
            )

    def _mv_guard_deterministic(
        self, text: str, src: str, what: str, extra_cols=()
    ):
        """Refuse subqueries and non-deterministic / time-dependent names
        in a maintained MV expression (WHERE predicate or expression key):
        the value is computed ONCE, at the refresh that sees a row's diff
        — now()/rand() would make create, each refresh, and a recompute
        all disagree (TimescaleDB restricts cagg expressions to immutable
        functions the same way). ``extra_cols`` names additional
        legitimate column references beyond the source schema (HAVING
        sees the READ FACE, so an expression-key alias named 'today' or
        'random' resolves as a deterministic column there)."""
        stripped = strip_sql_literals(text)
        idents = {
            t.lower()
            for t in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", stripped)
        }
        if "select" in idents:
            raise LakeSQLError(
                f"materialized-view {what} cannot contain subqueries: "
                "it must be decidable per source row for incremental "
                "maintenance"
            )
        nondet = set(idents & self._MV_NONDETERMINISTIC)
        # a legitimate source COLUMN named 'user'/'today'/'random'
        # resolves as a deterministic column reference — excuse it
        # unless (a) it's an ANSI niladic keyword (parses as the
        # function even when a column shadows it) or (b) the text
        # also CALLS it as a function
        src_cols = (
            {f.name.lower() for f in self._schema_of(src).fields}
            if self._table_exists(src)
            else set()
        )
        src_cols |= {c.lower() for c in extra_cols}
        niladic = {
            "current_timestamp", "current_date", "current_time",
            "localtimestamp",
        }
        for nm in sorted((nondet & src_cols) - niladic):
            if not re.search(rf"\b{nm}\s*\(", stripped, re.I):
                nondet.discard(nm)
        if nondet:
            raise LakeSQLError(
                f"materialized-view {what} must be deterministic "
                f"and row-local; {sorted(nondet)} would make the "
                "incrementally-maintained state diverge from a "
                "recompute (rows are judged once, at the refresh "
                "that sees their diff)"
            )

    # aggregate function names refused inside an expression KEY (an
    # aggregate belongs in the select's agg items, not a group key)
    _MV_AGG_NAMES = frozenset(
        "count sum avg min max approx_count_distinct hll_sketch_agg "
        "collect_list collect_set stddev stddev_pop stddev_samp variance "
        "var_pop var_samp percentile percentile_approx median first last "
        "any_value".split()
    )

    def _parse_mv_select(self, body: str) -> dict:
        """Parse the incrementally-maintainable aggregate-SELECT subset.

        Output columns use the rollup tier's canonical names (bucket_start,
        <keys>, n_rows, sum_<c>/avg_<c>/min_<c>/max_<c>); an explicit alias
        is accepted only when it matches the canonical name — arbitrary
        renames would break the REFRESH machinery's stored-state contract,
        the same reason TimescaleDB restricts cagg definitions."""
        bad_shape = LakeSQLError(
            "CREATE MATERIALIZED VIEW supports only the maintainable "
            "subset: SELECT <keys...>, [time_bucket(...),] "
            "COUNT(*)/COUNT([DISTINCT] col)/APPROX_COUNT_DISTINCT(col)/"
            "SUM/AVG/MIN/MAX/STDDEV/VARIANCE(col)... FROM <lake table> "
            "[WHERE <pred over source columns>] [GROUP BY ...] "
            "[HAVING <pred over the selected aggregates/keys>] — "
            "no JOIN/subqueries"
        )
        m = re.match(
            rf"^SELECT\s+(.*?)\s+FROM\s+({_IDENT})\b(.*)$",
            body.strip(),
            re.I | re.S,
        )
        if not m:
            raise bad_shape
        sel, src, tail = m.group(1), m.group(2), m.group(3)
        where, gb, having = None, None, None
        tail = tail.strip()
        if tail:
            gidx = None
            for p in top_words(tail, "GROUP"):
                if re.match(r"GROUP\s+BY\b", tail[p:], re.I):
                    gidx = p
                    break
            head = (tail if gidx is None else tail[:gidx]).strip()
            if gidx is not None:
                gb = re.sub(
                    r"^GROUP\s+BY\s+", "", tail[gidx:], flags=re.I | re.S
                ).strip()
                hpos = top_words(gb, "HAVING")
                if hpos:
                    having = gb[hpos[0] + len("HAVING"):].strip()
                    gb = gb[: hpos[0]].strip()
            elif head:
                # HAVING with no GROUP BY (global-aggregate MV)
                hpos = top_words(head, "HAVING")
                if hpos:
                    having = head[hpos[0] + len("HAVING"):].strip()
                    head = head[: hpos[0]].strip()
            if having == "":
                raise LakeSQLError("HAVING requires a predicate")
            if head:
                mw = re.match(r"^WHERE\s+(.*)$", head, re.I | re.S)
                if not mw:
                    raise bad_shape
                where = mw.group(1).strip()
                # scan the literal-stripped text: subqueries and
                # non-deterministic/time-dependent functions both break
                # the incremental==recompute invariant (a row's predicate
                # verdict is judged ONCE, at the refresh that sees its
                # diff — now()/rand() would make create, each refresh,
                # and a recompute all disagree; TimescaleDB restricts
                # cagg predicates to immutable functions the same way)
                self._mv_guard_deterministic(where, src, "WHERE")
        keys, key_exprs, sum_cols, minmax_cols = [], {}, [], []
        count_cols, approx_cols, distinct_cols, var_cols = [], [], [], []
        time_col, bucket_s, bucket_alias, bucket_expr = None, 3600, None, None
        has_bucket = False

        def _check_alias(alias, canonical):
            if alias is not None and alias.lower() != canonical.lower():
                raise LakeSQLError(
                    f"materialized-view column must be named {canonical!r} "
                    f"(got alias {alias!r}): stored rollup state uses "
                    "canonical names"
                )

        parsed = []  # per select item: ("key", name) | ("bucket",) | ("agg",)
        for item in items(sel):
            item = item.strip()
            if re.fullmatch(_IDENT, item):
                if item.lower() in {k.lower() for k in keys}:
                    # clean pre-transaction error (a duplicate — plain or
                    # colliding with an expression-key alias — would die
                    # as AMBIGUOUS_REFERENCE inside create_rollup's CTAS)
                    raise LakeSQLError(f"duplicate key column {item!r}")
                keys.append(item)
                parsed.append(("key", item))
                continue
            mb = self._MV_BUCKET.match(item)
            if mb:
                if has_bucket:
                    raise LakeSQLError("only one time_bucket(...) allowed")
                has_bucket = True
                n = int(mb.group(1) or mb.group(3))
                unit = (mb.group(2) or "second").lower().rstrip("s")
                bucket_s = n * self._MV_UNITS[unit]
                time_col = mb.group(4)
                bucket_alias = mb.group(5)
                _check_alias(bucket_alias, "bucket_start")
                bucket_expr = re.sub(
                    r"\s+",
                    " ",
                    re.sub(
                        rf"\s+AS\s+{_IDENT}\s*$", "", item, flags=re.I
                    ),
                ).lower()
                parsed.append(("bucket",))
                continue
            ma = self._MV_AGG.match(item)
            if ma:
                fn, is_distinct, arg, alias = (
                    ma.group(1).upper(),
                    bool(ma.group(2)),
                    ma.group(3),
                    ma.group(4),
                )
                if arg == "*" and (fn != "COUNT" or is_distinct):
                    # catch SUM(*) / COUNT(DISTINCT *) here with a clear
                    # error instead of letting '*' reach the column
                    # validation ("column '*' not found") or create_rollup's
                    # CTAS (opaque AnalysisException mid-transaction)
                    what = f"{fn}(DISTINCT *)" if is_distinct else f"{fn}(*)"
                    raise LakeSQLError(
                        f"{what} is not a valid aggregate: it takes a "
                        "column argument"
                    )
                if is_distinct and fn != "COUNT":
                    raise LakeSQLError(
                        f"DISTINCT is only maintained under COUNT "
                        f"(got {fn}(DISTINCT {arg}))"
                    )
                if fn == "COUNT" and is_distinct:
                    # exact distinct count: non-additive — refreshes route
                    # through partial recompute of the touched buckets
                    _check_alias(alias, f"distinct_{arg}")
                    if arg not in distinct_cols:
                        distinct_cols.append(arg)
                elif fn == "COUNT":
                    if arg == "*":
                        _check_alias(alias, "n_rows")
                    else:
                        # null-skipping COUNT(col): additive like n_rows
                        _check_alias(alias, f"count_{arg}")
                        if arg not in count_cols:
                            count_cols.append(arg)
                elif fn == "APPROX_COUNT_DISTINCT":
                    # HLL sketch state, additive on insert-only diffs
                    _check_alias(alias, f"approx_distinct_{arg}")
                    if arg not in approx_cols:
                        approx_cols.append(arg)
                elif fn in ("SUM", "AVG"):
                    _check_alias(alias, f"{fn.lower()}_{arg}")
                    if arg not in sum_cols:
                        sum_cols.append(arg)
                elif fn in (
                    "STDDEV", "STDDEV_SAMP", "VARIANCE", "VAR_SAMP",
                    "STDDEV_POP", "VAR_POP",
                ):
                    if fn.endswith("_POP"):
                        raise LakeSQLError(
                            f"{fn} is not maintained (sample semantics "
                            f"only): use {fn[:-4]}_SAMP, or derive the "
                            "population form from the sumsq_/sum_/count_ "
                            "state columns"
                        )
                    face = (
                        "stddev" if fn.startswith("STDDEV") else "var"
                    )
                    _check_alias(alias, f"{face}_{arg}")
                    # additive sum-of-squares state; the read-face formula
                    # divides by the NULL-skipping count, so SUM and COUNT
                    # state for the column ride along automatically
                    if arg not in var_cols:
                        var_cols.append(arg)
                    if arg not in sum_cols:
                        sum_cols.append(arg)
                    if arg not in count_cols:
                        count_cols.append(arg)
                else:  # MIN / MAX
                    _check_alias(alias, f"{fn.lower()}_{arg}")
                    if arg not in minmax_cols:
                        minmax_cols.append(arg)
                parsed.append(("agg",))
                continue
            mk = re.match(
                rf"^(.*)\s+AS\s+({_IDENT})\s*$", item, re.I | re.S
            )
            if mk:
                # expression KEY: a deterministic scalar over source
                # columns, stored under its (mandatory) alias — grouped by
                # computing the expr on every refresh path (rollup tier)
                expr, alias = mk.group(1).strip(), mk.group(2)
                al = alias.lower()
                reserved = al in ("bucket_start", "n_rows") or re.match(
                    r"^(sum|sumsq|avg|min|max|count|hll|distinct|"
                    r"approx_distinct|var|stddev)_", al
                )
                if reserved:
                    raise LakeSQLError(
                        f"expression-key alias {alias!r} collides with a "
                        "canonical rollup column name"
                    )
                called = {
                    t.lower()
                    for t in re.findall(
                        r"([A-Za-z_][A-Za-z0-9_]*)\s*\(",
                        strip_sql_literals(expr),
                    )
                }
                if called & self._MV_AGG_NAMES:
                    raise LakeSQLError(
                        f"aggregate {sorted(called & self._MV_AGG_NAMES)} "
                        "cannot appear in a group-key expression"
                    )
                self._mv_guard_deterministic(expr, src, "key expression")
                if al in {k.lower() for k in keys}:
                    raise LakeSQLError(f"duplicate key alias {alias!r}")
                keys.append(alias)
                key_exprs[alias] = expr
                parsed.append(("key", alias))
                continue
            raise LakeSQLError(
                f"unsupported materialized-view select item: {item!r} "
                "(plain key columns, <deterministic expr> AS <alias> "
                "keys, one time_bucket(...), and COUNT(*)/"
                "COUNT(col)/COUNT(DISTINCT col)/APPROX_COUNT_DISTINCT(col)/"
                "SUM/AVG/MIN/MAX/STDDEV/VARIANCE(col) only)"
            )

        # GROUP BY must cover exactly the keys (+ the bucket, if present);
        # items may be named, aliased, the full time_bucket expr, or ordinal
        covered_keys, covered_bucket = set(), False
        for tok in items(gb) if gb else []:
            t = re.sub(r"\s+", " ", tok.strip())
            tl = t.lower()
            if t.isdigit():
                idx = int(t) - 1
                if not 0 <= idx < len(parsed):
                    raise LakeSQLError(f"GROUP BY ordinal {t} out of range")
                kind = parsed[idx]
                if kind[0] == "key":
                    covered_keys.add(kind[1].lower())
                elif kind[0] == "bucket":
                    covered_bucket = True
                else:
                    raise LakeSQLError("cannot GROUP BY an aggregate")
            elif tl in {k.lower() for k in keys}:
                covered_keys.add(tl)
            elif any(
                # normalize the RAW token (t is pre-collapsed INCLUDING
                # inside literals — feeding it here would reject a
                # byte-identical expression whose literal contains
                # consecutive whitespace)
                _norm_sql_expr(e) == _norm_sql_expr(tok.strip())
                for e in key_exprs.values()
            ):
                covered_keys.add(next(
                    a.lower() for a, e in key_exprs.items()
                    if _norm_sql_expr(e) == _norm_sql_expr(tok.strip())
                ))
            elif has_bucket and (
                tl == "bucket_start"
                or (bucket_alias and tl == bucket_alias.lower())
                or tl == bucket_expr
            ):
                covered_bucket = True
            else:
                raise LakeSQLError(f"bad GROUP BY item: {tok!r}")
        missing = {k.lower() for k in keys} - covered_keys
        if missing:
            raise LakeSQLError(
                f"key columns {sorted(missing)} must appear in GROUP BY"
            )
        if has_bucket and not covered_bucket:
            raise LakeSQLError("time_bucket(...) must appear in GROUP BY")

        if having is not None:
            # AVG(c) parity needs to know whether c can hold NULLs: the
            # read face's avg_c divides by COUNT(*), which equals SQL AVG
            # only for non-nullable columns (see _rewrite_mv_having).
            nullable_cols = (
                {
                    f.name.lower()
                    for f in self._schema_of(src).fields
                    if f.nullable
                }
                if self._table_exists(src)
                else {c.lower() for c in sum_cols}  # unknown: assume nullable
            )
            having = self._rewrite_mv_having(
                having,
                sum_cols=sum_cols,
                minmax_cols=minmax_cols,
                count_cols=count_cols,
                approx_cols=approx_cols,
                distinct_cols=distinct_cols,
                nullable_cols=nullable_cols,
                var_cols=var_cols,
            )
            # same discipline as the WHERE/key-expr guards: a volatile or
            # subquery-bearing HAVING would make two reads of the same MV
            # version disagree. Keys (incl. expression-key aliases) are
            # legitimate face references even when named like a volatile
            # function.
            self._mv_guard_deterministic(
                having, src, "HAVING", extra_cols=keys
            )

        return {
            "src": src,
            "time_col": time_col,
            "bucket_s": bucket_s,
            "keys": tuple(keys),
            "key_exprs": key_exprs,
            "sum_cols": tuple(sum_cols),
            "minmax_cols": tuple(minmax_cols),
            "count_cols": tuple(count_cols),
            "approx_cols": tuple(approx_cols),
            "distinct_cols": tuple(distinct_cols),
            "var_cols": tuple(var_cols),
            "where": where,
            "having": having,
        }

    def _rewrite_mv_having(
        self, text: str, *, sum_cols, minmax_cols, count_cols,
        approx_cols, distinct_cols, nullable_cols=frozenset(),
        var_cols=(),
    ) -> str:
        """Rewrite aggregate-function spellings in a HAVING predicate to
        the rollup's canonical read-face column names (``COUNT(*)`` ->
        n_rows, ``SUM(c)`` -> sum_c, ``MIN/MAX(c)`` -> min_c/max_c,
        ``COUNT(c)`` -> count_c, ``COUNT(DISTINCT c)`` -> distinct_c,
        ``APPROX_COUNT_DISTINCT(c)`` -> approx_distinct_c),
        refusing aggregates the view does not maintain — HAVING can only
        be answered from maintained state, never by re-scanning the
        source at read time. Canonical names (``HAVING sum_c > 5``) and
        key/bucket_start references pass through untouched.

        ``AVG(c)`` is NULL-exact: SQL AVG divides by the count of
        NON-NULL values, but the read face's ``avg_c`` divides by
        ``n_rows`` (COUNT(*)), so the two diverge as soon as the group
        holds a NULL. The rewrite therefore emits ``(sum_c / count_c)``
        when ``COUNT(c)`` is maintained, falls back to ``avg_c`` only
        when the source column is provably non-nullable (then the two
        denominators are equal), and otherwise refuses with a pointer at
        adding ``COUNT(c)`` to the SELECT list."""
        pools = {
            "sum": {c.lower(): c for c in sum_cols},
            "minmax": {c.lower(): c for c in minmax_cols},
            "count": {c.lower(): c for c in count_cols},
            "approx": {c.lower(): c for c in approx_cols},
            "distinct": {c.lower(): c for c in distinct_cols},
            "var": {c.lower(): c for c in var_cols},
        }

        def canon(m: "re.Match") -> str:
            fn = m.group(1).upper()
            is_distinct = bool(m.group(2))
            arg = m.group(3)

            def need(pool: str, face: str) -> str:
                hit = pools[pool].get(arg.lower())
                if hit is None:
                    shown = re.sub(r"\s+", " ", m.group(0))
                    raise LakeSQLError(
                        f"HAVING references {shown!r} but the view does "
                        "not maintain that aggregate: add it to the "
                        "SELECT list"
                    )
                return face.format(hit)

            if arg == "*":
                if fn == "COUNT" and not is_distinct:
                    return "n_rows"
                what = f"{fn}(DISTINCT *)" if is_distinct else f"{fn}(*)"
                raise LakeSQLError(
                    f"{what} is not a valid aggregate: it takes a "
                    "column argument"
                )
            if is_distinct:
                if fn != "COUNT":
                    raise LakeSQLError(
                        f"DISTINCT is only maintained under COUNT "
                        f"(got {fn}(DISTINCT {arg}) in HAVING)"
                    )
                return need("distinct", "distinct_{}")
            if fn == "COUNT":
                return need("count", "count_{}")
            if fn == "APPROX_COUNT_DISTINCT":
                return need("approx", "approx_distinct_{}")
            if fn in ("STDDEV", "STDDEV_SAMP"):
                return need("var", "stddev_{}")
            if fn in ("VARIANCE", "VAR_SAMP"):
                return need("var", "var_{}")
            if fn == "SUM":
                return need("sum", "sum_{}")
            if fn == "AVG":
                face = need("sum", "sum_{}")  # validates AVG's arg too
                hit_count = pools["count"].get(arg.lower())
                if hit_count is not None:
                    return f"({face} / count_{hit_count})"
                if arg.lower() not in nullable_cols:
                    return need("sum", "avg_{}")  # no NULLs: /n_rows exact
                raise LakeSQLError(
                    f"HAVING AVG({arg}) over a nullable column needs "
                    f"COUNT({arg}) maintained for exact NULL-skipping "
                    f"semantics: add COUNT({arg}) to the SELECT list "
                    f"(or use sum_{arg} / n_rows explicitly for the "
                    "COUNT(*) denominator)"
                )
            return need("minmax", fn.lower() + "_{}")  # MIN / MAX

        # literal-aware substitution: copy string literals verbatim,
        # rewrite only the SQL text between them
        rewritten = map_code(
            text, lambda seg: self._MV_HAVING_AGG.sub(canon, seg)
        )
        # any aggregate CALL still standing is one the face cannot serve
        called = {
            t.lower()
            for t in re.findall(
                r"([A-Za-z_][A-Za-z0-9_]*)\s*\(",
                strip_sql_literals(rewritten),
            )
        }
        bad = sorted(called & self._MV_AGG_NAMES)
        if bad:
            raise LakeSQLError(
                f"HAVING aggregate {bad} is not maintained by this view: "
                "only its selected aggregates (or scalar expressions over "
                "them) may appear"
            )
        return rewritten

    def _create_mv(self, name: str, body: str, replace: bool) -> DataFrame:
        self._no_txn("CREATE MATERIALIZED VIEW")
        spec = self._parse_mv_select(body)
        if not self._table_exists(spec["src"]):
            raise LakeSQLError(f"no such table: {spec['src']!r}")
        # Validate every referenced column against the source schema BEFORE
        # anything is dropped or written: under OR REPLACE a typo'd column
        # must fail here, with the existing MV untouched — not deep inside
        # create_rollup's CTAS.
        src_cols = {f.name.lower() for f in self._schema_of(spec["src"]).fields}
        referenced = [
            c for c in spec["keys"] if c not in spec["key_exprs"]
        ]
        referenced += list(spec["sum_cols"]) + list(spec["minmax_cols"])
        referenced += list(spec["count_cols"]) + list(spec["approx_cols"])
        referenced += list(spec["distinct_cols"]) + list(spec["var_cols"])
        if spec["time_col"] is not None:
            referenced.append(spec["time_col"])
        missing = [c for c in referenced if c.lower() not in src_cols]
        if missing:
            raise LakeSQLError(
                f"column(s) {missing} not found in table {spec['src']!r}"
            )
        probe = (
            self.c.spark.createDataFrame(
                [], self._schema_of(spec["src"]).to_struct()
            )
            if spec["key_exprs"] or spec["where"]
            else None
        )
        for alias, expr in spec["key_exprs"].items():
            # analyze each key expression against an EMPTY frame of the
            # source schema BEFORE anything is dropped or written (same
            # contract as the WHERE validation below)
            from pyspark.sql import functions as F

            try:
                probe.select(F.expr(expr).alias(alias)).schema
            except Exception as e:
                raise LakeSQLError(
                    f"invalid expression key {expr!r}: {e}"
                ) from None
        if spec["where"]:
            # analyze the predicate against an EMPTY frame of the source
            # schema BEFORE anything is dropped or written (same contract
            # as the column validation above): a typo'd column or invalid
            # expression must fail here with the existing MV untouched
            try:
                probe.filter(spec["where"]).schema
            except Exception as e:
                raise LakeSQLError(
                    f"invalid materialized-view WHERE predicate: {e}"
                ) from None
        is_replace = False
        if find_rollup(self.c, name) is not None:
            if not replace:
                raise LakeSQLError(f"materialized view {name!r} exists")
            is_replace = True
        elif self._table_exists(name):
            raise LakeSQLError(f"table {name!r} exists")
        # OR REPLACE drops the old MV inside create_rollup's single catalog
        # transaction — atomic: readers see old or new, never neither, and
        # a mid-create failure leaves the old MV intact.
        create_rollup(
            self.c,
            name,
            spec["src"],
            spec["time_col"],
            spec["bucket_s"],
            keys=spec["keys"],
            sum_cols=spec["sum_cols"],
            minmax_cols=spec["minmax_cols"],
            count_cols=spec["count_cols"],
            approx_cols=spec["approx_cols"],
            distinct_cols=spec["distinct_cols"],
            var_cols=spec["var_cols"],
            replace=is_replace,
            where=spec["where"],
            key_exprs=spec["key_exprs"],
            having=spec["having"],
        )
        return self._status("CREATE MATERIALIZED VIEW", 0)

    def _refresh(self, head: _Head, src) -> DataFrame:
        name = head.table
        if name is None or head.rest.strip():
            raise LakeSQLError(
                "bad REFRESH statement: expected REFRESH MATERIALIZED VIEW "
                "<name>"
            )
        self._no_txn("REFRESH MATERIALIZED VIEW")
        if find_rollup(self.c, name) is None:
            raise LakeSQLError(f"no such materialized view: {name!r}")
        out = refresh_rollup(self.c, name)
        return self._status(
            "REFRESH MATERIALIZED VIEW", out["changed_buckets"]
        )

    def _drop_mv(self, name: str, if_exists: bool) -> DataFrame:
        if find_rollup(self.c, name) is None:
            if if_exists:
                return self._status("DROP MATERIALIZED VIEW", 0)
            raise LakeSQLError(f"no such materialized view: {name!r}")

        def op(tx):
            tx.drop_table(name)
            tx.drop_table(meta_table(name))

        self._run(op)
        return self._status("DROP MATERIALIZED VIEW", 0)

    # ------------------------------------------------------------------
    def _run(self, op) -> None:
        """Run a transactional op: inside the open explicit txn, or
        autocommit (one snapshot — the reference's per-op snapshot loop)."""
        if self._tx is not None:
            op(self._tx)
        else:
            with self.c.transaction() as tx:
                op(tx)

    def _query(self, body: str, version=None) -> DataFrame:
        """A read query through Catalyst, its names bound by ``_bound``.
        ``spark.sql`` analyzes it, so the views it bound are dropped
        before the frame returns. A row count of one lake table is the
        catalog's answer instead (``_row_count``): no scan, no Spark job."""
        stmt, scope = _count_stmt(body), None
        if stmt is not None:
            if stmt.at is None:
                scope = _Scope(self, version)
            n = self._row_count(stmt, scope)
            if n is not None:
                # Spark's own result: a LocalRelation, collected with no job
                return self.c.spark.sql(
                    f"SELECT * FROM VALUES ({n}L) AS t({bq(stmt.alias)})"
                )
        scope = scope or _Scope(self, version)
        with self._bound(self._rewrite_dialect(body), scope) as q:
            return self.c.spark.sql(q)

    def _row_count(self, stmt: _Count, scope) -> Optional[int]:
        """The rows of the table ``stmt`` counts, from the catalog, when
        ``_bound`` would bind its name to a lake table; None when it would
        bind a view, a materialized view's face or nothing at all (those
        run as queries). ``scope`` is the statement's, for a name without
        an AT clause."""
        ex, name, v = self, stmt.table, None
        if stmt.at is not None:
            at = self._at(stmt.at)
            if at is None:
                return None
            ex, name, v = at
        elif stmt.cat is not None:
            ex = self._catalog(stmt.cat)
            if ex is None or (ex is self and name not in scope.tables):
                return None
        if ex is self and stmt.at is None:
            name = scope.names.get(name.lower())
            if name not in scope.tables or meta_table(name) in scope.tables:
                return None
            tx = scope.tx
            if tx is not None and name in tx._states:
                return tx._states[name].live_rows  # staged
            return self.c.count(name, scope.version)
        tables = set(ex.c.tables(v))
        if name not in tables or meta_table(name) in tables:
            return None
        return ex.c.count(name, v)

    # -- the statement binder ----------------------------------------------
    @contextmanager
    def _bound(self, text: str, scope: Optional["_Scope"] = None, carrier=""):
        """``text`` with each lake relation it reads replaced by a view of
        the statement's own, for a block that analyzes and runs it; the
        views are dropped when the block ends. A relation is an
        ``UnresolvedRelation`` leaf of Catalyst's parse of ``carrier + text``
        (a SET list or predicate parses in a carrier SELECT) after its CTE
        substitution, so a WITH name stays the CTE and a column is never a
        table. In the statement's scope (:class:`_Scope`) a bare table reads
        its staged rows or its rows at the scope's version (an MV its read
        face), a bare view its SQL, bound first the same way, and ``cat.t``
        (``cat`` attached or ``main``, ``t`` a table there) that catalog's
        current ``t``. ``[cat.]t AT (…)``, ``read_parquet``/``read_csv`` and
        the ``ducklake_*`` calls, which Spark cannot parse, are rewritten
        ahead. Each binds once, under a name ``_register`` mints, and reads
        as ``(<view> AS <name>)``: no session temp view and no other
        statement's view is touched. Any other name, and a text Spark cannot
        parse, is left to Spark."""
        scope = scope or _Scope(self)
        try:
            yield self._bind(scope, text, carrier)
        finally:
            for view in scope.bound.values():
                self.c.spark.catalog.dropTempView(view)

    def _bind(self, scope: "_Scope", text: str, carrier: str = "") -> str:
        q = self._rewrite_meta_fns(self._rewrite_file_fns(text, scope), scope)
        q = sub_code(_AT, lambda m: self._bind_at(scope, m), q)
        out, prev = [], 0
        for start, stop, parts in self._relations(carrier, q):
            view = self._bind_relation(scope, parts)
            if view is not None:
                # ``TABLE t`` takes a bare name, a FROM item an aliased one
                if not re.search(r"\bTABLE\s*$", q[prev:start], re.I):
                    view = f"({view} AS {bq(parts[-1])})"
                out += [q[prev:start], view]
                prev = stop + 1
        return "".join(out) + q[prev:]

    def _relations(self, carrier: str, q: str) -> list:
        """(start, stop, name parts) of each table reference in Catalyst's
        parse of ``carrier + q``, inclusive offsets into ``q``, in text
        order; none when it does not parse."""
        spark, k, out = self.c.spark, len(carrier), set()
        if not q.strip():  # DELETE without WHERE
            return []
        try:
            plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(
                carrier + q
            )
            if plan.nodeName() == "ExplainCommand":  # its query is no child
                plan = plan.logicalPlan()
            plan = _cte_substitution(spark._jvm).apply(plan)
        except AnalysisException:  # a ParseException is one
            return []
        for p in [plan, *_seq(plan.subqueriesAll())]:
            for r in _seq(p.collectLeaves()):
                if r.nodeName() == "UnresolvedRelation":
                    at, parts = r.origin().context(), r.multipartIdentifier()
                    out.add((at.startIndex() - k, at.stopIndex() - k,
                             tuple(_seq(parts))))
        return sorted(out)

    def _bind_relation(self, scope: "_Scope", parts: tuple) -> Optional[str]:
        """A table reference's view (see _bound); None: left to Spark."""
        if len(parts) == 1:
            name = scope.names.get(parts[0].lower())
            return name and self._bind_name(scope, name)
        ex = self._catalog(parts[0]) if len(parts) == 2 else None
        if ex is self:
            name = scope.names.get(parts[1].lower())
            return self._bind_name(scope, name) if name in scope.tables else None
        tables = set() if ex is None else set(ex.c.tables())
        if parts[1] in tables:
            return self._bind_face(scope, ex, parts[1], tables=tables)

    def _register(self, scope: "_Scope", key, df) -> str:
        """The statement's view of ``key``: ``df()``, built the first time
        the statement binds ``key``, under a name of its own (``__lake_<uuid4
        hex>``, as PySpark's SQL formatter names its ``_pyspark_<uuid>``)."""
        view = scope.bound.get(key)
        if view is None:
            frame = df()
            view = scope.bound[key] = f"__lake_{uuid.uuid4().hex}"
            frame.createOrReplaceTempView(view)
        return view

    def _bind_name(self, scope: "_Scope", name: str) -> Optional[str]:
        """Table or view ``name`` of the scope -> its view, or None for a
        view whose binding is under way (a cycle, left to Spark to report
        as unresolved)."""
        if name in scope.binding:
            return scope.bound.get(name)
        scope.binding.add(name)
        return self._register(scope, name, lambda: self._name_df(scope, name))

    def _name_df(self, scope: "_Scope", name: str) -> DataFrame:
        if name not in scope.tables:
            sql = self._bind(scope, self._rewrite_dialect(scope.views[name]))
            return self.c.spark.sql(sql)
        tx, c, meta = scope.tx, self.c, meta_table(name)
        if tx is not None and name in tx._states:
            df = tx.read(name)  # staged rows
        else:
            df = c.read(name, version=scope.version)
        if meta in scope.tables:
            # inside a transaction MV definitions come from its memoized
            # lookup; outside, from the per-version cache (no meta collect
            # while the version is unchanged)
            mvs = tx._rollup_metas() if tx is not None else find_rollups(
                c, scope.version, {name, meta}, cache=self._mv_defs
            )
            if name in mvs:
                df = apply_read_face(df, mvs[name])
        return df

    def _bind_at(self, scope: "_Scope", m: "re.Match") -> str:
        """One ``[cat.]t AT (…)`` clause -> its relation (see _bound)."""
        at = self._at(m)
        return m.group(0) if at is None else (
            f"({self._bind_face(scope, *at)} AS {bq(at[1])})"
        )

    def _at(self, m: "re.Match"):
        """One ``[cat.]t AT (…)`` clause -> (the executor of its catalog,
        the table, the version it reads); None when ``cat`` names no
        catalog."""
        cat, name, kind, val = m.groups()
        ex = self if cat is None else self._catalog(cat)
        if ex is None:
            return None
        if kind.upper() == "VERSION":
            return ex, name, int(val)
        ts = val.strip().strip("'\"")
        return ex, name, ex.c._resolve_version(timestamp=ts)

    def _bind_face(self, scope: "_Scope", ex, name: str, v=None, tables=None):
        """Bind table ``name`` of ``ex``'s catalog at version ``v`` (None:
        current) through its read face; -> the view name."""
        return self._register(
            scope, ("face", ex._alias, name, v),
            lambda: read_face(ex.c, name, v, tables),
        )

    # -- EXPORT / IMPORT DATABASE (DuckDB's file-based portability pair) ---
    def _sql_literal(self, v) -> str:
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    def _export(self, head: _Head, src) -> DataFrame:
        """``EXPORT DATABASE '<dir>' [(FORMAT PARQUET|CSV)]`` — DuckDB's
        file-based portability verb: ``schema.sql`` (CREATE TABLE with
        NOT NULL / DEFAULT / PRIMARY KEY / PARTITION BY, then CREATE VIEW),
        ``load.sql`` (one COPY ... FROM per table), and one data file per
        table. Data is the RAW table state (``catalog.read``, not the MV
        read face), so rollup state + meta companions round-trip and the
        pair is a live materialized view again after IMPORT. FORMAT CSV
        (DuckDB's default EXPORT format) is accepted for databases whose
        tables are all CSV-representable; a table carrying binary sketch
        state (``hll_*`` MV companions) or nested array/map/struct
        columns fails with a pointed error naming it — those types do
        not round-trip CSV losslessly, use PARQUET."""
        m = re.fullmatch(
            r"\s+DATABASE\s+'((?:[^']|'')*)'\s*(?:\(\s*FORMAT\s+(\w+)\s*\))?",
            head.rest,
            re.I,
        )
        if m is None:
            raise LakeSQLError(
                "bad EXPORT statement: expected EXPORT DATABASE '<dir>' "
                "[(FORMAT PARQUET|CSV)]"
            )
        import os as _os

        path, fmt = m.group(1).replace("''", "'"), (m.group(2) or "PARQUET").upper()
        if fmt not in ("PARQUET", "CSV"):
            raise LakeSQLError(
                f"EXPORT DATABASE format {fmt!r} not supported "
                "(PARQUET or CSV)"
            )
        self._no_txn("EXPORT DATABASE")
        if fmt == "CSV":
            for t in self.c.tables():
                bad = [
                    f"{f.name} {f.type}"
                    for f in self._schema_of(t).fields
                    if re.match(
                        r"^(binary|array|map|struct)", f.type.lower()
                    )
                ]
                if bad:
                    raise LakeSQLError(
                        f"EXPORT DATABASE (FORMAT CSV): table {t!r} "
                        f"column(s) {bad} cannot round-trip CSV "
                        "losslessly (binary sketch / nested state) — "
                        "use (FORMAT PARQUET)"
                    )
        _os.makedirs(path, exist_ok=True)
        schema_lines, load_lines = [], []
        tables = self.c.tables()
        from .schema import value_from_json

        for t in tables:
            sch = self._schema_of(t)
            parts = []
            for f in sch.fields:
                d = f"{f.name} {f.type.upper()}"
                if not f.nullable and f.name not in sch.primary_key:
                    d += " NOT NULL"
                if isinstance(f.default, dict) and "$expr" in f.default:
                    d += f" DEFAULT {f.default['$expr']}"
                elif f.default is not None:
                    d += (
                        " DEFAULT "
                        + self._sql_literal(value_from_json(f.default))
                    )
                parts.append(d)
            if sch.primary_key:
                parts.append(
                    "PRIMARY KEY (" + ", ".join(sch.primary_key) + ")"
                )
            stmt = f"CREATE TABLE {t} (" + ", ".join(parts) + ")"
            if sch.partition_by:
                stmt += " PARTITION BY (" + ", ".join(sch.partition_by) + ")"
            schema_lines.append(stmt + ";")
            esc = path.replace("'", "''")
            if fmt == "CSV":
                # declare the table's column types in the COPY options —
                # loading by schema, not inference: '007' in a VARCHAR
                # column must round-trip as '007', not as inferred INT 7
                # cast back to '7' (DuckDB and the parquet path both load
                # by the table schema)
                cols_struct = ", ".join(
                    "'{}': '{}'".format(
                        f.name.replace("'", "''"),
                        f.type.upper().replace("'", "''"),
                    )
                    for f in sch.fields
                )
                load_lines.append(
                    f"COPY {t} FROM '{esc}/{t}.csv' "
                    f"(FORMAT CSV, HEADER true, COLUMNS {{{cols_struct}}});"
                )
            else:
                load_lines.append(f"COPY {t} FROM '{esc}/{t}.parquet';")
            # CSV carries a header so the import aligns columns by name
            w = self.c.read(t).coalesce(1).write.mode("overwrite")
            self._write_single_file(
                _os.path.join(path, f"{t}.{fmt.lower()}"),
                lambda d: w.option("header", True).csv(d)
                if fmt == "CSV" else w.parquet(d),
            )
        for vname, vsql in self.c.views().items():
            schema_lines.append(f"CREATE VIEW {vname} AS {vsql};")
        with open(_os.path.join(path, "schema.sql"), "w") as fh:
            fh.write("\n".join(schema_lines) + "\n")
        with open(_os.path.join(path, "load.sql"), "w") as fh:
            fh.write("\n".join(load_lines) + "\n")
        return self._status("EXPORT DATABASE", len(tables))

    def _import(self, head: _Head, src) -> DataFrame:
        """``IMPORT DATABASE '<dir>'`` — executes the exported
        ``schema.sql`` then ``load.sql`` (quote-aware statement split,
        the shape _export writes), then restamps ONLY the
        rollup meta companions this import created at this catalog's
        HEAD (source-version stamps are meaningless here — same rule as
        catalog.export_to). Pre-existing MVs in the destination keep
        their stamps: advancing them would skip their unfolded base
        deltas on the next REFRESH."""
        m = re.fullmatch(r"\s+DATABASE\s+'((?:[^']|'')*)'", head.rest, re.I)
        if m is None:
            raise LakeSQLError(
                "bad IMPORT statement: expected IMPORT DATABASE '<dir>'"
            )
        path = m.group(1).replace("''", "'")
        import os as _os

        self._no_txn("IMPORT DATABASE")
        n = 0
        created: set = set()
        for script in ("schema.sql", "load.sql"):
            p = _os.path.join(path, script)
            if not _os.path.exists(p):
                raise LakeSQLError(
                    f"IMPORT DATABASE: missing {script} under {path!r}"
                )
            with open(p) as fh:
                for stmt in statements(fh.read()):
                    h = _head(strip(stmt))
                    if h.verb == "CREATE" and "TABLE" in h.words:
                        created.add(h.table)
                    self.execute(stmt)
                    n += 1
        restamp_rollups(self.c, only=created)
        return self._status("IMPORT DATABASE", n)

    @staticmethod
    def _write_single_file(target: str, write) -> None:
        """One FILE at ``target``: ``write(dir)`` writes a one-partition
        frame into a temp dir next to the target, and its one part file
        is moved into place, so a crash never leaves a half-written
        target."""
        import glob as _glob
        import os as _os
        import shutil as _shutil
        import uuid as _uuid

        parent = _os.path.dirname(_os.path.abspath(target)) or "."
        tmp = _os.path.join(parent, f".__tmp_{_uuid.uuid4().hex[:12]}")
        try:
            write(tmp)
            parts = sorted(_glob.glob(_os.path.join(tmp, "part-*")))
            if len(parts) != 1:
                raise LakeSQLError(
                    f"single-file write produced {len(parts)} parts"
                )
            _shutil.move(parts[0], target)
        finally:
            _shutil.rmtree(tmp, ignore_errors=True)

    # -- INSERT OR REPLACE / OR IGNORE (DuckDB ON CONFLICT shorthands) -----
    def _upsert_insert(self, name: str, df: DataFrame, mode: str) -> DataFrame:
        """``INSERT OR REPLACE INTO`` (upsert by primary key) and ``INSERT
        OR IGNORE INTO`` (insert only non-conflicting rows) — DuckDB's ON
        CONFLICT shorthands, lowered onto the MERGE machinery (stats-pruned
        merge-on-read; only files containing a hit key get a delete file). Like
        DuckDB, both forms require a PRIMARY KEY on the target. A source
        batch carrying duplicate keys raises ConstraintViolation in BOTH
        modes — DuckDB's row-at-a-time executor lets the first duplicate
        through under OR IGNORE, but "first" is not a deterministic notion
        for a distributed source, and a silent arbitrary winner is worse
        than an explicit error (same stance as MERGE's SEQUENCE BY tie
        handling)."""
        pk = list(self._schema_of(name).primary_key)
        if not pk:
            raise LakeSQLError(
                f"INSERT OR {mode.upper()} requires a PRIMARY KEY on "
                f"{name!r} (it resolves conflicts by key)"
            )
        replace = mode.lower() == "replace"
        res: dict = {}

        def op(tx):
            res.update(
                tx.merge(
                    name, df, on=pk,
                    when_matched="update" if replace else "skip",
                )
            )

        self._run(op)
        n = res.get("inserted", 0) + (res.get("matched", 0) if replace else 0)
        return self._status("INSERT", n)

    # -- SUMMARIZE (DuckDB's per-column profile verb) ----------------------
    _SUMMARIZE_SCHEMA = (
        "column_name string, column_type string, min string, max string, "
        "approx_unique bigint, avg string, std string, q25 string, "
        "q50 string, q75 string, count bigint, null_percentage decimal(5,2)"
    )

    def _summarize(self, head: _Head, src) -> DataFrame:
        """``SUMMARIZE <table>`` / ``SUMMARIZE <select>`` — DuckDB's
        per-column profile (min/max/approx_unique/avg/std/quartiles/count/
        null%), same column layout. ONE global aggregation over one scan
        computes every statistic for every column at once (partial aggs
        map-side, a single-row result to the driver) — at 100 TB this is
        exactly one pass over the data; the reshape to one-row-per-column
        happens on the driver over #columns values. Quantiles are
        percentile_approx and the distinct count is a HyperLogLog sketch —
        the same approximations DuckDB's SUMMARIZE makes. min/max/avg ride
        only on types where they are defined (DuckDB's behavior: string
        columns profile min/max but not avg; complex types neither)."""
        target = head.rest.strip()
        from decimal import Decimal

        from pyspark.sql import functions as F, types as T

        if re.fullmatch(rf"{_IDENT}(\s*\.\s*{_IDENT})?", target):
            # bare or attached-catalog-qualified table name
            df = self._query(f"SELECT * FROM {target}")
        elif re.match(r"^(SELECT|WITH|FROM)\b", target, re.I):
            df = self._query(target)
        else:
            raise LakeSQLError(
                "SUMMARIZE expects a table name or a SELECT query"
            )
        orderable = (
            T.NumericType, T.StringType, T.DateType, T.TimestampType,
            T.TimestampNTZType, T.BooleanType,
        )
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, f in enumerate(df.schema.fields):
            c, pre = F.col(f.name), f"c{i}"
            if isinstance(f.dataType, orderable):
                aggs += [
                    F.min(c).cast("string").alias(f"{pre}_min"),
                    F.max(c).cast("string").alias(f"{pre}_max"),
                    F.approx_count_distinct(c).alias(f"{pre}_uniq"),
                ]
            aggs.append(F.count(c).alias(f"{pre}_cnt"))
            if isinstance(f.dataType, T.NumericType):
                aggs += [
                    F.avg(c).cast("string").alias(f"{pre}_avg"),
                    F.stddev(c).cast("string").alias(f"{pre}_std"),
                    *[
                        F.percentile_approx(c, p)
                        .cast("string")
                        .alias(f"{pre}_q{int(p * 100)}")
                        for p in (0.25, 0.5, 0.75)
                    ],
                ]
        row = df.agg(*aggs).collect()[0].asDict()
        n = row["__n"]
        out = []
        for i, f in enumerate(df.schema.fields):
            pre = f"c{i}"
            cnt = row[f"{pre}_cnt"]
            out.append(
                (
                    f.name,
                    f.dataType.simpleString().upper(),
                    row.get(f"{pre}_min"),
                    row.get(f"{pre}_max"),
                    row.get(f"{pre}_uniq"),
                    row.get(f"{pre}_avg"),
                    row.get(f"{pre}_std"),
                    row.get(f"{pre}_q25"),
                    row.get(f"{pre}_q50"),
                    row.get(f"{pre}_q75"),
                    n,
                    (
                        Decimal(str(round(100.0 * (n - cnt) / n, 2)))
                        if n
                        else None
                    ),
                )
            )
        return local_df(self.c.spark, out, self._SUMMARIZE_SCHEMA)

    # -- DuckDB dialect sugar (QUALIFY, * EXCLUDE, function aliases) ------
    # DuckDB spellings whose Spark builtin is an EXACT semantic match
    # (verified differentially; see tests). Deliberately absent:
    # string_split (DuckDB splits on a literal, Spark's split takes a
    # regex) and list_sort (the engines default to opposite NULL
    # ordering) — a silent rewrite would corrupt results for some inputs.
    _FN_ALIASES = {
        "list_value": "array",
        "list_contains": "array_contains",
        "regexp_matches": "regexp_like",
        "strlen": "length",
        "array_length": "array_size",
        "unnest": "explode",
    }
    _FN_ALIAS_RE = re.compile(
        r"\b(" + "|".join(_FN_ALIASES) + r")\s*\(", re.I
    )

    def _rewrite_dialect(self, q: str) -> str:
        """DuckDB SELECT-dialect forms Spark's parser lacks, rewritten to
        their Spark equivalents (reference queries use DuckDB's dialect —
        see utils/ducklake_utils.py:49 run_query, which passes SQL text
        straight to DuckDB):

        * ``* EXCLUDE (a, b)`` / ``* EXCLUDE a``  ->  ``* EXCEPT (a, b)``
          (Spark's native spelling of the same projection).
        * function aliases (``_FN_ALIASES``): DuckDB names rewritten to
          the Spark builtin with identical semantics — only call
          positions (``name(``) match, so columns sharing a name are
          untouched. ``GROUP BY ALL``, ``ORDER BY ALL`` and FROM-first
          selects need no rewrite: Spark parses them natively.
        * top-level ``QUALIFY <pred>``  ->  the predicate is injected into
          the select list as a lateral-aliased boolean column and filtered
          one level up: ``SELECT * EXCEPT (__qualify) FROM (SELECT ...,
          (<pred>) AS __qualify FROM ...) WHERE __qualify [tail]``.
          Injection into the ORIGINAL select list (rather than wrapping the
          whole select) is what makes both reference styles work: window
          functions in <pred> may use FROM-scope columns the select list
          drops, and alias references to select-list windows resolve via
          Spark's lateral column aliases. QUALIFY inside a subquery or CTE
          body is not rewritten (parenthesized scopes are left alone);
          combined with SELECT DISTINCT it is rejected rather than given
          drifting semantics (DuckDB applies DISTINCT after QUALIFY, which
          the injection cannot reproduce).
        """
        def _sugar(seg: str) -> str:
            seg = self._FN_ALIAS_RE.sub(
                lambda m: self._FN_ALIASES[m.group(1).lower()] + "(", seg
            )
            # anchored to the star form (`* EXCLUDE` / `t.* EXCLUDE`):
            # a bare identifier named `exclude` elsewhere must not be
            # mangled into EXCEPT (...)
            seg = re.sub(
                rf"(\*\s*)EXCLUDE\s+({_IDENT})\b",
                r"\1EXCEPT (\2)",
                seg,
                flags=re.I,
            )
            return re.sub(
                r"(\*\s*)EXCLUDE\s*\(", r"\1EXCEPT (", seg, flags=re.I
            )

        q = map_code(q, _sugar)
        pos = top_words(q, "QUALIFY")
        if not pos:
            return q
        if len(pos) > 1:
            raise LakeSQLError(
                "only one top-level QUALIFY clause is supported; wrap the "
                "other SELECT in a subquery"
            )
        p = pos[0]
        head, rest = q[:p], q[p + len("QUALIFY"):]
        if re.match(rf"\s*SELECT\s+DISTINCT\b", head, re.I):
            raise LakeSQLError(
                "QUALIFY with SELECT DISTINCT is not supported; apply "
                "DISTINCT in an outer query"
            )
        tail_at = len(rest)
        for kw in ("ORDER", "LIMIT", "OFFSET"):
            kp = top_words(rest, kw)
            if kp:
                tail_at = min(tail_at, kp[0])
        pred, tail = rest[:tail_at].strip(), rest[tail_at:]
        if not pred:
            raise LakeSQLError("QUALIFY requires a predicate")
        from_pos = top_words(head, "FROM")
        if not from_pos:
            raise LakeSQLError("QUALIFY requires a FROM clause")
        f0 = from_pos[0]
        # Resolve select-list aliases INSIDE the predicate textually (the
        # DuckDB scoping rule): Spark's lateral column aliases cover plain
        # references but are rejected inside window expressions
        # (UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_WINDOW), so
        # ``QUALIFY row_number() OVER (ORDER BY total)`` with ``sum(v) AS
        # total`` must become ``... ORDER BY (sum(v))``. Chained aliases
        # resolve by iterating to a fixpoint (bounded).
        sel_pos = top_words(head, "SELECT")
        aliases = {}
        if sel_pos:  # CTE bodies are parenthesized -> main SELECT only
            for item in items(head[sel_pos[-1] + len("SELECT"):f0]):
                m = re.search(rf"\s+AS\s+({_IDENT})\s*$", item, re.I)
                if m:
                    aliases[m.group(1).lower()] = item[: m.start()].strip()
        # Token-boundary-aware substitution: no match after `.` (a
        # qualified column `t.total` names the FROM column, not the
        # alias), no match at call positions (`sum(` when the alias is
        # `sum`), and the replacement goes through a CALLABLE so a
        # backslash in the aliased expression (regexp_extract(s, '\d+'))
        # is inserted verbatim instead of raising re.error / being read
        # as a group reference.
        for _ in range(3):
            before = pred
            for name, expr in aliases.items():
                pat = re.compile(
                    rf"(?<![\w.`]){re.escape(name)}\b(?!\s*\()", re.I
                )
                pred = map_code(
                    pred,
                    lambda seg, p=pat, e=expr: p.sub(
                        lambda m: "(" + e + ")", seg
                    ),
                )
            if pred == before:
                break
        inner = f"{head[:f0].rstrip()}, ({pred}) AS __qualify {head[f0:]}"
        return (
            f"SELECT * EXCEPT (__qualify) FROM ({inner}) __qualify_q "
            f"WHERE __qualify {tail}"
        )

    # -- attached catalogs (ATTACH 'path' AS name) -----------------------
    def _att_executor(self, cat: str) -> "SQLExecutor":
        """The executor of the attached catalog ``cat``: one per
        attachment, made and kept by the session. It shares the session's
        attach list, so under ``USE prod`` a qualified ``dev.t`` or
        ``main.t`` resolves as it does outside USE — DuckDB's attach list
        stays usable whatever the default catalog is."""
        s, key = self._session, cat.lower()
        dex = s._att_sql.get(key)
        if dex is None:
            dex = s._att_sql[key] = SQLExecutor(s._attached[key])
            dex._session, dex._alias = s, key
            dex._attached, dex._att_readonly = s._attached, s._att_readonly
            dex._att_sql = s._att_sql
        return dex

    def _attach(self, head: _Head, src) -> DataFrame:
        """``ATTACH '<path>' AS <name> [(READ_ONLY | DATA_PATH '<dir>',
        ...)]`` — bind a SECOND lake catalog for qualified reads and
        writes, the reference's side-by-side dev/prod migration flow
        (utils/ducklake_utils.py:27 ``ATTACH 'ducklake:...' AS``;
        demos/05_catalog_portability/demo.py:194-299). Session-scoped,
        like a DuckDB connection's attach list. ``(READ_ONLY)`` is
        DuckDB's flag: qualified writes and ``USE``-defaulted statements
        against the catalog raise instead of mutating it. ``DATA_PATH``
        is DuckLake's option naming the data-file directory — required
        for DB-backed catalogs (``ducklake:postgresql://host/db``,
        ``ducklake:mysql://host/db``, the reference's connection-string
        table README.md:227-236), optional for directory/sqlite catalogs
        where a default derives from the catalog location. The
        ``ducklake:`` / ``lake:`` URL prefixes are accepted and
        stripped."""
        m = re.fullmatch(
            rf"\s*'((?:[^']|'')*)'\s+AS\s+({_IDENT})\s*(?:\((.*)\))?",
            head.rest,
            re.I | re.S,
        )
        if m is None:
            raise LakeSQLError(
                "bad ATTACH statement: expected ATTACH '<path>' AS <name> "
                "[(READ_ONLY, DATA_PATH '<dir>')]"
            )
        path, key = m.group(1).replace("''", "'"), m.group(2).lower()
        read_only, data_path = False, None
        for item in items(m.group(3)) if m.group(3) else []:
            if re.fullmatch(r"READ_ONLY", item, re.I):
                read_only = True
                continue
            mm = re.fullmatch(r"DATA_PATH\s+'((?:[^']|'')*)'", item, re.I)
            if mm is None:
                raise LakeSQLError(
                    f"unknown ATTACH option {item!r} "
                    "(READ_ONLY, DATA_PATH '<dir>')"
                )
            data_path = mm.group(1).replace("''", "'")
        s = self._session
        s._no_txn("ATTACH")
        if key == "main":
            # 'main' names the BOUND catalog everywhere (qualified
            # reads/writes, COPY FROM DATABASE) — letting an attachment
            # shadow it would make the same spelling target two different
            # catalogs depending on verb
            raise LakeSQLError(
                "'main' is reserved for the bound catalog; "
                "pick another alias"
            )
        if key in s._attached:
            raise LakeSQLError(f"catalog {m.group(2)!r} is already attached")
        for pref in ("ducklake:", "lake:"):
            if path.startswith(pref):
                path = path[len(pref):]
        from .catalog import LakeCatalog, LakeError

        try:
            s._attached[key] = LakeCatalog(
                path, self.c.spark, data_dir=data_path
            )
        except LakeError as e:
            raise LakeSQLError(str(e)) from e
        if read_only:
            s._att_readonly.add(key)
        return self._status("ATTACH", 0)

    def _detach(self, head: _Head, src) -> DataFrame:
        m = re.fullmatch(rf"\s+({_IDENT})", head.rest)
        if m is None:
            raise LakeSQLError("bad DETACH statement: expected DETACH <name>")
        s, key = self._session, m.group(1).lower()
        s._no_txn("DETACH")
        dex = s._att_sql.get(key)
        if dex is not None and dex._tx is not None:
            # detaching would silently discard the staged writes
            raise LakeSQLError(
                f"catalog {m.group(1)!r} has an open transaction: COMMIT "
                "or ROLLBACK it before DETACH"
            )
        if s._attached.pop(key, None) is None:
            raise LakeSQLError(f"no attached catalog named {m.group(1)!r}")
        s._att_sql.pop(key, None)
        s._att_readonly.discard(key)
        if s._use == key:
            s._use = None  # default falls back to the bound catalog
        return self._status("DETACH", 0)

    def _copy_database_stmt(self, src: str, dst: str) -> DataFrame:
        """``COPY FROM DATABASE a TO b`` — DuckDB's whole-catalog
        migration verb (demos/05_catalog_portability/demo.py:199-280):
        every live table (schema + PK + rows) and view recreated in the
        target via export_to. Either side may be an attached name or
        ``main`` (the bound catalog)."""
        self._no_txn("COPY FROM DATABASE")
        exs = []
        for side in (src, dst):
            ex = self._catalog(side)
            if ex is None:
                raise LakeSQLError(
                    f"no attached catalog named {side!r} (ATTACH it first; "
                    "'main' names the bound catalog)"
                )
            if ex._tx is not None:
                # migrating into (or out of) a catalog whose USE'd
                # delegate holds staged writes would interleave with —
                # or conflict against — that open transaction
                raise LakeSQLError(
                    f"catalog {side!r} has an open transaction: COMMIT "
                    "or ROLLBACK it before COPY FROM DATABASE"
                )
            exs.append(ex)
        src_ex, dst_ex = exs
        if dst_ex._alias in self._att_readonly:
            # same contract as qualified DML / USE-delegated writes:
            # export_to creates tables, inserts rows, and restamps metas
            raise LakeSQLError(f"catalog {dst!r} is attached READ_ONLY")
        if src_ex is dst_ex:
            raise LakeSQLError("COPY FROM DATABASE: source == target")
        src_ex.c.export_to(dst_ex.c)
        return self._status("COPY FROM DATABASE", len(src_ex.c.tables()))

    _FILE_FN = re.compile(r"\b(read_parquet|read_csv_auto|read_csv)\s*\(", re.I)
    # DuckDB csv type spellings -> Spark DDL (anything else passes through:
    # Spark's DDL parser covers decimal(p,s), date, timestamp, ...)
    _CSV_TYPES = {
        "varchar": "string", "text": "string", "char": "string",
        "integer": "int", "int4": "int", "int8": "bigint",
        "hugeint": "decimal(38,0)", "real": "float", "float4": "float",
        "float8": "double", "bool": "boolean",
    }

    def _rewrite_file_fns(self, q: str, scope: "_Scope") -> str:
        """DuckDB's file table functions — ``read_parquet('path')`` and
        ``read_csv('path' [, header => true|false] [, delim => ','] [,
        quote => '\"'] [, columns => {'a': 'INT', ...}])`` /
        ``read_csv_auto`` / ``types`` as an alias of ``columns`` —
        rewrite to temp views bound to Spark's readers (csv with schema
        inference and a DuckDB-style header sniff unless ``columns``
        declares the schema), so external files are queryable and
        ingestible SQL-first: COPY's inverse. The path is a standard SQL
        string literal ('' escapes an apostrophe, same as COPY's
        grammar) and may be a file, a directory of part files, or a
        glob. Calls inside string literals are left untouched; the views
        live for the statement (see _bound)."""
        out, i = [], 0
        while (m := search_code(self._FILE_FN, q, i)) is not None:
            close = match_paren(q, m.end() - 1)
            if close < 0:
                raise LakeSQLError("unbalanced parentheses in read_* call")
            view = self._bind_file_fn(
                m.group(1).lower(), q[m.end(): close], scope
            )
            out += [q[i: m.start()], view]
            i = close + 1
        out.append(q[i:])
        return "".join(out)

    def _bind_file_fn(self, fn: str, argstext: str, scope: "_Scope") -> str:
        """Parse one read_parquet/read_csv argument list, bind the file
        DataFrame (see _bound), and return the view name."""
        args = items(argstext)
        if not args or not re.fullmatch(
            r"'(?:[^']|'')*'", args[0].strip(), re.S
        ):
            raise LakeSQLError(
                f"{fn} needs a quoted path as its first argument"
            )
        path = args[0].strip()[1:-1].replace("''", "'")
        header, delim, quote, columns = None, ",", '"', None
        for a in args[1:]:
            mm = re.match(rf"^({_IDENT})\s*=>\s*(.+)$", a.strip(), re.S)
            if not mm:
                raise LakeSQLError(f"bad {fn} argument {a.strip()!r}")
            k, v = mm.group(1).lower(), mm.group(2).strip()
            if fn == "read_parquet":
                raise LakeSQLError(f"read_parquet takes no {k!r} argument")
            if k == "header":
                if v.lower() not in ("true", "false"):
                    raise LakeSQLError("header => true|false")
                header = v.lower() == "true"
            elif k in ("delim", "delimiter", "sep"):
                delim = v.strip()[1:-1].replace("''", "'")
            elif k == "quote":
                quote = v.strip()[1:-1].replace("''", "'")
            elif k in ("columns", "types"):
                columns = self._parse_csv_columns(v)
            else:
                raise LakeSQLError(
                    f"unknown {fn} argument {k!r} (header, delim, quote, "
                    "columns/types)"
                )
        fmt = "parquet" if fn == "read_parquet" else "csv"
        return self._register(
            scope, (fn, path, header, delim, quote, str(columns)),
            lambda: self._external_df(
                path, fmt, header, delim, quote=quote, columns=columns
            ),
        )

    def _parse_csv_columns(self, text: str) -> dict:
        """``{'name': 'TYPE', ...}`` (DuckDB's read_csv columns/types
        struct) -> ordered {name: spark_ddl_type}."""
        t = text.strip()
        if not (t.startswith("{") and t.endswith("}")):
            raise LakeSQLError(
                "columns/types expects {'name': 'TYPE', ...}"
            )
        out = {}
        body = t[1:-1].strip()
        for pair in items(body) if body else []:
            mm = re.match(
                r"^'((?:[^']|'')*)'\s*:\s*'((?:[^']|'')*)'$", pair.strip()
            )
            if not mm:
                raise LakeSQLError(f"bad columns/types entry {pair.strip()!r}")
            name = mm.group(1).replace("''", "'")
            typ = mm.group(2).replace("''", "'").strip().lower()
            out[name] = self._CSV_TYPES.get(typ, typ)
        if not out:
            raise LakeSQLError("columns/types struct is empty")
        return out

    _META_FN = re.compile(r"\b(ducklake_(?:snapshots|table_info|table_changes"
                          r"|file_stats))\s*\(([^)]*)\)", re.I)

    def _rewrite_meta_fns(self, q: str, scope: "_Scope") -> str:
        """The reference's metadata table functions (``ducklake_snapshots(db)``
        utils/ducklake_utils.py:58-62, ``ducklake_table_info(db)``
        exploration/ducklake_analysis.sh:105, ``ducklake_table_changes(db,
        schema, t, v1, v2)`` utils/ducklake_utils.py:65-78, and
        ``ducklake_file_stats(t)``) -> views of rows materialized from the
        catalog DB (driver-side metadata, no scan; see _bound)."""

        def view(m: "re.Match") -> str:
            fn = m.group(1).lower()
            args = [a.strip().strip("'\"") for a in m.group(2).split(",")]
            return self._register(
                scope, (fn, *args), lambda: self._meta_df(fn, args)
            )

        return sub_code(self._META_FN, view, q)

    def _meta_df(self, fn: str, args: list) -> DataFrame:
        """One metadata function's rows; a ``db`` argument names the
        catalog as ``_reader`` reads a qualifier."""
        spark = self.c.spark
        if fn == "ducklake_file_stats":
            # per-file pruning stats, min/max flattened to JSON strings so
            # the row shape is SQL-stable across schemas
            rows = [
                (f["path"], int(f["row_count"]), int(f["file_bytes"]), *(
                    json.dumps({c: s[k] for c, s in f["columns"].items()})
                    for k in ("min", "max")
                ))
                for f in self.c.file_stats(args[0])
            ]
            return local_df(
                spark, rows, "path string, row_count bigint, "
                "file_bytes bigint, col_min string, col_max string",
            )
        if fn == "ducklake_table_changes":
            cat = self._reader(args[0] if len(args) > 3 else "").c
            return cat.table_changes(args[-3], int(args[-2]), int(args[-1]))
        cat = self._reader(args[0]).c
        if fn == "ducklake_snapshots":
            return cat.snapshots_df()
        cols = "table_name file_count row_count file_bytes inlined_rows"
        return local_df(
            spark, [tuple(t[c] for c in cols.split()) for t in cat.table_info()],
            "table_name string, file_count bigint, row_count bigint, "
            "file_bytes bigint, inlined_rows bigint",
        )

    def _describe(self, name: str) -> DataFrame:
        """DuckDB-shaped DESCRIBE: (column_name, column_type, null YES/NO,
        key PRI/null, default, extra) — staged-aware inside an open txn, so
        ALTER TABLE followed by DESCRIBE shows the new column pre-commit
        (the reference demo's exact flow). Describing a MATERIALIZED VIEW
        additionally lists the read face's derived ``avg_<c>`` columns
        (extra = 'derived'): SQL users see every column a SELECT returns."""
        if not self._table_exists(name):
            raise LakeSQLError(f"no such table: {name!r}")
        from .schema import value_from_json

        schema = self._schema_of(name)
        rows = []
        derived = []
        hidden = set()
        d = find_rollup(self.c, name)
        if d is not None:
            # the read face's contract (rollup.derived_columns): list every
            # column a SELECT returns, hide raw sketch state
            for cname, ctype, hides in derived_columns(d):
                derived.append((cname, ctype, "YES", None, None, "derived"))
                if hides:
                    hidden.add(hides)
        for f in schema.fields:
            if f.name in hidden:
                continue
            if isinstance(f.default, dict) and "$expr" in f.default:
                dflt = f.default["$expr"]
            elif f.default is not None:
                dflt = str(value_from_json(f.default))
            else:
                dflt = None
            rows.append(
                (
                    f.name,
                    f.type.upper(),
                    "NO" if not f.nullable else "YES",
                    "PRI" if f.name in schema.primary_key else None,
                    dflt,
                    # X2 clustering: writes range-repartition on these
                    # columns so catalog min/max skipping prunes on them
                    "partition key"
                    if f.name in (schema.partition_by or ())
                    else None,
                )
            )
        return local_df(
            self.c.spark,
            rows + derived,
            "column_name string, column_type string, `null` string, "
            "key string, `default` string, extra string",
        )

    def _schema_of(self, name: str) -> TableSchema:
        if self._tx is not None:
            return self._tx._state(name).schema
        v = self.c.current_version()
        tid, _ = self.c._table_at(name, v)
        schemas = self.c._schemas_at(tid, v)
        return schemas[max(schemas)]

    _EXPR_DEFAULTS = re.compile(
        r"^(CURRENT_TIMESTAMP|CURRENT_DATE|LOCALTIMESTAMP|"
        r"NOW\(\)|RANDOM\(\)|RAND\(\)|UUID\(\))$",
        re.I,
    )

    def _literal(self, tok: str):
        """DEFAULT clause: literals evaluate once here (DDL time); volatile
        expressions store an {"$expr", "$frozen"} marker so each INSERT
        re-evaluates them (demos/05_catalog_portability/demo.py:224 —
        created_at DEFAULT CURRENT_TIMESTAMP must differ between writes)
        while rows predating the column read the DDL-time frozen value."""
        from .schema import value_to_json

        row = self.c.spark.sql(f"SELECT {tok} AS v").first()
        if self._EXPR_DEFAULTS.match(tok.strip()):
            return {"$expr": tok.strip(), "$frozen": value_to_json(row["v"])}
        return value_to_json(row["v"])

    def _status(self, op: str, rows: int) -> DataFrame:
        """The (op, rows) result of a statement, as an inline VALUES table
        of a fixed label: one SQL parse that plans a LocalRelation, about
        half the py4j round trips of shipping the row through local_df."""
        return self.c.spark.sql(
            f"SELECT * FROM VALUES ('{op}', {int(rows)}L) AS t(op, rows)"
        )


# verb -> (handler, writes). A writing verb's handler runs on the executor
# _target picks. CALL names its target inside its arguments, so _call routes
# it through _target itself once they are read. A verb without an
# entry is a read query.
_VERBS = {
    "BEGIN": (SQLExecutor._txn, False),
    "COMMIT": (SQLExecutor._txn, False),
    "ROLLBACK": (SQLExecutor._txn, False),
    "USE": (SQLExecutor._use_stmt, False),
    "ATTACH": (SQLExecutor._attach, False),
    "DETACH": (SQLExecutor._detach, False),
    "SHOW": (SQLExecutor._show, False),
    "DESCRIBE": (SQLExecutor._describe_stmt, False),
    "DESC": (SQLExecutor._describe_stmt, False),
    "PRAGMA": (SQLExecutor._pragma, False),
    "SUMMARIZE": (SQLExecutor._summarize, False),
    "EXPORT": (SQLExecutor._export, False),
    "CALL": (SQLExecutor._call, False),
    "IMPORT": (SQLExecutor._import, True),
    "CREATE": (SQLExecutor._create, True),
    "DROP": (SQLExecutor._drop, True),
    "ALTER": (SQLExecutor._alter, True),
    "INSERT": (SQLExecutor._insert, True),
    "UPDATE": (SQLExecutor._update, True),
    "DELETE": (SQLExecutor._delete, True),
    "TRUNCATE": (SQLExecutor._truncate, True),
    "MERGE": (SQLExecutor._merge, True),
    "REFRESH": (SQLExecutor._refresh, True),
    "CHECKPOINT": (SQLExecutor._checkpoint, True),
    "COPY": (SQLExecutor._copy, True),
}
_VECTOR_VERBS = (
    "build_vector_index", "extend_vector_index", "remove_vectors",
    "probe_vector_index",
)
# CALL verbs whose first argument may be catalog-qualified, and those that
# take their catalog as catalog => 'name'
_CALL_TABLE_VERBS = frozenset(("compact", "optimize", "flush_inlined") + _VECTOR_VERBS)
_CALL_CATALOG_VERBS = frozenset(("expire_snapshots", "gc") + _VECTOR_VERBS)
