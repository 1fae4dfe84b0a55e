"""Property-based differential test of the lake DML surface: random op
sequences (insert / update / delete / compact / flush / rename-roundtrip)
run against both the lake and a plain-Python model; after every committed op
the scan must equal the model, historical versions must equal the recorded
model snapshots (time travel), and the metadata-only count must agree.

Hypothesis drives op generation (deadline disabled — each op is a Spark
job); examples are kept small so the whole test stays ~1 min."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ducktales_spark.lake import LakeCatalog

SCHEMA = StructType(
    [
        StructField("id", IntegerType(), True),
        StructField("v", IntegerType(), True),
    ]
)

op_insert = st.tuples(
    st.just("insert"), st.integers(1, 30), st.integers(0, 100)
)
op_update = st.tuples(
    st.just("update"), st.integers(0, 6), st.integers(1, 50)
)
op_delete = st.tuples(st.just("delete"), st.integers(0, 9), st.just(0))
op_merge = st.tuples(
    st.just("merge"), st.integers(1, 10), st.integers(0, 100)
)
op_maint = st.tuples(
    st.sampled_from(["compact", "flush", "rename_roundtrip"]),
    st.just(0),
    st.just(0),
)
op_expire = st.tuples(st.just("expire"), st.integers(1, 3), st.just(0))
ops_strategy = st.lists(
    st.one_of(
        op_insert, op_update, op_delete, op_merge, op_maint, op_expire
    ),
    min_size=2,
    max_size=6,
)


@pytest.fixture(scope="module")
def prop_tmp(tmp_path_factory):
    return tmp_path_factory.mktemp("lakeprop")


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=ops_strategy,
    seed=st.integers(0, 10_000),
    clustered=st.booleans(),
)
def test_random_dml_matches_model(spark, prop_tmp, ops, seed, clustered):
    import uuid

    lake = LakeCatalog(
        str(prop_tmp / uuid.uuid4().hex[:10]), spark, inline_threshold=4
    )
    # clustered=True runs the SAME op sequence on a range-clustered table:
    # partitioning must be invisible to every result
    lake.create_table(
        "t", SCHEMA, partition_by=["id"] if clustered else ()
    )
    model: dict = {}  # id -> v
    next_id = 0
    history = [dict(model)]  # snapshot i == lake version (i + base)
    base = lake.current_version()
    min_live = 0  # first history index still time-travelable (expire op)

    for kind, a, b in ops:
        if kind == "expire":
            res = lake.expire_snapshots(keep_last=a)
            min_live = max(min_live, res["cutoff_version"] - base)
            # no snapshot committed -> no history entry; HEAD unaffected
            got = {r["id"]: r["v"] for r in lake.read("t").collect()}
            assert got == model, f"after expire: {got} != {model}"
            continue
        if kind == "insert":
            rows = [(next_id + i, (b + i * 7) % 97) for i in range(a)]
            next_id += a
            lake.insert(
                "t", spark.createDataFrame(rows, SCHEMA)
            )
            model.update(dict(rows))
        elif kind == "update":
            # UPDATE t SET v = v + 100 WHERE v % 7 == a
            n = lake.update("t", {"v": f"v + {b}"}, f"v % 7 = {a}")
            changed = {k: v + b for k, v in model.items() if v % 7 == a}
            assert n == len(changed)
            model.update(changed)
        elif kind == "delete":
            n = lake.delete("t", f"id % 10 = {a}")
            doomed = [k for k in model if k % 10 == a]
            assert n == len(doomed)
            for k in doomed:
                del model[k]
        elif kind == "merge":
            # upsert a batch straddling existing ids [0, a) and new ids
            # [next_id, next_id + a) — updates and inserts in one MERGE
            batch = {k: (b + k * 3) % 89 for k in range(a)}
            batch.update(
                {next_id + k: (b + k * 5) % 89 for k in range(a)}
            )
            next_id += a
            res = lake.merge(
                "t",
                spark.createDataFrame(sorted(batch.items()), SCHEMA),
                on=["id"],
            )
            assert res["matched"] == len(set(batch) & set(model))
            assert res["inserted"] == len(set(batch) - set(model))
            model.update(batch)
        elif kind == "compact":
            lake.compact("t")
        elif kind == "flush":
            lake.flush_inlined("t")
        elif kind == "rename_roundtrip":
            lake.rename_column("t", "v", "val")
            lake.rename_column("t", "val", "v")
            history.append(dict(model))  # two commits for this op
        history.append(dict(model))

        got = {
            r["id"]: r["v"] for r in lake.read("t").collect()
        }
        assert got == model, f"after {kind}: {got} != {model}"
        assert lake.count("t") == len(model)

    # time travel: every retained version equals its model snapshot;
    # expired versions must refuse to read
    assert lake.current_version() - base == len(history) - 1
    for i in (0, len(history) // 2, len(history) - 1):
        if i < min_live:
            with pytest.raises(Exception, match="unknown snapshot"):
                lake.read("t", version=base + i)
            continue
        got = {
            r["id"]: r[-1]  # value column regardless of current name
            for r in lake.read("t", version=base + i).collect()
        }
        assert got == history[i], f"version {base + i}"


# -- pure-driver property tests (no Spark session needed) ------------------


@given(
    st.lists(
        st.tuples(
            # statement head: identifier-ish text, no quotes/semicolons
            st.text(
                alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ_ ()0123456789,",
                min_size=1,
                max_size=30,
            ).filter(lambda s: s.strip()),
            # zero or more embedded string literals with ADVERSARIAL
            # content: semicolons, newlines, doubled-quote escapes
            st.lists(
                st.text(
                    alphabet="ab;\n'x-",
                    max_size=12,
                ),
                max_size=3,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=200, deadline=None)
def test_split_script_roundtrip(parts):
    """lexer.statements is the exact inverse of joining statements with
    ';' for any statement set whose literals use SQL '' escaping —
    semicolons and newlines INSIDE literals never split, every real
    boundary does."""
    from ducktales_spark.lake.lexer import statements

    stmts = []
    for head, lits in parts:
        s = head.strip()
        for lit in lits:
            s += " '" + lit.replace("'", "''") + "'"
        stmts.append(s)
    script = ";\n".join(stmts) + ";"
    got = statements(script)
    # joining is whitespace-normalizing at the boundary only: compare
    # stripped statements
    assert got == [s.strip() for s in stmts]


@given(
    st.text(
        alphabet="abcdefg_ .*,;'()=<>0123456789EXCLUDE",
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_exclude_rewrite_only_after_star(q):
    """The * EXCLUDE -> * EXCEPT rewrite never fires except immediately
    after a star: any EXCLUDE token not preceded by '*' survives
    verbatim (the r12 regression class: a bare identifier or alias named
    'exclude' being mangled into EXCEPT)."""
    import re

    from ducktales_spark.lake.lexer import map_code

    def _sugar(seg):
        seg = re.sub(
            r"(\*\s*)EXCLUDE\s+([A-Za-z_][A-Za-z0-9_]*)\b",
            r"\1EXCEPT (\2)",
            seg,
            flags=re.I,
        )
        return re.sub(r"(\*\s*)EXCLUDE\s*\(", r"\1EXCEPT (", seg, flags=re.I)

    out = map_code(q, _sugar)
    # every EXCEPT the rewrite introduced must trace back to a star form
    for m in re.finditer(r"EXCEPT \(", out):
        pre = out[: m.start()].rstrip()
        assert pre.endswith("*") or "EXCEPT (" in q, (q, out)


@given(st.text(alphabet="ab_1 ,;()[]{}'\"`\\-/*+Rr=.\n", max_size=80))
@settings(max_examples=400, deadline=None)
def test_lexer_tokens_tile_input_and_comma_split_rejoins(text):
    """The lexer's token spans tile any input exactly, unterminated
    literals, identifiers and comments included, and a top-level comma
    split joins back to the input; no piece holds a top-level comma of
    its own."""
    from ducktales_spark.lake.lexer import split_top, tokens

    toks = tokens(text)
    assert "".join(t.text for t in toks) == text
    assert [t.start for t in toks] == [0, *(t.end for t in toks)][:-1]
    assert all(text[t.start:t.end] == t.text for t in toks)
    pieces = split_top(text)
    assert ",".join(pieces) == text
    for p in pieces:
        assert not any(
            t.depth == 0 and t.kind == "op" and t.text == ","
            for t in tokens(p)
        ), (text, p)
