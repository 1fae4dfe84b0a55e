"""The package's test data tables, regenerated.

Writes the ten tables ``ducktales_spark.data.TABLES`` names, one parquet
file each: the TPC-H-ish star schema, the ``events`` stream, ``documents``
for the text and dedup operators and ``embeddings`` for the vector
operators. They are the tables the repository's tests and ``bench.py``
read (``$SPARK_GRAFT_SF_DIR``, seed 42), value for value: every column of
every table at sf0.001, sf0.01 and sf0.1 equals the original, and the
``tables`` section of ``recorded_hashes.json`` holds each original table's
``table_sha1``, which the tests compare the output to. Row counts scale with
``sf`` like TPC-H: sf0.1 has 150k orders and 600k lineitems.

The tables depend only on ``sf``: every seed of the benchmark reads the same
data, so per-seed differences come from the op stream alone, and the
recorded result hashes of ops without a DuckDB oracle stay valid.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]  # 3/7 English
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
P_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
P_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
P_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + d, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n)])


def tables(sf: float) -> dict:
    """name -> pyarrow.Table for scale factor ``sf``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part)
    adj = np.asarray(P_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(P_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _choice(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _choice(rng, ["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": _choice(rng, ["R", "A", "N"], n_line),
            "l_linestatus": _choice(rng, ["O", "F"], n_line),
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "ns")
    offs = (np.sort(rng.uniform(0, 30 * 86_400, n_ev)) * 1e9).astype("timedelta64[ns]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array((t0 + offs).astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(n_doc)]
    # 5% near-duplicates: a document replaced by another one plus " dup"
    n_dup = n_doc // 20
    for d, s in zip(rng.choice(n_doc, n_dup, replace=False), rng.integers(0, n_doc, n_dup)):
        texts[d] = texts[s] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": _choice(rng, LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return out


def table_sha1(tbl: pa.Table) -> str:
    """Hash of a table's column names and values, independent of how the
    parquet file that holds it was written."""
    h = hashlib.sha1()
    for name in tbl.column_names:
        col = tbl[name].combine_chunks()
        h.update(name.encode())
        if pa.types.is_list(col.type):
            h.update(pc.list_value_length(col).to_numpy().tobytes())
            col = pc.list_flatten(col)
        if pa.types.is_string(col.type):
            h.update("\n".join(col.to_pylist()).encode())
        else:
            if pa.types.is_timestamp(col.type):
                col = col.cast(pa.int64())
            h.update(col.to_numpy().tobytes())
    return h.hexdigest()


def write(sf: float, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    # run as its own process, so the generator's memory stays out of the
    # benchmark process's peak RSS: datagen.py <out_dir> <sf>
    import sys

    write(float(sys.argv[2]), sys.argv[1])
