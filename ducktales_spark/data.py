"""Test-table access: the driver's deterministic TPC-H-ish parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables: always broadcast-join these at any scale. region and
# nation are bounded by geography (25/5 rows in TPC-H); part/supplier/customer
# grow with SF and must NOT be assumed broadcastable at 100 TB.
BROADCAST_DIMS = ("region", "nation")


# Scan memoization: the driver's sf dirs are immutable, so the DataFrame
# built over a (session, sf_dir, table) triple is reusable verbatim — a
# DataFrame is just an analyzed logical plan, holding no execution state.
# Re-reading costs a py4j round-trip + a parquet footer/schema resolution
# per call (~50-100 ms driver-side), which a 12-query suite pays dozens of
# times for the same ten files. Weak-keyed on the session so a stopped
# session's plans don't pin its JVM gateway.
_SCAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def plan_memo(fn):
    """Analyzed-plan cache for PURE-READ query builders, the level above
    _SCAN_CACHE: a builder whose output depends only on (session, sf_dir)
    returns an immutable analyzed logical plan over immutable files, so
    steady-state re-issues can reuse it verbatim — a DataFrame holds no
    execution state, and every operation layered on top (the bench's
    count(), a user's further transforms) creates a fresh Dataset with
    its own QueryExecution, so nothing about execution or shuffle stages
    is shared. What this removes is the pure rebuild waste: py4j
    round-trips + Catalyst ANALYSIS of a large tree on every re-issue
    (d03's ~500-operator sketch plan measured ~0.14 s construction +
    ~0.38 s analysis first-build; both ~0 from cache). Optimization and
    physical planning of whatever is layered on top still run per issue.
    Shuffle-partition/conf changes still apply to cached plans: those are
    read at the NEW Dataset's physical-planning time, not at analysis.

    Only for builders that read sf_dir parquet directly — lake-backed
    queries build fresh temp catalogs per call and must NOT memoize."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        per_session = _SCAN_CACHE.setdefault(spark, {})
        key = ("__plan__", fn.__module__, fn.__qualname__, sf_dir)
        df = per_session.get(key)
        if df is None:
            df = per_session[key] = fn(spark, sf_dir)
        return df

    return wrapped


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown reach the parquet
    scan because the DataFrame is built directly over the file source.

    events.ts is stored as parquet TIMESTAMP(NANOS), which Spark's reader
    rejects; we read nanos as long (legacy conf) and rebuild the timestamp.
    The data is microsecond-granular, so `DIV 1000` is lossless.
    """
    per_session = _SCAN_CACHE.setdefault(spark, {})
    df = per_session.get((sf_dir, name))
    if df is None:
        df = per_session[(sf_dir, name)] = _read_table(spark, sf_dir, name)
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # scope the legacy conf to this read: schema resolution happens at
        # read time, so restoring afterwards doesn't affect this DataFrame
        # — but leaving it set would silently turn TIMESTAMP(NANOS) columns
        # into bigint for every LATER parquet read in the session
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        # a copy rewritten by another engine may store ts as a real micros
        # timestamp — only rebuild when the reader saw nanos-as-long
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def stats_num_rows(sf_dir: str, name: str):
    """Row count from parquet FOOTER metadata — a driver-side stats lookup
    (milliseconds), not a Spark count job. Returns None when the table isn't
    a locally-stattable single parquet file (remote storage, directory
    layout); callers fall back to a count job — the same stats-else-scan
    policy a CBO applies."""
    import os

    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(
            os.path.join(sf_dir, f"{name}.parquet")
        ).metadata.num_rows
    except Exception:
        return None


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register temp views so operators can be written in Spark SQL."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
