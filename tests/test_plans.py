"""Physical-plan assertions: the scale-posture claims (pushdown, pruning,
broadcast, codegen, shuffle counts) verified against the actual Catalyst
output, not just asserted in docstrings. A regression that silently drops a
pushed filter or flips a broadcast to a shuffle join fails here."""

from __future__ import annotations

import io
import re

import pytest
from pyspark.sql import DataFrame, functions as F

from ducktales_spark.data import table
from ducktales_spark.registry import load_all, load_extra

SPECS = {**load_extra(), **load_all()}


def build(name: str, spark, sf_dir) -> DataFrame:
    """A COLD plan for ``name``: bypass the plan_memo cache (data.plan_memo)
    so the plan reflects the CURRENT session conf. A memoized DataFrame's
    QueryExecution is computed once (standard Spark Dataset behavior), so
    asserting plan shape on it after toggling AQE/broadcast confs would
    read a stale plan."""
    fn = SPECS[name].fn
    return getattr(fn, "__wrapped__", fn)(spark, sf_dir)


def plan_str(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def n_exchanges(df: DataFrame) -> int:
    return len(re.findall(r"\bExchange\b", plan_str(df)))


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    """P3/P4: a filter on a scanned column must appear as PushedFilters on
    the parquet scan, not only as a post-scan Filter."""
    df = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") < 10)
    s = formatted(df)
    assert re.search(r"PushedFilters: \[.*LessThan\(l_quantity,10", s), s[:2000]


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must narrow ReadSchema to those columns."""
    df = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    s = formatted(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    assert m, s[:2000]
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_quantity"}


def test_j01_broadcasts_dimensions(spark, sf_dir):
    """J1: the revenue join must broadcast the small dimension sides —
    a shuffle join on nation/region at 100 TB would be a plan bug."""
    s = plan_str(build("j01_inner_join_revenue_by_region", spark, sf_dir))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s or "lineitem" in s  # dims never SMJ


def test_q1_partial_aggregation(spark, sf_dir):
    """A8: groupBy must plan partial (map-side) + final hash aggregation —
    one shuffle of pre-aggregated groups, not raw rows."""
    s = plan_str(build("q1_pricing_summary", spark, sf_dir))
    assert len(re.findall(r"HashAggregate", s)) >= 2
    assert n_exchanges(build("q1_pricing_summary", spark, sf_dir)) <= 2


def test_q1_whole_stage_codegen(spark, sf_dir):
    """The flagship scan-agg pipeline must run inside WholeStageCodegen.
    (AQE only materializes codegen stage markers in the FINAL plan, so
    execute first.)"""
    df = build("q1_pricing_summary", spark, sf_dir)
    df.collect()
    # codegen'd operators carry the "*(stage_id)" marker in the final plan
    assert re.search(r"\*\(\d+\) HashAggregate", plan_str(df))


def test_no_python_udf_in_jvm_queries(spark, sf_dir):
    """Relational + dedup queries must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython stages (Python appears only in the similarity/multimodal
    mapInPandas operators, by design)."""
    for name in [
        "q1_pricing_summary", "j01_inner_join_revenue_by_region",
        "a09_groupby_multikey", "w02_topk_per_group", "d01_dedup_exact",
        "d02_ngram_jaccard", "d03_minhash_lsh", "t01_token_count",
        "t02_quality_score", "x02_event_windows",
    ]:
        s = plan_str(build(name, spark, sf_dir))
        assert "EvalPython" not in s, f"{name} fell off the JVM path"


def test_shingle_dedup_reuses_partitioning(spark, sf_dir):
    """The (doc_id, h) dropDuplicates must reuse the repartition(doc_id)
    distribution: exactly ONE Exchange in the whole shingle pipeline."""
    from ducktales_spark.queries.dedup import shingle_hash_table

    # cached fragments from earlier dedup queries (persist()) change how the
    # planner slots exchanges; this asserts the cold plan
    spark.catalog.clearCache()
    sh = shingle_hash_table(table(spark, sf_dir, "documents"))
    assert n_exchanges(sh) == 1, plan_str(sh)[:3000]


def test_sort_limit_fuses_to_take_ordered(spark, sf_dir):
    """O4: ORDER BY ... LIMIT must fuse to TakeOrderedAndProject — a global
    sort for a top-k would be a scale bug."""
    s = plan_str(build("o01_sort_limit_topk", spark, sf_dir))
    assert "TakeOrderedAndProject" in s


def test_lake_read_prunes_files(spark, tmp_path):
    """The lake's stats-based file pruning: an update with a selective
    predicate must leave non-matching files untouched (asserted at the
    metadata layer): the pruned file survives with no delete file. The
    predicate matches every row of the other file, which merge-on-read
    removes (new row versions replace it) instead of giving it a delete
    file that hides all of its rows."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ducktales_spark.lake import LakeCatalog

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    lake.create_table(
        "t", StructType([StructField("id", IntegerType(), True)])
    )
    lake.insert("t", spark.range(0, 100).select(F.col("id").cast("int")).coalesce(1))
    lake.insert("t", spark.range(10000, 10100).select(F.col("id").cast("int")).coalesce(1))
    files_before = {
        r[0] for r in lake.ms.q(
            "SELECT file_id FROM lake_data_file WHERE removed_snapshot IS NULL"
        )
    }
    lake.update("t", {"id": "id + 1"}, "id >= 10000")
    files_after = {
        r[0] for r in lake.ms.q(
            "SELECT file_id FROM lake_data_file WHERE removed_snapshot IS NULL"
        )
    }
    # the 0-99 file survived (its max stat < 10000 -> pruned) with no
    # delete file; the 10000-10099 file left the table
    pruned, hit = sorted(files_before)
    assert files_before & files_after == {pruned}
    assert lake.ms.q(
        "SELECT data_file_id FROM lake_delete_file WHERE removed_snapshot IS NULL"
    ) == []
    assert sorted(r.id for r in lake.read("t").collect()) == (
        list(range(100)) + list(range(10001, 10101))
    )


def test_lake_read_without_deletes_is_a_plain_scan(spark, tmp_path):
    """A table with no live delete file reads exactly as a plain parquet
    scan: no join and no ``_metadata`` column in the plan. A delete file
    adds a filter on the row's ``_metadata`` file name and row index (still
    no join); compaction folds it and the plain scan returns."""
    from ducktales_spark.lake import LakeCatalog

    lake = LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=0)
    lake.ctas("t", spark.range(100).selectExpr("CAST(id AS INT) AS id").coalesce(1))

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    for s in (plan(lake.read("t")), plan_str(lake.read("t"))):
        assert "Join" not in s and "_metadata" not in s, s
    lake.delete("t", "id < 10")
    s = plan_str(lake.read("t"))
    assert "Join" not in s and "_metadata" in s and "row_index" in s, s
    assert lake.read("t").count() == 90
    lake.compact("t")
    for s in (plan(lake.read("t")), plan_str(lake.read("t"))):
        assert "Join" not in s and "_metadata" not in s, s
    assert lake.read("t").count() == 90


def test_lake_count_plans_one_local_row(spark, tmp_path):
    """A lake SQL row count of a table plans one local row, at head and at
    a version; a count the catalog does not answer (here: with a WHERE, or
    of a view) plans the table's parquet scan with the delete filter, as
    before."""
    from ducktales_spark.lake import LakeCatalog

    lake = LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=0)
    lake.ctas("t", spark.range(100).selectExpr("CAST(id AS INT) AS id").coalesce(1))
    v = lake.current_version()
    lake.delete("t", "id < 10")
    lake.sql("CREATE VIEW tv AS SELECT * FROM t")
    for sql in ("SELECT count(*) FROM t", f"SELECT count(*) FROM t AT (VERSION => {v})"):
        s = plan_str(lake.sql(sql))
        assert s.strip().startswith("LocalTableScan") and "\n" not in s.strip(), s
    for sql in ("SELECT count(*) FROM t WHERE true", "SELECT count(*) FROM tv"):
        s = plan_str(lake.sql(sql))
        assert "FileScan parquet" in s and "row_index" in s, s
        assert lake.sql(sql).first()[0] == 90


def test_d02_no_cache_barriers_single_selfjoin_exchange(spark, sf_dir):
    """d02's round-2 shape: no InMemoryRelation (cache barriers forced
    re-exchanges), no sort-merge join, and a bounded exchange count — the
    self-join consumes the DF-cap window's h-exchange in place."""
    spark.catalog.clearCache()
    df = build("d02_ngram_jaccard", spark, sf_dir)
    s = plan_str(df)
    assert "InMemoryRelation" not in s
    assert "SortMergeJoin" not in s
    # static plan duplicates the shared self-join subtree (AQE reuses the
    # exchange at runtime); the r1 cache-barrier shape counted 31 here
    assert n_exchanges(df) <= 12, s[:3000]


def test_d03_no_persist_no_python(spark, sf_dir):
    """d03 (minhash+simhash union): pure JVM expressions, no cache
    barriers; both sketches' bands feed ONE self-join."""
    spark.catalog.clearCache()
    df = build("d03_minhash_lsh", spark, sf_dir)
    s = plan_str(df)
    assert "InMemoryRelation" not in s
    assert "EvalPython" not in s


def test_d03_single_join_reuses_sketch(spark, sf_dir):
    """The unified band table must make candidate generation a single
    self-join whose build side is a ReusedExchange — i.e. the 97-aggregate
    sketch computes ONCE. Two joins (one per sketch) would recompute the
    whole sketch per method; a missing ReusedExchange doubles it too."""
    spark.catalog.clearCache()
    df = build("d03_minhash_lsh", spark, sf_dir)
    df.collect()  # AQE finalizes reuse only in the executed plan
    final = plan_str(df).split("== Initial Plan ==")[0]
    assert len(re.findall(r"ShuffledHashJoin", final)) == 1, final[:3000]
    assert "ReusedExchange" in final, final[:3000]
    # one sketch aggregation node in the final plan, not two
    assert len(re.findall(r"functions=\[partial_min\(pmod", final)) == 1, (
        final[:3000]
    )


def test_d02_d03_reuse_exchanges_without_aqe(spark, sf_dir):
    """With AQE disabled (its coalescing sizes partitions by shuffle-READ
    bytes, which serialized the exploding band joins 2-4x at sf10 on 32
    cores) only the STATIC ReuseExchange rule deduplicates the self-join
    subtrees; if a code change breaks canonical-plan equality between the
    two join sides, the 97-aggregate sketch silently computes twice in any
    session that turns AQE off. Assert reuse in the non-AQE executed
    plan."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for q, min_reused in (("d03_minhash_lsh", 1), ("d02_ngram_jaccard", 2)):
            df = build(q, spark, sf_dir)
            s = plan_str(df)
            assert s.count("ReusedExchange") >= min_reused, (q, s[:3000])
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_x02_single_aggregation_serves_both_window_kinds(spark, sf_dir):
    """x02: both window kinds come from ONE aggregation of ONE events scan —
    a union of two aggregations would scan + shuffle events twice, double
    I/O at 100 TB — and exactly ONE exchange sits below the aggregate (the
    partial agg collapses each task to O(#windows) rows first, so the
    shuffle is flat in SF). The group key must be the long bucket index,
    not a window struct: no per-row struct construction in the hot path."""
    df = build("x02_event_windows", spark, sf_dir)
    s = plan_str(df)
    assert len(re.findall(r"FileScan parquet", s)) == 1, s[:3000]
    assert len(re.findall(r"partial_count\(1\)", s)) == 1, s[:3000]
    assert "Union" not in s
    assert len(re.findall(r"Exchange hashpartitioning\(wb", s)) == 1, s[:3000]
    assert "named_struct" not in s.lower(), s[:3000]


def test_j01_fact_scan_pruned_and_customer_broadcast(spark, sf_dir):
    """j01: the orders scan must read only (o_custkey, o_totalprice), and
    with a sub-threshold customer table every join in the chain is
    broadcast — the fact side never shuffles. (At a 100 TB SF customer
    outgrows the threshold and AQE flips that one join to shuffle, which
    is the right plan there.)"""
    df = build("j01_inner_join_revenue_by_region", spark, sf_dir)
    s = formatted(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "o_custkey", "o_totalprice",
    }, s[:2000]
    p = plan_str(df)
    assert p.count("BroadcastHashJoin") == 3, p[:3000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_t05_chunk_redact_zero_shuffle_zero_python(spark, sf_dir):
    """t05 (redact -> chunk): both stages must stay codegen projections —
    no Exchange (a shuffle in a per-document projection would be a plan
    bug) and no Python eval anywhere."""
    df = build("t05_chunk_redact", spark, sf_dir)
    s = plan_str(df)
    assert n_exchanges(df) == 0, s[:3000]
    assert "EvalPython" not in s
    assert len(re.findall(r"FileScan parquet", s)) == 1


def test_c02_mix_corpus_zero_corpus_shuffle(spark, sf_dir):
    """c02: the weights join must be broadcast and the epoch explode a
    projection — the corpus side reaches the output with ZERO exchanges
    of its own (the only exchange allowed is the broadcast of the tiny
    weights literal)."""
    df = build("c02_mix_corpus", spark, sf_dir)
    s = plan_str(df)
    assert "BroadcastHashJoin" in s, s[:3000]
    assert "SortMergeJoin" not in s and "ShuffledHashJoin" not in s
    # no plain (shuffle) Exchange; BroadcastExchange of the weights is fine
    assert not re.search(r"Exchange (hash|range|Single)", s), s[:3000]


def test_c01_decontaminate_single_corpus_exchange(spark, sf_dir):
    """c01: benchmark n-grams broadcast; the corpus shingles pay ONE
    doc_id exchange which the hit-count groupBy rides — so the whole
    operator costs a single corpus shuffle regardless of benchmark size."""
    spark.catalog.clearCache()
    df = build("c01_decontaminate", spark, sf_dir)
    s = plan_str(df)
    assert "BroadcastHashJoin" in s, s[:3000]
    # the hit-count agg rides the shingle pipeline's doc_id distribution:
    # NO exchange between its final and partial HashAggregate nodes
    lines = s.splitlines()
    agg_final = next(
        i for i, l in enumerate(lines)
        if "HashAggregate" in l and "functions=[count(1)" in l
    )
    agg_partial = next(
        i for i, l in enumerate(lines)
        if "HashAggregate" in l and "partial_count(1)" in l
    )
    between = lines[agg_final + 1 : agg_partial]
    assert not any("Exchange" in l for l in between), s[:3000]
    # exactly one corpus-side doc_id exchange (benchmark-side exchanges sit
    # inside the broadcast subtree and are bounded by the eval-set size)
    corpus_doc_id = re.findall(r"Exchange hashpartitioning\(doc_id#0L", s)
    assert len(corpus_doc_id) <= 1, s[:3000]


def test_session_codegen_cache_sized_for_mixed_workload(spark):
    """The default 100-entry generated-class cache recompiles codegen units
    when more than ~a dozen distinct plans rotate (measured: the
    97-aggregate sketch query ran 2.5x slower interleaved with the other
    headline queries than alone). The session must pin a working-set-sized
    cache; losing this config silently reintroduces per-execution
    recompilation on any long-lived mixed workload."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000


def test_split_corpus_zero_shuffle_zero_python(spark, sf_dir):
    """c06: hash-mode splitting is a pure codegen projection — zero
    exchanges, no Python eval, and the scan is column-pruned to what the
    projection needs."""
    from ducktales_spark.corpus import split_corpus

    df = split_corpus(
        table(spark, sf_dir, "documents"),
        {"train": 0.9, "val": 0.05, "test": 0.05},
    ).select("doc_id", "split")
    p = plan_str(df)
    assert n_exchanges(df) == 0, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert re.search(r"\*\(\d+\) Project", p), p  # codegen'd projection


def test_repetition_signals_plan_shape(spark, sf_dir):
    """t07: the dup-line leg is codegen; the bigram-mode leg rides the
    standard shingle shape (partial map-side combine before each exchange);
    no Python anywhere and no cartesian join."""
    from ducktales_spark.queries.text_pipeline import repetition_signals

    df = repetition_signals(table(spark, sf_dir, "documents"))
    p = plan_str(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    # partial aggregation before the (doc_id, g) exchange: HashAggregate
    # appears on both sides of each Exchange
    assert len(re.findall(r"HashAggregate", p)) >= 4, p


def test_mv_read_face_stays_metadata_cheap(spark, tmp_path):
    """X4/X12: a table with no meta companion binds with NO extra MV work
    (the statement binder checks the name set first), and an MV read
    face is the stored scan + a codegen projection — no
    join, no shuffle introduced by the avg derivation."""
    from ducktales_spark.lake import LakeCatalog

    lake = LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=0)
    lake.sql("CREATE TABLE m (k INT, v DOUBLE)")
    lake.sql("INSERT INTO m SELECT id::INT AS k, id * 1.0 AS v FROM range(200)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mk AS SELECT k, COUNT(*), SUM(v) "
        "FROM m GROUP BY k"
    )
    df = lake.sql("SELECT k, n_rows, sum_v, avg_v FROM mk")
    p = plan_str(df)
    assert "Join" not in p and "Exchange" not in p, p


def test_zvalue_expression_stays_jvm_side(spark, sf_dir):
    """The OPTIMIZE ZORDER rewrite's Morton-value column is pure codegen
    JVM expressions: no Python evaluation node may appear in its plan
    (the rewrite runs over the WHOLE table — a per-row Python hop there
    would be the classic 100 TB scale-killer), and the clustering write
    shape is one range exchange."""
    from ducktales_spark.lake.catalog import _zvalue
    from ducktales_spark.lake.schema import Field, TableSchema

    df = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate", "l_returnflag"
    )
    sch = TableSchema(
        fields=(
            Field(1, "l_partkey", "bigint", True, None),
            Field(2, "l_suppkey", "bigint", True, None),
            Field(3, "l_shipdate", "timestamp", True, None),
            Field(4, "l_returnflag", "string", True, None),
        ),
    )
    z = _zvalue(df, ["l_partkey", "l_suppkey", "l_shipdate", "l_returnflag"], sch)
    clustered = df.withColumn("__z", z).repartitionByRange(8, F.col("__z"))
    s = plan_str(clustered)
    assert "Python" not in s and "BatchEval" not in s, s[:1500]
    assert len(re.findall(r"\bExchange rangepartitioning", s)) == 1, s[:1500]


def test_g01_labeling_joins_are_hash_not_sortmerge(spark, sf_dir):
    """r15: the component-labeling joins (canon/comp/labeled sides — all
    post-aggregation or checkpoint-materialized, no consumer uses order)
    must plan as ShuffledHashJoin, not SortMergeJoin: the SMJ sorts were
    pure waste (measured g01 0.474 -> 0.385 s at sf0.1)."""
    s = plan_str(build("g01_dedup_components", spark, sf_dir))
    assert "SortMergeJoin" not in s, s[:2000]
    assert "ShuffledHashJoin" in s, s[:2000]


def test_c01_exact_decon_hashes_without_md5(spark, sf_dir):
    """r15: exact decontamination hashes n-grams with variadic xxhash64
    over the word columns — no 13-gram string materialization, no md5
    (the join needs equality only; measured c01 0.309 -> 0.257 s). A
    regression back to md5-of-concat_ws fails here."""
    s = plan_str(build("c01_decontaminate", spark, sf_dir))
    assert "xxhash64" in s, s[:2000]
    assert "md5" not in s, s[:2000]


def test_g01_star_round_is_window_fused(spark, sf_dir):
    """r16: one large+small star round must plan as the window-fused shape
    — zero joins, <= 3 real exchanges, two per-group-min Windows — not the
    groupBy+join formulation (11 exchanges + 4 SortMergeJoins, with the
    large-star subtree recomputed per reference because pushdown broke
    exchange reuse; measured g01 build 1.99 -> 1.21 s at sf0.1)."""
    from ducktales_spark.graph import _star_round

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "u long, v long"
    ).localCheckpoint()
    s = plan_str(_star_round(edges))
    assert "Join" not in s, s[:2000]
    real_exchanges = len(re.findall(r"(?<!Reused)Exchange hash", s))
    assert real_exchanges <= 3, s[:2000]
    assert len(re.findall(r"\bWindow\b", s)) == 2, s[:2000]


def test_g01_star_round_mid_variant_skips_dedup_exchange(spark, sf_dir):
    """r16 fused loop: the INTERMEDIATE round of a fused round pair
    (dedup=False) must drop the trailing distinct — no Aggregate, <= 2
    real exchanges (the two window shuffles only). Its duplicates are
    multiset-safe for the next round's windows and are collapsed by the
    pair's final distinct (measured with the 2-rounds-per-job loop: g01
    build 1.66 -> 1.26 s sf0.1, 5.70 -> 3.63 s sf10, parity true)."""
    from ducktales_spark.graph import _star_round

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "u long, v long"
    ).localCheckpoint()
    s = plan_str(_star_round(edges, dedup=False))
    assert "Join" not in s, s[:2000]
    assert "Aggregate" not in s, s[:2000]
    real_exchanges = len(re.findall(r"(?<!Reused)Exchange hash", s))
    assert real_exchanges <= 2, s[:2000]
    assert len(re.findall(r"\bWindow\b", s)) == 2, s[:2000]


def test_fuzzy_bands_single_sql_build_plan_shape(spark, sf_dir):
    """minhash_bands (the single-spark.sql minhash builder) plans the
    32-aggregate signature groupBy riding ONE doc_id exchange, the band
    explode on top, and no Python nodes."""
    from ducktales_spark.queries.dedup import minhash_bands

    s = plan_str(minhash_bands(table(spark, sf_dir, "documents")))
    assert "Python" not in s and "BatchEval" not in s, s[:1500]
    assert len(re.findall(r"(?<!Reused)Exchange hash", s)) == 1, s[:2000]
    # toString truncates expression lists at spark.sql.debug.maxToStringFields
    # (25), so the 32 MIN aggregates show as at least 25
    assert len(re.findall(r"partial_min", s)) >= 25, s[:2000]


def test_media_kernels_filter_modality_jvm_side(spark, sf_dir):
    """r15: the media feature kernels must filter kind and prune columns
    JVM-SIDE, below the Python node — foreign modalities' binary payloads
    crossing the Arrow boundary just to be dropped in Python was the
    guide-§4 pruning miss this round fixed."""
    from ducktales_spark.multimodal import image_features, synth_media

    media = synth_media(table(spark, sf_dir, "documents"), "doc_id")
    s = plan_str(image_features(media))
    assert re.search(r"Filter .*kind#\d+ = image", s), s[:2000]
    # only (media_id, data) reach the kernel: meta/kind are pruned before
    # the Python boundary
    m = re.search(r"MapInPandas run\(([^)]*)\)#\d+, \[media_id", s)
    assert m, s[:2000]
    kernel_inputs = m.group(1)
    assert "meta" not in kernel_inputs and "kind" not in kernel_inputs, s[:2000]


# --- r16 (r15 verdict item 6): repo-wide Python-boundary input audit -------

_PYNODE = re.compile(
    r"(?:MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas)"
    r"\s+(?:\[[^\]]*\],\s*)*(\w+)\(([^)]*)\)"
)


def _python_kernel_inputs(df: DataFrame) -> list:
    """[(kernel_fn_name, {input column base names})] for every Python node
    in the physical plan."""
    out = []
    for m in _PYNODE.finditer(plan_str(df)):
        cols = {
            a.strip().split("#")[0]
            for a in m.group(2).split(",")
            if a.strip()
        }
        out.append((m.group(1), cols))
    return out


# Minimal column contract per Arrow kernel (guide §4.1: ship only the
# columns the function needs). Keyed by kernel function name; a plan whose
# Python node feeds anything outside its set (e.g. media `meta`, a text
# column riding a vector kernel) fails — the m02 fat-boundary bug class,
# pinned repo-wide.
_KERNEL_ALLOWED = {
    "gen": {"doc_id"},                       # multimodal synth generator
    "run": {"vec_id", "e", "centroid_id",    # cosine/probe kernels
            "media_id", "data"},             # media feature kernels
    "pack": {"__h", "chunk", "chunk_id", "doc_id",
             "n_chunk_tokens", "shard"},     # c04 sequence packing
    "assign": {"vec_id", "e", "__p", "__cid", "__ce"},  # cogroup assignment
    "route": {"vec_id", "e", "__p", "__cid", "__ce"},
    "fine_assign": {"vec_id", "e", "__shard", "__cid", "__ce"},
    "bucket_pairs": {"vec_id", "e", "centroid_id"},
    "bucket_cross": {"vec_id", "e", "centroid_id", "is_new", "__salt"},
}


def test_python_boundary_inputs_minimal_repo_wide(spark, sf_dir):
    """r16 sweep (generalizing the m02 modality test): every Python-boundary
    node in every Arrow-kernel query plan must receive only its kernel's
    minimal column set. Covers the registered kernel queries (e01, e02,
    m01, m02, c04) plus the cogrouped assignment kernel that only appears
    inside the v01 build (consumed by the index ctas, so absent from any
    registered query's returned plan)."""
    from ducktales_spark.queries.similarity import (
        _vectors,
        assign_buckets_distributed,
    )

    dfs = {
        name: build(name, spark, sf_dir)
        for name in (
            "e01_cosine_topk",
            "e02_ivf_family",
            "m01_media_catalog",
            "m02_media_features",
            "c04_pack_strict",
        )
    }
    v = _vectors(spark, sf_dir)
    dfs["assign_buckets_distributed"] = assign_buckets_distributed(
        v, v.filter(F.col("vec_id") < 16)
    )
    seen = 0
    for qname, df in dfs.items():
        for kname, cols in _python_kernel_inputs(df):
            seen += 1
            allowed = _KERNEL_ALLOWED.get(kname)
            assert allowed is not None, (
                f"{qname}: unregistered Python kernel {kname}({cols}) — "
                "add its minimal input contract to _KERNEL_ALLOWED"
            )
            extra = cols - allowed
            assert not extra, (
                f"{qname}: kernel {kname} receives non-minimal columns "
                f"{sorted(extra)} (allowed: {sorted(allowed)})"
            )
    assert seen >= 10, f"sweep matched only {seen} Python nodes — regex rot?"


def test_lake_driver_rows_build_local_relations(spark, tmp_path, monkeypatch):
    """Rows the lake holds on the driver reach the JVM as a LocalRelation,
    never as a Python-RDD scan (ExistingRDD), whose every action boots a
    Python worker: the CHECKPOINT flush, the insert_rows DataFrame
    fallback, the SQL status frame and snapshots_df."""
    from ducktales_spark.lake import LakeCatalog
    from ducktales_spark.lake.catalog import Transaction

    written = []
    real_write = Transaction._write_staged

    def spy(self, st, df, cluster=True):
        written.append(plan_str(df))
        return real_write(self, st, df, cluster)

    monkeypatch.setattr(Transaction, "_write_staged", spy)
    lake = LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=4)
    lake.sql("CREATE TABLE t (k INT, v VARCHAR, d DOUBLE)")
    status = lake.sql("INSERT INTO t VALUES (1, 'a', 2.0), (2, NULL, NULL)")
    assert written == []  # inlined: no file yet
    lake.sql("CHECKPOINT t")
    assert len(written) == 1
    lake.sql("CREATE TABLE p (k INT PRIMARY KEY, v VARCHAR)")
    with lake.transaction() as tx:
        tx.insert_rows("p", [(1, "x")])  # a PK table takes the fallback
    assert len(written) == 2
    frames = {
        "flush_inlined": written[0],
        "insert_rows": written[1],
        "status": plan_str(status),
        "snapshots_df": plan_str(lake.snapshots_df()),
    }
    for name, s in frames.items():
        assert "ExistingRDD" not in s, (name, s)
        assert "LocalTableScan" in s, (name, s)
    assert sorted(lake.read("t").collect()) == [(1, "a", 2.0), (2, None, None)]
    assert lake.read("p").collect() == [(1, "x")]


def test_clustered_write_runs_arrow_kernel_once(spark, tmp_path):
    """A clustered write range-samples its input before writing it, so an
    input plan with a Python kernel is checkpointed first instead of
    running the kernel twice. The check walks plan node classes:
    mapInArrow's node is named MapInArrow, which a test for "Python" or
    "InPandas" in the plan text misses."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ducktales_spark.lake import LakeCatalog

    calls = spark.sparkContext.accumulator(0)

    def kernel(batches):
        calls.add(1)
        yield from batches

    lake = LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=4)
    lake.create_table(
        "c", StructType([StructField("k", LongType())]), partition_by=["k"]
    )
    src = spark.range(0, 1000, 1, 2).withColumnRenamed("id", "k")
    lake.insert("c", src.mapInArrow(kernel, "k long"))
    assert calls.value == 2  # once per input partition
    assert lake.count("c") == 1000
