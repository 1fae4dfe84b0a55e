"""Session helpers: shuffle sizing from ``spark.sql.shuffle.partitions``."""

from __future__ import annotations

import re
from types import SimpleNamespace

from pyspark.sql.conf import RuntimeConfig

from ducktales_spark.session import shuffle_partitions


def _session(value: str, parallelism: int = 6):
    return SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: value),
        sparkContext=SimpleNamespace(defaultParallelism=parallelism),
    )


def test_shuffle_partitions_reads_count_or_falls_back_on_auto():
    assert shuffle_partitions(_session("12")) == 12
    assert shuffle_partitions(_session("auto")) == 6
    assert shuffle_partitions(_session(" AUTO ", parallelism=3)) == 3


def test_operators_size_shuffles_under_auto(spark, sf_dir, monkeypatch):
    """Some platforms set spark.sql.shuffle.partitions to 'auto', which
    open-source Spark refuses to store, so the Python-side read is patched
    to return it. Every operator that sizes a repartition from the conf
    must then build its plan at defaultParallelism partitions."""
    from pyspark import SparkContext

    from ducktales_spark.multimodal import synth_media
    from ducktales_spark.queries import dedup, similarity

    real_get = RuntimeConfig.get

    def get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", get)
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda sc: 3))
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown dog sleeps")],
        "doc_id bigint, text string",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id bigint, e array<double>"
    )
    frames = {
        "shingle_hash_table": dedup.shingle_hash_table(docs),
        "minhash_bands": dedup.minhash_bands(docs),
        "unified_sketch_pairs": dedup.unified_sketch_pairs(docs),
        # past plan_memo: a plan memoized by an earlier test keeps its sizing
        "d02_ngram_jaccard": dedup.d02_ngram_jaccard.__wrapped__(spark, sf_dir),
        "synth_media": synth_media(docs.select("doc_id")),
        "assign_buckets_distributed": similarity.assign_buckets_distributed(
            vecs, vecs
        ),
        "route_coarse": similarity.route_coarse(vecs, vecs, 1),
    }
    # the dedup and media sites repartition by count, the similarity sites
    # spread vectors over pmod(vec_id, P)
    sized = re.compile(
        r"hashpartitioning\([^()]*, 3\), REPARTITION_BY_NUM"
        r"|pmod\(vec_id#\d+L, 3\)"
    )
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert sized.search(plan), (name, plan[:1500])
