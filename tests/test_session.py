"""Session helpers: host sizing, the workers' import path, and shuffle
sizing from ``spark.sql.shuffle.partitions``."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from types import SimpleNamespace

from pyspark.sql.conf import RuntimeConfig

from ducktales_spark import session
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


def test_session_size_reads_the_host_unless_the_environment_sets_it(
    monkeypatch, tmp_path
):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:  1000 kB\nMemTotal:  16479424 kB\n")
    monkeypatch.setattr(session, "MEMINFO", str(meminfo))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    # a quarter of 15.7 GiB, rounded down to whole GiB
    assert session.session_size() == ("3", "3g")
    meminfo.write_text("MemTotal:  2000000 kB\n")
    assert session.session_size() == ("3", "1g")  # never below 1g
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "5g")
    assert session.session_size() == ("2", "5g")


def test_python_kernel_imports_package_from_any_directory(tmp_path, sf_dir):
    """A session started outside the repo still runs a mapInPandas kernel
    that imports the package, and e01's cosine kernel: the workers get its
    parent directory on their path."""
    script = f"""
import sys
sys.path.insert(0, {session.PACKAGE_PARENT!r})
from ducktales_spark.registry import load_all
from ducktales_spark.session import get_spark

def kernel(batches):
    import ducktales_spark.session  # resolved on the Python worker
    for b in batches:
        yield b

spark = get_spark("workers-path")
print("rows", spark.range(3).mapInPandas(kernel, "id long").count())
e01 = load_all()["e01_cosine_topk"].fn(spark, {sf_dir!r})
print("e01", len(e01.collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "rows 3" in out.stdout, out.stderr[-3000:]
    assert re.search(r"^e01 [1-9]", out.stdout, re.M), out.stderr[-3000:]
