"""Dedup-operator quality tests on planted near-duplicates: the sketch
queries (minhash LSH, simhash) are rows-only for the driver's oracle, so
their correctness gate lives here — recall/precision against a corpus with
known near-dup structure, plus agreement with the exact jaccard query."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ducktales_spark.queries.dedup import (
    minhash_candidate_pairs,
    shingle_hash_table,
)

_WORDS = [f"w{i}" for i in range(500)]


@pytest.fixture(scope="module")
def planted(spark):
    """60 base docs + 20 near-dup pairs (one word in ~50 changed -> jaccard
    ~0.94 of shingles) + some unrelated docs. Deterministic seed."""
    rng = random.Random(7)
    rows = []
    did = 0
    truth = []
    for i in range(20):
        base = [rng.choice(_WORDS) for _ in range(50)]
        mutated = list(base)
        mutated[rng.randrange(50)] = rng.choice(_WORDS)
        rows.append((did, " ".join(base)))
        rows.append((did + 1, " ".join(mutated)))
        truth.append((did, did + 1))
        did += 2
    for _ in range(40):
        rows.append((did, " ".join(rng.choice(_WORDS) for _ in range(50))))
        did += 1
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return df, truth


def test_minhash_recall_and_precision(spark, planted):
    docs, truth = planted
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidate_pairs(docs).collect()
    }
    found = sum(1 for t in truth if t in pairs)
    assert found / len(truth) >= 0.9  # high-jaccard pairs must surface
    # precision: candidates should overwhelmingly be real near-dups
    assert len(pairs) <= len(truth) * 2


def test_minhash_estimate_tracks_true_jaccard(spark, planted):
    docs, truth = planted
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_candidate_pairs(docs).collect()
    }
    sets = {}
    for r in docs.collect():
        ws = r["text"].split()
        sets[r["doc_id"]] = {
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        }
    for (a, b), e in est.items():
        sa, sb = sets[a], sets[b]
        true_j = len(sa & sb) / len(sa | sb)
        assert abs(e - true_j) < 0.25  # 32-hash estimator tolerance
    # and at least one planted pair's estimate is close to its true value
    a, b = truth[0]
    if (a, b) in est:
        true_j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        assert abs(est[(a, b)] - true_j) < 0.2


def test_unified_sketch_recall(spark, planted):
    """The one-join minhash+simhash operator (d03's engine): planted
    near-dup pairs must surface via minhash, and exact duplicates must
    surface via simhash with hamming 0 (a 1-word-in-50 mutation can flip
    several simhash bits, so only identical docs are guaranteed)."""
    from ducktales_spark.queries.dedup import unified_sketch_pairs

    docs, truth = planted
    # append exact duplicates of the first 5 base docs under new ids
    base5 = [(900 + i, r["text"]) for i, r in enumerate(
        docs.filter("doc_id < 5").orderBy("doc_id").collect())]
    docs2 = docs.union(docs.sparkSession.createDataFrame(
        base5, "doc_id bigint, text string"))
    rows = unified_sketch_pairs(docs2).collect()
    mh = {(r["doc_a"], r["doc_b"]) for r in rows if r["method"] == "minhash"}
    sh = {(r["doc_a"], r["doc_b"]): r["score"]
          for r in rows if r["method"] == "simhash"}
    found = sum(1 for t in truth if t in mh)
    assert found / len(truth) >= 0.9
    for i in range(5):  # exact dup -> simhash hamming 0
        assert sh.get((i, 900 + i)) == 0.0, (i, sh.get((i, 900 + i)))


def test_shingle_hash_table_matches_naive(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, "  p  q r s  ")],
        "doc_id bigint, text string",
    )
    got = {
        (r["doc_id"], r["h"]) for r in shingle_hash_table(docs).collect()
    }
    expected = [
        (1, "a b c"), (1, "b c d"), (1, "c d e"),
        (3, "p q r"), (3, "q r s"),
    ]  # doc 2 is shorter than n=3 -> no shingles
    hashes = spark.range(1).select(
        *[F.xxhash64(*map(F.lit, s.split())) for _, s in expected]
    ).first()
    assert got == {(d, h) for (d, _), h in zip(expected, hashes)}


def test_d03_oracle_parity_edge_corpora(spark):
    """Cross-engine edge cases beyond the driver's corpus: exact duplicates
    (identical signatures -> est 1.0 / hamming 0 pairs), sub-3-word docs
    (no shingles -> excluded by BOTH engines), empty/whitespace text,
    unicode, and heavy shared boilerplate. The registered oracle SQL runs
    verbatim on the same rows via a registered DuckDB view."""
    import duckdb
    import pandas as pd

    from ducktales_spark.queries.dedup import unified_sketch_pairs
    from ducktales_spark.registry import load_all

    oracle = load_all()["d03_minhash_lsh"].oracle
    docs = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and against"),
        (3, "two words"),
        (4, ""),
        (5, "   \t  "),
        (6, "répétition häufig naïve café répétition häufig naïve café ok"),
        (7, "shared boilerplate phrase " * 8 + "unique tail seven"),
        (8, "shared boilerplate phrase " * 8 + "unique tail eight"),
        (9, "completely different content about spark catalyst planning"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        (r["method"], r["doc_a"], r["doc_b"], r["score"])
        for r in unified_sketch_pairs(sdf).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(docs, columns=["doc_id", "text"])
    )
    want = {
        (m, a, b, s) for m, a, b, s in con.execute(oracle).fetchall()
    }
    assert got == want
    # the exact-dup pair must surface through both sketches with the
    # degenerate scores; the one-word-off near-dup through minhash
    assert ("minhash", 0, 1, 1.0) in got
    assert ("simhash", 0, 1, 0.0) in got
    assert any(m == "minhash" and {a, b} == {0, 2} for m, a, b, _ in got)
    # sub-3-word/empty docs pair with nothing; the ~0.5-jaccard boilerplate
    # twins (7, 8) sit BELOW the 8x4 LSH band threshold — correctly absent
    assert not any({a, b} & {3, 4, 5} for _, a, b, _ in got)
