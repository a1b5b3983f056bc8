"""Seen-set operators: exact joins, Bloom probe (no false negatives)."""

from __future__ import annotations

import numpy as np

from webscraper_spark.operators.dedup import (
    BloomSeenSet,
    BloomShard,
    anti_join_seen,
    bloom_filtered_new,
    dedup_latest,
)


def test_bloom_shard_no_false_negatives():
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, 5000, dtype=np.int64)
    bf = BloomShard.build(keys, fpp=0.01)
    assert bf.might_contain(keys).all()  # Bloom ⊇ exact (SURVEY §5.2.4)
    other = rng.integers(-(2**62), 2**62, 20000, dtype=np.int64)
    fresh = other[~np.isin(other, keys)]
    fpr = bf.might_contain(fresh).mean()
    assert fpr < 0.03, fpr


def test_bloom_roundtrip_bytes():
    keys = np.arange(1000, dtype=np.int64)
    bf = BloomShard.build(keys)
    bf2 = BloomShard.from_bytes(bf.to_bytes(), bf.n_bits, bf.n_hashes)
    assert bf2.might_contain(keys).all()


def test_exact_joins(spark):
    seen = spark.createDataFrame([(i,) for i in range(100)], "url_hash: long")
    cand = spark.createDataFrame([(i,) for i in range(50, 150)], "url_hash: long")
    assert anti_join_seen(cand, seen).count() == 50


def test_bloom_filtered_new_equals_exact(spark):
    seen = spark.createDataFrame([(i * 3,) for i in range(2000)], "url_hash: long")
    cand = spark.createDataFrame([(i,) for i in range(0, 3000)], "url_hash: long")
    bloom = BloomSeenSet.build(seen, n_shards=8)
    got = sorted(r["url_hash"] for r in bloom_filtered_new(cand, seen, bloom).collect())
    want = sorted(r["url_hash"] for r in anti_join_seen(cand, seen).collect())
    assert got == want  # layered path ≡ ground truth


def test_dedup_latest(spark):
    df = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")],
        "k: long, ts: long, v: string",
    )
    rows = {r["k"]: r["v"] for r in dedup_latest(df, ["k"], "ts").collect()}
    assert rows == {1: "new", 2: "only"}
