"""Sharded bloom filter correctness (SURVEY.md §7.2: sketches
are pre-filters only — no false negatives ever; FP paths re-checked)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.crawl.bloom import BloomShards


def test_bloom_no_false_negatives(spark):
    seen = spark.range(0, 5000).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("url_hash")
    )
    bloom = BloomShards.build(seen, n_shards=16, expected_per_shard=1000, fpr=0.01)
    hashes = np.array([r["url_hash"] for r in seen.collect()], dtype=np.int64)
    assert bloom.might_contain_np(hashes).all()


def test_bloom_fpr_bounded(spark):
    seen = spark.range(0, 5000).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("url_hash")
    )
    bloom = BloomShards.build(seen, n_shards=16, expected_per_shard=1000, fpr=0.01)
    fresh = spark.range(100000, 120000).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("url_hash")
    )
    hashes = np.array([r["url_hash"] for r in fresh.collect()], dtype=np.int64)
    fpr = bloom.might_contain_np(hashes).mean()
    assert fpr < 0.05, fpr


def test_bloom_prefilter_column(spark):
    seen = spark.range(0, 1000).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("url_hash")
    )
    bloom = BloomShards.build(seen, n_shards=4, expected_per_shard=512, fpr=0.01)
    cand = spark.range(500, 1500).select(
        F.col("id"), (F.xxhash64(F.col("id").cast("string"))).alias("url_hash")
    )
    flagged = bloom.prefilter(spark, cand).collect()
    for r in flagged:
        if r["id"] < 1000:
            assert r["bloom_maybe_seen"] is True  # no false negatives


def test_bloom_distributed_delta_matches_full_build(spark):
    """build_delta + merge_delta (the engine's epoch path) is
    bit-identical to one full distributed build over the union."""
    first = spark.range(0, 3000).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("url_hash")
    )
    second = spark.range(3000, 6000).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("url_hash")
    )
    incremental = BloomShards.build(first, n_shards=8, expected_per_shard=1000, fpr=0.01)
    incremental.merge_delta(incremental.build_delta(second))
    full = BloomShards.build(
        first.unionByName(second), n_shards=8, expected_per_shard=1000, fpr=0.01
    )
    assert incremental.n_bits == full.n_bits and incremental.k == full.k
    assert set(incremental.bits) == set(full.bits)
    for s in full.bits:
        assert np.array_equal(incremental.bits[s], full.bits[s]), s


def test_bloom_committed_deltas_match_full_build(spark, tmp_path):
    """Deltas written by ``delta_rows`` and ORed back by ``read_delta``
    + ``merge_delta`` (the engine's commit and restore path) are
    bit-identical to one full build over the union, after 1, 2 and 3
    deltas; an empty delta dir adds nothing."""
    parts = [
        spark.range(lo, lo + 1500).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        )
        for lo in (0, 1500, 3000)
    ]
    parts.append(parts[0].limit(0))
    restored = BloomShards.empty(n_shards=8, expected_per_shard=1000, fpr=0.01)
    dirs = []
    for i, part in enumerate(parts):
        d = str(tmp_path / f"bloom-{i}")
        restored.delta_rows(part).write.parquet(d)
        dirs.append(d)
    for n in (1, 2, 3, 4):
        got = BloomShards.empty(n_shards=8, expected_per_shard=1000, fpr=0.01)
        got.merge_delta(got.read_delta(dirs[:n]))
        union = parts[0]
        for part in parts[1:n]:
            union = union.unionByName(part)
        full = BloomShards.build(union, n_shards=8, expected_per_shard=1000, fpr=0.01)
        assert set(got.bits) == set(full.bits), n
        for s in full.bits:
            assert np.array_equal(got.bits[s], full.bits[s]), (n, s)
    # a filter of another geometry refuses the deltas instead of ORing
    # bytes of another bit layout
    for other in (
        BloomShards.empty(n_shards=4, expected_per_shard=1000, fpr=0.01),
        BloomShards.empty(n_shards=8, expected_per_shard=4000, fpr=0.01),
    ):
        with pytest.raises(ValueError, match="pins n_"):
            other.read_delta(dirs[:1])
