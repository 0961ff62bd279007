"""PandasMirrorFetcher equivalence with the join fetcher, and the
recrawl/TTL path, which leaves the URL-seen bloom filter untouched."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark import schemas
from webscrape_neko_jirushi_spark.crawl.bloom import BloomShards
from webscrape_neko_jirushi_spark.crawl.engine import (
    BLOOM_KEYS_PER_SHARD,
    BLOOM_SHARDS,
    CrawlEngine,
    MirrorFetcher,
)
from webscrape_neko_jirushi_spark.crawl.fetchers import HttpFetcher, PandasMirrorFetcher
from webscrape_neko_jirushi_spark.crawl.recrawl import recrawl_expired
from webscrape_neko_jirushi_spark.crawl.snapshots import SnapshotStore
from webscrape_neko_jirushi_spark.fixtures import mirror as M

BUDGET = 60
MIN_DELAY = 5


def _engine(spark, mirror, tmp_path, fetcher):
    budget = spark.createDataFrame(
        M.host_budget_rows(BUDGET, MIN_DELAY), schemas.HOST_BUDGET
    )
    store = SnapshotStore(tmp_path, spark)
    return CrawlEngine(spark, store, fetcher, budget, M.BASE_URL)


def test_pandas_fetcher_matches_join_fetcher(spark, tmp_path):
    mirror = M.build_mirror(seed=42, n_pages=2, cats_per_page=10)
    pages = spark.createDataFrame(mirror.rows(), schemas.PAGES)

    e1 = _engine(spark, mirror, tmp_path / "join", MirrorFetcher(pages))
    e1.seed([M.listing_url(1)])
    e1.run(max_epochs=30)

    e2 = _engine(
        spark, mirror, tmp_path / "pandas", PandasMirrorFetcher(spark, mirror)
    )
    e2.seed([M.listing_url(1)])
    e2.run(max_epochs=30)

    s1 = {r["url_hash"] for r in e1.url_seen().collect()}
    s2 = {r["url_hash"] for r in e2.url_seen().collect()}
    assert s1 == s2 and len(s1) > 50
    d1 = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in e1.documents().collect()}
    d2 = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in e2.documents().collect()}
    assert d1 == d2


def test_http_fetcher_gated():
    with pytest.raises(NotImplementedError):
        HttpFetcher().fetch(None)


def test_recrawl_expired_requeues(spark, tmp_path):
    mirror = M.build_mirror(seed=42, n_pages=2, cats_per_page=10)
    pages = spark.createDataFrame(mirror.rows(), schemas.PAGES)
    eng = _engine(spark, mirror, tmp_path / "ttl", MirrorFetcher(pages))
    eng.seed([M.listing_url(1)])
    eng.run(max_epochs=30)
    assert eng.frontier().count() == 0
    total_epochs = eng.store.epoch()
    seen_before = eng.url_seen().count()

    # everything fetched in epoch 1 is now expired with ttl = total-1
    n = recrawl_expired(eng, ttl_epochs=total_epochs - 1)
    assert n > 0
    assert eng.frontier().count() == n
    assert eng.url_seen().count() == seen_before - n

    # the engine can continue: re-fetches the expired URLs exactly once
    stats = eng.run(max_epochs=30)
    assert sum(s.selected for s in stats) >= n
    assert eng.frontier().count() == 0
    # seen set back to full coverage
    assert eng.url_seen().count() == seen_before


def test_recrawl_keeps_bloom_and_refetches_once(spark, tmp_path):
    """Expiry leaves the engine's bloom filter as it is (no rebuild):
    the exact anti-join behind it re-checks the stale bits, so every
    expired URL is fetched again exactly once and the seen set
    converges. A fresh engine restores the same filter from the
    committed deltas, before and after the re-fetch. Also exercises
    idempotence: a second recrawl call while the re-queue is pending
    adds nothing."""

    def assert_restores(want: BloomShards) -> None:
        got = CrawlEngine(spark, eng.store, None, None, M.BASE_URL)._ensure_bloom()
        assert set(got.bits) == set(want.bits)
        assert all(np.array_equal(got.bits[s], want.bits[s]) for s in want.bits)

    mirror = M.build_mirror(seed=42, n_pages=1, cats_per_page=8, fail_rate=0.0)
    pages = spark.createDataFrame(mirror.rows(), schemas.PAGES)
    budget = spark.createDataFrame(
        M.host_budget_rows(BUDGET, MIN_DELAY), schemas.HOST_BUDGET
    )
    eng = CrawlEngine(
        spark, SnapshotStore(tmp_path / "bl", spark), MirrorFetcher(pages),
        budget, M.BASE_URL, fetch_images=False,
    )
    eng.seed([M.listing_url(1)])
    eng.run(max_epochs=20)
    assert eng.frontier().count() == 0
    seen_before = {r["url_hash"] for r in eng.url_seen().collect()}
    total_epochs = eng.store.epoch()
    filt = eng._bloom  # noqa: SLF001

    n = recrawl_expired(eng, ttl_epochs=total_epochs - 1)
    assert n > 0
    assert eng._bloom is filt  # noqa: SLF001
    # idempotence: everything expired is already pending
    assert recrawl_expired(eng, ttl_epochs=total_epochs - 1) == 0
    requeued = {r["url_hash"] for r in eng.frontier().collect()}
    assert len(requeued) == n
    # the expired hashes leave url_seen but stay in the filter
    assert_restores(filt)

    eng.run(max_epochs=20)
    assert eng._bloom is filt  # noqa: SLF001
    fetches = {
        r["url_hash"]: r["n"]
        for r in eng.fetch_log().groupBy("url_hash").agg(F.count("*").alias("n")).collect()
    }
    assert {fetches[h] for h in requeued} == {2}
    assert {r["url_hash"] for r in eng.url_seen().collect()} == seen_before
    assert eng.frontier().count() == 0
    assert_restores(
        BloomShards.build(
            eng.url_seen(), n_shards=BLOOM_SHARDS, expected_per_shard=BLOOM_KEYS_PER_SHARD
        )
    )


def test_pandas_fetcher_enforces_wall_clock_schedule(spark):
    """T3's virtual->real schedule contract: with enforce_wall_clock,
    each row is slept to its token-bucket scheduled_ms relative to the
    host's first fetch, so a partition's wall time is bounded BELOW by
    the host's last deadline (observed mean inter-fetch gap >= the
    min_delay that produced the schedule). Only a lower bound is
    asserted — upper bounds flake on loaded machines."""
    import time as _time

    mirror = M.build_mirror(seed=7, n_pages=1, cats_per_page=4)
    url = M.listing_url(1)
    delay_ms = 150
    rows = [
        (url, i, M.MAIN_HOST, 0, 0, 1, "new", None, i, i, i * delay_ms, 0)
        for i in range(4)  # deadlines 0, 150, 300, 450 ms
    ]
    selected = spark.createDataFrame(
        rows,
        "url string, url_hash long, host string, depth int, priority long, "
        "epoch int, status string, api_image_1 string, slot int, "
        "seq_in_host int, scheduled_ms long, shard int",
    ).coalesce(1)

    fetcher = PandasMirrorFetcher(spark, mirror, enforce_wall_clock=True)
    t0 = _time.monotonic()
    out = fetcher.fetch(selected).collect()
    elapsed = _time.monotonic() - t0
    assert len(out) == 4 and all(r["status_code"] == 200 for r in out)
    # last deadline is 450 ms after the host's first fetch
    assert elapsed >= 0.45, f"schedule not enforced: {elapsed:.3f}s"

    # virtual schedule (default): same rows, no timing contract
    virt = PandasMirrorFetcher(spark, mirror).fetch(selected).collect()
    assert {r["url"] for r in virt} == {r["url"] for r in out}
