"""Crawl engine vs sequential oracle (SURVEY.md §5.2 items 2, 4, 6).

- final URL-seen set equality (the north-rule gate)
- per-host fetch order matches the oracle within each epoch
- per-document span-sequence equality end-to-end through the engine
- politeness: per-(host, epoch) count <= budget, schedule spacing >= min_delay
- kill-at-epoch-k resume equals the uninterrupted run (snapshot atomicity)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark import schemas
from webscrape_neko_jirushi_spark.crawl.engine import CrawlEngine, MirrorFetcher
from webscrape_neko_jirushi_spark.crawl.oracle import OracleCrawler
from webscrape_neko_jirushi_spark.crawl.snapshots import SnapshotStore
from webscrape_neko_jirushi_spark.fixtures import mirror as M

BUDGET = 40
MIN_DELAY = 10
# a repeated seed (the fragment canonicalizes away) is crawled once, at
# its first position
SEEDS = [M.listing_url(1), M.listing_url(2), M.listing_url(1) + "#dup"]


@pytest.fixture(scope="module")
def mirror():
    return M.build_mirror(seed=42, n_pages=3, cats_per_page=22)


@pytest.fixture(scope="module")
def oracle_result(mirror):
    budgets = {h: (BUDGET, MIN_DELAY) for h in [M.MAIN_HOST, *M.TAIL_HOSTS]}
    return OracleCrawler(mirror, budgets, max_epochs=50).run(SEEDS)


def _make_engine(spark, mirror, tmp_path, name="run"):
    pages = spark.createDataFrame(mirror.rows(), schemas.PAGES)
    budget = spark.createDataFrame(
        M.host_budget_rows(BUDGET, MIN_DELAY), schemas.HOST_BUDGET
    )
    store = SnapshotStore(tmp_path / name, spark)
    return CrawlEngine(spark, store, MirrorFetcher(pages), budget, M.BASE_URL)


@pytest.fixture(scope="module")
def engine_done(spark, mirror, tmp_path_factory):
    eng = _make_engine(spark, mirror, tmp_path_factory.mktemp("crawl"))
    eng.seed(SEEDS)
    stats = eng.run(max_epochs=50)
    return eng, stats


def test_seen_set_equals_oracle(engine_done, oracle_result):
    eng, stats = engine_done
    got = {r["url_hash"] for r in eng.url_seen().collect()}
    assert got == oracle_result.url_seen
    assert len(got) > 200


def test_epoch_and_host_order_match_oracle(engine_done, oracle_result):
    eng, _ = engine_done
    log = eng.fetch_log().select("host", "epoch", "seq_in_host", "url").collect()
    got = {}
    for r in log:
        got.setdefault((r["host"], r["epoch"]), []).append((r["seq_in_host"], r["url"]))
    want = {}
    for r in oracle_result.fetch_log:
        want.setdefault((r["host"], r["epoch"]), []).append((r["seq_in_host"], r["url"]))
    assert set(got) == set(want)
    for k in want:
        assert sorted(got[k]) == sorted(want[k]), f"order mismatch in {k}"


def test_documents_equal_oracle(engine_done, oracle_result):
    eng, _ = engine_done
    docs = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in eng.documents().collect()
    }
    assert set(docs) == set(oracle_result.documents)
    for doc_id, want in oracle_result.documents.items():
        assert docs[doc_id] == want, f"span mismatch in {doc_id}"


def test_politeness_invariants(engine_done):
    """<= budget fetches per (host, epoch); schedule spacing >= min_delay;
    schedules strictly increasing with seq (token bucket)."""
    eng, _ = engine_done
    log = eng.fetch_log().select("host", "epoch", "seq_in_host", "scheduled_ms").collect()
    groups = {}
    for r in log:
        groups.setdefault((r["host"], r["epoch"]), []).append(
            (r["seq_in_host"], r["scheduled_ms"])
        )
    for (host, epoch), rows in groups.items():
        rows.sort()
        assert len(rows) <= BUDGET
        seqs = [s for s, _ in rows]
        assert seqs == list(range(1, len(rows) + 1))
        times = [t for _, t in rows]
        for a, b in zip(times, times[1:]):
            assert b - a >= MIN_DELAY


def test_lineage_present(engine_done):
    eng, stats = engine_done
    lin = eng.lineage()
    n_epochs = len([s for s in stats if s.selected > 0])
    got_epochs = {r["epoch"] for r in lin.select("epoch").distinct().collect()}
    assert got_epochs == set(range(1, n_epochs + 1))
    sums = lin.groupBy().agg(F.sum("urls_in").alias("n")).collect()[0]["n"]
    assert sums == eng.fetch_log().count()


def test_failed_urls_dead_lettered(engine_done, oracle_result):
    eng, _ = engine_done
    got_failed = {
        r["url"] for r in eng.fetch_log().filter(F.col("status_code") != 200).collect()
    }
    assert got_failed == oracle_result.failed
    # never fetched twice
    refetch = (
        eng.fetch_log().groupBy("url_hash").count().filter(F.col("count") > 1).count()
    )
    assert refetch == 0


def test_resume_equals_uninterrupted(spark, mirror, tmp_path_factory, engine_done):
    """Kill after epoch 2 (simulated: stop the loop), build a NEW engine
    on the same store, resume, and compare final state tables."""
    eng_full, _ = engine_done
    tmp = tmp_path_factory.mktemp("resume")
    eng = _make_engine(spark, mirror, tmp, "a")
    eng.seed(SEEDS)
    eng.run(max_epochs=2)  # "killed" here
    # the frontier invariant the epoch relies on instead of a seen
    # check on pending rows: no seen URL, no duplicate url_hash
    frontier = eng.frontier()
    assert frontier.count() > 0
    assert frontier.join(eng.url_seen(), "url_hash", "left_semi").count() == 0
    assert frontier.select("url_hash").distinct().count() == frontier.count()
    # resume with a fresh engine over the same snapshot root
    eng2 = _make_engine(spark, mirror, tmp, "a")
    eng2.seed(SEEDS)  # no-op: store already has state
    eng2.run(max_epochs=50)

    for table, schema, key in [
        ("url_seen", schemas.URL_SEEN, ["url_hash"]),
        ("documents", schemas.DOCUMENTS, ["doc_id"]),
    ]:
        a = eng_full.store.read(table, schema)
        b = eng2.store.read(table, schema)
        assert a.count() == b.count(), table
        assert a.join(b, key, "left_anti").count() == 0, table
    # frontier fully drained in both
    assert eng2.frontier().count() == 0
    assert eng_full.frontier().count() == 0


def test_torn_commit_ignored(spark, mirror, tmp_path_factory):
    """Data written without a manifest swap (crash mid-commit) is
    invisible: resume sees the last committed epoch only."""
    tmp = tmp_path_factory.mktemp("torn")
    eng = _make_engine(spark, mirror, tmp, "a")
    eng.seed([M.listing_url(1)])
    eng.run(max_epochs=1)
    seen_before = eng.url_seen().count()
    # simulate a crash: orphan data dir, HEAD untouched
    orphan = eng.store.root / "data" / "url_seen-999999-deadbeef"
    eng.url_seen().limit(1).write.mode("overwrite").parquet(str(orphan))
    eng2 = _make_engine(spark, mirror, tmp, "a")
    assert eng2.url_seen().count() == seen_before


COALESCE_CACHED = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def test_cached_epoch_frames_coalesce(spark):
    """The epoch's persist helper lets AQE shrink a small cached frame
    below the shuffle-partition count; a plain persist keeps them all."""
    from webscrape_neko_jirushi_spark.crawl.engine import _persist_coalesced

    def frame():
        return spark.range(100).groupBy((F.col("id") % 10).alias("k")).count()

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # one at a time: the cache manager would hand the second persist of
    # the same plan the first one's cached relation
    for persist, coalesces in ((_persist_coalesced, True), (lambda df: df.persist(), False)):
        cached = persist(frame())
        try:
            n = cached.rdd.getNumPartitions()
            assert n < n_shuffle if coalesces else n == n_shuffle
        finally:
            cached.unpersist()


def test_epoch_restores_callers_cached_partitioning(spark, mirror, tmp_path, monkeypatch):
    """run_epoch flips the cached-plan partitioning setting only around
    its persist calls: after an epoch, and after one that raises, the
    session holds the caller's value (or none, if the caller set none)."""
    eng = _make_engine(spark, mirror, tmp_path)
    eng.seed([M.listing_url(1)])
    try:
        spark.conf.set(COALESCE_CACHED, "false")
        assert eng.run_epoch().selected > 0
        assert spark.conf.get(COALESCE_CACHED, None) == "false"

        def fail(self, *args, **kwargs):
            raise RuntimeError("persist failed")

        # the session's concrete DataFrame class overrides persist
        monkeypatch.setattr(type(spark.range(1)), "persist", fail)
        spark.conf.unset(COALESCE_CACHED)
        with pytest.raises(RuntimeError, match="persist failed"):
            eng.run_epoch()
        assert spark.conf.get(COALESCE_CACHED, None) is None
    finally:
        spark.conf.unset(COALESCE_CACHED)


# hrefs/srcs urllib cannot parse: a port out of range, a port that is
# not a number, an unclosed IPv6 bracket
MALFORMED = [
    "https://h.test:99999/foster/1/",
    "https://h.test:abc/foster/2/",
    "https://[::1/foster/3/",
]


def test_malformed_urls_crawl_like_oracle(spark, tmp_path):
    """An unparseable URL on a fetched page (or among the seeds) has no
    canonical form: both crawlers skip it, so the epoch commits and the
    crawl ends where the oracle's does."""
    mirror = M.build_mirror(seed=7, n_pages=1, cats_per_page=6, fail_rate=0.0)
    page = mirror.pages[f"{M.BASE_URL}{M.profile_path(mirror.profile_ids[0])}"]
    page["body"] = page["body"].replace(
        "</body>",
        "".join(f'<a href="{u}">bad</a>' for u in MALFORMED)
        + f'<div class="photo"><img src="{MALFORMED[0]}x.jpg"></div></body>',
    )
    seeds = [M.listing_url(1), MALFORMED[1]]
    budgets = {h: (BUDGET, MIN_DELAY) for h in [M.MAIN_HOST, *M.TAIL_HOSTS]}
    want = OracleCrawler(mirror, budgets, max_epochs=50).run(seeds)

    eng = _make_engine(spark, mirror, tmp_path)
    eng.seed(seeds)
    eng.run(max_epochs=50)
    assert {r["url_hash"] for r in eng.url_seen().collect()} == want.url_seen
    docs = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in eng.documents().collect()}
    assert docs == want.documents
    assert len(docs) == 6
