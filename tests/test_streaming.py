"""Streaming faces: windowed fetch metrics + foreachBatch epoch driver."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webscrape_neko_jirushi_spark.streaming.epochs import windowed_fetch_metrics

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("fetched_at", T.TimestampType()),
        T.StructField("host", T.StringType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("url_hash", T.LongType()),
    ]
)


def test_windowed_fetch_metrics_streaming(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    rows = [
        ("2024-01-01 00:01:00", "a.test", 200, 1),
        ("2024-01-01 00:02:00", "a.test", 404, 2),
        ("2024-01-01 00:03:00", "b.test", 200, 3),
        ("2024-01-01 00:07:00", "a.test", 200, 4),
    ]
    df = spark.createDataFrame(rows, "ts string, host string, status_code int, url_hash long")
    df.select(
        F.col("ts").cast("timestamp").alias("fetched_at"), "host", "status_code", "url_hash"
    ).write.parquet(str(src / "batch0"))

    stream = (
        spark.readStream.schema(FETCH_SCHEMA).parquet(str(src / "*"))
    )
    agg = windowed_fetch_metrics(stream, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("fetch_metrics")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql(
            "SELECT host, n_fetches, n_failures FROM fetch_metrics ORDER BY host, n_fetches"
        ).collect()
    finally:
        q.stop()
    got = {(r["host"], r["n_fetches"], r["n_failures"]) for r in out}
    # window [00:00,00:05): a.test 2 fetches 1 failure, b.test 1/0
    # window [00:05,00:10): a.test 1/0
    assert (("a.test", 2, 1)) in got
    assert (("b.test", 1, 0)) in got
    assert (("a.test", 1, 0)) in got


HEALTH_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("epoch", T.IntegerType()),
        T.StructField("seq_in_host", T.IntegerType()),
    ]
)


def test_host_health_tracker_stateful(spark, tmp_path):
    """applyInPandasWithState: per-host counters persist ACROSS
    micro-batches; 3 consecutive failures flips throttled."""
    from webscrape_neko_jirushi_spark.streaming.epochs import host_health_tracker

    src = tmp_path / "health_src"
    src.mkdir()

    def write_batch(name, rows):
        spark.createDataFrame(rows, HEALTH_SCHEMA).coalesce(1).write.parquet(
            str(src / name)
        )

    # batch 0: a.test 2 ok then 1 fail; b.test 1 ok
    write_batch(
        "b0",
        [("a.test", 200, 1, 1), ("a.test", 200, 1, 2), ("a.test", 500, 1, 3),
         ("b.test", 200, 1, 1)],
    )
    stream = spark.readStream.schema(HEALTH_SCHEMA).parquet(str(src / "*"))
    q = (
        host_health_tracker(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("host_health")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["host"]: (r["n_fetches"], r["n_failures"], r["consec_failures"], r["throttled"])
            for r in spark.sql("SELECT * FROM host_health").collect()
        }
        assert got["a.test"] == (3, 1, 1, False)
        assert got["b.test"] == (1, 0, 0, False)
        # batch 1: two more consecutive failures for a.test -> throttled
        write_batch("b1", [("a.test", 404, 2, 1), ("a.test", 404, 2, 2)])
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM host_health WHERE host = 'a.test'"
        ).collect()
        latest = max(rows, key=lambda r: r["n_fetches"])
        # state carried across batches: 5 total, 3 failures, 3 consecutive
        assert (
            latest["n_fetches"], latest["n_failures"],
            latest["consec_failures"], latest["throttled"],
        ) == (5, 3, 3, True)
    finally:
        q.stop()


def test_frontier_stream_writer_drives_epochs(spark, tmp_path):
    """T1 streaming face: seed URLs arriving as a stream are merged
    into the frontier and crawled one epoch per micro-batch."""
    from webscrape_neko_jirushi_spark import schemas
    from webscrape_neko_jirushi_spark.crawl.engine import CrawlEngine, MirrorFetcher
    from webscrape_neko_jirushi_spark.crawl.snapshots import SnapshotStore
    from webscrape_neko_jirushi_spark.fixtures import mirror as M
    from webscrape_neko_jirushi_spark.streaming.epochs import frontier_stream_writer

    mirror = M.build_mirror(seed=5, n_pages=2, cats_per_page=6, fail_rate=0.0)
    pages = spark.createDataFrame(mirror.rows(), schemas.PAGES)
    budget = spark.createDataFrame(M.host_budget_rows(200, 0), schemas.HOST_BUDGET)
    eng = CrawlEngine(
        spark, SnapshotStore(tmp_path / "stream_crawl", spark),
        MirrorFetcher(pages), budget, M.BASE_URL, fetch_images=False,
    )
    eng.seed([])

    src = tmp_path / "seed_src"
    src.mkdir()
    spark.createDataFrame(
        [(M.listing_url(1),), (M.listing_url(1),)], "url string"
    ).coalesce(1).write.parquet(str(src / "b0"))

    stream = spark.readStream.schema("url string").parquet(str(src / "*"))
    q = frontier_stream_writer(eng, stream).start()
    try:
        q.processAllAvailable()
        seen_after_b0 = eng.url_seen().count()
        assert seen_after_b0 >= 1  # at least the listing page fetched
        # second batch: another seed; already-seen URLs are not re-added
        spark.createDataFrame(
            [(M.listing_url(2),), (M.listing_url(1),), (M.listing_url(2),)], "url string"
        ).coalesce(1).write.parquet(str(src / "b1"))
        q.processAllAvailable()
        assert eng.url_seen().count() > seen_after_b0
    finally:
        q.stop()
    # drain the rest in batch mode: final state equals a plain crawl
    eng.run(max_epochs=30)
    want = CrawlEngine(
        spark, SnapshotStore(tmp_path / "batch_crawl", spark),
        MirrorFetcher(pages), budget, M.BASE_URL, fetch_images=False,
    )
    want.seed([M.listing_url(1), M.listing_url(2)])
    want.run(max_epochs=30)
    got = {r["url_hash"] for r in eng.url_seen().collect()}
    exp = {r["url_hash"] for r in want.url_seen().collect()}
    assert got == exp
    # a URL repeated within a batch was fetched once
    log = eng.fetch_log()
    assert log.count() == log.select("url_hash").distinct().count()


def test_host_health_state_survives_query_restart(spark, tmp_path):
    """T2×T7 hardening: the applyInPandasWithState state store is
    checkpointed — a NEW query started from the same checkpoint resumes
    the per-host counters instead of recomputing them. Runs on the
    RocksDB state store provider (the production choice for large
    keyspaces: state lives off-heap/on-disk per executor, not in JVM
    heap), falling back implicitly if the build lacks it would fail
    this test loudly rather than silently degrade."""
    from webscrape_neko_jirushi_spark.streaming.epochs import host_health_tracker

    src = tmp_path / "rec_src"
    src.mkdir()
    ckpt = str(tmp_path / "rec_ckpt")

    def write_batch(name, rows):
        spark.createDataFrame(rows, HEALTH_SCHEMA).coalesce(1).write.parquet(
            str(src / name)
        )

    # foreachBatch is the recovery-capable sink (the memory sink refuses
    # checkpoint restarts) — and the shape production would use anyway
    seen_batches: list[tuple] = []

    def sink(batch_df, batch_id):
        seen_batches.extend(
            (r["host"], r["n_fetches"], r["n_failures"],
             r["consec_failures"], r["throttled"])
            for r in batch_df.collect()
        )

    def start_query():
        stream = spark.readStream.schema(HEALTH_SCHEMA).parquet(str(src / "*"))
        return (
            host_health_tracker(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .start()
        )

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        # run 1: a.test accumulates (3 fetches, 1 failure, 1 consec)
        write_batch(
            "b0",
            [("a.test", 200, 1, 1), ("a.test", 200, 1, 2), ("a.test", 500, 1, 3)],
        )
        q1 = start_query()
        try:
            q1.processAllAvailable()
            assert seen_batches == [("a.test", 3, 1, 1, False)]
        finally:
            q1.stop()

        # run 2: NEW query, same checkpoint. b0 is already committed in
        # the source log, so only b1 is processed — n_fetches=5 is only
        # reachable if the (3,1,1) state was RECOVERED, not recomputed.
        write_batch("b1", [("a.test", 404, 2, 1), ("a.test", 404, 2, 2)])
        seen_batches.clear()
        q2 = start_query()
        try:
            q2.processAllAvailable()
            assert seen_batches == [("a.test", 5, 3, 3, True)]
        finally:
            q2.stop()
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
