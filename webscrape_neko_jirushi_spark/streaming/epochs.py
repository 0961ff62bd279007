"""Streaming faces of the engine (SURVEY.md §2.9, §3.4).

The reference's crawl loop is batch-iterative with checkpoints, so the
engine's native mode is the epoch loop. These wrappers give the same
operators a Structured Streaming face where a deployment wants one:

- ``frontier_stream_writer``: drive ``CrawlEngine.run_epoch`` from a
  ``foreachBatch`` sink — new seed URLs arrive as a stream, each
  micro-batch is unioned into the frontier and one epoch runs. The
  engine's snapshot commit is idempotent per epoch, satisfying
  foreachBatch's at-least-once contract (T2).
- ``windowed_fetch_metrics``: the monitoring aggregation (A1 counters)
  as a watermarked tumbling-window streaming agg over fetch_log rows.
- ``host_health_tracker``: custom stateful operator
  (``applyInPandasWithState``) keeping per-host counters + a
  consecutive-failure backoff flag across micro-batches — the
  streaming twin of the reference's in-loop failure handling
  (comprehensive_scraper.py:126-137 retries, smart_cat_discovery.py
  failed_urls set).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..crawl.engine import CrawlEngine
from ..functions.urls import canonicalize_url


def seed_batch_to_frontier(engine: CrawlEngine, batch_df: DataFrame, epoch_id: int) -> None:
    """foreachBatch body: canonicalize the arriving seed URLs, append
    the new ones to the frontier through the engine's ``_enqueue`` (one
    snapshot commit), then run one crawl epoch."""
    urls = batch_df.select(
        canonicalize_url(F.col("url")).alias("url"),
        F.lit(0).alias("depth"),
        F.lit(0).cast("long").alias("priority"),
        F.lit(None).cast("string").alias("api_image_1"),
    )
    existing = engine.frontier()
    new, cached = engine._enqueue(urls, int(epoch_id), existing)  # noqa: SLF001
    engine.store.commit(engine.store.epoch(), replaces={"frontier": existing.unionByName(new)})
    cached.unpersist()
    engine.run_epoch()


def frontier_stream_writer(engine: CrawlEngine, seed_stream: DataFrame):
    """Attach the epoch loop to a seed-URL stream. Caller starts/stops
    the returned query. ``seed_stream`` needs a ``url`` column."""
    return (
        seed_stream.writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: seed_batch_to_frontier(engine, df, eid))
    )


_HOST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_fetches", T.LongType()),
        T.StructField("n_failures", T.LongType()),
        T.StructField("consec_failures", T.LongType()),
    ]
)
_HOST_OUT_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("n_fetches", T.LongType()),
        T.StructField("n_failures", T.LongType()),
        T.StructField("consec_failures", T.LongType()),
        T.StructField("throttled", T.BooleanType()),
    ]
)


def _track_host(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
    n, f, c = state.get if state.exists else (0, 0, 0)
    for pdf in pdf_iter:
        # deterministic in-batch order: the engine's schedule order
        pdf = pdf.sort_values(["epoch", "seq_in_host"], na_position="last")
        for status in pdf["status_code"]:
            n += 1
            if status != 200:
                f += 1
                c += 1
            else:
                c = 0
    state.update((int(n), int(f), int(c)))
    yield pd.DataFrame(
        {
            "host": [key[0]],
            "n_fetches": [n],
            "n_failures": [f],
            "consec_failures": [c],
            "throttled": [c >= 3],
        }
    )


def host_health_tracker(fetch_log_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (T7's cross-batch state as a
    first-class stream op): per-host running fetch/failure counters and
    a ``throttled`` flag after 3 consecutive failures, maintained with
    ``applyInPandasWithState``. Arrow-batched; state is 3 longs per
    host — at 10^6 hosts the state store holds ~24 MB per executor
    slice, partitioned by the group key."""
    return fetch_log_stream.groupBy("host").applyInPandasWithState(
        _track_host,
        outputStructType=_HOST_OUT_SCHEMA,
        stateStructType=_HOST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_fetch_metrics(
    fetch_log_stream: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """A1 as a streaming agg: fetches/failures per (window, host) with
    late-data handling via watermark. ``fetch_log_stream`` needs an
    event-time column ``fetched_at``."""
    return (
        fetch_log_stream.withWatermark("fetched_at", watermark)
        .groupBy(F.window("fetched_at", window), F.col("host"))
        .agg(
            F.count("*").alias("n_fetches"),
            F.sum((F.col("status_code") != 200).cast("long")).alias("n_failures"),
            F.approx_count_distinct("url_hash").alias("approx_unique_urls"),
        )
    )
