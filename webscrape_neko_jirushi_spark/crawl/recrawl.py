"""Deletion-safe recrawl (north rule: cuckoo-filter variant).

The reference never recrawls: a scraped id stays in ``scraped_cats``
forever. At frontier scale, freshness requires expiring URLs from the
seen set after a TTL so they become fetchable again. Blooms cannot
delete; the cuckoo shards can — so the recrawl path is:

1. pick expired URLs from ``fetch_log`` (fetched more than
   ``ttl_epochs`` ago, best fetch per URL);
2. delete their hashes from the driver's cuckoo shards (engine builds
   them instead of blooms when ``use_cuckoo=True`` — same probe API);
3. anti-delete from the ``url_seen`` table (rewrite minus expired);
4. re-queue the expired URLs as pending frontier rows with a
   deterministic re-fetch order (depth = 1, priority = hash-derived —
   the original depth/priority left the frontier when the URL was
   fetched and are not persisted in fetch_log); epoch = current.
   Rows already pending in the frontier are anti-joined away first,
   so calling recrawl twice (or while an expired URL is re-queued but
   not yet fetched) never inserts duplicates.

One snapshot commit makes 3+4 atomic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import schemas
from .engine import CrawlEngine


def recrawl_expired(engine: CrawlEngine, ttl_epochs: int) -> int:
    """Expire URLs last fetched more than ttl_epochs ago; returns the
    number of URLs re-queued."""
    current = engine.store.epoch()
    cutoff = current - ttl_epochs
    if cutoff <= 0:
        return 0

    log = engine.fetch_log()
    last_fetch = log.groupBy("url_hash").agg(
        F.max("epoch").alias("last_epoch"),
        F.max_by("url", "epoch").alias("url"),
        F.max_by("host", "epoch").alias("host"),
    )
    frontier_now = engine.frontier()
    expired = (
        last_fetch.filter(F.col("last_epoch") <= cutoff)
        # idempotence: skip anything already pending (re-queued by an
        # earlier recrawl call and not yet fetched) — the engine has no
        # within-frontier dedup, so a duplicate here would double-fetch
        .join(frontier_now.select("url_hash"), "url_hash", "left_anti")
        .persist()
    )
    n = expired.count()
    if n == 0:
        expired.unpersist()
        return 0

    seen = engine.url_seen()
    new_seen = seen.join(expired.select("url_hash"), "url_hash", "left_anti")
    requeued = expired.select(
        "url",
        "url_hash",
        "host",
        F.lit(1).alias("depth"),
        # stable deterministic re-fetch order, small enough that
        # children's priority encoding (priority * 4096 + idx) can't
        # overflow a long even several levels deep
        F.pmod(F.col("url_hash"), F.lit(1 << 20)).cast("long").alias("priority"),
        F.lit(current).alias("epoch"),
        F.lit("pending").alias("status"),
        F.lit(None).cast("string").alias("api_image_1"),
    ).select([f.name for f in schemas.FRONTIER.fields])
    frontier = engine.frontier().unionByName(requeued)

    engine.store.commit(
        current,
        replaces={"url_seen": new_seen, "frontier": frontier},
    )
    # filter state: cuckoo shards (engine use_cuckoo=True) support
    # delete — expired hashes are removed per-shard in applyInPandas
    # (only packed shard tables travel to the driver, never the row
    # stream); a bloom cannot delete, so it is dropped and rebuilt
    # distributed from the committed seen table on next epoch
    if engine._bloom is not None:  # noqa: SLF001
        if hasattr(engine._bloom, "apply_delta"):  # noqa: SLF001
            engine._bloom.apply_delta(  # noqa: SLF001
                engine.spark, expired.select("url_hash"), op="delete"
            )
        else:
            engine._bloom = None  # force rebuild from committed seen
    expired.unpersist()
    return n
