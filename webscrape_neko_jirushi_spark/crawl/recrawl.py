"""Recrawl: expire URLs from the seen set after a TTL.

The reference never recrawls: a scraped id stays in ``scraped_cats``
forever. At frontier scale, freshness requires expiring URLs from the
seen set after a TTL so they become fetchable again. The recrawl path:

1. pick expired URLs from ``fetch_log`` (fetched more than
   ``ttl_epochs`` ago, best fetch per URL);
2. anti-delete from the ``url_seen`` table (rewrite minus expired);
3. re-queue the expired URLs as pending frontier rows with a
   deterministic re-fetch order (depth = 1, priority = hash-derived —
   the original depth/priority left the frontier when the URL was
   fetched and are not persisted in fetch_log); epoch = current.
   Rows already pending in the frontier are anti-joined away first,
   so calling recrawl twice (or while an expired URL is re-queued but
   not yet fetched) never inserts duplicates.

One snapshot commit makes 2+3 atomic.

The engine's bloom filter is left as it is. It cannot delete, and it
need not: it only sits in front of the exact anti-join against
``url_seen`` in ``CrawlEngine._enqueue``, so an expired hash still in
the filter makes a rediscovered URL a positive that the anti-join
re-checks (and the pending anti-join then drops, as the URL is
re-queued). A stale bit costs one exact re-check and never drops a URL,
so recrawl needs no filter rebuild and no delete.
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
    expired.unpersist()
    return n
