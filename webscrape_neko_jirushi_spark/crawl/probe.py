"""ID-range probe source (SURVEY.md §2.1 S6).

The reference's third discovery channel (smart_cat_discovery.py:158-173)
synthesizes ``/foster/{id}/`` URLs from hardcoded ID ranges with step 5
and queues the ones not already discovered or failed. Spark-first:
``spark.range(start, end, step)`` per range — a generated relation, no
driver-side list — unioned, formatted into frontier-shaped rows. The
engine's ``_enqueue`` drops those already in url_seen or the live
frontier before the union (the reference's ``not in discovered_urls /
failed_urls`` check; failures live in url_seen here, so they are never
re-probed).

Scale note: a probe sweep of 10^9 ids is ``spark.range`` partitions —
embarrassingly parallel, no shuffle until the dedup anti-join, which is
bloom-prefiltered like every other frontier insert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..functions.urls import canonicalize_url, host_col, url_hash_col

# the reference's hardcoded sweep (smart_cat_discovery.py:160-167)
DEFAULT_RANGES = [
    (226600, 226700),
    (226500, 226600),
    (226700, 226800),
    (226400, 226500),
    (226800, 226900),
]
DEFAULT_STEP = 5


def id_range_probe(
    spark: SparkSession,
    base_url: str,
    ranges: list[tuple[int, int]] = None,
    step: int = DEFAULT_STEP,
    depth: int = 0,
    epoch: int = 0,
) -> DataFrame:
    """Frontier-shaped probe rows for every id in the given ranges.

    ``priority`` is the id itself: the reference iterates ranges in
    order, so ascending id preserves its probe order within the epoch's
    budget selection.
    """
    if ranges is None:
        ranges = DEFAULT_RANGES
    ids = None
    for start, end in ranges:
        part = spark.range(start, end, step).select(F.col("id"))
        ids = part if ids is None else ids.unionByName(part)
    # overlapping ranges repeat an id; the engine's _enqueue keeps one
    # row per URL, so no dedup shuffle here
    url = canonicalize_url(
        F.concat(F.lit(base_url + "/foster/"), F.col("id").cast("string"), F.lit("/"))
    )
    return (
        ids.select(url.alias("url"), F.col("id"))
        .withColumn("url_hash", url_hash_col(F.col("url")))
        .withColumn("host", host_col(F.col("url")))
        .withColumn("depth", F.lit(depth))
        .withColumn("priority", F.col("id").cast("long"))
        .withColumn("epoch", F.lit(epoch))
        .withColumn("status", F.lit("pending"))
        .withColumn("api_image_1", F.lit(None).cast("string"))
        .select([f.name for f in schemas.FRONTIER.fields])
    )
