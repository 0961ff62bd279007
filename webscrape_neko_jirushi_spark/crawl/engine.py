"""The epoch-loop crawl engine (SURVEY.md §3.2 Spark re-expression).

Each epoch is one batch DataFrame pipeline committed atomically:

    frontier(pending) -> robots filter                          (T4)
      -> per-host budget select + token-bucket schedule          (T3, O3)
      -> salted repartition fetch                                (S3/F3)
      -> from_json listing parse | mapInPandas span extraction   (S2, F2)
      -> discoveries -> _enqueue: robots, keep-min per URL,
         bloom-prefiltered exact anti-join vs url_seen,
         anti-join vs pending                                    (U1, J3, J1)
      -> single snapshot commit: documents/url_seen/fetch_log/
         lineage/bloom appends + frontier replace                (T2)
      -> driver ORs the committed bloom delta in (pyarrow, no job)

Seeds, ID-range probes, stream batches and discoveries all enter the
frontier through ``_enqueue``, so the frontier holds no seen URL and no
duplicate ``url_hash``, and the epoch runs no seen check on pending
rows. ``recrawl_expired`` bypasses ``_enqueue`` but keeps the invariant:
it drops its URLs from url_seen in the same commit that re-queues them,
and its rows are distinct and anti-joined against the frontier.

The bloom filter is committed state, not a cache to rebuild: each
epoch's commit appends the filter bits its hashes set
(``BloomShards.delta_rows``: packed per-shard bitsets), and
``_ensure_bloom`` ORs every committed ``bloom`` dir it has not merged
yet into the driver's shards with pyarrow, after the engine's own
commit and on resume alike. Neither runs a Spark job or scans
``url_seen``. ``EpochStats.pending_after`` and
``discoveries`` are observed on the frontier write itself
(``DataFrame.observe``), so nothing after the commit runs a job.

Also covers: S1 (paginated listing scan: ``next_pages``), S5 (outlink
scan via span children), S7 (API seed source: ``seed``), S11 (state
sinks = snapshot commits), T1 (the micro-batch epoch loop itself), T5
(failures become fetch_log rows, dead-lettered via anti-join), T6 (stop
conditions: frontier drain / target cap in ``run``), T7 (url_seen grows
monotonically across epochs), O1 (ascending page order via the priority
encoding below), O5 (target-count limit in ``run``), D1 (the 3-stage
discover->fetch->extract DAG chained in one epoch plan), D2 (stage
preconditions = snapshot version checks in ``seed``), D3 (config
cascade = constructor knobs), P11 (lineage ``committed_at``
timestamping).

The reference's analogue is the sequential loop at
comprehensive_scraper.py:301-336 (page -> profiles -> images, progress
saved per page); here the same traversal is a parallel wave per epoch
with identical final seen-set and per-host order (verified against
crawl/oracle.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas
from ..functions.urls import canonicalize_url, host_col, url_hash_col
from ..operators.spans import extract_spans, parse_listing
from .bloom import BloomShards
from .politeness import select_budget_annotated
from .snapshots import SnapshotStore

# priority encoding: children of a page get parent_priority * FANOUT +
# child_idx (idx < 4096); the NEXT listing page gets parent_priority + 1
# so an 11k-page pagination chain stays flat instead of exponentiating.
# Bounded to ~5 levels in a signed long — the test mirror's depth; at
# 10^10 scale the order key is the composite (depth, epoch, priority)
# columns, so the encoding only needs to be locally monotone.
FANOUT = 4096
SEEN_SHARDS = 64
# the URL-seen filter's geometry; every committed bloom delta pins it
BLOOM_SHARDS = 16
BLOOM_KEYS_PER_SHARD = 1 << 19
_COALESCE_CACHED = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _persist_coalesced(df: DataFrame) -> DataFrame:
    """``df.persist()`` with AQE free to coalesce the cached plan's output
    partitions. An epoch's cached frames hold a few hundred to a few
    thousand rows; pinned at the shuffle-partition count, every stage
    that reads them runs that many near-empty tasks, and each one pays
    the per-task fixed cost: scheduling, plus for a task that feeds a
    Python worker the Arrow round trip (its import-cache reset inside
    the worker is under a millisecond with ``worker_daemon``, against
    0.15-0.25 s with SPARK_HOME's zips on the path). The setting is read
    when ``persist()`` plans the cached query, so it is flipped only
    around that call and the caller's value is restored; the session
    default stays off (a session-wide flip also re-plans the analytics
    queries' cached self-joins)."""
    conf = df.sparkSession.conf
    prev = conf.get(_COALESCE_CACHED, None)
    conf.set(_COALESCE_CACHED, "true")
    try:
        return df.persist()
    finally:
        if prev is None:
            conf.unset(_COALESCE_CACHED)
        else:
            conf.set(_COALESCE_CACHED, prev)


class MirrorFetcher:
    """Deterministic fetch against the synthetic mirror: a left join on
    URL (the scale-shape of a fetch stage — candidates shuffle to the
    data, bodies never move twice). Unknown media-looking URLs resolve
    to synthetic image responses, everything else 404
    (fixtures.mirror.lookup_page semantics).

    ``co_partitions`` pre-hash-partitions AND caches the pages table on
    the join key once, so every epoch's fetch join elides the big-side
    exchange (only the small candidate side shuffles) and never rescans
    parquet — the bucketed-table pattern, in-memory.

    ``salted_input = False``: this fetcher joins by url, so the
    engine's (host, salt) repartition of candidates would be a wasted
    shuffle (an HTTP fetcher needs it; a join fetcher does not).
    """

    salted_input = False

    def __init__(self, pages: DataFrame, co_partitions: int | None = None):
        if co_partitions:
            pages = pages.repartition(co_partitions, "url").persist()
        self.pages = pages

    def fetch(self, selected: DataFrame) -> DataFrame:
        p = self.pages.select(
            F.col("url").alias("p_url"),
            F.col("kind").alias("p_kind"),
            F.col("status_code").alias("p_status"),
            F.col("content_type").alias("p_ct"),
            F.col("body").alias("p_body"),
        )
        j = selected.join(p, selected.url == p.p_url, "left")
        ext = F.lower(F.regexp_extract("url", r"\.([a-z0-9]+)\z", 1))
        is_image_url = ext.isin("jpg", "jpeg", "png", "webp", "gif")
        ct_map = F.when(ext.isin("jpg", "jpeg"), "image/jpeg").otherwise(
            F.concat(F.lit("image/"), ext)
        )
        return (
            j.withColumn(
                "kind",
                F.coalesce(
                    F.col("p_kind"), F.when(is_image_url, F.lit("image")).otherwise("missing")
                ),
            )
            .withColumn(
                "status_code",
                F.coalesce(
                    F.col("p_status"),
                    F.when(is_image_url, F.lit(200)).otherwise(404),
                ).cast("int"),
            )
            .withColumn(
                "content_type",
                F.coalesce(F.col("p_ct"), F.when(is_image_url, ct_map).otherwise("text/html")),
            )
            .withColumn("body", F.col("p_body"))
            .drop("p_url", "p_kind", "p_status", "p_ct", "p_body")
        )


@dataclass
class EpochStats:
    """One epoch's counters, each read from work the epoch does anyway:
    ``selected``, ``fetched_ok``, ``failed`` and ``documents`` (the
    profile pages fetched with status 200; ``extract_spans`` makes one
    document per such page) from the pre-commit count aggregate,
    ``discoveries`` (the URLs ``_enqueue`` let into the frontier) and
    ``pending_after`` (the committed frontier's size) from metrics
    observed on the frontier write."""

    epoch: int
    selected: int
    fetched_ok: int
    failed: int
    documents: int
    discoveries: int
    pending_after: int


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        fetcher,
        host_budget: DataFrame,
        base_url: str,
        n_salts: int = 4,
        fetch_images: bool = True,
        collect_stats: bool = True,
        robots_map: dict[str, list[str]] | None = None,
    ):
        """``collect_stats`` is ignored and kept only so existing
        callers still construct: every ``EpochStats`` field comes from
        an aggregate the epoch runs anyway."""
        self.spark = spark
        self.store = store
        self.fetcher = fetcher
        self.host_budget = host_budget
        self.base_url = base_url
        self.n_salts = n_salts
        self.fetch_images = fetch_images
        # T4: robots cache — host -> disallowed path prefixes, applied as
        # a broadcast-map filter on candidates and in _enqueue (north
        # rule; the reference sends polite headers but never parses
        # robots, comprehensive_scraper.py:32-42)
        self.robots_map = robots_map
        # one broadcast for the crawl's lifetime (the map is immutable)
        self._robots_bc = (
            spark.sparkContext.broadcast(robots_map) if robots_map else None
        )
        # driver-held bloom over url_seen, probed by _enqueue: the OR
        # of the committed bloom dirs merged so far (their paths in
        # _bloom_dirs). It is never shrunk: recrawl expiry leaves stale
        # bits, which the exact anti-join behind it re-checks.
        self._bloom: BloomShards | None = None
        self._bloom_dirs: set[str] = set()

    def _robots_filter(self, df: DataFrame) -> DataFrame:
        """Drop robots-disallowed rows (never fetched, never re-queued:
        a disallowed URL simply leaves the pipeline, like the
        reference's skip). robots_map is immutable for the crawl's
        lifetime (one broadcast at construction) — guard on the
        broadcast itself so a post-init mutation can't silently filter
        against stale rules or probe a missing broadcast."""
        if self._robots_bc is None:
            return df
        from .politeness import robots_allowed_bc

        return df.filter(
            robots_allowed_bc(F.col("url"), F.col("host"), self._robots_bc)
        )

    # -- state --------------------------------------------------------------
    def frontier(self) -> DataFrame:
        return self.store.read("frontier", schemas.FRONTIER)

    def url_seen(self) -> DataFrame:
        return self.store.read("url_seen", schemas.URL_SEEN)

    def documents(self) -> DataFrame:
        return self.store.read("documents", schemas.DOCUMENTS)

    def fetch_log(self) -> DataFrame:
        return self.store.read("fetch_log", schemas.FETCH_LOG)

    def media(self) -> DataFrame:
        return self.store.read("media", schemas.MEDIA)

    def lineage(self) -> DataFrame:
        return self.store.read("lineage", schemas.LINEAGE)

    def seed(self, seed_urls: list[str]) -> None:
        if self.store.version() > 0:
            return  # resume: state already committed
        rows = [(u, i + 1) for i, u in enumerate(seed_urls)]
        urls = self.spark.createDataFrame(rows, "raw_url string, priority long").select(
            canonicalize_url(F.col("raw_url")).alias("url"),
            F.lit(0).alias("depth"),
            "priority",
            F.lit(None).cast("string").alias("api_image_1"),
        )
        # a repeated seed keeps its first position (J3)
        new, cached = self._enqueue(urls, 0, self.frontier())
        self.store.commit(0, replaces={"frontier": new})
        cached.unpersist()

    def inject_probe_ranges(
        self, ranges: list[tuple[int, int]], step: int = 5, depth: int = 0
    ) -> int:
        """S6: union an ID-range probe sweep into the frontier
        (smart_cat_discovery.py:158-173). Probe URLs already seen,
        already pending, or previously failed (failures live in
        url_seen) are dropped by ``_enqueue`` before the commit.
        Returns the number of injected URLs."""
        from .probe import id_range_probe

        epoch = self.store.epoch()
        probes = id_range_probe(self.spark, self.base_url, ranges, step, depth=depth)
        frontier = self.frontier()
        new, cached = self._enqueue(
            probes.select("url", "depth", "priority", "api_image_1"), epoch, frontier
        )
        n = new.count()
        if n:
            self.store.commit(
                epoch, replaces={"frontier": frontier.unionByName(new)}
            )
        cached.unpersist()
        return n

    def _enqueue(
        self, urls: DataFrame, epoch: int, pending: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """Build new frontier rows from ``url, depth, priority,
        api_image_1`` candidates; the only place frontier rows are made.

        Robots-disallowed URLs leave (T4), and so do NULL URLs
        (``canonicalize_url`` of an unparseable one: ``xxhash64(NULL)``
        is the constant 42, so unfiltered they would enqueue). The min
        ``(depth, priority)`` row per ``url_hash`` stays (J3: the first discovery wins). URLs
        already in url_seen are dropped by an exact anti-join with the
        bloom filter in front of it (J1): definite-new rows skip
        the join, and the filter's positives, false ones included, are
        re-checked exactly. URLs in ``pending`` are dropped last.

        Returns ``(rows, cached)``: the definite/maybe split reads
        ``cached`` twice (uncached, a discovery plan's listing parse and
        canonicalize UDF would run twice); unpersist it once ``rows``
        are committed."""
        rows = self._robots_filter(
            urls.withColumn("url_hash", url_hash_col(F.col("url")))
            .withColumn("host", host_col(F.col("url")))
        )
        w = Window.partitionBy("url_hash").orderBy("depth", "priority")
        # NULL URLs leave here, not ahead of the hashing: there the
        # optimizer moves the filter into the discovery plan, and the
        # commit ran three more jobs per epoch (traced crawl_polite)
        rows = rows.withColumn("rn", F.row_number().over(w)).filter(
            (F.col("rn") == 1) & F.col("url").isNotNull()
        ).drop("rn")
        filt = self._ensure_bloom()
        if filt.is_empty():
            # the filter holds every seen hash: empty means none is seen.
            # No split, so nothing to cache (unpersist is a no-op).
            cached = unseen = rows
        else:
            cached = _persist_coalesced(filt.prefilter(self.spark, rows))
            maybe = F.col("bloom_maybe_seen")
            unseen = cached.filter(~maybe).unionByName(
                cached.filter(maybe).join(
                    self.url_seen().select("url_hash"), "url_hash", "left_anti"
                )
            ).drop("bloom_maybe_seen")
        new = (
            unseen.join(pending.select("url_hash"), "url_hash", "left_anti")
            .withColumn("epoch", F.lit(epoch))
            .withColumn("status", F.lit("pending"))
            .select([f.name for f in schemas.FRONTIER.fields])
        )
        return new, cached

    def _ensure_bloom(self) -> BloomShards:
        """The engine's one URL-seen filter, brought up to HEAD: every
        committed ``bloom`` dir not merged yet is ORed in with pyarrow
        (``BloomShards.read_delta``), so a resumed engine restores the
        filter, and a running one adds its epoch's delta after the
        commit, without a Spark job or a ``url_seen`` scan. A fresh
        crawl starts empty (``seed`` commits only the frontier); a
        store that lists ``url_seen`` but no ``bloom`` dir raises, as
        does a delta of another geometry, instead of scanning the
        seen table."""
        if self._bloom is None:
            if self.store.has_data("url_seen") and not self.store.has_data("bloom"):
                raise ValueError(
                    f"store at {self.store.root} commits url_seen but no bloom "
                    "deltas: it was written without the committed filter; "
                    "re-crawl into a fresh store"
                )
            self._bloom = BloomShards.empty(
                n_shards=BLOOM_SHARDS, expected_per_shard=BLOOM_KEYS_PER_SHARD
            )
        new = [p for p in self.store.paths("bloom") if p not in self._bloom_dirs]
        if new:
            self._bloom.merge_delta(self._bloom.read_delta(new))
            self._bloom_dirs.update(new)
        return self._bloom

    # -- one epoch ------------------------------------------------------------
    def run_epoch(self) -> EpochStats:
        epoch = self.store.epoch() + 1
        # no seen check here: _enqueue let no seen URL into the frontier.
        # Robots is checked again at fetch time (T4).
        candidates = self._robots_filter(self.frontier())

        # ONE cached DataFrame carries the ranking window; selected/
        # deferred are cheap filters over it (without this the
        # frontier commit recomputes the whole selection pipeline)
        annotated = _persist_coalesced(
            select_budget_annotated(candidates, self.host_budget, self.n_salts)
        )
        selected = annotated.filter(F.col("chosen"))
        deferred = annotated.filter(~F.col("chosen")).drop(
            "chosen", "slot", "seq_in_host", "scheduled_ms", "shard",
            "max_per_epoch", "min_delay_ms",
        )
        if getattr(self.fetcher, "salted_input", True):
            # salted repartition: spread one host's fetch work across
            # shards while select_budget_annotated's slot arithmetic
            # keeps the per-host politeness schedule exact (SURVEY
            # §7.2 crux). Join-based fetchers skip this (they
            # reshuffle by url).
            selected = selected.repartition(
                max(self.spark.sparkContext.defaultParallelism, self.n_salts),
                "host",
                "shard",
            )
        fetched_full = self.fetcher.fetch(selected)
        # persist only body-free columns: bodies are huge and flow ONLY
        # into span extraction (one streaming pass join -> Arrow -> UDF);
        # caching them would dominate memory + serialization time
        fetched = _persist_coalesced(fetched_full.drop("body"))
        # one combined count job (replaces separate count()s per branch)
        is_ok = F.col("status_code") == 200
        counts = fetched.agg(
            F.count("*").alias("n"),
            F.sum(is_ok.cast("long")).alias("ok"),
            F.sum((is_ok & (F.col("kind") == "profile")).cast("long")).alias("docs"),
        ).collect()[0]
        n_selected, n_ok = counts["n"], int(counts["ok"] or 0)
        if n_selected == 0:
            fetched.unpersist()
            annotated.unpersist()
            # nothing fetchable: frontier drained
            return EpochStats(epoch, 0, 0, 0, 0, 0, 0)

        ok = fetched.filter(F.col("status_code") == 200)

        # documents from profile pages (bodies stream straight from the
        # fetch join into the extraction UDF, never cached)
        profiles = fetched_full.filter(
            (F.col("status_code") == 200) & (F.col("kind") == "profile")
        )
        docs_with_meta = _persist_coalesced(
            extract_spans(
                profiles.select("url", "body", "api_image_1", "depth", "priority"),
                self.base_url,
                passthrough=True,
            )
        )
        docs = docs_with_meta.select("doc_id", "spans")

        # discoveries -----------------------------------------------------
        listings_full = fetched_full.filter(
            (F.col("status_code") == 200) & (F.col("kind") == "listing")
        )
        listing_rows = parse_listing(listings_full).join(
            ok.select(F.col("url").alias("listing_url"), "depth", "priority"),
            "listing_url",
        )
        child_profiles = listing_rows.filter(F.col("cat_id").isNotNull()).select(
            canonicalize_url(F.col("profile_path"), F.lit(self.base_url)).alias("url"),
            (F.col("depth") + 1).alias("depth"),
            (F.col("priority") * FANOUT + F.col("child_idx")).alias("priority"),
            F.col("image_1").alias("api_image_1"),
        )
        next_pages = (
            listing_rows.filter(F.col("page_now") < F.col("all_page"))
            .select("listing_url", "page_now", "depth", "priority")
            .distinct()
            .select(
                canonicalize_url(
                    F.concat(
                        F.lit(self.base_url + "/foster/cat/contents/?p="),
                        (F.col("page_now") + 1).cast("string"),
                    )
                ).alias("url"),
                F.col("depth").alias("depth"),
                (F.col("priority") + 1).alias("priority"),
                F.lit(None).cast("string").alias("api_image_1"),
            )
        )
        span_kinds = ["image", "link"] if self.fetch_images else ["link"]
        span_children = (
            docs_with_meta.select("depth", "priority", F.explode("spans").alias("s"))
            .filter(F.col("s.kind").isin(span_kinds))
            .select(
                F.col("s.media_ref").alias("url"),
                (F.col("depth") + 1).alias("depth"),
                (F.col("priority") * FANOUT + F.col("s.offset")).alias("priority"),
                F.lit(None).cast("string").alias("api_image_1"),
            )
        )

        # U1: annotated holds every pending candidate, fetched or deferred
        discoveries, disc_cached = self._enqueue(
            child_profiles.unionByName(next_pages).unionByName(span_children),
            epoch,
            annotated,
        )
        # the frontier write is its only reader, so it is not cached;
        # its size and discovery count are observed on that write
        # (_disc tells discoveries from deferred rows; dropped after)
        observed = Observation()
        new_frontier = (
            deferred.select([f.name for f in schemas.FRONTIER.fields])
            .withColumn("_disc", F.lit(False))
            .unionByName(discoveries.withColumn("_disc", F.lit(True)))
            .observe(
                observed,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("_disc").cast("long")).alias("disc"),
            )
            .drop("_disc")
        )

        # commit ----------------------------------------------------------
        seen_append = fetched.select(
            "url_hash",
            F.pmod("url_hash", F.lit(SEEN_SHARDS)).cast("int").alias("shard"),
        )
        fetch_log_append = fetched.select(
            "url",
            "url_hash",
            "host",
            "status_code",
            "content_type",
            F.lit(epoch).alias("epoch"),
            F.col("seq_in_host").cast("long"),
            "scheduled_ms",
            F.lit(1).alias("attempt"),
            F.when(F.col("status_code") != 200, F.concat(F.lit("http_"), F.col("status_code"))).alias(
                "error"
            ),
        )
        lineage_append = (
            fetched.groupBy("shard", "host")
            .agg(
                F.count("*").alias("urls_in"),
                F.sum((F.col("status_code") == 200).cast("long")).alias("fetched"),
                F.sum((F.col("status_code") != 200).cast("long")).alias("failed"),
            )
            .select(
                F.lit(epoch).alias("epoch"),
                F.col("shard").alias("partition_id"),
                F.pmod(F.xxhash64("host"), F.lit(64)).cast("int").alias("host_shard"),
                "urls_in",
                "fetched",
                "failed",
                F.current_timestamp().alias("committed_at"),
            )
        )

        appends = {
            "url_seen": seen_append,
            "fetch_log": fetch_log_append,
            "documents": docs,
            "lineage": lineage_append,
            # the filter delta commits with the hashes it covers
            "bloom": self._ensure_bloom().delta_rows(fetched),
        }
        if self.fetch_images:
            # S8: downloaded media as binary rows in the same atomic
            # commit (the reference's per-file disk writes,
            # comprehensive_scraper.py:233-259). The mirror serves no
            # real bytes, so the payload is a 16-byte md5-of-url stub
            # while size_bytes carries a deterministic pseudo-realistic
            # value (~1-49 KB) so downstream size-based cascades see a
            # plausible mix WITHOUT writing gigabytes of filler — a
            # production fetcher swaps in the response body (and then
            # len(content) == size_bytes); the sink (schema, append,
            # atomic commit) is the real path either way.
            n_rep = (F.pmod("url_hash", F.lit(3000)) + F.lit(63)).cast("int")
            appends["media"] = fetched.filter(
                (F.col("status_code") == 200) & (F.col("kind") == "image")
            ).select(
                "url",
                "url_hash",
                "content_type",
                (n_rep * 16).cast("long").alias("size_bytes"),
                F.to_binary(F.md5(F.col("url")), F.lit("hex")).alias("content"),
                F.lit(epoch).alias("epoch"),
            )
        self.store.commit(epoch, appends=appends, replaces={"frontier": new_frontier})
        # the tail runs no Spark job: the delta just committed is ORed
        # in from its dir, and the frontier counters were observed on
        # the frontier write
        self._ensure_bloom()
        pending = observed.get
        fetched.unpersist()
        docs_with_meta.unpersist()
        annotated.unpersist()
        disc_cached.unpersist()
        return EpochStats(
            epoch=epoch,
            selected=n_selected,
            fetched_ok=n_ok,
            failed=n_selected - n_ok,
            documents=int(counts["docs"] or 0),
            discoveries=int(pending["disc"] or 0),
            pending_after=int(pending["n"]),
        )

    def run(
        self, max_epochs: int = 100, target_docs: int | None = None
    ) -> list[EpochStats]:
        stats: list[EpochStats] = []
        docs_total = self.documents().count() if target_docs is not None else 0
        pending = self.frontier().count()
        for _ in range(max_epochs):
            if target_docs is not None and docs_total >= target_docs:
                break
            if pending == 0:
                break
            s = self.run_epoch()
            stats.append(s)
            docs_total += s.documents
            pending = s.pending_after
            if s.selected == 0:
                break
        return stats
