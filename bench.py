#!/usr/bin/env python3
"""Benchmark harness (driver contract).

Runs the headline operator queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, plus the crawl
engine end-to-end on a bench-scale synthetic mirror (politeness-free
budget so throughput is compute-bound, matching BASELINE.json's
"frontier URLs/sec + pages fetched/sec" metric).

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-seconds of the headline queries (unit sec);
the crawl throughput appears as queries.crawl_urls_per_sec /
crawl_pages_per_sec and extra.* fields.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
BENCH_MIRROR_PAGES (listing pages; default scales with sf),
BENCH_SKIP_CRAWL=1 to skip the crawl stage.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from webscrape_neko_jirushi_spark import schemas  # noqa: E402
from webscrape_neko_jirushi_spark.crawl.engine import CrawlEngine, MirrorFetcher  # noqa: E402
from webscrape_neko_jirushi_spark.crawl.snapshots import SnapshotStore  # noqa: E402
from webscrape_neko_jirushi_spark.fixtures import mirror as M  # noqa: E402
from webscrape_neko_jirushi_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "advanced_cascade_stats",
    "aggressive_cascade_stats",
    "keep_first_dedup",
    "ordinal_rename",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "simhash_near_dups",
    "cosine_topk",
    "embedding_near_dup_pairs",
    "ann_topk_lsh",
    "asof_click_view",
    "sessionize_events",
    "hourly_event_rollup",
]


def run_query(spark, fn, sf_dir: str) -> float:
    t0 = time.time()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    # Release per-query session state OUTSIDE the timed window: the
    # near-dup queries eagerly localCheckpoint their banded tables and
    # broadcast whole sides; those storage blocks and
    # broadcast variables are only reclaimed by the ContextCleaner
    # after the py4j proxies are garbage-collected, which Python does
    # lazily — left alone they shrink executor execution memory and
    # measurably degrade every LATER query (r5: tail queries 2-4x
    # slower in full bench order than standalone). A real long-lived
    # session has the same lifecycle; the explicit gc is the
    # benchmark-hygiene equivalent of its idle time.
    del df
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return dt


def run_crawl(spark, n_pages: int, n_cpus: int) -> dict:
    # tmpfs when available: the sandbox's virtio disk is IOPS-throttled
    # under sustained benching, which would measure the disk, not the
    # engine (a real cluster has local NVMe shuffle volumes)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="bench_crawl_", dir=base)
    try:
        t0 = time.time()
        mirror_path = M.spark_bench_mirror(
            spark, os.path.join(tmp, "mirror"), n_pages=n_pages, rich=True
        )
        gen_s = time.time() - t0
        pages = spark.read.parquet(mirror_path)

        # broadcast-hash builds run serially on the driver; with the
        # growing seen-set joined every epoch they become the Amdahl
        # term — prefer parallel shuffle joins for the crawl
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        # politeness-free budget => compute-bound throughput; the
        # politeness-enforced path is covered by correctness tests
        budget = spark.createDataFrame([], schemas.HOST_BUDGET)
        store = SnapshotStore(os.path.join(tmp, "state"), spark)
        eng = CrawlEngine(
            spark,
            store,
            MirrorFetcher(pages, co_partitions=64),
            budget,
            M.BASE_URL,
            n_salts=max(n_cpus, 4),
            # pages-only crawl (no image-URL fan-out) when the scaling
            # evidence wants the compute-bound configuration: the
            # image epoch is a pure JVM join+write wave whose disk IO
            # flattens CPU-scaling measurements on this shared host
            fetch_images=os.environ.get("BENCH_FETCH_IMAGES", "1") != "0",
        )
        seeds = [M.listing_url(p) for p in range(1, n_pages + 1)]
        t1 = time.time()
        eng.seed(seeds)
        stats = eng.run(max_epochs=10)
        crawl_s = time.time() - t1
        fetched = sum(s.selected for s in stats)
        docs = eng.documents().count()  # one footer-metadata job, post-run
        pages_fetched = docs + n_pages
        return {
            "mirror_gen_sec": round(gen_s, 2),
            "crawl_sec": round(crawl_s, 2),
            "epochs": len(stats),
            "urls_fetched": fetched,
            "documents": docs,
            "crawl_urls_per_sec": round(fetched / crawl_s, 1),
            "crawl_pages_per_sec": round(pages_fetched / crawl_s, 1),
        }
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    # fixed shuffle partitioning: the PLAN is identical at every
    # parallelism level; only executor threads differ (the scaling axis)
    extra = {}
    if os.path.isdir("/dev/shm"):
        local_dir = tempfile.mkdtemp(prefix="spark_local_", dir="/dev/shm")
        extra["spark.local.dir"] = local_dir
    if os.environ.get("BENCH_AQE") == "0":
        # AQE submits one job per shuffle stage (driver-serial planning
        # round-trips); with the bench's fixed 64-partition plan and
        # uniform data it buys nothing — allow turning it off
        extra["spark.sql.adaptive.enabled"] = "false"
    spark = get_spark("bench", cores=n_cpus, shuffle_partitions=64, extra_conf=extra)

    queries = entry.queries()
    timings: dict[str, float] = {}
    if os.environ.get("BENCH_CRAWL_ONLY") != "1":
        # one untimed warmup pass: JVM JIT + codegen + parquet footer
        # caches, so the first timed query doesn't absorb startup cost.
        # Must NOT be a headline query — warming one of them would give
        # it a warm exact-repeat while the others run cold.
        assert "per_group_rollup" not in HEADLINE
        run_query(spark, queries["per_group_rollup"], sf_dir)
        for name in HEADLINE:
            timings[name] = round(run_query(spark, queries[name], sf_dir), 3)

    extra_out: dict = {}
    if os.environ.get("BENCH_SKIP_CRAWL") != "1":
        n_pages = int(
            os.environ.get("BENCH_MIRROR_PAGES", max(200, int(20000 * sf)))
        )
        crawl = run_crawl(spark, n_pages, n_cpus)
        timings["crawl_urls_per_sec"] = crawl["crawl_urls_per_sec"]
        timings["crawl_pages_per_sec"] = crawl["crawl_pages_per_sec"]
        extra_out = crawl

    total = round(sum(v for k, v in timings.items() if not k.startswith("crawl_")), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_plus_crawl_throughput",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": n_cpus,
                "extra": extra_out,
            }
        )
    )
    spark.stop()
    if "spark.local.dir" in extra:
        shutil.rmtree(extra["spark.local.dir"], ignore_errors=True)


if __name__ == "__main__":
    main()
