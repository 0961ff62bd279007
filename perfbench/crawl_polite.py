"""Workload ``crawl_polite``: a budgeted crawl that is stopped and resumed.

Plain mirror pages (the pages ``fixtures.mirror.build_mirror`` makes),
every listing page seeded, and a per-host budget that binds on the main
host. Engine A seeds the store and runs the first epoch; a fresh
``CrawlEngine`` on the same ``SnapshotStore`` then resumes for the
second epoch, which rebuilds its URL-seen bloom filter from the
committed ``url_seen`` table. On this engine each epoch costs about
twenty seconds of fixed work, so two epochs are what a run can afford;
the sequential ``OracleCrawler`` is run to the same epoch count and the
engine's state is checked against it.
"""

from __future__ import annotations

import statistics
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark import schemas
from webscrape_neko_jirushi_spark.crawl.bloom import BloomShards
from webscrape_neko_jirushi_spark.crawl.engine import CrawlEngine, MirrorFetcher
from webscrape_neko_jirushi_spark.crawl.oracle import OracleCrawler
from webscrape_neko_jirushi_spark.crawl.snapshots import SnapshotStore
from webscrape_neko_jirushi_spark.fixtures import mirror as M

from .harness import jobs_between, per_name_totals, spark_totals


@dataclass(frozen=True)
class Size:
    n_pages: int
    max_per_epoch: int
    min_delay_ms: int = 10


SIZES = {
    # 100 listing pages -> 2,200 profiles; the budget defers about half
    # of them in the resumed epoch
    "full": Size(n_pages=100, max_per_epoch=1000),
    "tiny": Size(n_pages=4, max_per_epoch=40),
}
OP_PREFIXES = ("seed", "restart", "epoch")
TABLES = ["frontier", "url_seen", "fetch_log", "documents", "lineage", "media"]


def instrument(tracer) -> None:
    """Spans around the engine's public calls (every instance)."""
    tracer.wrap(CrawlEngine, "seed", "engine.seed")
    tracer.wrap(CrawlEngine, "run_epoch", "engine.run_epoch")
    tracer.wrap(SnapshotStore, "commit", "snapshots.commit")
    tracer.wrap(BloomShards, "build", "bloom.build")
    tracer.wrap(BloomShards, "build_delta", "bloom.build_delta")
    tracer.wrap(BloomShards, "merge_delta", "bloom.merge_delta")


def setup(ctx) -> dict:
    """Mirror generation (driver-side) and the pages persist (parquet),
    repeated ``ctx.setup_repeats`` times; the crawl reads the last copy."""
    size = SIZES[ctx.scale]
    gen_s, persist_s = [], []
    for rep in range(ctx.setup_repeats):
        t0 = time.perf_counter()
        mirror = M.build_mirror(seed=ctx.seed, n_pages=size.n_pages)
        t1 = time.perf_counter()
        path = str(ctx.work / f"mirror{rep}")
        ctx.spark.createDataFrame(mirror.rows(), schemas.PAGES).write.mode(
            "overwrite"
        ).parquet(path)
        t2 = time.perf_counter()
        gen_s.append(t1 - t0)
        persist_s.append(t2 - t1)
    return {"mirror": mirror, "pages_path": path, "gen_s": gen_s, "persist_s": persist_s}


def _engine(ctx, store, pages_path: str, size: Size) -> CrawlEngine:
    # bench.py's crawl knobs, except the pages cache: one partition per
    # core, not 64. Every Python-worker task costs about 0.3 s on this
    # engine, and 64 partitions (sized for bench.py's 1.7M URLs) would
    # turn this 2,200-page crawl into a count of idle tasks.
    pages = ctx.spark.read.parquet(pages_path)
    budget = ctx.spark.createDataFrame(
        M.host_budget_rows(size.max_per_epoch, size.min_delay_ms), schemas.HOST_BUDGET
    )
    return CrawlEngine(
        ctx.spark,
        store,
        MirrorFetcher(pages, co_partitions=ctx.cores),
        budget,
        M.BASE_URL,
        n_salts=max(ctx.cores, 4),
        collect_stats=False,
    )


def measure(ctx, prepared: dict) -> dict:
    """Seed and the first epoch on engine A, then the resumed epoch on a
    fresh engine B. The crawl wall time sums the seed, the epochs and
    engine B's construction; the traced run's bloom probe between the
    epochs falls outside it."""
    size = SIZES[ctx.scale]
    spark, tracer = ctx.spark, ctx.tracer
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    seeds = [M.listing_url(p) for p in range(1, size.n_pages + 1)]
    store = SnapshotStore(ctx.work / "state", spark)
    stats, epoch_s, pending_before, probes = [], [], [], []
    wall = 0.0
    done = 0

    def timed_epoch(eng) -> None:
        nonlocal wall, done
        pending_before.append(stats[-1].pending_after if stats else len(seeds))
        with tracer.span("epoch") as sp:
            stats.append(eng.run_epoch())
        epoch_s.append(sp["dur"])
        wall += sp["dur"]
        done += 1

    eng = None
    try:
        with tracer.span("seed") as sp:
            eng = _engine(ctx, store, prepared["pages_path"], size)
            eng.seed(seeds)
        wall += sp["dur"]
        done += 1
        timed_epoch(eng)
        if ctx.trace:
            probes.append(_bloom_probe(ctx, eng))
        # stop here; a fresh engine resumes on the same store, as after
        # a restart (its fetcher caches the pages again)
        eng.fetcher.pages.unpersist()
        with tracer.span("restart") as sp:
            eng = _engine(ctx, store, prepared["pages_path"], size)
            eng.seed(seeds)  # no-op: the store already holds state
        wall += sp["dur"]
        timed_epoch(eng)
    except Exception:  # noqa: BLE001 - a raised operation is counted, not fatal
        traceback.print_exc()

    attempted = 3  # seed and two epochs
    return {
        "engine": eng,
        "store": store,
        "seeds": seeds,
        "stats": stats,
        "op_s": epoch_s,
        "pending_before": pending_before,
        "probes": probes,
        "wall_s": wall,
        "items": sum(s.selected for s in stats),
        "attempted": attempted,
        "raised": attempted - done,
    }


def _bloom_probe(ctx, eng) -> dict:
    """Traced runs only: how many pending rows the current bloom filter
    flags maybe-seen, beside the share that the exact anti-join finds
    already seen. Runs between epochs, outside the timed windows."""
    bloom = eng._bloom
    with ctx.tracer.span("probe"):
        pending = eng.frontier()
        n = pending.count()
        flagged = bloom.prefilter(ctx.spark, pending).filter("bloom_maybe_seen").count()
        exact = pending.join(eng.url_seen().select("url_hash"), "url_hash", "left_semi").count()
    return {
        "before_epoch": eng.store.epoch() + 1,
        "pending": n,
        "maybe_seen_ratio": flagged / n if n else 0.0,
        "exact_seen_ratio": exact / n if n else 0.0,
    }


def corrupt(ctx, run: dict) -> None:
    """Fault injection for the benchmark's own tests: drop one row of
    the committed ``url_seen`` table."""
    store = run["store"]
    seen = store.read("url_seen", schemas.URL_SEEN)
    victim = seen.orderBy("url_hash").limit(1)
    store.commit(store.epoch(), replaces={"url_seen": seen.join(victim, "url_hash", "left_anti")})


def check(ctx, prepared: dict, run: dict) -> list[tuple[str, bool, str]]:
    """The engine's committed state against ``OracleCrawler`` run to the
    same epoch count on the same mirror and budget, plus the store's own
    invariants. Returns (check, passed, note) triples."""
    size = SIZES[ctx.scale]
    budgets = {
        r["host"]: (r["max_per_epoch"], r["min_delay_ms"])
        for r in M.host_budget_rows(size.max_per_epoch, size.min_delay_ms)
    }
    want = OracleCrawler(prepared["mirror"], budgets, max_epochs=len(run["stats"])).run(
        run["seeds"]
    )
    eng = run["engine"]
    seen = [r["url_hash"] for r in eng.url_seen().collect()]
    log = eng.fetch_log().select(
        "url", "url_hash", "host", "epoch", "seq_in_host", "scheduled_ms", "status_code"
    ).collect()
    lineage_in = eng.lineage().agg(F.sum("urls_in")).collect()[0][0] or 0

    got_order, want_order, sched = {}, {}, {}
    for r in log:
        key = (r["host"], r["epoch"])
        got_order.setdefault(key, []).append((r["seq_in_host"], r["url"]))
        sched.setdefault(key, []).append((r["seq_in_host"], r["scheduled_ms"]))
    for r in want.fetch_log:
        want_order.setdefault((r["host"], r["epoch"]), []).append((r["seq_in_host"], r["url"]))
    order_ok = {k: sorted(v) for k, v in got_order.items()} == {
        k: sorted(v) for k, v in want_order.items()
    }
    failed_got = {r["url"] for r in log if r["status_code"] != 200}
    caps_ok = True
    for (host, _epoch), rows in sched.items():
        cap, delay = budgets[host]
        rows.sort()
        caps_ok &= len(rows) <= cap
        caps_ok &= [seq for seq, _ms in rows] == list(range(1, len(rows) + 1))
        caps_ok &= all(b[1] - a[1] >= delay for a, b in zip(rows, rows[1:]))
    distinct = len({r["url_hash"] for r in log})

    return [
        ("url_seen equals oracle", set(seen) == want.url_seen,
         f"{len(set(seen))} vs {len(want.url_seen)} hashes"),
        ("per-(host, epoch) fetch order equals oracle", order_ok,
         f"{len(got_order)} vs {len(want_order)} groups"),
        ("failed URLs equal oracle", failed_got == want.failed,
         f"{len(failed_got)} vs {len(want.failed)}"),
        ("budget and delay caps hold", caps_ok, f"budget {size.max_per_epoch}"),
        ("fetch_log rows = distinct url_hash = url_seen rows",
         len(log) == distinct == len(seen), f"{len(log)} / {distinct} / {len(seen)}"),
        ("lineage urls_in sums to fetch_log rows", lineage_in == len(log),
         f"{lineage_in} vs {len(log)}"),
    ]


def detail(ctx, prepared: dict, run: dict) -> dict:
    """The workload's own numbers."""
    ep = run["op_s"]
    return {
        "crawl_wall_s": run["wall_s"],
        "crawl_urls_per_s": run["items"] / run["wall_s"] if run["wall_s"] else 0.0,
        "urls_fetched": run["items"],
        "epoch_p50_s": statistics.median(ep) if ep else 0.0,
        "epoch_max_s": max(ep) if ep else 0.0,
        "epoch_samples": len(ep),
        "resume_s": ep[1] if len(ep) > 1 else 0.0,
        "epochs": [
            {
                "epoch": s.epoch,
                "wall_s": w,
                "selected": s.selected,
                "failed": s.failed,
                "pending_before": before,
                "pending_after": s.pending_after,
                "politeness.deferred_ratio": (before - s.selected) / before if before else 0.0,
            }
            for s, w, before in zip(run["stats"], ep, run["pending_before"])
        ],
    }


def layers(ctx, run: dict, log: dict | None) -> dict:
    """Per-layer numbers from the spans and, on a traced run, from the
    event log. Each epoch splits at its ``SnapshotStore.commit`` call:
    select/fetch before it, the commit itself, and the bookkeeping after
    it (the bloom update is reported on its own)."""
    t = ctx.tracer
    windows = []  # (epoch span, its commit span, bloom-update seconds)
    for e in (s for s in t.spans if s["name"] == "engine.run_epoch"):
        kids = [k for k in t.spans if k["parent"] == e["id"]]
        commit = next((k for k in kids if k["name"] == "snapshots.commit"), None)
        if commit is None:
            continue  # the epoch raised before its commit
        upd = sum(k["dur"] for k in kids if k["name"] in ("bloom.build_delta", "bloom.merge_delta"))
        windows.append((e, commit, upd))
    out = {
        "engine.epochs": len(windows),
        "engine.select_fetch_s": sum(c["start"] - e["start"] for e, c, _ in windows),
        "engine.post_commit_s": sum(e["end"] - c["end"] - u for e, c, u in windows),
        "snapshots.commit_s": sum(c["dur"] for _, c, _ in windows),
        "bloom.update_s": sum(u for _, _, u in windows),
        "bloom.rebuild_s": t.total("bloom.build"),
    }
    out["op.before_write_s"] = out["engine.select_fetch_s"]
    out["op.write_s"] = out["snapshots.commit_s"]
    out.update(_written(run["store"].root))
    for p in run["probes"]:
        out["bloom.maybe_seen_ratio"] = p["maybe_seen_ratio"]
        out["bloom.exact_seen_ratio"] = p["exact_seen_ratio"]
    if log is not None:
        out["op.before_write_jobs"] = sum(
            jobs_between(log, e["start"], c["start"]) for e, c, _ in windows
        )
        out["op.write_jobs"] = sum(jobs_between(log, c["start"], c["end"]) for _, c, _ in windows)
        out["snapshots.commit_jobs"] = out["op.write_jobs"]
        out["spark.jobs_per_epoch"] = spark_totals(log, ("epoch",))["jobs"] / max(1, len(windows))
        out["spark.tasks_per_epoch"] = spark_totals(log, ("epoch",))["tasks"] / max(1, len(windows))
        out["spark.per_call"] = per_name_totals(
            log,
            ["engine.seed", "engine.run_epoch", "snapshots.commit", "bloom.build",
             "bloom.build_delta", "bloom.merge_delta", "probe"],
        )
    return out


def _written(root: Path) -> dict:
    """Files and bytes the run's commits wrote, per table, from the
    store's data directories (named ``<table>-<epoch>-<id>``)."""
    files = 0
    by_table = {t: 0 for t in TABLES}
    for d in (root / "data").iterdir():
        table = d.name.rsplit("-", 2)[0]
        for f in d.glob("*.parquet"):
            files += 1
            by_table[table] = by_table.get(table, 0) + f.stat().st_size
    out = {"snapshots.files_written": files}
    out.update({f"snapshots.bytes_written.{t}": b for t, b in by_table.items()})
    return out
