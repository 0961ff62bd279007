"""Fetcher implementations (SURVEY.md §2.8 F3, §2.1 S3/S8).

P12 (the reference's ``json.dumps(search_cond)`` POST-body encode,
comprehensive_scraper.py:103-124) is ``search_cond_json`` below —
``to_json(struct(...))``, byte-identical to the reference's dict order —
used column-side for request construction and row-side by
``HttpFetcher``'s POST path for the listing API.

The engine is fetcher-agnostic: anything with
``fetch(selected: DataFrame) -> DataFrame`` adding (kind, status_code,
content_type, body) works. Three shapes:

- ``MirrorFetcher`` (crawl/engine.py): join against a pages table —
  the deterministic, scale-shaped default for tests/bench.
- ``PandasMirrorFetcher``: ``mapInPandas`` over the salted (host,
  shard) partitions probing a broadcast mirror dict — the exact
  execution shape of a real HTTP fetcher (per-partition sequential,
  politeness schedule enforceable with wall-clock sleeps), usable when
  the mirror fits in memory.
- ``HttpFetcher``: the real thing — requests.Session per partition,
  retry with jittered backoff (comprehensive_scraper.py:126-137),
  failures as data rows never task errors. Gated behind an import-try;
  NOT exercised in this sandbox (no network).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_FETCH_COLS = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("priority", T.LongType()),
        T.StructField("epoch", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("api_image_1", T.StringType()),
        T.StructField("slot", T.IntegerType()),
        T.StructField("seq_in_host", T.IntegerType()),
        T.StructField("scheduled_ms", T.LongType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("body", T.StringType()),
    ]
)

_PASSTHROUGH = [f.name for f in _FETCH_COLS.fields[:12]]

# the reference's exact search_cond key order (comprehensive_scraper.py:103-119)
_SEARCH_COND_EMPTY_KEYS = [
    "target_pref_id", "age_limit", "sex", "vaccine", "spay_and_neuter",
    "pattern_no", "status_id", "city_id", "city_name", "keyword", "user_id",
]


def search_cond_json(page_col):
    """P12: the listing API's POST ``search_cond`` field
    (comprehensive_scraper.py:103-124) as ``to_json(struct(...))`` —
    pure Column, whole-stage-codegen, byte-identical to the reference's
    ``json.dumps`` of the same dict (compact separators, same key
    order). ``page_col`` is the 1-based page number."""
    from pyspark.sql import functions as F

    return F.to_json(
        F.struct(
            F.lit("contents/").alias("params"),
            page_col.cast("string").alias("p"),
            (page_col - 1).cast("int").alias("page"),
            *[F.lit("").alias(k) for k in _SEARCH_COND_EMPTY_KEYS],
            F.lit(0).alias("recruiter_pref"),
        )
    )


def search_cond_dict(page_num: int) -> dict:
    """Row-side twin of ``search_cond_json`` for the in-UDF POST path."""
    d = {"params": "contents/", "p": str(page_num), "page": page_num - 1}
    d.update({k: "" for k in _SEARCH_COND_EMPTY_KEYS})
    d["recruiter_pref"] = 0
    return d


def _scheduled_fetch(
    selected: DataFrame,
    open_fetcher: Callable[[], Callable[[str], tuple]],
    enforce_wall_clock: bool,
) -> DataFrame:
    """The per-partition fetch loop every ``mapInPandas`` fetcher runs:
    rows in schedule order, each slept to its token-bucket
    ``scheduled_ms`` when ``enforce_wall_clock``, then the passthrough
    columns plus ``(kind, status_code, content_type, body)`` from the
    fetcher's fetch-one-URL function. ``open_fetcher`` runs once per
    partition, on the executor, and returns that function."""

    def _fetch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetch_one = open_fetcher()
        # per-HOST schedule baseline: a partition holds several hosts;
        # a shared t0 would let every host after the first fetch with
        # zero inter-fetch delay (its deadlines already past). Each
        # host's clock starts at its own first fetch.
        host_t0: dict[str, float] = {}
        for pdf in it:
            # within a partition fetch in schedule order (the per-host
            # sequential invariant, T3)
            pdf = pdf.sort_values(["host", "scheduled_ms", "seq_in_host"])
            results = []
            for url, host, sched in zip(pdf["url"], pdf["host"], pdf["scheduled_ms"]):
                if enforce_wall_clock:
                    t0 = host_t0.setdefault(host, time.monotonic())
                    if sched and sched > 0:
                        wait = sched / 1000.0 - (time.monotonic() - t0)
                        if wait > 0:
                            time.sleep(wait)
                results.append(fetch_one(url))
            out = pdf[_PASSTHROUGH].copy()
            for i, col in enumerate(("kind", "status_code", "content_type", "body")):
                out[col] = [r[i] for r in results]
            yield out

    return selected.select(*_PASSTHROUGH).mapInPandas(_fetch, _FETCH_COLS)


class PandasMirrorFetcher:
    """mapInPandas fetch against a broadcast in-memory mirror.

    ``enforce_wall_clock=True`` sleeps each row to its token-bucket
    ``scheduled_ms`` (relative to the host's first fetch) — the
    production politeness behavior; False (default) keeps the schedule
    virtual for tests/bench.
    """

    salted_input = True  # engine pre-partitions by (host, salt shard)

    def __init__(self, spark: SparkSession, mirror, enforce_wall_clock: bool = False):
        from ..fixtures import mirror as mirror_mod

        self._lookup = mirror_mod.lookup_page
        self.bc = spark.sparkContext.broadcast(mirror)
        self.enforce_wall_clock = enforce_wall_clock

    def fetch(self, selected: DataFrame) -> DataFrame:
        bc, lookup = self.bc, self._lookup

        def open_fetcher():
            mirror = bc.value

            def fetch_one(url):
                page = lookup(mirror, url)
                return tuple(
                    page[c] for c in ("kind", "status_code", "content_type", "body")
                )

            return fetch_one

        return _scheduled_fetch(selected, open_fetcher, self.enforce_wall_clock)


class HttpFetcher:
    """Real HTTP fetch stage: per-partition requests.Session, in-UDF
    retry (3 attempts, jittered 2-5 s backoff — the reference's policy,
    comprehensive_scraper.py:126-137), per-host politeness by the
    engine's schedule, always slept to in wall-clock time. Failures
    become fetch_log rows (status_code set, body None) — never Spark
    task failures.

    Sandbox note: NO network here; constructing is allowed (for plan
    shape tests), calling fetch() raises unless requests is importable
    and ``allow_network=True``.
    """

    salted_input = True

    def __init__(self, headers: dict | None = None, timeout: float = 30.0,
                 retries: int = 3, allow_network: bool = False):
        self.headers = headers or {}
        self.timeout = timeout
        self.retries = retries
        self.allow_network = allow_network

    def fetch(self, selected: DataFrame) -> DataFrame:
        if not self.allow_network:
            raise NotImplementedError(
                "HttpFetcher is the production fetch stage; this sandbox "
                "has no network. Use MirrorFetcher/PandasMirrorFetcher."
            )
        try:
            import requests  # noqa: F401
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError("requests not installed") from e

        headers, timeout, retries = self.headers, self.timeout, self.retries

        def open_fetcher():  # pragma: no cover
            import json
            import random
            import re

            import requests

            session = requests.Session()
            session.headers.update(headers)

            def fetch_one(url):
                status, ct, body = None, None, None
                # P12: listing-API pages go through the POST form body
                # with the JSON-encoded search_cond
                # (comprehensive_scraper.py:100, :121-131). Match the
                # SPECIFIC endpoint, not any ajax-ish URL, so other URLs
                # carrying a p= param stay GETs; keep non-p query params
                # on the POST target.
                is_listing = "/ajax_getFosterList.php" in url.split("?")[0]
                page_m = re.search(r"[?&]p=(\d+)", url) if is_listing else None
                if page_m:
                    base, _, qs = url.partition("?")
                    extra = "&".join(
                        kv for kv in qs.split("&")
                        if kv and not re.fullmatch(r"p=\d+", kv)
                    )
                    post_url = base + ("?" + extra if extra else "")
                for attempt in range(retries):
                    try:
                        if page_m:
                            resp = session.post(
                                post_url,
                                data={
                                    # compact separators: byte-identical
                                    # to the search_cond_json column twin
                                    "search_cond": json.dumps(
                                        search_cond_dict(int(page_m.group(1))),
                                        separators=(",", ":"),
                                    ),
                                    "spMode": 0,
                                },
                                timeout=timeout,
                            )
                        else:
                            resp = session.get(url, timeout=timeout)
                        status = resp.status_code
                        ct = resp.headers.get("content-type")
                        body = resp.text if status == 200 else None
                        break
                    except requests.RequestException:
                        if attempt < retries - 1:
                            time.sleep(random.uniform(2, 5))
                        else:
                            status = -1  # terminal network failure
                kind = (
                    "listing" if is_listing else
                    ("image" if (ct or "").startswith("image/") else "profile")
                )
                return kind, status, ct, body

            return fetch_one

        return _scheduled_fetch(selected, open_fetcher, enforce_wall_clock=True)
