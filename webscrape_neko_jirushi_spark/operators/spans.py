"""Span extraction: profile HTML -> interleaved span arrays (SURVEY.md §2.8 F2).

Semantics transcribed from the reference's extraction passes:

- S4 image selector cascade, src/data-src fallback, relative->absolute,
  keep-first within-page dedup, interest filter, API ``image_1``
  prepended at position 0: comprehensive_scraper.py:163-203;
- title / description / key:value detail extraction:
  smart_cat_discovery.py:218-243;
- S5 ``/foster/\\d+/`` outlink scan: smart_cat_discovery.py:138-143.

The span order contract (asserted per-row against the sequential DOM
oracle in ``crawl/oracle.py``): ``[title?, description?, details...,
images..., links...]`` with 0-based contiguous ``offset``.

Covers F1 (listing ``from_json`` parse — no UDF), F2 (span extraction),
J4 (within-page keep-first image dedup, CS:185,198), W4 (span-order
preservation incl. the image_1-first rule).

Spark side runs this as ``mapInPandas`` — one Arrow batch of page rows
in, one batch of (doc_id, spans) out; regex parsing over the batch, no
row-at-a-time Python UDF. Listing pages are parsed with builtin
``from_json`` + ``explode`` (no Python at all).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urls import canonicalize_one
from ..schemas import DOCUMENTS, SPAN

# the reference's 10-selector cascade, in order (comprehensive_scraper.py:163-174)
IMAGE_SELECTORS: list[tuple[str, str]] = [
    ("attr", "cat"),
    ("attr", "foster"),
    ("container", "cat-image"),
    ("container", "profile-image"),
    ("container", "gallery"),
    ("container", "photo"),
    ("attr", ".jpg"),
    ("attr", ".jpeg"),
    ("attr", ".png"),
    ("attr", ".webp"),
]

INTEREST_EXTS = (".jpg", ".jpeg", ".png", ".webp")

TITLE_CLASS_RE = re.compile(r"title|name")
DESC_CLASS_RE = re.compile(r"description|desc|content")
DETAIL_CLASS_RE = re.compile(r"detail|info|attribute")
FOSTER_LINK_RE = re.compile(r"/foster/\d+/")

_ELEM_RE = re.compile(
    r"<(h1|h2|h3|div|p|span|section)\s+class=\"([^\"]*)\"[^>]*>(.*?)</\1>",
    re.DOTALL,
)
_IMG_RE = re.compile(r"<img\b([^>]*)>")
_A_RE = re.compile(r"<a\b[^>]*href=\"([^\"]*)\"[^>]*>")
_ATTR_RE = re.compile(r"([\w-]+)=\"([^\"]*)\"")
_TAG_STRIP_RE = re.compile(r"<[^>]+>")


def url_interest(url: str) -> bool:
    """comprehensive_scraper.py:184-187 applied to the absolute URL."""
    lower = url.lower()
    return "cat" in lower or "foster" in lower or any(e in lower for e in INTEREST_EXTS)


def extract_profile_spans(html: str, api_image_1: str | None, base_url: str) -> list[dict]:
    """Pure function: one profile page -> ordered span dicts."""
    spans: list[dict] = []

    elems = [
        (m.start(), m.group(1), m.group(2), m.group(3)) for m in _ELEM_RE.finditer(html)
    ]

    # title: first h1/h2/h3 whose class matches /title|name/ (SD:228-230)
    for _, tag, cls, inner in elems:
        if tag in ("h1", "h2", "h3") and TITLE_CLASS_RE.search(cls):
            spans.append({"kind": "title", "text": _TAG_STRIP_RE.sub("", inner).strip()})
            break

    # description: first div/p whose class matches /description|desc|content/ (SD:233-235)
    for _, tag, cls, inner in elems:
        if tag in ("div", "p") and DESC_CLASS_RE.search(cls):
            spans.append(
                {"kind": "description", "text": _TAG_STRIP_RE.sub("", inner).strip()}
            )
            break

    # details: every div/span with class /detail|info|attribute/ whose text
    # has a ':' -> "key:value" lower/trimmed (SD:238-243)
    for _, tag, cls, inner in elems:
        if tag in ("div", "span") and DETAIL_CLASS_RE.search(cls):
            text = _TAG_STRIP_RE.sub("", inner).strip()
            if ":" in text:
                key, value = text.split(":", 1)
                spans.append(
                    {"kind": "detail", "text": f"{key.strip().lower()}:{value.strip()}"}
                )

    # image cascade (CS:163-203)
    imgs = []  # (pos, attrs)
    for m in _IMG_RE.finditer(html):
        attrs = dict(_ATTR_RE.findall(m.group(1)))
        imgs.append((m.start(), attrs))
    containers: dict[str, list[tuple[int, int]]] = {}
    for m in _ELEM_RE.finditer(html):
        cls = m.group(2)
        for token in ("cat-image", "profile-image", "gallery", "photo"):
            if token in cls.split():
                containers.setdefault(token, []).append((m.start(), m.end()))

    image_urls: list[str] = []
    for sel_kind, sel_arg in IMAGE_SELECTORS:
        if sel_kind == "attr":
            matched = [
                (pos, a) for pos, a in imgs if sel_arg in a.get("src", "")
            ]
        else:
            spans_ranges = containers.get(sel_arg, [])
            matched = [
                (pos, a)
                for pos, a in imgs
                if any(lo < pos < hi for lo, hi in spans_ranges)
            ]
        for _, attrs in matched:
            src = attrs.get("src") or attrs.get("data-src")
            if not src:
                continue
            canonical = canonicalize_one(src, base_url)
            if canonical and canonical not in image_urls and url_interest(canonical):
                image_urls.append(canonical)

    if api_image_1:
        main = canonicalize_one(api_image_1, base_url)
        if main and main not in image_urls:
            image_urls.insert(0, main)

    for u in image_urls:
        spans.append({"kind": "image", "media_ref": u})

    # outlinks: anchors whose href matches /foster/\d+/ (SD:138-143),
    # keep-first dedup on the canonical URL
    link_urls: list[str] = []
    for m in _A_RE.finditer(html):
        href = m.group(1)
        if FOSTER_LINK_RE.search(href):
            canonical = canonicalize_one(href, base_url)
            if canonical and canonical not in link_urls:
                link_urls.append(canonical)
    for u in link_urls:
        spans.append({"kind": "link", "media_ref": u})

    return [
        {
            "kind": s["kind"],
            "text": s.get("text"),
            "media_ref": s.get("media_ref"),
            "offset": i,
        }
        for i, s in enumerate(spans)
    ]


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)


_EXTRACT_SCHEMA_META = T.StructType(
    list(_EXTRACT_SCHEMA.fields)
    + [
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.LongType(), False),
    ]
)


def extract_spans(
    profile_pages: DataFrame, base_url: str, passthrough: bool = False
) -> DataFrame:
    """``(url, body, api_image_1[, depth, priority])`` profile rows ->
    ``documents`` rows (plus the passthrough frontier metadata when
    requested — used by the engine to price discoveries).

    doc_id is the URL path without scheme/host (e.g. 'foster/226654').
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            doc_ids = []
            spans_col = []
            for url, body, img1 in zip(pdf["url"], pdf["body"], pdf["api_image_1"]):
                doc_ids.append(re.sub(r"^https?://[^/]+/", "", url).rstrip("/"))
                spans_col.append(extract_profile_spans(body or "", img1, base_url))
            out = pd.DataFrame({"doc_id": doc_ids, "spans": spans_col})
            if passthrough:
                out["depth"] = pdf["depth"].to_numpy()
                out["priority"] = pdf["priority"].to_numpy()
            yield out

    if passthrough:
        cols = profile_pages.select("url", "body", "api_image_1", "depth", "priority")
        return cols.mapInPandas(_batches, schema=_EXTRACT_SCHEMA_META)
    cols = profile_pages.select("url", "body", "api_image_1")
    return cols.mapInPandas(_batches, schema=_EXTRACT_SCHEMA)


LISTING_SCHEMA = T.StructType(
    [
        T.StructField(
            "foster_list",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("cat_id", T.LongType()),
                        T.StructField("cat_name", T.StringType()),
                        T.StructField("catch_copy", T.StringType()),
                        T.StructField("url", T.StringType()),
                        T.StructField("image_1", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "page",
            T.StructType(
                [
                    T.StructField("now", T.IntegerType()),
                    T.StructField("all_page", T.IntegerType()),
                    T.StructField("rows", T.LongType()),
                ]
            ),
        ),
    ]
)


def parse_listing(listing_pages: DataFrame) -> DataFrame:
    """Listing JSON -> one row per cat: (cat_id, cat_name, catch_copy,
    url, image_1, page_now, all_page, child_idx). Pure builtin plan:
    ``from_json`` + ``posexplode`` (comprehensive_scraper.py:274-282)."""
    parsed = listing_pages.select(
        F.col("url").alias("listing_url"),
        F.from_json(F.col("body"), LISTING_SCHEMA).alias("j"),
    )
    return parsed.select(
        "listing_url",
        F.col("j.page.now").alias("page_now"),
        F.col("j.page.all_page").alias("all_page"),
        F.posexplode_outer("j.foster_list").alias("child_idx", "cat"),
    ).select(
        "listing_url",
        "page_now",
        "all_page",
        "child_idx",
        F.col("cat.cat_id").alias("cat_id"),
        F.col("cat.cat_name").alias("cat_name"),
        F.col("cat.catch_copy").alias("catch_copy"),
        F.col("cat.url").alias("profile_path"),
        F.col("cat.image_1").alias("image_1"),
    )
