"""Sequential reference-semantics oracle (SURVEY.md §5.2 items 1-2).

Two independent golden implementations used to verify the Spark engine:

1. ``extract_profile_spans_dom`` — a DOM-based (stdlib html.parser)
   transcription of the reference's extraction passes
   (comprehensive_scraper.py:163-203 image cascade;
   smart_cat_discovery.py:218-243 title/description/details;
   smart_cat_discovery.py:138-143 outlinks). The Spark engine's
   vectorized regex extractor (operators/spans.py) must produce
   byte-identical span sequences.

2. ``OracleCrawler`` — a single-threaded crawl loop with the reference's
   semantics (ascending listing pages comprehensive_scraper.py:301,
   per-page foster_list order :310, seen-skip :144-146, dead-letter
   :270) generalized to the engine's epoch/budget model: per epoch,
   each host fetches at most ``max_per_epoch`` pending URLs in
   (depth, priority, url_hash) order. The engine must reproduce the
   oracle's final URL-seen set and per-host fetch order exactly.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

from ..fixtures import mirror as mirror_mod
from ..functions.urls import canonicalize_one
from ..operators.spans import (
    FOSTER_LINK_RE,
    IMAGE_SELECTORS,
    url_interest,
)

TITLE_RE = re.compile(r"title|name")
DESC_RE = re.compile(r"description|desc|content")
DETAIL_RE = re.compile(r"detail|info|attribute")

_VOID_TAGS = {"img", "br", "hr", "meta", "link", "input"}


class _Node:
    __slots__ = ("tag", "attrs", "parent", "children", "order", "texts")

    def __init__(self, tag, attrs, parent, order):
        self.tag = tag
        self.attrs = dict(attrs)
        self.parent = parent
        self.children = []
        self.order = order
        self.texts = []

    def text(self) -> str:
        out = list(self.texts)
        for c in self.children:
            out.append(c.text())
        return "".join(out)

    def classes(self) -> list[str]:
        return (self.attrs.get("class") or "").split()

    def class_attr(self) -> str:
        return self.attrs.get("class") or ""

    def ancestors(self):
        n = self.parent
        while n is not None:
            yield n
            n = n.parent


class _MiniDom(HTMLParser):
    def __init__(self):
        super().__init__()
        self.root = _Node("<root>", [], None, -1)
        self.stack = [self.root]
        self.order = 0
        self.all_nodes: list[_Node] = []

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, attrs, self.stack[-1], self.order)
        self.order += 1
        self.stack[-1].children.append(node)
        self.all_nodes.append(node)
        if tag not in _VOID_TAGS:
            self.stack.append(node)

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                break

    def handle_data(self, data):
        self.stack[-1].texts.append(data)


def _parse(html: str) -> list[_Node]:
    dom = _MiniDom()
    dom.feed(html)
    return dom.all_nodes


def extract_profile_spans_dom(
    html: str, api_image_1: str | None, base_url: str
) -> list[dict]:
    """DOM-based golden extractor; see module docstring."""
    nodes = _parse(html)
    spans: list[dict] = []

    for n in nodes:
        if n.tag in ("h1", "h2", "h3") and TITLE_RE.search(n.class_attr()):
            spans.append({"kind": "title", "text": n.text().strip()})
            break
    for n in nodes:
        if n.tag in ("div", "p") and DESC_RE.search(n.class_attr()):
            spans.append({"kind": "description", "text": n.text().strip()})
            break
    for n in nodes:
        if n.tag in ("div", "span") and DETAIL_RE.search(n.class_attr()):
            text = n.text().strip()
            if ":" in text:
                key, value = text.split(":", 1)
                spans.append(
                    {"kind": "detail", "text": f"{key.strip().lower()}:{value.strip()}"}
                )

    imgs = [n for n in nodes if n.tag == "img"]
    image_urls: list[str] = []
    for sel_kind, sel_arg in IMAGE_SELECTORS:
        if sel_kind == "attr":
            matched = [n for n in imgs if sel_arg in (n.attrs.get("src") or "")]
        else:
            matched = [
                n
                for n in imgs
                if any(sel_arg in a.classes() for a in n.ancestors())
            ]
        for n in matched:
            src = n.attrs.get("src") or n.attrs.get("data-src")
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

    link_urls: list[str] = []
    for n in nodes:
        if n.tag == "a":
            href = n.attrs.get("href") or ""
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
# sequential oracle crawler
# ---------------------------------------------------------------------------

FANOUT = 4096  # priority encoding base; child_idx must stay < FANOUT
# next listing page: parent_priority + 1 (flat pagination chain — see
# crawl/engine.py priority-encoding note)


def xxhash64_py(s: str) -> int:
    """Driver-side xxhash64 matching Spark's F.xxhash64 for strings.

    Only used for deterministic tie-breaks in the oracle; the engine
    uses the JVM builtin. Implemented as XXH64(bytes, seed=42) — the
    seed Spark uses for xxhash64.
    """
    return _xxh64(s.encode("utf-8"), 42)


_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc, inp):
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _xxh64(data: bytes, seed: int) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h = ((_rotl(h ^ _round(0, int.from_bytes(data[i : i + 8], "little")), 27) * _P1) + _P4) & _M
        i += 8
    if i <= n - 4:
        w = (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = ((_rotl(h ^ w, 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


@dataclass
class OracleResult:
    url_seen: set[int] = field(default_factory=set)
    seen_urls: set[str] = field(default_factory=set)
    fetch_log: list[dict] = field(default_factory=list)  # host, epoch, seq, url, status
    documents: dict[str, list[dict]] = field(default_factory=dict)
    failed: set[str] = field(default_factory=set)
    epochs: int = 0


def doc_id_of(url: str) -> str:
    return re.sub(r"^https?://[^/]+/", "", url).rstrip("/")


class OracleCrawler:
    """Sequential epoch/budget crawl over the synthetic mirror."""

    def __init__(
        self,
        mirror,
        budgets: dict[str, tuple[int, int]],  # host -> (max_per_epoch, min_delay_ms)
        max_epochs: int = 100,
        target_docs: int | None = None,
        fetch_images: bool = True,
    ):
        self.mirror = mirror
        self.budgets = budgets
        self.max_epochs = max_epochs
        self.target_docs = target_docs
        self.fetch_images = fetch_images

    def run(self, seed_urls: list[str]) -> OracleResult:
        res = OracleResult()
        # pending: url -> (depth, priority)
        pending: dict[str, tuple[int, int]] = {}
        api_image: dict[str, str | None] = {}
        for i, u in enumerate(seed_urls):
            # a repeated seed keeps its first position, like a repeated
            # discovery (J3)
            cu = canonicalize_one(u)
            if cu is None:
                continue  # unparseable: the engine's enqueue drops it too
            pending.setdefault(cu, (0, i + 1))
            api_image.setdefault(cu, None)

        for epoch in range(1, self.max_epochs + 1):
            if not pending:
                break
            if self.target_docs is not None and len(res.documents) >= self.target_docs:
                break
            res.epochs = epoch
            # budget-select per host, priority order
            by_host: dict[str, list[str]] = {}
            for u in pending:
                host = re.match(r"https?://([^/]+)", u).group(1)
                by_host.setdefault(host, []).append(u)
            selected: list[tuple[str, str]] = []  # (host, url) in fetch order
            for host in sorted(by_host):
                cap = self.budgets.get(host, (10**9, 0))[0]
                urls = sorted(
                    by_host[host],
                    key=lambda u: (pending[u][0], pending[u][1], xxhash64_py(u)),
                )[:cap]
                for seq, u in enumerate(urls, start=1):
                    selected.append((host, u, seq))

            discoveries: list[tuple[int, int, str, str | None]] = []
            for host, url, seq in selected:
                depth, priority = pending.pop(url)
                page = mirror_mod.lookup_page(self.mirror, url)
                status = page["status_code"]
                res.url_seen.add(xxhash64_py(url))
                res.seen_urls.add(url)
                res.fetch_log.append(
                    {
                        "host": host,
                        "epoch": epoch,
                        "seq_in_host": seq,
                        "url": url,
                        "status_code": status,
                    }
                )
                if status != 200:
                    res.failed.add(url)
                    continue
                if page["kind"] == "listing":
                    body = json.loads(page["body"])
                    for idx, cat in enumerate(body["foster_list"]):
                        child = canonicalize_one(cat["url"], mirror_mod.BASE_URL)
                        discoveries.append(
                            (depth + 1, priority * FANOUT + idx, child, cat["image_1"])
                        )
                    pg = body["page"]
                    if pg["now"] < pg["all_page"]:
                        nxt = canonicalize_one(
                            mirror_mod.listing_url(pg["now"] + 1)
                        )
                        discoveries.append((depth, priority + 1, nxt, None))
                elif page["kind"] == "profile":
                    spans = extract_profile_spans_dom(
                        page["body"], api_image.get(url), mirror_mod.BASE_URL
                    )
                    res.documents[doc_id_of(url)] = spans
                    for s in spans:
                        if s["kind"] == "image" and self.fetch_images:
                            discoveries.append(
                                (depth + 1, priority * FANOUT + s["offset"], s["media_ref"], None)
                            )
                        elif s["kind"] == "link":
                            discoveries.append(
                                (depth + 1, priority * FANOUT + s["offset"], s["media_ref"], None)
                            )

            # merge discoveries: keep-min (depth, priority) per url; drop seen
            discoveries.sort(key=lambda d: (d[0], d[1]))
            for depth, priority, url, img1 in discoveries:
                if url is None or url in res.seen_urls or url in pending:
                    continue
                pending[url] = (depth, priority)
                api_image[url] = img1
        return res
