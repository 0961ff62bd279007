"""URL column functions (SURVEY.md §2.2 P1-P4, P7; §2.8 F8).

The reference normalizes URLs with ``urljoin`` plus a startswith-http
check (comprehensive_scraper.py:181-182,197; smart_cat_discovery.py:265-266)
and identifies pages by raw string membership in Python sets. At
10^10-frontier scale identity must be canonical + hashed, so:

- ``canonicalize_url``: full canonicalizer (resolve relative, lowercase
  scheme/host, strip fragment + default port, sort query params) as an
  Arrow-vectorized pandas UDF;
- ``url_hash_col``: builtin ``xxhash64`` over the canonical URL —
  JVM-side, codegen'd, the join/dedup key everywhere.

Everything else here is pure built-in Column logic (Catalyst-foldable).
"""

from __future__ import annotations

from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_one(url: str, base: str = "") -> str | None:
    """Canonical form of one URL; pure function shared by the pandas UDF
    and the sequential oracle so both sides agree byte-for-byte. A URL
    urllib cannot parse (a port out of range or not a number, an
    unclosed IPv6 bracket) has none: ``None``, like a NULL input."""
    if url is None:
        return None
    u = url.strip()
    try:
        if base and not u.startswith(("http://", "https://")):
            # reference rule: urljoin(base, rel) when not absolute
            # (comprehensive_scraper.py:181-182)
            u = urljoin(base, u)
        parts = urlsplit(u)
        port = parts.port
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    host = parts.hostname.lower() if parts.hostname else ""
    if ":" in host:
        # urllib strips an IPv6 literal's brackets; without them the
        # result is no URL (the port would read as part of the host)
        host = f"[{host}]"
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    query = urlencode(sorted(parse_qsl(parts.query, keep_blank_values=True)))
    return urlunsplit((scheme, netloc, path, query, ""))  # fragment stripped


@F.pandas_udf(T.StringType())
def _canonicalize_series(urls: pd.Series, bases: pd.Series) -> pd.Series:
    # vectorized over the Arrow batch; urllib calls run per value inside
    # the batch but never per Spark row boundary (no row-at-a-time UDF)
    return pd.Series(
        [canonicalize_one(u, b or "") for u, b in zip(urls, bases)], dtype="object"
    )


def canonicalize_url(url: Column, base: Column | str = "") -> Column:
    base_col = F.lit(base) if isinstance(base, str) else base
    return _canonicalize_series(url, base_col)


def url_hash_col(canonical_url: Column) -> Column:
    """64-bit identity for the seen-set / frontier joins (north rule)."""
    return F.xxhash64(canonical_url)


def host_col(canonical_url: Column) -> Column:
    """Host portion of an already-canonical URL — builtin parse_url."""
    return F.parse_url(canonical_url, F.lit("HOST"))


def url_interest_predicate(url: Column) -> Column:
    """Keep URLs naming cat/foster content or image extensions
    (comprehensive_scraper.py:184-187)."""
    lower = F.lower(url)
    return (
        lower.contains("cat")
        | lower.contains("foster")
        | lower.rlike(r"\.(jpg|jpeg|png|webp)")
    )


def cat_id_col(url: Column) -> Column:
    """``/foster/(\\d+)/`` id extraction (smart_cat_discovery.py:186-191)."""
    extracted = F.regexp_extract(url, r"/foster/(\d+)/", 1)
    return F.when(extracted != "", extracted.cast("long"))


def content_type_to_ext(content_type: Column) -> Column:
    """content-type -> file extension with .jpg default
    (comprehensive_scraper.py:231-240, config.py type map)."""
    ct = F.lower(F.coalesce(content_type, F.lit("")))
    return (
        F.when(ct.contains("jpeg") | ct.contains("jpg"), ".jpg")
        .when(ct.contains("png"), ".png")
        .when(ct.contains("webp"), ".webp")
        .when(ct.contains("gif"), ".gif")
        .otherwise(".jpg")
    )


def path_to_ext(url: Column) -> Column:
    """Path-suffix extension with jpg fallback (smart_cat_discovery.py:271-273)."""
    ext = F.lower(F.regexp_extract(url, r"\.([A-Za-z0-9]+)\z", 1))
    return F.when(ext.isin("jpg", "jpeg", "png", "gif"), ext).otherwise("jpg")
