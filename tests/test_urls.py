"""URL functions: canonicalization, hashing parity, extension maps."""

from __future__ import annotations

from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.crawl.oracle import xxhash64_py
from webscrape_neko_jirushi_spark.functions.urls import (
    canonicalize_one,
    canonicalize_url,
    cat_id_col,
    content_type_to_ext,
    url_hash_col,
    url_interest_predicate,
)


def test_canonicalize_one_rules():
    # relative -> absolute (comprehensive_scraper.py:181-182)
    assert (
        canonicalize_one("/foster/1/", "https://mirror-main.test")
        == "https://mirror-main.test/foster/1/"
    )
    # lowercase host, strip fragment + default port, sort query
    assert (
        canonicalize_one("HTTPS://Mirror-Main.TEST:443/a?b=2&a=1#frag")
        == "https://mirror-main.test/a?a=1&b=2"
    )
    # non-default port kept
    assert canonicalize_one("http://h:8080/x") == "http://h:8080/x"
    # empty path -> /
    assert canonicalize_one("https://h") == "https://h/"
    # absolute URL ignores base
    assert canonicalize_one("https://other/x", "https://base") == "https://other/x"
    # urllib cannot parse these: no canonical form, as for a NULL URL
    for bad in ("https://h.test:99999/a", "https://h.test:abc/a", "https://[::1/x"):
        assert canonicalize_one(bad, "https://base") is None
    # an IPv6 host keeps its brackets; the default port still goes
    assert canonicalize_one("https://[::1]:8080/a") == "https://[::1]:8080/a"
    assert canonicalize_one("http://[2001:DB8::1]/x") == "http://[2001:db8::1]/x"
    assert canonicalize_one("https://[::1]:443/a") == "https://[::1]/a"
    # idempotent: a canonical URL canonicalizes to itself
    for u in (
        "HTTPS://Mirror-Main.TEST:443/a?b=2&a=1#frag",
        "http://h:8080/x",
        "https://h",
        "https://[::1]:8080/a",
        "http://[2001:db8::1]/x",
    ):
        c = canonicalize_one(u)
        assert c is not None and canonicalize_one(c) == c, u


def test_canonicalize_udf_matches_python(spark):
    urls = [
        "/foster/226400/",
        "https://img-cdn-a.test/media/foster_1_x.png",
        "HTTP://X.test/a?z=1&y=2#f",
        "/img/cat_5_main.jpg",
        "https://h.test:abc/a",  # unparseable -> NULL
        "https://[::1]:8080/a",
        "http://[2001:db8::1]/x",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    canon = canonicalize_url(F.col("url"), "https://mirror-main.test").alias("c")
    got = [r[0] for r in df.select(canon).collect()]
    want = [canonicalize_one(u, "https://mirror-main.test") for u in urls]
    assert got == want
    assert got[-2:] == ["https://[::1]:8080/a", "http://[2001:db8::1]/x"]
    # idempotent through the UDF too: c(c(u)) == c(u)
    out = df.select(canon).select(canonicalize_url(F.col("c")).alias("cc"), "c").collect()
    assert all(r["cc"] == r["c"] for r in out if r["c"] is not None)


def test_xxhash64_parity_with_spark(spark):
    """The oracle's pure-python xxhash64 must equal Spark's builtin —
    it is the tie-break in the crawl-order comparison."""
    samples = [
        "",
        "a",
        "abc",
        "https://mirror-main.test/foster/226400/",
        "https://mirror-main.test/foster/cat/contents/?p=1",
        "x" * 7,
        "y" * 8,
        "z" * 31,
        "w" * 32,
        "日本語のテキストです" * 3,
        "q" * 100,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", url_hash_col(F.col("s")).alias("h")).collect()}
    for s in samples:
        assert got[s] == xxhash64_py(s), f"hash mismatch for {s!r}"


def test_cat_id_and_interest(spark):
    df = spark.createDataFrame(
        [
            ("https://h/foster/226400/",),
            ("https://h/about/",),
            ("https://h/static/logo.png",),
            ("https://h/static/spacer",),
        ],
        "url string",
    )
    rows = df.select(
        "url",
        cat_id_col(F.col("url")).alias("cat_id"),
        url_interest_predicate(F.col("url")).alias("interest"),
    ).collect()
    by_url = {r["url"]: r for r in rows}
    assert by_url["https://h/foster/226400/"]["cat_id"] == 226400
    assert by_url["https://h/about/"]["cat_id"] is None
    # .png extension passes the reference's interest filter; bare path fails
    assert by_url["https://h/static/logo.png"]["interest"] is True
    assert by_url["https://h/static/spacer"]["interest"] is False
    assert by_url["https://h/foster/226400/"]["interest"] is True


def test_content_type_ext(spark):
    df = spark.createDataFrame(
        [("image/jpeg",), ("image/png",), ("image/webp",), ("text/html",), (None,)],
        "ct string",
    )
    got = [r[0] for r in df.select(content_type_to_ext(F.col("ct"))).collect()]
    assert got == [".jpg", ".png", ".webp", ".jpg", ".jpg"]
