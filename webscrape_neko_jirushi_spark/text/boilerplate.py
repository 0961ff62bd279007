"""Host-level boilerplate span detection and stripping — the
nav-menu/footer cleaner for interleaved span documents (the north
rule's ``spans:array<struct<kind,text,media_ref,offset>>`` payload).
A span whose text repeats across most of a HOST's pages is site
chrome, not content — the cross-page frequency idea behind
jusText/boilerpipe, applied at corpus scale instead of per-page
heuristics. The reference scrapes fixed selectors so it never has to
discover chrome; a general crawl must.

Execution shape: spans are identified by ``md5(text)`` (constant-size
keys — never shuffle the text bodies); ONE (host, span-key) aggregate
counts the DISTINCT pages carrying the span (a nav repeated twice on
one page is still one page's worth of evidence); per-host page counts
come from the same scan's page-level distinct; the boilerplate
decision is a map-side ratio test over the (host, key) table. Hot
hosts — exactly where chrome lives — combine map-side in both
aggregates. ``strip_boilerplate`` applies the verdict as a LEFT ANTI
join on (host, key): broadcastable whenever the boilerplate key set
is small (it is — chrome is by definition few distinct spans), and a
plain shuffled anti-join above the broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the boilerplate verdict: a span is chrome when it is on MORE than
# PAGE_FRAC of its host's pages and the host has at least MIN_PAGES
# pages (the evidence floor)
MIN_PAGES = 5
PAGE_FRAC = 0.5


def boilerplate_keys(
    spans: DataFrame,
    host_col: str = "host",
    page_col: str = "page_id",
    text_col: str = "text",
    min_pages: int = MIN_PAGES,
    frac: float = PAGE_FRAC,
) -> DataFrame:
    """Per (host, span_md5): ``n_pages_with_span``, the host's
    ``n_pages``, ``page_frac``, and ``is_boilerplate`` — true when the
    span appears on more than ``frac`` of the host's pages AND the
    host has at least ``min_pages`` pages (below that there is no
    evidence; a 2-page host must not lose its content)."""
    keyed = spans.select(
        F.col(host_col).alias("host"),
        F.col(page_col).alias("_pg"),
        F.md5(F.col(text_col)).alias("span_md5"),
    )
    per_span = keyed.groupBy("host", "span_md5").agg(
        F.countDistinct("_pg").alias("n_pages_with_span")
    )
    per_host = keyed.groupBy("host").agg(
        F.countDistinct("_pg").alias("n_pages")
    )
    j = per_span.join(per_host, "host")
    page_frac = F.col("n_pages_with_span").cast("double") / F.col(
        "n_pages"
    ).cast("double")
    return j.select(
        "host",
        "span_md5",
        "n_pages_with_span",
        "n_pages",
        page_frac.alias("page_frac"),
        (
            (page_frac > F.lit(float(frac)))
            & (F.col("n_pages") >= F.lit(int(min_pages)))
        ).alias("is_boilerplate"),
    )


def strip_boilerplate(
    spans: DataFrame,
    keys: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
) -> DataFrame:
    """Remove spans whose (host, md5(text)) is flagged in ``keys``
    (the ``boilerplate_keys`` output). Left anti equi-join on the
    constant-size key pair. The flagged side is ~tens of rows per
    host (chrome is by definition few distinct spans), but it is
    aggregate-derived so Catalyst's size estimate won't pick the
    broadcast on its own — hence the explicit hint (no size probe: the
    constructor stays a pure plan builder), so span bodies never
    shuffle."""
    flagged = F.broadcast(
        keys.filter(F.col("is_boilerplate")).select(
            F.col("host").alias("_bh"), F.col("span_md5").alias("_bk")
        )
    )
    withkey = spans.withColumn("_k", F.md5(F.col(text_col)))
    return (
        withkey.join(
            flagged,
            (withkey[host_col] == flagged["_bh"])
            & (withkey["_k"] == flagged["_bk"]),
            "left_anti",
        )
        .drop("_k")
    )


def boilerplate_sql_ctes(
    spans_sql: str, min_pages: int = MIN_PAGES, frac: float = PAGE_FRAC
) -> str:
    """DuckDB twin of ``boilerplate_keys`` over a relation
    ``(host, page_id, text)`` — ends in CTE ``bp_keys``."""
    return f"""
    bp_spans AS (
      SELECT host, page_id AS _pg, md5(text) AS span_md5
      FROM ({spans_sql})
    ),
    bp_per_span AS (
      SELECT host, span_md5,
             COUNT(DISTINCT _pg) AS n_pages_with_span
      FROM bp_spans GROUP BY host, span_md5
    ),
    bp_per_host AS (
      SELECT host, COUNT(DISTINCT _pg) AS n_pages
      FROM bp_spans GROUP BY host
    ),
    bp_keys AS (
      SELECT s.host, s.span_md5, s.n_pages_with_span, h.n_pages,
        CAST(s.n_pages_with_span AS DOUBLE) / CAST(h.n_pages AS DOUBLE)
          AS page_frac,
        (CAST(s.n_pages_with_span AS DOUBLE) / CAST(h.n_pages AS DOUBLE)
           > {float(frac)!r})
          AND h.n_pages >= {int(min_pages)} AS is_boilerplate
      FROM bp_per_span s JOIN bp_per_host h ON s.host = h.host
    )"""
