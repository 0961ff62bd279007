"""Takedown / right-to-be-forgotten enforcement (SURVEY.md §2.11 X91).

A production crawl corpus receives deletion demands — DMCA notices,
RTBF/GDPR erasure requests, site-owner opt-outs — and at 100 TB the
naive response (grep and rewrite the corpus) is a full-corpus job per
request batch. The reference deletes by hand (`cleanup_dataset.py`
removes files by local path); this module is the corpus-scale version:
requests are DATA, enforcement is a handful of broadcast equi-joins,
and persisted-index deletion is a copy-on-write rewrite of ONLY the
affected partitions through the `IndexManifest` commit protocol.

Request kinds (one table, `(request_id, kind, key)`):

- ``'url'``    — exact canonical URL;
- ``'host'``   — every doc on the host;
- ``'prefix'`` — every doc whose URL starts with ``key``; the key
  carries its host, so matching is a broadcast HOST equi-join plus a
  ``startswith`` residual — never a nested-loop LIKE over the corpus;
- ``'media'``  — a ``media_ref``: the matching spans are stripped
  from EVERY doc (the doc survives; the X40/X80 strip shape) and the
  ref is tombstoned out of persisted indexes.

Unknown kinds raise IN-PLAN (an ignored misspelled kind is a silently
un-enforced legal demand). Host extraction uses ONE regex literal
shared verbatim with the DuckDB twin (`parse_url` has no cross-engine
mirror).

Scale shape: the request table is small by nature (10^4-10^6 rows vs
a 10^10-doc corpus) — every match is a broadcast map-side join, doc
enforcement is ONE anti-join, media stripping is one explode +
broadcast anti-join + one re-collect exchange. ``delete_from_index``
reads only the affected partitions (manifest-resolved), rewrites them
minus tombstoned rows, and commits with ``expected_version`` pinned —
concurrent appends conflict loudly instead of losing rows. Older
manifest versions still resolve the pre-deletion files (the audit
trail); `expire_versions` + `vacuum` is the physical-erasure step
that completes RTBF compliance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index_store import IndexManifest

# host of a URL/prefix — the one literal both engines run verbatim.
# Deliberately PORT-STRIPPING ([^/:?#]) where crawl/traps._HOST_RE is
# port-keeping ([^/?#]): enforcement must not let ':8443' variants of
# a demanded host escape. Host-kind request KEYS are normalized with
# HOST_KEY_RE below so a traps-derived 'host:port' key still matches.
#  scheme letters case-insensitive (RFC 3986): an 'HTTP://' doc URL
#  must not dodge a host-kind demand by failing host extraction
HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)"

# port-stripper for bare host-kind keys ('shop.example:8443' ->
# 'shop.example'), run verbatim on both engines
HOST_KEY_RE = "^([^/:?#]+)"

_KINDS = ("url", "host", "prefix", "media")


def _checked_requests(requests: DataFrame) -> DataFrame:
    """(request_id, kind, key) with an in-plan unknown-kind guard
    fused into the KIND column — every downstream kind filter
    evaluates the coalesce on every request row, so a misspelled kind
    raises even though no filter would have kept its row."""
    # NULL-safe: `~isin` alone is NULL (not true) for a NULL kind under
    # three-valued logic, so a NULL-kind request would silently match
    # nothing downstream — the exact silently-un-enforced demand this
    # guard exists to prevent.
    bad = F.when(
        F.col("kind").isNull() | ~F.col("kind").isin(*_KINDS),
        F.raise_error(
            F.concat(
                F.lit("takedown: unknown request kind '"),
                F.coalesce(F.col("kind").cast("string"), F.lit("NULL")),
                F.lit("' for request "),
                F.col("request_id").cast("string"),
            )
        ),
    )
    return requests.select(
        "request_id", F.coalesce(bad, F.col("kind")).alias("kind"), "key"
    )


def _doc_side(docs: DataFrame, doc_col: str, url_col: str) -> DataFrame:
    # hosts compare LOWERCASED on both sides (RFC 3986: host is
    # case-insensitive) — 'Shop.Example' must not dodge a demand for
    # shop.example. Paths stay case-sensitive (they are, per the RFC),
    # so prefix keys should carry the corpus's canonical scheme/host
    # casing (functions/urls.canonicalize_url lowercases both).
    return docs.select(
        F.col(doc_col).alias("doc_id"),
        F.col(url_col).alias("_url"),
        F.lower(F.regexp_extract(F.col(url_col), HOST_RE, 1)).alias("_host"),
    )


def match_takedowns(
    docs: DataFrame,
    requests: DataFrame,
    doc_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """(request_id, kind, key, doc_id) — one row per doc-level match
    (kinds url/host/prefix; media matches are span-level, see
    :func:`strip_media_spans`). All three kinds are broadcast
    equi-joins against the tiny request table: url on the URL itself,
    host on the doc host, prefix on the KEY's host with the
    ``startswith`` check as a join residual."""
    reqs = _checked_requests(requests)
    d = _doc_side(docs, doc_col, url_col)
    by_url = d.join(
        F.broadcast(reqs.filter(F.col("kind") == "url")),
        d["_url"] == F.col("key"),
    )
    by_host = d.join(
        F.broadcast(reqs.filter(F.col("kind") == "host")),
        d["_host"]
        == F.lower(F.regexp_extract(F.col("key"), HOST_KEY_RE, 1)),
    )
    pre = reqs.filter(F.col("kind") == "prefix").select(
        "request_id",
        "kind",
        "key",
        F.lower(F.regexp_extract("key", HOST_RE, 1)).alias("_khost"),
    )
    by_prefix = d.join(
        F.broadcast(pre),
        (d["_host"] == F.col("_khost"))
        & F.col("_url").startswith(F.col("key")),
    )
    return (
        by_url.select("request_id", "kind", "key", "doc_id")
        .unionByName(by_host.select("request_id", "kind", "key", "doc_id"))
        .unionByName(by_prefix.select("request_id", "kind", "key", "doc_id"))
    )


def enforce_takedowns(
    docs: DataFrame,
    requests: DataFrame,
    doc_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """The surviving corpus: docs minus every doc-level match — ONE
    anti-join on doc_id, original columns untouched. Media-kind
    requests do not remove docs (apply :func:`strip_media_spans` for
    those). The same call filters a FRONTIER before fetch (docs =
    frontier, doc_col = url): enforcement is also prevention — RTBF
    content must not be re-collected on the next crawl."""
    doomed = match_takedowns(docs, requests, doc_col, url_col).select(
        F.col("doc_id").alias(doc_col)
    )
    # No broadcast hint on the doomed side: requests are tiny but their
    # MATCH set is corpus-derived and unbounded (one 'host' demand can
    # doom 10^8 docs), so a pinned broadcast risks driver OOM exactly
    # when enforcement matters most. AQE picks broadcast at runtime for
    # the common (small) case and a shuffle anti-join for the blowout.
    return docs.join(doomed.distinct(), doc_col, "left_anti")


def strip_media_spans(
    docs: DataFrame,
    requests: DataFrame,
    doc_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Docs with media-kind takedowns' spans removed: explode, split
    media spans from the rest, broadcast anti-join the media rows on
    media_ref = key, re-collect in offset order (array_sort over
    offset-led structs). Docs whose every span is stripped survive
    with an empty array — deleting the document under a media-only
    demand would over-enforce. Every OTHER doc column passes through
    untouched (the enforce_takedowns contract); only ``spans_col`` is
    replaced. One explode + one re-collect exchange; non-media spans
    never touch the join."""
    keys = _checked_requests(requests).filter(
        F.col("kind") == "media"
    ).select(F.col("key").alias("media_ref"))
    s = docs.select(doc_col, F.explode_outer(spans_col).alias("s")).select(
        doc_col,
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    media = s.filter(F.col("media_ref").isNotNull())
    kept = media.join(F.broadcast(keys), "media_ref", "left_anti").unionByName(
        s.filter(F.col("media_ref").isNull())
    )
    rebuilt = (
        kept.filter(F.col("offset").isNotNull())  # explode_outer's
        # NULL row for an already-empty array carries no span
        .groupBy(doc_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("offset", "kind", "text", "media_ref")
                    )
                ),
                lambda x: F.struct(
                    x["kind"].alias("kind"),
                    x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"),
                    x["offset"].alias("offset"),
                ),
            ).alias(spans_col)
        )
    )
    empty = F.array().cast(docs.schema[spans_col].dataType)
    joined = docs.drop(spans_col).join(rebuilt, doc_col, "left")
    return joined.select(
        *[
            F.coalesce(F.col(spans_col), empty).alias(spans_col)
            if c == spans_col
            else F.col(c)
            for c in docs.columns
        ]
    )


def takedown_audit(
    docs: DataFrame,
    requests: DataFrame,
    doc_col: str = "doc_id",
    url_col: str = "url",
    spans_col: str = "spans",
) -> DataFrame:
    """Per-request enforcement report — the row a compliance officer
    files: (request_id, kind, key, n_docs_removed, n_spans_matched,
    n_spans_stripped, status). Doc-level kinds count DISTINCT matched
    docs (a doc matched by several requests appears in EACH request's
    count — attribution is per-demand, not partitioned). Media kind
    reports BOTH facts: ``n_spans_matched`` is every span instance the
    key hits in the raw corpus, ``n_spans_stripped`` is the strip
    actions of the COMPOSED pipeline (enforce_takedowns ->
    strip_media_spans) — spans inside docs that doc-level requests
    remove outright are matched but not double-reported as strips, so
    the audit never claims an action the enforced corpus cannot
    evidence. The doc survives a media strip, so n_docs_removed stays
    0. status = 'enforced' iff anything MATCHED (a media demand fully
    covered by doc removals is enforced with 0 strips, not
    'no_match'); a 'no_match' row is itself actionable (stale key, or
    the content never entered the corpus)."""
    reqs = _checked_requests(requests)
    doc_matches = match_takedowns(docs, requests, doc_col, url_col)
    doc_counts = doc_matches.groupBy("request_id").agg(
        F.countDistinct("doc_id").alias("n_docs_removed")
    )
    media_keys = reqs.filter(F.col("kind") == "media").select(
        "request_id", F.col("key").alias("media_ref")
    )
    # doomed is corpus-derived and unbounded -> no broadcast hint
    # (same rationale as enforce_takedowns); AQE decides at runtime
    doomed = doc_matches.select(F.col("doc_id").alias(doc_col)).distinct()
    flat = (
        docs.join(doomed.withColumn("_doomed", F.lit(True)),
                  doc_col, "left")
        .select(
            F.coalesce("_doomed", F.lit(False)).alias("_doomed"),
            F.explode(spans_col).alias("s"),
        )
        .select("_doomed", F.col("s.media_ref").alias("media_ref"))
        .filter(F.col("media_ref").isNotNull())
    )
    span_counts = (
        flat.join(F.broadcast(media_keys), "media_ref")
        .groupBy("request_id")
        .agg(
            F.count("*").alias("n_spans_matched"),
            F.sum((~F.col("_doomed")).cast("long")).alias(
                "n_spans_stripped"
            ),
        )
    )
    return (
        reqs.join(doc_counts, "request_id", "left")
        .join(span_counts, "request_id", "left")
        .select(
            "request_id",
            "kind",
            "key",
            F.coalesce("n_docs_removed", F.lit(0))
            .cast("long")
            .alias("n_docs_removed"),
            F.coalesce("n_spans_matched", F.lit(0))
            .cast("long")
            .alias("n_spans_matched"),
            F.coalesce("n_spans_stripped", F.lit(0))
            .cast("long")
            .alias("n_spans_stripped"),
            F.when(
                F.coalesce("n_docs_removed", F.lit(0))
                + F.coalesce("n_spans_matched", F.lit(0))
                > 0,
                F.lit("enforced"),
            )
            .otherwise(F.lit("no_match"))
            .alias("status"),
        )
    )


def delete_from_index(
    spark: SparkSession,
    path,
    ids: DataFrame,
    id_col: str = "id",
) -> dict:
    """Tombstone propagation into a manifest-backed index (X9/X10/X60
    stores): copy-on-write DELETE of every row whose ``id_col`` is in
    ``ids``, rewriting ONLY the partitions that contain one.

    Protocol (the Iceberg CoW-delete discipline, built from the
    store's own verbs): one manifest read resolves the full file
    list; one Spark job finds the affected partition values (semi-join
    against the broadcast tombstones — the parquet scan prunes to
    ``id_col`` + the partition key); survivors of ONLY those
    partitions are staged into a job-scoped ``_staging`` tree and
    ``commit_staged(replace_values=..., expected_version=...)``
    publishes them — a concurrent append raises ``CommitConflict``
    instead of silently resurrecting deleted rows or losing its own.
    A partition whose every row is tombstoned disappears from the
    head. Older versions still resolve the pre-deletion files (the
    audit trail); physical erasure = ``expire_versions`` + ``vacuum``,
    which the caller runs once the retention/legal window allows.

    Returns ``{"n_rows_deleted", "partitions_rewritten",
    "version"}``; no-op (version unchanged) when nothing matches.
    """
    m = IndexManifest.load(path)
    if m is None:
        raise ValueError(f"delete_from_index: no manifest at {path}")
    all_files = m.files_for(m.partitions.keys())
    if not all_files:
        return {"n_rows_deleted": 0, "partitions_rewritten": 0,
                "version": m.version}
    full = spark.read.option("basePath", str(m.root)).parquet(*all_files)
    hit_rows = full.join(F.broadcast(ids.select(id_col)), id_col, "left_semi")
    # one job: per-partition tombstone counts (bounded by #partitions)
    hits = hit_rows.groupBy(m.key).count().collect()
    if not hits:
        return {"n_rows_deleted": 0, "partitions_rewritten": 0,
                "version": m.version}
    # NULL partition values live on disk (and in the manifest) under
    # Spark's Hive default-partition directory name — str(None) would
    # resolve no files and silently NOT delete, while still reporting
    # success: the one failure mode an erasure audit must not have.
    hive_default = "__HIVE_DEFAULT_PARTITION__"
    affected = sorted(
        hive_default if r[m.key] is None else str(r[m.key]) for r in hits
    )
    n_deleted = sum(r["count"] for r in hits)
    part = spark.read.option("basePath", str(m.root)).parquet(
        *m.files_for(affected)
    )
    survivors = part.join(F.broadcast(ids.select(id_col)), id_col, "left_anti")
    stage, _ = IndexManifest.stage_write(survivors, m.root, m.key)
    new = IndexManifest.commit_staged(
        m.root,
        m.key,
        stage,
        meta=m.meta,
        replace_values=affected,
        expected_version=m.version,
    )
    return {
        "n_rows_deleted": int(n_deleted),
        "partitions_rewritten": len(affected),
        "version": new.version,
    }


# --------------------------------------------------------------------------
# DuckDB twins
# --------------------------------------------------------------------------

def _match_ctes(
    docs_sql: str, requests_sql: str, doc_col: str, url_col: str
) -> str:
    return f"""td_req AS (
      SELECT request_id, kind, key FROM {requests_sql}
    ),
    td_docs AS (
      SELECT {doc_col} AS doc_id, {url_col} AS url,
             lower(regexp_extract({url_col}, '{HOST_RE}', 1)) AS host
      FROM {docs_sql}
    ),
    td_matches AS (
      SELECT r.request_id, d.doc_id
      FROM td_docs d JOIN td_req r
        ON r.kind = 'url' AND d.url = r.key
      UNION ALL
      SELECT r.request_id, d.doc_id
      FROM td_docs d JOIN td_req r
        ON r.kind = 'host'
       AND d.host = lower(regexp_extract(r.key, '{HOST_KEY_RE}', 1))
      UNION ALL
      SELECT r.request_id, d.doc_id
      FROM td_docs d JOIN td_req r
        ON r.kind = 'prefix'
       AND d.host = lower(regexp_extract(r.key, '{HOST_RE}', 1))
       AND starts_with(d.url, r.key)
    )"""


def survivor_hosts_sql(
    docs_sql: str,
    requests_sql: str,
    doc_col: str = "doc_id",
    url_col: str = "url",
) -> str:
    """DuckDB twin of ``enforce_takedowns`` aggregated per host:
    (host, n_docs) over the surviving corpus."""
    return f"""
    WITH {_match_ctes(docs_sql, requests_sql, doc_col, url_col)}
    SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM td_docs
    WHERE doc_id NOT IN (SELECT doc_id FROM td_matches)
    GROUP BY host
    """


def takedown_audit_sql(
    docs_sql: str,
    requests_sql: str,
    spans_sql: str,
    doc_col: str = "doc_id",
    url_col: str = "url",
) -> str:
    """DuckDB twin of :func:`takedown_audit`. ``docs_sql`` is a
    relation with (doc_col, url_col); ``spans_sql`` a FLAT span
    relation with (doc_col, media_ref). Host extraction replays
    ``HOST_RE`` verbatim."""
    return f"""
    WITH {_match_ctes(docs_sql, requests_sql, doc_col, url_col)},
    td_doc_counts AS (
      SELECT request_id, COUNT(DISTINCT doc_id) AS n_docs
      FROM td_matches GROUP BY request_id
    ),
    td_span_counts AS (
      SELECT r.request_id,
             COUNT(*) AS n_matched,
             SUM(CASE WHEN s.{doc_col} IN (SELECT doc_id FROM td_matches)
                      THEN 0 ELSE 1 END) AS n_stripped
      FROM {spans_sql} s JOIN td_req r
        ON r.kind = 'media' AND s.media_ref = r.key
      GROUP BY r.request_id
    )
    SELECT r.request_id, r.kind, r.key,
           CAST(COALESCE(dc.n_docs, 0) AS BIGINT) AS n_docs_removed,
           CAST(COALESCE(sc.n_matched, 0) AS BIGINT) AS n_spans_matched,
           CAST(COALESCE(sc.n_stripped, 0) AS BIGINT) AS n_spans_stripped,
           CASE WHEN COALESCE(dc.n_docs, 0) + COALESCE(sc.n_matched, 0) > 0
                THEN 'enforced' ELSE 'no_match' END AS status
    FROM td_req r
    LEFT JOIN td_doc_counts dc ON dc.request_id = r.request_id
    LEFT JOIN td_span_counts sc ON sc.request_id = r.request_id
    """
