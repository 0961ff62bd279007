"""Interleaved-document span operators: caption mining + structure
stats (SURVEY.md §2.11 X78).

The input contract's payload IS interleaved documents —
``(doc_id, spans: array<struct<kind, text, media_ref, offset>>)``
(BASELINE.json input_hint) — and the highest-value training-data
derivation over that shape is image-text pair mining: for every media
span, the nearest text span is its caption candidate (the
OBELICS/Flamingo-style construction; the reference's analog is pairing
each downloaded image with the profile description scraped next to it,
`comprehensive_scraper.py` name/desc + image loop).

- :func:`mine_captions` — explode spans once, then FOUR window
  expressions over ONE (doc_id, offset) window spec: nearest text
  span strictly before (``last(..., ignorenulls)`` over
  (-inf, -1]) and strictly after (``first(...)`` over [+1, +inf)),
  each as separate scalar columns (no structs inside window frames —
  the X74 portability rule). Media rows pick the closer side by
  offset gap, ties to BEFORE (captions precede their image more often
  than not in extracted web text, and the tie must be deterministic);
  ``max_gap`` drops pairs separated by more than that many spans.
  One shuffle (the per-doc window), zero Python.
- :func:`interleave_stats` — per-doc structure profile: span counts
  by kind, text->media transition count (a lag over the same window
  spec), and media coverage = fraction of media spans that found a
  caption within ``max_gap``. The corpus-QA face: a mixture that
  claims "interleaved" but profiles as 0.9 media-coverage-at-gap-1 is
  alt-text scraping, not interleaving.

Both twins run the identical window arithmetic (DuckDB
``IGNORE NULLS`` frames match Spark's ``ignorenulls=True``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _exploded(docs: DataFrame, id_col: str, spans_col: str) -> DataFrame:
    sp = F.explode(spans_col).alias("s")
    return docs.select(id_col, sp).select(
        id_col,
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def _offset_guard(id_col: str):
    """Contract enforcement: a span SEQUENCE has one span per
    position. Duplicate (doc, offset) makes every window peer order
    engine-/run-dependent, so it must fail loudly, never return a
    nondeterministic caption. Peer count via a RANGE(0,0) frame over
    the SAME (doc, offset) window — no extra shuffle."""
    peers = F.count("*").over(
        Window.partitionBy(id_col).orderBy("offset").rangeBetween(0, 0)
    )
    return F.when(
        peers > 1,
        F.raise_error(
            F.concat(
                F.lit("interleave: duplicate span offset in doc "),
                F.col(id_col).cast("string"),
                F.lit(" at offset "),
                F.col("offset").cast("string"),
            )
        ),
    )


def mine_captions(
    docs: DataFrame,
    max_gap: int = 3,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    media_kind: str = "image",
    text_kind: str = "text",
) -> DataFrame:
    """(doc_id, media_ref, offset, caption, gap, side) — one row per
    media span that has a text span within ``max_gap`` positions;
    ``side`` is 'before'/'after' (ties -> 'before'). Media spans with
    no text neighbor in range are dropped (they are the uncaptionable
    residue, countable via :func:`interleave_stats`)."""
    if max_gap < 1:
        raise ValueError(f"max_gap={max_gap} (>=1) required")
    s = _exploded(docs, id_col, spans_col)
    base = Window.partitionBy(id_col).orderBy("offset")
    before = base.rowsBetween(Window.unboundedPreceding, -1)
    after = base.rowsBetween(1, Window.unboundedFollowing)
    # a text-kind span with NULL text is no caption candidate: BOTH
    # the text and the offset must skip it, or last(ignorenulls) pairs
    # the nearest non-null TEXT with the nearer null span's OFFSET —
    # mis-measured gaps, wrong side picks, max_gap violations
    is_cand = (F.col("kind") == text_kind) & F.col("text").isNotNull()
    t_text = F.when(is_cand, F.col("text"))
    t_off = F.when(is_cand, F.col("offset"))
    w = s.select(
        id_col,
        "kind",
        "media_ref",
        F.coalesce(_offset_guard(id_col), F.col("offset")).alias("offset"),
        F.last(t_text, ignorenulls=True).over(before).alias("prev_text"),
        F.last(t_off, ignorenulls=True).over(before).alias("prev_off"),
        F.first(t_text, ignorenulls=True).over(after).alias("next_text"),
        F.first(t_off, ignorenulls=True).over(after).alias("next_off"),
    ).filter(F.col("kind") == media_kind)
    prev_gap = F.col("offset") - F.col("prev_off")
    next_gap = F.col("next_off") - F.col("offset")
    use_before = F.col("prev_off").isNotNull() & (
        F.col("next_off").isNull() | (prev_gap <= next_gap)
    )
    caption = F.when(use_before, F.col("prev_text")).otherwise(
        F.col("next_text")
    )
    gap = F.when(use_before, prev_gap).otherwise(next_gap)
    side = F.when(use_before, F.lit("before")).otherwise(F.lit("after"))
    return (
        w.filter(F.col("prev_off").isNotNull() | F.col("next_off").isNotNull())
        .select(
            id_col,
            "media_ref",
            "offset",
            caption.alias("caption"),
            gap.cast("int").alias("gap"),
            side.alias("side"),
        )
        .filter(F.col("gap") <= max_gap)
    )


def mine_captions_sql(
    spans_expr: str,
    max_gap: int = 3,
    id_col: str = "doc_id",
    media_kind: str = "image",
    text_kind: str = "text",
) -> str:
    """DuckDB twin of :func:`mine_captions`. ``spans_expr`` is a
    relation of EXPLODED spans (doc_id, kind, text, media_ref,
    offset) — nests, no WITH."""
    over = f"PARTITION BY {id_col} ORDER BY \"offset\""
    bef = f"{over} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    aft = f"{over} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING"
    return f"""
      SELECT {id_col}, media_ref, "offset",
             CASE WHEN use_before THEN prev_text ELSE next_text END AS caption,
             CAST(CASE WHEN use_before THEN "offset" - prev_off
                       ELSE next_off - "offset" END AS INTEGER) AS gap,
             CASE WHEN use_before THEN 'before' ELSE 'after' END AS side
      FROM (
        SELECT *,
               prev_off IS NOT NULL AND (next_off IS NULL OR
                 ("offset" - prev_off) <= (next_off - "offset")) AS use_before
        FROM (
          SELECT {id_col}, kind, media_ref, "offset",
                 last_value(CASE WHEN kind = '{text_kind}' AND text IS NOT NULL
                   THEN text END
                   IGNORE NULLS) OVER ({bef}) AS prev_text,
                 last_value(CASE WHEN kind = '{text_kind}' AND text IS NOT NULL
                   THEN "offset" END
                   IGNORE NULLS) OVER ({bef}) AS prev_off,
                 first_value(CASE WHEN kind = '{text_kind}' AND text IS NOT NULL
                   THEN text END
                   IGNORE NULLS) OVER ({aft}) AS next_text,
                 first_value(CASE WHEN kind = '{text_kind}' AND text IS NOT NULL
                   THEN "offset" END
                   IGNORE NULLS) OVER ({aft}) AS next_off
          FROM {spans_expr}
        ) w WHERE kind = '{media_kind}'
      ) c
      WHERE (prev_off IS NOT NULL OR next_off IS NOT NULL)
        AND (CASE WHEN use_before THEN "offset" - prev_off
                  ELSE next_off - "offset" END) <= {max_gap}
    """


def interleave_stats(
    docs: DataFrame,
    max_gap: int = 3,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    media_kind: str = "image",
    text_kind: str = "text",
) -> DataFrame:
    """Per-doc interleaving profile: (doc_id, n_text, n_media,
    n_transitions, n_captioned) where n_transitions counts kind
    changes between consecutive spans and n_captioned counts media
    spans with a text neighbor within ``max_gap``. ONE explode, ONE
    per-doc window pass (the transition lag and the caption miner's
    neighbor-offset frames share the same partition/order, so one
    exchange+sort serves all of them), ONE aggregate that reuses the
    window's hash distribution — no join, no second scan.

    ``n_captioned`` is definitionally mine_captions' row count per
    doc: that miner keeps a media span iff its CLOSER available text
    neighbor is within ``max_gap``, and the closer-side gap is
    ``least(prev_gap, next_gap)`` (ties pick 'before' but tie on the
    value), so the flag here is ``least(...) <= max_gap``."""
    if max_gap < 1:
        raise ValueError(f"max_gap={max_gap} (>=1) required")
    s = _exploded(docs, id_col, spans_col)
    base = Window.partitionBy(id_col).orderBy("offset")
    before = base.rowsBetween(Window.unboundedPreceding, -1)
    after = base.rowsBetween(1, Window.unboundedFollowing)
    is_cand = (F.col("kind") == text_kind) & F.col("text").isNotNull()
    t_off = F.when(is_cand, F.col("offset"))
    prev_off = F.last(t_off, ignorenulls=True).over(before)
    next_off = F.first(t_off, ignorenulls=True).over(after)
    prev_kind = F.lag("kind").over(base)
    # the guard rides along as a +0 term so duplicate offsets fail
    # here too (the windows' peer order would otherwise be undefined)
    guard0 = F.coalesce(_offset_guard(id_col) * 0, F.lit(0)).cast("int")
    min_gap = F.least(
        F.col("offset") - prev_off, next_off - F.col("offset")
    )
    captioned = (
        (F.col("kind") == media_kind) & (min_gap <= max_gap)
    )
    flat = s.select(
        id_col,
        "kind",
        (
            (prev_kind.isNotNull() & (prev_kind != F.col("kind"))).cast(
                "int"
            )
            + guard0
        ).alias("is_transition"),
        F.coalesce(captioned, F.lit(False)).cast("int").alias("is_captioned"),
    )
    return flat.groupBy(id_col).agg(
        F.sum((F.col("kind") == text_kind).cast("int")).alias("n_text"),
        F.sum((F.col("kind") == media_kind).cast("int")).alias("n_media"),
        F.sum("is_transition").alias("n_transitions"),
        F.sum("is_captioned").cast("long").alias("n_captioned"),
    )


def media_reuse_report(
    docs: DataFrame,
    min_docs: int = 8,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    media_kind: str = "image",
) -> DataFrame:
    """(media_ref, n_docs, n_occurrences, is_chrome) — the multimodal
    analog of X40 boilerplate detection: a media_ref embedded in
    ``min_docs``+ DISTINCT documents is site chrome (logos, nav
    icons, badges), not content — exactly the images a caption miner
    must not pair and a training mixture must not oversample. One
    explode + one aggregate (count + distinct count per ref); the
    evidence floor is the X40 rule: classification needs breadth, a
    ref seen twice is not chrome."""
    if min_docs < 2:
        raise ValueError(f"min_docs={min_docs} (>=2) required")
    s = _exploded(docs, id_col, spans_col).filter(
        (F.col("kind") == media_kind) & F.col("media_ref").isNotNull()
    )
    return s.groupBy("media_ref").agg(
        F.countDistinct(id_col).alias("n_docs"),
        F.count("*").alias("n_occurrences"),
        (F.countDistinct(id_col) >= min_docs).alias("is_chrome"),
    )


def media_reuse_report_sql(
    spans_expr: str,
    min_docs: int = 8,
    id_col: str = "doc_id",
    media_kind: str = "image",
) -> str:
    """DuckDB twin of :func:`media_reuse_report` over EXPLODED spans."""
    return f"""
      SELECT media_ref,
             CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS n_docs,
             COUNT(*) AS n_occurrences,
             COUNT(DISTINCT {id_col}) >= {min_docs} AS is_chrome
      FROM {spans_expr}
      WHERE kind = '{media_kind}' AND media_ref IS NOT NULL
      GROUP BY media_ref
    """


def strip_chrome_stats(
    docs: DataFrame,
    min_docs: int = 8,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    media_kind: str = "image",
) -> DataFrame:
    """Per-doc effect of stripping chrome media: (doc_id,
    n_media_before, n_media_after). The chrome set is joined back as
    DATA (anti-join on media_ref — the X40 strip shape), with no
    broadcast hint: at web scale the chrome set can reach 10^8 refs
    (bounded only by distinct-ref count, not by min_docs), so AQE
    decides — broadcast at runtime when it fits, shuffle anti-join
    when it doesn't."""
    chrome = (
        media_reuse_report(docs, min_docs, id_col, spans_col, media_kind)
        .filter("is_chrome")
        .select("media_ref")
    )
    s = _exploded(docs, id_col, spans_col).filter(
        (F.col("kind") == media_kind) & F.col("media_ref").isNotNull()
    )
    kept = s.join(chrome, "media_ref", "left_anti")
    before = s.groupBy(id_col).agg(F.count("*").alias("n_media_before"))
    after = kept.groupBy(id_col).agg(F.count("*").alias("n_media_after"))
    return before.join(after, id_col, "left").select(
        id_col,
        "n_media_before",
        F.coalesce("n_media_after", F.lit(0)).alias("n_media_after"),
    )


def strip_chrome_stats_sql(
    spans_expr: str,
    min_docs: int = 8,
    id_col: str = "doc_id",
    media_kind: str = "image",
) -> str:
    """DuckDB twin of :func:`strip_chrome_stats`."""
    media = (
        f"(SELECT {id_col}, media_ref FROM {spans_expr} "
        f"WHERE kind = '{media_kind}' AND media_ref IS NOT NULL)"
    )
    chrome = (
        f"(SELECT media_ref FROM {media} m GROUP BY media_ref "
        f"HAVING COUNT(DISTINCT {id_col}) >= {min_docs})"
    )
    return f"""
      SELECT b.{id_col}, b.n_media_before,
             COALESCE(a.n_media_after, 0) AS n_media_after
      FROM (
        SELECT {id_col}, COUNT(*) AS n_media_before
        FROM {media} m GROUP BY {id_col}
      ) b
      LEFT JOIN (
        SELECT {id_col}, COUNT(*) AS n_media_after
        FROM {media} m
        WHERE media_ref NOT IN (SELECT media_ref FROM {chrome} c)
        GROUP BY {id_col}
      ) a ON a.{id_col} = b.{id_col}
    """


def joined_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    text_kind: str = "text",
) -> DataFrame:
    """(id_col, text): each doc's text spans concatenated in offset
    order — the canonical text VIEW of an interleaved doc that the
    text-dedup family operates on. Docs with no text spans are
    dropped (no text = no text evidence; and empty strings would
    otherwise form one giant identical-signature clique in any
    signature-based downstream). In-aggregate ordering via
    sort_array(collect_list(struct(offset, text))) — valid because
    the span contract (X78) guarantees unique offsets."""
    s = _exploded(docs, id_col, spans_col).filter(
        (F.col("kind") == text_kind) & F.col("text").isNotNull()
    )
    ordered = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("offset", "text"))
            ),
            lambda st: st["text"],
        ),
        " ",
    )
    return s.groupBy(id_col).agg(ordered.alias("text"))


def media_pair_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    media_kind: str = "image",
) -> DataFrame:
    """Annotate candidate pairs (id_a, id_b, ...) with the Jaccard of
    the two docs' DISTINCT media_ref sets — candidate-DRIVEN (the X4
    discipline: two equi-joins keyed by the pair ids, never an
    all-pairs media join). Pairs where BOTH docs have no media get
    jaccard 1.0 (vacuous agreement: the media modality does not
    disagree); one-sided media gets 0.0."""
    m = (
        _exploded(docs, id_col, spans_col)
        .filter((F.col("kind") == media_kind) & F.col("media_ref").isNotNull())
        .select(F.col(id_col), "media_ref")
        .distinct()
    )
    sizes = m.groupBy(id_col).agg(F.count("*").alias("_nm"))
    inter = (
        pairs.select("id_a", "id_b")
        .join(m.select(F.col(id_col).alias("id_a"), "media_ref"), "id_a")
        .join(
            m.select(F.col(id_col).alias("id_b"), "media_ref"),
            ["id_b", "media_ref"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_ni"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_nm").alias("_na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_nm").alias("_nb"))
    out = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sa, "id_a", "left")
        .join(sb, "id_b", "left")
    )
    na = F.coalesce("_na", F.lit(0))
    nb = F.coalesce("_nb", F.lit(0))
    ni = F.coalesce("_ni", F.lit(0))
    jac = F.when((na + nb) == 0, F.lit(1.0)).otherwise(
        ni / (na + nb - ni)
    )
    return out.select(
        *[c for c in pairs.columns], jac.alias("media_jaccard")
    )


def interleaved_near_dups(
    docs: DataFrame,
    max_hamming: int = 6,
    min_media_jaccard: float = 0.5,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    n_docs: int | None = None,
    wide: bool | None = None,
    wide_threshold: int = 150_000,
) -> DataFrame:
    """(id_a, id_b, hamming, media_jaccard): pairs of interleaved
    documents that are near-duplicates in BOTH modalities — text
    simhash within ``max_hamming`` (one-pass signature over the
    offset-ordered text view, found by pigeonhole banding — X5,
    never a cartesian product) AND media-ref Jaccard >=
    ``min_media_jaccard`` verified ONLY on the text candidates. The
    dedup that matters for interleaved corpora: text-only matching
    merges template pages with different images; media-only matching
    merges galleries with different prose; requiring both is the
    conservative intersection (SURVEY X81).

    Signature width AUTO-SELECTS like the rest of the dedup family:
    the 60-bit form's 7x~8.6-bit bands turn quadratic past ~10^5 docs
    (random band collisions ~ n^2/388 — the X5 scale rule), so above
    ``wide_threshold`` docs the 120-bit form
    (``simhash_signatures_wide`` + 15-20-bit bands, ~156x fewer
    random collisions) is used instead. Resolve the gate with
    ``n_docs`` (zero construction-time jobs), an explicit ``wide``
    (the driver query pins False — its DuckDB twin replays the 60-bit
    signature), or a LIMIT-bounded count probe. The two widths are
    different signatures, so their pair sets differ at the margin;
    the pigeonhole completeness guarantee holds for both.

    The 60-bit path's ``simhash_banded_pairs`` checkpoints the
    signature table: the linearized-text + signature pipeline above
    it is not exchange-reused across the self-join sides, so lazily
    it would execute twice (r6)."""
    from . import dedup

    texts = joined_text(docs, id_col, spans_col)
    if wide is None:
        if n_docs is None:
            n_docs = (
                docs.select(id_col).limit(wide_threshold + 1).count()
            )
        wide = n_docs > wide_threshold
    if wide:
        sigs = dedup.simhash_signatures_wide(texts, "text", id_col)
        text_pairs = dedup.simhash_wide_banded_pairs(
            sigs, id_col, max_hamming=max_hamming
        )
    else:
        sigs = dedup.simhash_signatures(texts, "text", id_col)
        text_pairs = dedup.simhash_banded_pairs(
            sigs, id_col, "simhash", max_hamming=max_hamming, n_bits=60
        )
    with_media = media_pair_jaccard(text_pairs, docs, id_col, spans_col)
    return with_media.filter(
        F.col("media_jaccard") >= min_media_jaccard
    )


def interleaved_near_dups_sql(
    spans_expr: str,
    simhash_sql: str,
    max_hamming: int = 6,
    min_media_jaccard: float = 0.5,
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`interleaved_near_dups` over EXPLODED
    spans. ``simhash_sql`` is the engine's 60-bit signature fragment
    over a column named ``text`` (the driver's `_SIMHASH_SQL` twin —
    pass it in so the fuzz-gated expression is THE one used here).
    The text side is brute-force (a < b with bit_count verify): the
    banding is provably the same pair set, and the oracle exists to
    check answers, not to scale."""
    return f"""
      SELECT id_a, id_b, hamming,
             CASE WHEN (na + nb) = 0 THEN 1.0
                  ELSE ni * 1.0 / (na + nb - ni) END AS media_jaccard
      FROM (
        SELECT p.id_a, p.id_b, p.hamming,
               COALESCE(sa._nm, 0) AS na, COALESCE(sb._nm, 0) AS nb,
               COALESCE(i.ni, 0) AS ni
        FROM (
          SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM (
            SELECT {id_col}, {simhash_sql} AS simhash FROM (
              SELECT {id_col},
                     string_agg(text, ' ' ORDER BY "offset") AS text
              FROM {spans_expr}
              WHERE kind = 'text' AND text IS NOT NULL
              GROUP BY {id_col}
            ) jt
          ) a
          JOIN (
            SELECT {id_col}, {simhash_sql} AS simhash FROM (
              SELECT {id_col},
                     string_agg(text, ' ' ORDER BY "offset") AS text
              FROM {spans_expr}
              WHERE kind = 'text' AND text IS NOT NULL
              GROUP BY {id_col}
            ) jt
          ) b ON a.{id_col} < b.{id_col}
          WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        ) p
        LEFT JOIN (
          SELECT x.id_a, x.id_b, COUNT(*) AS ni
          FROM (
            SELECT p2.id_a, p2.id_b, ma.media_ref
            FROM (
              SELECT a.{id_col} AS id_a, b.{id_col} AS id_b
              FROM (SELECT {id_col}, {simhash_sql} AS simhash FROM (
                      SELECT {id_col},
                             string_agg(text, ' ' ORDER BY "offset") AS text
                      FROM {spans_expr}
                      WHERE kind = 'text' AND text IS NOT NULL
                      GROUP BY {id_col}) jt) a
              JOIN (SELECT {id_col}, {simhash_sql} AS simhash FROM (
                      SELECT {id_col},
                             string_agg(text, ' ' ORDER BY "offset") AS text
                      FROM {spans_expr}
                      WHERE kind = 'text' AND text IS NOT NULL
                      GROUP BY {id_col}) jt) b
                ON a.{id_col} < b.{id_col}
              WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
            ) p2
            JOIN (SELECT DISTINCT {id_col} AS id_a, media_ref
                  FROM {spans_expr}
                  WHERE kind = 'image' AND media_ref IS NOT NULL) ma
              USING (id_a)
            JOIN (SELECT DISTINCT {id_col} AS id_b, media_ref
                  FROM {spans_expr}
                  WHERE kind = 'image' AND media_ref IS NOT NULL) mb
              USING (id_b, media_ref)
          ) x GROUP BY x.id_a, x.id_b
        ) i ON i.id_a = p.id_a AND i.id_b = p.id_b
        LEFT JOIN (
          SELECT {id_col} AS id_a, CAST(COUNT(DISTINCT media_ref) AS BIGINT) AS _nm
          FROM {spans_expr}
          WHERE kind = 'image' AND media_ref IS NOT NULL GROUP BY {id_col}
        ) sa ON sa.id_a = p.id_a
        LEFT JOIN (
          SELECT {id_col} AS id_b, CAST(COUNT(DISTINCT media_ref) AS BIGINT) AS _nm
          FROM {spans_expr}
          WHERE kind = 'image' AND media_ref IS NOT NULL GROUP BY {id_col}
        ) sb ON sb.id_b = p.id_b
      ) j
      WHERE (CASE WHEN (na + nb) = 0 THEN 1.0
                  ELSE ni * 1.0 / (na + nb - ni) END) >= {min_media_jaccard}
    """


def interleave_stats_sql(
    spans_expr: str,
    max_gap: int = 3,
    id_col: str = "doc_id",
    media_kind: str = "image",
    text_kind: str = "text",
) -> str:
    """DuckDB twin of :func:`interleave_stats` (nests, no WITH)."""
    caps = mine_captions_sql(
        spans_expr, max_gap, id_col, media_kind, text_kind
    )
    return f"""
      SELECT a.{id_col},
             a.n_text, a.n_media, a.n_transitions,
             COALESCE(c.n_captioned, 0) AS n_captioned
      FROM (
        SELECT {id_col},
               CAST(SUM(CASE WHEN kind = '{text_kind}' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
               CAST(SUM(CASE WHEN kind = '{media_kind}' THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
               CAST(SUM(is_transition) AS BIGINT) AS n_transitions
        FROM (
          SELECT {id_col}, kind,
                 CASE WHEN lag(kind) OVER (PARTITION BY {id_col}
                        ORDER BY "offset") NOT IN (kind)
                      THEN 1 ELSE 0 END AS is_transition
          FROM {spans_expr}
        ) t GROUP BY {id_col}
      ) a
      LEFT JOIN (
        SELECT {id_col}, COUNT(*) AS n_captioned
        FROM ({caps}) cc GROUP BY {id_col}
      ) c ON a.{id_col} = c.{id_col}
    """


# --------------------------------------------------------------------------
# X87: linearization — span array -> training-ready token stream
# --------------------------------------------------------------------------


def linearize_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    text_kind: str = "text",
    media_token: str = "<|image|>",
    media_cost: int = 1,
    budget: int | None = None,
) -> DataFrame:
    """Render each interleaved document into ONE training-ready text
    stream (the MMC4/OBELICS/Flamingo preprocessing step): spans in
    offset order, text spans as their trimmed text, media spans as a
    sentinel token the model's tokenizer maps to image embeddings.
    ``budget`` (tokens; whitespace count for text, ``media_cost`` per
    media span) truncates at a SPAN boundary — never mid-span, so a
    sentinel is always either fully present or absent and text never
    ends mid-caption.

    Output: (id_col, text, n_tokens, n_spans_kept, n_spans_total,
    n_media_kept, truncated).

    Shape at scale: a PURE per-row projection — sort, render, cost,
    and the prefix-under-budget fold all run as array HOFs inside the
    row (``array_sort``/``transform``/``aggregate``), so the operator
    adds ZERO shuffles to whatever plan feeds it; at 10^10 docs it is
    scan-bound. The budget fold carries (cum, kept, open) through one
    ``aggregate``; because costs are non-negative the fold's
    first-overflow stop equals the SQL twin's monotone
    ``cumsum <= budget`` window filter (:func:`linearize_sql`).
    In-plan guard: duplicate offsets inside one doc would make the
    render order engine-dependent -> ``raise_error`` (the X78 span
    contract, enforced in-array here because there is no window to
    hang the usual peer-count guard on).
    """
    if media_cost < 0:
        raise ValueError("linearize_docs: media_cost must be >= 0")
    if budget is not None and budget < 0:
        raise ValueError("linearize_docs: budget must be >= 0")
    spans = F.col(spans_col)
    offs = F.transform(spans, lambda s: s["offset"])
    guarded = F.when(
        spans.isNull(),
        F.raise_error(
            F.concat(
                F.lit("linearize: NULL spans array in doc "),
                F.col(id_col).cast("string"),
            )
        ),
    ).when(
        F.array_size(F.array_distinct(offs)) != F.array_size(offs),
        F.raise_error(
            F.concat(
                F.lit("linearize: duplicate span offset in doc "),
                F.col(id_col).cast("string"),
            )
        ),
    ).otherwise(spans)
    srt = F.array_sort(
        F.transform(
            guarded,
            lambda s: F.struct(
                s["offset"].alias("offset"),
                s["kind"].alias("kind"),
                s["text"].alias("text"),
            ),
        )
    )
    is_text = lambda s: s["kind"] == text_kind  # noqa: E731
    rendered = F.transform(
        srt,
        lambda s: F.when(
            is_text(s), F.trim(F.coalesce(s["text"], F.lit("")))
        ).otherwise(F.lit(media_token)),
    )
    # the ONE whitespace-token definition (text/analysis.token_count):
    # the X87+X42 training-export contract needs the packer's re-count
    # to equal linearize's n_tokens bit-for-bit
    from ..text.analysis import token_count

    costs = F.transform(
        srt,
        lambda s: F.when(
            is_text(s),
            token_count(F.coalesce(s["text"], F.lit(""))),
        )
        .otherwise(F.lit(media_cost))
        .cast("long"),
    )
    n_total = F.array_size(srt)
    if budget is None:
        kept = n_total
        cum = F.aggregate(
            costs, F.lit(0).cast("long"), lambda a, x: a + x
        )
    else:
        fold = F.aggregate(
            costs,
            F.struct(
                F.lit(0).cast("long").alias("cum"),
                F.lit(0).alias("kept"),
                F.lit(True).alias("open"),
            ),
            lambda a, x: F.struct(
                F.when(a["open"] & (a["cum"] + x <= budget), a["cum"] + x)
                .otherwise(a["cum"])
                .alias("cum"),
                F.when(
                    a["open"] & (a["cum"] + x <= budget), a["kept"] + 1
                )
                .otherwise(a["kept"])
                .alias("kept"),
                (a["open"] & (a["cum"] + x <= budget)).alias("open"),
            ),
        )
        kept = fold["kept"]
        cum = fold["cum"]
    kept_spans = F.slice(srt, 1, kept)
    return docs.select(
        F.col(id_col),
        F.array_join(F.slice(rendered, 1, kept), " ").alias("text"),
        cum.alias("n_tokens"),
        kept.cast("long").alias("n_spans_kept"),
        n_total.cast("long").alias("n_spans_total"),
        # NULL-safe media predicate: a NULL kind takes the media branch
        # in rendering/costing (F.when otherwise), so it must count as
        # media here too — ~is_text(s) alone is NULL for NULL kind and
        # F.filter would silently drop the span from the count
        F.array_size(
            F.filter(
                kept_spans,
                lambda s: ~F.coalesce(is_text(s), F.lit(False)),
            )
        ).cast("long").alias("n_media_kept"),
        (kept < n_total).alias("truncated"),
    )


def linearize_sql(
    spans_expr: str,
    docs_expr: str,
    id_col: str = "doc_id",
    text_kind: str = "text",
    media_token: str = "<|image|>",
    media_cost: int = 1,
    budget: int | None = None,
) -> str:
    """DuckDB twin of :func:`linearize_docs`. ``spans_expr`` is a
    relation of EXPLODED spans (doc_id, kind, text, offset);
    ``docs_expr`` is the doc spine (distinct ``id_col``) so documents
    whose every span is truncated away (or that have zero spans)
    still emit their row, exactly as the array form does."""
    tok = (
        "CASE WHEN trim(coalesce(text,'')) = '' THEN 0 "
        "ELSE length(regexp_split_to_array(trim(coalesce(text,'')), '\\s+')) END"
    )
    budget_pred = "TRUE" if budget is None else f"cumsum <= {budget}"
    return f"""
      SELECT d.{id_col},
             COALESCE(k.text, '') AS text,
             COALESCE(k.n_tokens, 0) AS n_tokens,
             COALESCE(k.n_spans_kept, 0) AS n_spans_kept,
             COALESCE(t.n_spans_total, 0) AS n_spans_total,
             COALESCE(k.n_media_kept, 0) AS n_media_kept,
             COALESCE(k.n_spans_kept, 0) < COALESCE(t.n_spans_total, 0)
               AS truncated
      FROM (SELECT DISTINCT {id_col} FROM {docs_expr}) d
      LEFT JOIN (
        SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_spans_total
        FROM {spans_expr} GROUP BY {id_col}
      ) t ON d.{id_col} = t.{id_col}
      LEFT JOIN (
        SELECT {id_col},
               string_agg(piece, ' ' ORDER BY "offset") AS text,
               CAST(MAX(cumsum) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_spans_kept,
               CAST(SUM(is_media) AS BIGINT) AS n_media_kept
        FROM (
          SELECT {id_col}, "offset",
                 CASE WHEN kind = '{text_kind}'
                      THEN trim(coalesce(text, ''))
                      ELSE '{media_token}' END AS piece,
                 CASE WHEN kind = '{text_kind}' THEN 0 ELSE 1 END AS is_media,
                 SUM(CASE WHEN kind = '{text_kind}' THEN {tok}
                          ELSE {media_cost} END)
                   OVER (PARTITION BY {id_col} ORDER BY "offset"
                         ROWS UNBOUNDED PRECEDING) AS cumsum
          FROM {spans_expr}
        ) c
        WHERE {budget_pred}
        GROUP BY {id_col}
      ) k ON d.{id_col} = k.{id_col}
    """
