"""Exact-substring duplication analysis — the span-level half of the
dedup story (Lee et al. 2021, "Deduplicating Training Data Makes
Language Models Better": document-level near-dup removal misses the
boilerplate/license/template SUBSTRINGS repeated verbatim across
otherwise-distinct documents, and those are the memorization-prone
spans). The paper's suffix array is a single-machine structure; the
distributed re-expression is the k-gram inversion every MapReduce
shingling pipeline uses:

- ``kgram_spans``: one row per k-token window per document (builtin
  HOFs — ``sequence``/``slice``/``posexplode``, map-side, the
  ``chunk_spans`` mechanics with stride 1), each window carried as
  its 60-bit portable hash, never as text (k tokens of payload shrink
  to 8 bytes before the shuffle — at 100 TB the shuffle IS the job).
- ``duplicated_kgram_spans``: the windows whose hash occurs in >=
  ``min_docs`` DISTINCT documents — one groupBy on the hash (partial
  aggregation map-side) + one equi-join back to the spans. Output is
  every (doc, position) where a cross-document duplicated run starts;
  a maximal duplicated run of length L >= k appears as L-k+1
  consecutive positions, so consumers can reconstruct span extents
  without any substring comparison.
- ``substr_dup_ratio`` / ``substr_dup_filter``: the per-document
  admission form — fraction of a doc's windows that are duplicated
  elsewhere; docs above the threshold are boilerplate-heavy and leave
  the training set (the ``training_filter`` convention: a reject
  reason, not a silent drop).

Hash collisions (60-bit) conflate unrelated windows at ~n^2/2^61 —
negligible below ~10^9 distinct windows and ALWAYS
over-approximating duplication (safe direction for a filter); the
paper's exact-match guarantee needs one verify pass on collided
buckets, which ``min_docs`` consumers can add per-bucket.

Differentially tested against a DuckDB twin and against planted
ground truth in ``tests/test_substrings.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64


def kgram_spans(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id_col, pos, gram_hash)`` — one row per k-token window,
    stride 1, hashed before the fan-out so no window text survives
    into the shuffle. Documents shorter than k tokens contribute no
    rows. Map-side only."""
    if k < 1:
        raise ValueError(f"kgram_spans: k={k} must be >= 1")
    # r6: words PROJECTED before the window lambda references them —
    # inline, every per-element F.slice re-derived the whole split
    # (interpreted HOFs have no common-subexpression cache) and
    # InferFiltersFromGenerate cloned the full transform into a
    # pre-Generate filter. Identical rows (same hash arithmetic).
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    base = documents.select(
        F.col(id_col), F.trim(F.col(text_col)).alias("_t"), words.alias("_w")
    )
    w = F.col("_w")
    n = F.size(w)
    starts = F.when(
        (F.col("_t") != "") & (n >= k),
        F.sequence(F.lit(0), n - F.lit(k)),
    ).otherwise(F.array().cast("array<int>"))
    hashes = F.transform(
        starts,
        lambda s: portable_hash64(F.concat_ws(" ", F.slice(w, s + 1, k))),
    )
    return base.select(
        F.col(id_col), F.posexplode(hashes).alias("pos", "gram_hash")
    )


def duplicated_kgram_spans(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Every ``(id_col, pos, gram_hash, n_docs)`` where the window's
    hash occurs in >= ``min_docs`` distinct documents — the start
    positions of cross-document duplicated runs. One hash-keyed
    aggregate + one equi-join back; both shuffle on ``gram_hash``
    (same key, so AQE/Catalyst reuse the partitioning where stats
    allow), nothing quadratic anywhere."""
    spans = kgram_spans(documents, k, text_col, id_col)
    dup = (
        spans.groupBy("gram_hash")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return spans.join(dup, "gram_hash").select(id_col, "pos", "gram_hash", "n_docs")


def substr_dup_ratio(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """One row per document: ``n_grams`` (k-token windows),
    ``n_dup_grams`` (windows duplicated in >= ``min_docs`` docs) and
    ``dup_ratio`` in [0, 1] (0.0 for docs shorter than k tokens —
    nothing to duplicate). The document-level rollup of
    ``duplicated_kgram_spans``."""
    spans = kgram_spans(documents, k, text_col, id_col)
    dup = (
        spans.groupBy("gram_hash")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    flagged = spans.join(dup.select("gram_hash"), "gram_hash", "left_semi")
    per_doc = spans.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    dup_per_doc = flagged.groupBy(id_col).agg(F.count("*").alias("n_dup_grams"))
    return (
        documents.select(id_col)
        .join(per_doc, id_col, "left")
        .join(dup_per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0)
            )
            .otherwise(
                F.coalesce("n_dup_grams", F.lit(0)).cast("double")
                / F.col("n_grams")
            )
            .alias("dup_ratio"),
        )
    )


def substr_dup_filter(
    documents: DataFrame,
    max_dup_ratio: float = 0.5,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Admission form: documents plus ``dup_ratio`` and a ``keep`` /
    ``reject_reason`` pair (the ``training_filter`` convention — a
    boilerplate-heavy doc leaves the set with a stated reason, never
    silently)."""
    ratios = substr_dup_ratio(documents, k, text_col, id_col, min_docs)
    return documents.join(
        ratios.select(id_col, "dup_ratio"), id_col
    ).select(
        "*",
        (F.col("dup_ratio") <= F.lit(float(max_dup_ratio))).alias("keep"),
        F.when(
            F.col("dup_ratio") > F.lit(float(max_dup_ratio)),
            F.format_string("substr_dup_ratio>%s", F.lit(str(max_dup_ratio))),
        ).alias("reject_reason"),
    )


def dup_span_intervals(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    keep: str = "first",
) -> DataFrame:
    """Maximal removed-token intervals per document — the interval
    form of the Lee-et-al. span dedup (the step their released tool
    calls "collect the duplicated byte ranges"): every k-token window
    whose hash occurs in >= ``min_docs`` DISTINCT documents marks its
    ``[pos, pos+k)`` token range for removal, EXCEPT (with
    ``keep='first'``) the canonical first occurrence of each window —
    ``min(struct(doc_id, pos))`` INSIDE the per-hash aggregate (the
    winner-in-aggregate idiom: hot grams combine map-side, no window
    over the exploded table). ``keep='none'`` removes every
    occurrence (the released ExactSubstr default: if it repeats, cut
    it everywhere).

    Overlapping/adjacent ranges merge per document by
    gaps-and-islands over the removed start positions — windows are
    equal-length, so positions sort ascending implies ends sort
    ascending and ``lag`` suffices for the running max: a new island
    starts when ``pos - lag(pos) > k``. The per-document window
    function partitions on ``id_col`` (document-sized partitions —
    bounded by construction). Output: ``(id_col, span_start,
    span_end)`` with ``span_end`` exclusive, in TOKEN coordinates of
    the whitespace-split stream ``kgram_spans`` hashes.

    Cross-document only by design: a gram repeated inside ONE
    document doesn't clear ``min_docs`` (intra-document repetition is
    ``text/repetition.py``'s jurisdiction — Gopher-style stats, not
    surgery). Within a duplicated gram, later occurrences in the
    canonical document itself DO get cut (same total order the SQL
    twin's ROW_NUMBER uses)."""
    if keep not in ("first", "none"):
        raise ValueError(
            f"dup_span_intervals: keep must be 'first' or 'none', got {keep!r}"
        )
    spans = kgram_spans(documents, k, text_col, id_col)
    stats = spans.groupBy("gram_hash").agg(
        F.countDistinct(id_col).alias("n_docs"),
        F.min(F.struct(id_col, "pos")).alias("_first"),
    )
    dup = stats.filter(F.col("n_docs") >= F.lit(int(min_docs))).select(
        "gram_hash",
        F.col(f"_first.{id_col}").alias("_first_doc"),
        F.col("_first.pos").alias("_first_pos"),
    )
    hit = spans.join(dup, "gram_hash")
    if keep == "first":
        removed = hit.filter(
            ~(
                (F.col(id_col) == F.col("_first_doc"))
                & (F.col("pos") == F.col("_first_pos"))
            )
        )
    else:
        removed = hit
    removed = removed.select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= F.lit(int(k)), F.lit(0)
    ).otherwise(F.lit(1))
    islands = removed.select(
        id_col,
        "pos",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_island"),
    )
    return islands.groupBy(id_col, "_island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(int(k))).alias("span_end"),
    ).select(id_col, "span_start", "span_end")


def remove_dup_substrings(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    keep: str = "first",
) -> DataFrame:
    """The surgery itself — Lee et al.'s ExactSubstr cut applied to
    the token stream: every document comes back with its duplicated
    runs excised and the survivors re-joined in original order,
    ``(id_col, text, n_tokens, n_tokens_removed, n_spans_removed)``.
    Every input document survives (a fully-duplicated doc returns
    ``text=''`` — the admission cascade downstream decides its fate,
    the ``line_dedup`` convention).

    Contract: this operator works in TOKEN space — the output re-joins
    surviving whitespace-split tokens with single spaces, so interior
    whitespace normalizes (exactly as the paper's pipeline operates
    post-tokenization; byte-preserving removal would need the line
    form, ``line_dedup``). Removal is map-side after one
    intervals-per-doc equi-join: the kept-token filter is a nested
    higher-order ``F.filter`` with the element INDEX tested against
    the collected interval array (intervals per doc are few by
    construction — merged maximal runs), zero Python, zero extra
    shuffles beyond ``dup_span_intervals``'s aggregates."""
    ivs = dup_span_intervals(
        documents, k, text_col, id_col, min_docs, keep
    ).groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_ivs")
    )
    joined = documents.select(id_col, text_col).join(ivs, id_col, "left")
    toks = F.when(
        F.trim(F.col(text_col)) != "",
        F.split(F.trim(F.col(text_col)), r"\s+"),
    ).otherwise(F.array().cast("array<string>"))
    ivsc = F.coalesce(
        F.col("_ivs"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    # r6: token array, interval array and the kept-filter output are
    # PROJECTED before being referenced multiple times — inline, the
    # nested filter/exists ran once per reference (concat_ws + size)
    # and the split once per reference (interpreted HOF evaluation has
    # no common-subexpression cache). Identical output columns.
    staged = joined.select(
        F.col(id_col), toks.alias("_toks"), ivsc.alias("_ivsc")
    )
    kept = F.filter(
        F.col("_toks"),
        lambda x, i: ~F.exists(
            F.col("_ivsc"),
            lambda iv: (i >= iv["span_start"]) & (i < iv["span_end"]),
        ),
    )
    return staged.select(
        F.col(id_col), F.col("_toks"), F.col("_ivsc"), kept.alias("_kept")
    ).select(
        F.col(id_col),
        F.concat_ws(" ", F.col("_kept")).alias(text_col),
        F.size("_toks").alias("n_tokens"),
        (F.size("_toks") - F.size("_kept")).alias("n_tokens_removed"),
        F.size("_ivsc").alias("n_spans_removed"),
    )


def remove_dup_substrings_sql_ctes(
    docs_sql: str,
    k: int = 8,
    min_docs: int = 2,
    keep: str = "first",
) -> str:
    """DuckDB twin over a relation ``(doc_id, text)`` — ends in CTE
    ``es_docs_out`` with the ``remove_dup_substrings`` schema. The
    winner is a ROW_NUMBER over (doc_id, pos) — the twin of the
    struct-min; islands use the identical ``pos - lag(pos) <= k``
    merge rule; reassembly is ``string_agg(tok, ' ' ORDER BY pos)``
    over a NOT-EXISTS interval anti-filter."""
    if keep not in ("first", "none"):
        raise ValueError(f"remove_dup_substrings_sql_ctes: bad keep {keep!r}")
    from ..functions.hashing import portable_hash64_sql

    gh = portable_hash64_sql(f"array_to_string(w[i : i + {int(k) - 1}], ' ')")
    rm = (
        "NOT (s.doc_id = d._first_doc AND s.pos = d._first_pos)"
        if keep == "first"
        else "TRUE"
    )
    return f"""
    es_words AS (
      SELECT doc_id, trim(text) AS tt,
             regexp_split_to_array(trim(text), '\\s+') AS w
      FROM ({docs_sql}) es_in
    ),
    es_spans AS (
      SELECT doc_id, u.i - 1 AS pos, u.gh AS gram_hash
      FROM es_words,
      UNNEST(CASE WHEN tt != '' AND len(w) >= {int(k)}
                  THEN list_transform(range(1, len(w) - {int(k)} + 2),
                                      i -> struct_pack(i := i, gh := {gh}))
                  ELSE [] END) AS s(u)
    ),
    es_keyed AS (
      SELECT doc_id, pos, gram_hash,
             ROW_NUMBER() OVER (PARTITION BY gram_hash
                                ORDER BY doc_id, pos) AS rn
      FROM es_spans
    ),
    es_dup AS (
      SELECT gram_hash,
             MIN(doc_id) FILTER (WHERE rn = 1) AS _first_doc,
             MIN(pos) FILTER (WHERE rn = 1) AS _first_pos
      FROM es_keyed
      GROUP BY gram_hash HAVING COUNT(DISTINCT doc_id) >= {int(min_docs)}
    ),
    es_removed AS (
      SELECT s.doc_id, s.pos
      FROM es_spans s JOIN es_dup d USING (gram_hash)
      WHERE {rm}
    ),
    es_brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {int(k)} THEN 0 ELSE 1 END AS brk
      FROM es_removed
    ),
    es_islands AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM es_brk
    ),
    es_ivs AS (
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {int(k)} AS span_end
      FROM es_islands GROUP BY doc_id, island
    ),
    es_toks AS (
      SELECT doc_id, u.i - 1 AS pos, u.t AS tok
      FROM es_words,
      UNNEST(CASE WHEN tt != ''
                  THEN list_transform(range(1, len(w) + 1),
                                      i -> struct_pack(i := i, t := w[i]))
                  ELSE [] END) AS s(u)
    ),
    es_kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM es_toks t
      WHERE NOT EXISTS (
        SELECT 1 FROM es_ivs v
        WHERE v.doc_id = t.doc_id
          AND t.pos >= v.span_start AND t.pos < v.span_end
      )
    ),
    es_kept_agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
             COUNT(*) AS n_kept
      FROM es_kept GROUP BY doc_id
    ),
    es_ivs_agg AS (
      SELECT doc_id, COUNT(*) AS n_spans FROM es_ivs GROUP BY doc_id
    ),
    es_docs_out AS (
      SELECT w.doc_id, COALESCE(a.text, '') AS text,
             CAST(CASE WHEN w.tt = '' THEN 0 ELSE len(w.w) END AS BIGINT)
               AS n_tokens,
             CAST(CASE WHEN w.tt = '' THEN 0 ELSE len(w.w) END
                  - COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_removed,
             CAST(COALESCE(v.n_spans, 0) AS BIGINT) AS n_spans_removed
      FROM es_words w
      LEFT JOIN es_kept_agg a USING (doc_id)
      LEFT JOIN es_ivs_agg v USING (doc_id)
    )"""


def contamination_stats(
    documents: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination — the eval-set twin of
    ``substr_dup_ratio``: per training document, how many of its
    k-token windows appear ANYWHERE in the benchmark corpus
    (``n_grams``, ``n_contaminated``, ``contamination_frac``). A doc
    quoting an eval question verbatim lights up with a run of
    contaminated windows; the standard pre-training hygiene check
    (the GPT-3 appendix-C / Lee et al. procedure, distributed as the
    same k-gram inversion both dedup ops use).

    The benchmark side reduces to DISTINCT gram hashes and is
    ``broadcast`` — eval sets are thousands of documents, so the right
    plan is a map-side semi-join against the corpus scan (no shuffle
    of the 100-TB side). 60-bit collisions only
    ever OVER-count contamination — the safe direction for a
    hygiene filter."""
    spans = kgram_spans(documents, k, text_col, id_col)
    bench = kgram_spans(benchmark, k, text_col, id_col).select(
        "gram_hash"
    ).distinct()
    hits = spans.join(F.broadcast(bench), "gram_hash", "left_semi")
    per_doc = spans.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    hit_per_doc = hits.groupBy(id_col).agg(
        F.count("*").alias("n_contaminated")
    )
    return (
        documents.select(id_col)
        .join(per_doc, id_col, "left")
        .join(hit_per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_grams")
            )
            .alias("contamination_frac"),
        )
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    max_frac: float = 0.0,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admission form of ``contamination_stats`` (the
    ``training_filter`` convention): any doc whose contamination
    fraction EXCEEDS ``max_frac`` leaves the set with a stated
    reason. The strict default 0.0 removes a doc for a single shared
    window — the usual eval-hygiene posture."""
    stats = contamination_stats(documents, benchmark, k, text_col, id_col)
    return documents.join(
        stats.select(id_col, "contamination_frac"), id_col
    ).select(
        "*",
        (F.col("contamination_frac") <= F.lit(float(max_frac))).alias("keep"),
        F.when(
            F.col("contamination_frac") > F.lit(float(max_frac)),
            F.format_string("contamination>%s", F.lit(str(max_frac))),
        ).alias("reject_reason"),
    )
