"""Repetition-based quality rules (the Gopher family — Rae et al.
2021, "Scaling Language Models", Table A1): documents dominated by a
repeated word or n-gram are boilerplate/spam and leave the training
set. The reference has no text analytics; first-class per the build
brief, alongside ``analysis.quality_score``.

Implemented rules (the no-newline subset — this corpus has no line
structure, so the duplicate-line/paragraph rules have no domain here
and are deliberately out of scope):

- ``dup_word_fraction``: fraction of words that are repeats of an
  earlier word (``1 - distinct/total``) — pure Column HOF, map-side.
- top n-gram character fraction for n in a configurable set: the
  characters covered by the single most frequent n-gram divided by
  the document's characters (count x gram length / doc length).

Scale shape of ``repetition_stats``: all requested n share ONE
explode and ONE aggregation pass — the fan-out row is
``(doc, n, gram_hash, gram_len)``, i.e. the gram is hashed BEFORE the
shuffle (the ``substrings.kgram_spans`` discipline: ~16 bytes of
payload, never gram text; at 100 TB the shuffle is the job). The
per-document winner is ``max(struct(count, len, hash))`` inside the
same hash aggregate — no window, no second shuffle — with the
deterministic tie-break (count, then gram length, then hash) baked
into the struct ordering so any engine reproduces it. One final
equi-join puts the winners back on the per-document base row.

Differentially tested against a DuckDB twin and driver-oracle-gated;
thresholds live in ``gopher_repetition_filter`` (first-match-wins
reject reason, the ``training_filter`` convention).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from .analysis import token_count


def dup_word_fraction(text: Column) -> Column:
    """Fraction of words that repeat an earlier occurrence:
    ``1 - distinct_words / words`` (0.0 for empty text)."""
    trimmed = F.trim(text)
    words = F.split(trimmed, r"\s+")
    return F.when(trimmed == "", 0.0).otherwise(
        1.0 - F.size(F.array_distinct(words)) / F.size(words)
    )


def repetition_stats(
    documents: DataFrame,
    ngrams: tuple[int, ...] = (2, 3, 4),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per document: ``n_words``, ``n_chars``,
    ``dup_word_frac``, and ``top{n}gram_frac`` for each requested n —
    the top-gram char fraction is 0.0 when the document has no n-gram
    of that size (shorter than n words, or empty).

    The plan scans ``documents`` twice (base metrics + gram spans,
    equi-joined at the end — scans are cheap columnar reads of the same
    file). A single-scan variant that carried the three base metrics
    through the gram explode and recovered them with ``first()`` was
    measured and deleted: it doubles the shuffle payload per gram row,
    and the explode fan-out is the dominant row count. Warm
    alternating medians of 3 at local[32], two-scan vs single-scan:
    4.6 s vs 6.2 s at the sf0.1 shape (7.5k docs), 72.4 s vs 136.1 s
    at the 100x corpus (600k docs) — the single scan lost by ~1.9x and
    the gap grew with size."""
    if not ngrams or any(n < 1 for n in ngrams):
        raise ValueError(f"repetition_stats: bad ngrams {ngrams}")
    t = F.col(text_col)
    trimmed = F.trim(t)
    words = F.split(trimmed, r"\s+")
    nw = token_count(t)

    base = documents.select(
        F.col(id_col),
        nw.alias("n_words"),
        F.length(t).alias("n_chars"),
        F.round(dup_word_fraction(t), 6).alias("dup_word_frac"),
    )

    # r6: the words array (and the trimmed text it derives from) is
    # PROJECTED before any gram lambda references it — with the split
    # inline, every per-element F.slice re-derived the whole words
    # array (interpreted HOFs have no common-subexpression cache), and
    # each gram string was built twice (hash + length). Two stages:
    # per-n gram STRING arrays over the `_w` attribute, then
    # (n, hash, len) structs over the bound gram string — every lambda
    # body now touches only attributes and lambda variables. Identical
    # spans (parity-gated); measured r6: 13 s -> ~2 s at sf0.1.
    ns = sorted(set(ngrams))
    w, tcol = F.col("_w"), F.col("_t")

    def gram_strings(n: int):
        starts = F.when(
            (tcol != "") & (F.size(w) >= n),
            F.sequence(F.lit(0), F.size(w) - F.lit(n)),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(starts, lambda s: F.concat_ws(" ", F.slice(w, s + 1, n)))

    def _gram_struct(n: int):
        # factory, NOT a defaulted two-arg lambda: PySpark dispatches
        # HOF lambdas on arity, and a second (defaulted) parameter
        # silently selects the (element, index) form
        def body(g):
            return F.struct(
                F.lit(n).alias("n"),
                portable_hash64(g).alias("gh"),
                F.length(g).alias("gl"),
            )

        return body

    all_grams = F.concat(
        *[F.transform(F.col(f"_g{n}"), _gram_struct(n)) for n in ns]
    )
    spans = (
        documents.select(
            F.col(id_col), trimmed.alias("_t"), words.alias("_w")
        )
        .select(
            F.col(id_col),
            *[gram_strings(n).alias(f"_g{n}") for n in ns],
        )
        .select(F.col(id_col), F.explode(all_grams).alias("g"))
        .select(id_col, "g.n", "g.gh", "g.gl")
    )
    counted = spans.groupBy(id_col, "n", "gh", "gl").agg(
        F.count("*").alias("cnt")
    )
    # per (doc, n) winner: lexicographic struct max = the
    # (count, gram length, hash) tie-break, inside one aggregate
    tops = counted.groupBy(id_col).agg(
        *[
            F.max(
                F.when(
                    F.col("n") == n,
                    F.struct(F.col("cnt"), F.col("gl"), F.col("gh")),
                )
            ).alias(f"_top{n}")
            for n in ns
        ]
    )
    out = base.join(tops, id_col, "left")
    for n in ns:
        top = F.col(f"_top{n}")
        out = out.withColumn(
            f"top{n}gram_frac",
            F.when(
                top.isNull() | (F.col("n_chars") == 0), F.lit(0.0)
            ).otherwise(
                F.round(
                    top["cnt"] * top["gl"] / F.col("n_chars").cast("double"),
                    6,
                )
            ),
        ).drop(f"_top{n}")
    return out


def gopher_repetition_filter(
    documents: DataFrame,
    max_dup_word_frac: float = 0.3,
    max_topgram_frac: dict[int, float] | None = None,
    min_words: int = 50,
    max_words: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admission cascade over ``repetition_stats`` — first-match-wins
    reject reason, NULL reason = keep (the ``training_filter``
    convention). Default n-gram thresholds follow Gopher Table A1
    (top-2-gram 0.20, top-3-gram 0.18, top-4-gram 0.16)."""
    if max_topgram_frac is None:
        max_topgram_frac = {2: 0.20, 3: 0.18, 4: 0.16}
    stats = repetition_stats(
        documents, tuple(sorted(max_topgram_frac)), text_col, id_col
    )
    # NULL text first (the training_filter convention, analysis.py):
    # NULL stats make every threshold predicate NULL under three-
    # valued logic, which would fall through to keep=True — absent
    # content is rejected a fortiori, never admitted by default
    reason = (
        F.when(F.col("n_words").isNull(), "null_text")
        .when(F.col("n_words") < min_words, "too_few_words")
        .when(F.col("n_words") > max_words, "too_many_words")
    )
    reason = reason.when(
        F.col("dup_word_frac") > float(max_dup_word_frac), "dup_words"
    )
    for n in sorted(max_topgram_frac):
        reason = reason.when(
            F.col(f"top{n}gram_frac") > float(max_topgram_frac[n]),
            f"top{n}gram",
        )
    return stats.withColumn("reason", reason).withColumn(
        "keep", reason.isNull()
    )
