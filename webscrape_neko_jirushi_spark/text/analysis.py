"""Text analysis over the ``documents`` table: language-ID, quality
scoring, token counting, fingerprinting.

The reference has no text analytics beyond key:value parsing; these are
the training-data-pipeline operators a 100 TB corpus needs, built as
pure Column expressions (JVM-side, whole-stage codegen — no Python in
the hot path). Every operator has an exact DuckDB-SQL twin in
``__spark_entry__.oracle_sql`` so results are cross-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "are",
]


def token_count(text: Column) -> Column:
    """Whitespace tokenization count (empty string -> 0)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", 0).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: word chars split into runs of <=4 chars
    plus punctuation tokens — a deterministic BPE stand-in for sizing."""
    # count = sum over regex token matches of ceil(len/4) for words, 1 for punct
    words = F.split(F.trim(text), r"\s+")
    per_word = F.transform(
        words, lambda w: F.ceil(F.length(F.regexp_replace(w, r"[^\w]", "")) / 4.0)
        + F.length(F.regexp_replace(w, r"[\w\s]", ""))
    )
    return F.aggregate(per_word, F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint"))


def non_ascii_ratio(text: Column) -> Column:
    """Fraction of characters outside ASCII — the language-ID signal for
    an en/ja corpus (README.md:184 shows non-ASCII names)."""
    n = F.length(text)
    ascii_only = F.length(F.regexp_replace(text, r"[^\x00-\x7F]", ""))
    return F.when(n == 0, 0.0).otherwise((n - ascii_only) / n)


def lang_id(text: Column, threshold: float = 0.3) -> Column:
    """'ja' when the non-ASCII ratio exceeds the threshold, else 'en'."""
    return F.when(non_ascii_ratio(text) > threshold, "ja").otherwise("en")


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[.,!?;:]", ""))
    return F.when(n == 0, 0.0).otherwise(punct / n)


def stopword_ratio(text: Column) -> Column:
    words = F.split(F.lower(F.trim(text)), r"\s+")
    stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    return F.when(F.size(words) == 0, 0.0).otherwise(stop / F.size(words))


def quality_score(text: Column) -> Column:
    """0-4 indicator sum (the shape of cleanup_dataset.py:75-129's
    cat-indicator scoring, applied to text): length in [50, 5000],
    mean word length in [2, 12], punct ratio < 0.1, stopword ratio in
    [0.05, 0.6]. NULL text scores NULL (unknown, not 0 — a missing
    document is not a four-way-failing one); SQL twins must carry an
    explicit ``CASE WHEN text IS NULL THEN NULL`` guard because a
    CASE-per-indicator form silently maps NULL to 0 instead
    (fuzz-tested in test_fuzz_scalar.py)."""
    n = F.length(text)
    tokens = token_count(text)
    mean_wl = F.when(tokens > 0, n / tokens).otherwise(F.lit(0.0))
    i1 = (n >= 50) & (n <= 5000)
    i2 = (mean_wl >= 2) & (mean_wl <= 12)
    i3 = punct_ratio(text) < 0.1
    i4 = (stopword_ratio(text) >= 0.05) & (stopword_ratio(text) <= 0.6)
    return i1.cast("int") + i2.cast("int") + i3.cast("int") + i4.cast("int")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: 60-bit portable hash of the normalized text
    (lowercase, whitespace collapsed) — exact-dup identity."""
    normalized = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return portable_hash64(normalized)


def training_filter(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-set admission cascade (the text twin of the image
    cleaning cascades P18/P20): first-match-wins reject reason, NULL
    reason = keep. Pure Column logic — identical shape to
    cleaning.advanced_cascade so rejects stay queryable as data."""
    t = F.col(text_col)
    n = F.length(t)
    tokens = token_count(t)
    mean_wl = F.when(tokens > 0, n / tokens).otherwise(F.lit(0.0))
    reason = (
        # NULL text must not slip through NULL-propagating predicates:
        # absent content is rejected a fortiori
        F.when(t.isNull() | (n < 50), "too_short")
        .when(n > 5000, "too_long")
        .when((mean_wl < 2) | (mean_wl > 12), "word_length")
        .when(punct_ratio(t) >= 0.1, "punctuation")
        .when(
            (stopword_ratio(t) < 0.05) | (stopword_ratio(t) > 0.6), "stopwords"
        )
    )
    return documents.withColumn("reason", reason).withColumn(
        "keep", reason.isNull()
    )


def chunk_spans(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard pre-training sharding step. Builtin HOFs only: chunk
    starts are a ``sequence`` with stride (chunk_tokens - overlap),
    each chunk a ``slice`` of the word array; ``posexplode`` fans out
    to one row per chunk. Map-side (no shuffle) — at 100 TB this runs
    inside the scan stage."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    starts = F.when(
        (n > 0) & (F.trim(F.col(text_col)) != ""),
        # a start s > 0 only contributes tokens beyond the previous
        # chunk when s + overlap < n; otherwise its content is fully
        # contained in the previous window (redundant training text)
        F.filter(
            F.sequence(F.lit(0), n - 1, F.lit(step)),
            lambda s: (s == 0) | (s + overlap < n),
        ),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(words, s + 1, chunk_tokens))
    )
    return documents.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    ).withColumn(
        "n_chunk_tokens", F.size(F.split(F.col("chunk_text"), r"\s+"))
    )


def wilson_lower_bound(k: Column, n: Column, z: float = 1.96) -> Column:
    """Wilson score interval lower bound for a binomial proportion —
    the small-sample-safe quality rate (a 3/4 domain doesn't outrank
    a 740/1000 one). Written as ONE expression tree; SQL twins must
    mirror the literal parenthesization so IEEE doubles agree:
    ``(p + z²/2n − z·sqrt((p(1−p) + z²/4n)/n)) / (1 + z²/n)``."""
    z2 = float(z) * float(z)
    nd = n.cast("double")
    p = k.cast("double") / nd
    return (
        p
        + F.lit(z2) / (F.lit(2.0) * nd)
        - F.lit(float(z))
        * F.sqrt((p * (F.lit(1.0) - p) + F.lit(z2) / (F.lit(4.0) * nd)) / nd)
    ) / (F.lit(1.0) + F.lit(z2) / nd)


def domain_quality_rollup(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    z: float = 1.96,
    min_lb: float = 0.5,
) -> DataFrame:
    """Per-domain admission quality for RefinedWeb/C4-style DOMAIN
    filtering: run the admission cascade (``training_filter``) per
    doc, then per domain report ``n_docs``, ``n_kept``,
    ``admit_rate``, and the Wilson LOWER bound of that rate —
    ``keep_domain`` gates on the lower bound so a domain only passes
    when the evidence (not the point estimate) supports it; small
    domains with lucky samples stay out. One map-side cascade + ONE
    per-domain hash aggregate (partial/final — a mega-domain combines
    map-side); the rollup output is domain-sized, tiny."""
    kept = training_filter(documents, text_col=text_col)
    agg = kept.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    )
    lb = wilson_lower_bound(F.col("n_kept"), F.col("n_docs"), z)
    return agg.select(
        group_col,
        "n_docs",
        "n_kept",
        (
            F.col("n_kept").cast("double") / F.col("n_docs").cast("double")
        ).alias("admit_rate"),
        lb.alias("wilson_lb"),
        (lb >= F.lit(float(min_lb))).alias("keep_domain"),
    )


def wilson_lb_sql(k: str, n: str, z: float = 1.96) -> str:
    """DuckDB twin of ``wilson_lower_bound`` — the literally identical
    expression tree over SQL fragments ``k`` and ``n``."""
    z2 = repr(float(z) * float(z))
    zs = repr(float(z))
    p = f"(CAST({k} AS DOUBLE) / CAST({n} AS DOUBLE))"
    nd = f"CAST({n} AS DOUBLE)"
    return (
        f"(({p} + {z2} / (2.0 * {nd}) - {zs} * sqrt(({p} * (1.0 - {p}) "
        f"+ {z2} / (4.0 * {nd})) / {nd})) / (1.0 + {z2} / {nd}))"
    )
