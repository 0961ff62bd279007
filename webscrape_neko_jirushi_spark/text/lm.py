"""Distributed n-gram language-model training + perplexity scoring —
the CCNet quality-bucketing step (Wenzek et al. 2019, "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data"):
score every document by LM perplexity, then split each language into
head/middle/tail quality buckets. The reference has no text analytics;
first-class per the build brief, alongside ``analysis.quality_score``
and the Gopher rules in ``repetition``.

Model: bigram LM with add-k smoothing over the training corpus's own
vocabulary —

    P(w2 | w1) = (c(w1, w2) + k) / (c(w1) + k * V)

with a ``<s>`` BOS context per document, so every token contributes
exactly one bigram and the per-document negative log-likelihood is an
average over ``n_tokens`` terms. CCNet itself uses a pretrained KenLM
5-gram; the *pipeline* shape (train counts once, score the corpus,
bucket per language) is what matters at 100 TB and is identical here,
and add-k bigram keeps every probability exactly reproducible in the
DuckDB oracle (Kneser-Ney's recursive backoff is not a two-join SQL
expression).

Scale shape — training is two hash aggregates, not three jobs:

- bigram counts: ONE map-side explode (stride-1 pairs built inside an
  array ``transform`` — no self-join) + ONE ``groupBy(w1, w2)``;
- context counts c(w1) are a RE-AGGREGATE of the bigram-count table
  (``sum(c12) group by w1``) — the corpus is never scanned or
  shuffled a second time, only the (vocab-sized) model table is;
- V is ``count(distinct w2)`` over the same model table.

Scoring joins the corpus's bigram stream against the model twice
(``(w1,w2)`` for c12, ``w1`` for c1). The model is a dimension table:
below ``broadcast_vocab_threshold`` distinct contexts both joins are
broadcast (zero corpus shuffle — the plan a 100 TB scoring pass
needs); above it they fall back to shuffle equi-joins, where the hot
contexts ("the", BOS) are exactly the AQE-skew-join case.
``lm_perplexity`` localCheckpoints the model table FIRST and
derives c1 / V from it — the ``connected_components`` edge-list-first
discipline, so the training aggregation never executes once per
consumer.

Bucketing (``ccnet_bucket_stats``) uses an exact per-language
``ntile`` at test scale; at corpus scale CCNet derives the two
perplexity thresholds from a SAMPLE and classifies map-side — pair
``curation.hash_stratified_sample`` with ``percentile_approx`` for
that path (documented, not duplicated here: the exact form is the
one the oracle can replay).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BOS = "<s>"

#: above this many distinct contexts the scoring joins stop
#: broadcasting the model (w1 strings + counts at 500k contexts is
#: tens of MB — past that, executor memory is better spent on the
#: scan; the shuffle join + AQE skew handling takes over).
BROADCAST_VOCAB_THRESHOLD = 500_000


def word_tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text; NULL/blank -> empty array.
    Same trim+``\\s+``-split surface as ``repetition`` (fuzz-tested
    cross-engine in tests/test_fuzz_scalar.py)."""
    trimmed = F.trim(text)
    return F.when(
        text.isNull() | (trimmed == ""), F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))


def _bigram_stream(
    documents: DataFrame,
    text_col: str,
    id_col: str,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per (doc, bigram): map-side explode of stride-1 pairs
    over ``[<s>] ++ tokens`` — token-less docs are filtered (they have
    no bigrams and no perplexity), never fed to ``sequence`` (a
    0-length ``sequence(1, 0)`` would DESCEND in Spark).

    The token array is PROJECTED to a column (``_ws``) before the
    pair lambda references it (r6, guide §1.2 step 2): with the array
    inline, every ``element_at`` inside the ``transform`` lambda
    re-evaluates the whole ``concat+split`` PER ELEMENT (interpreted
    HOF evaluation has no common-subexpression cache), and
    ``InferFiltersFromGenerate`` additionally clones the entire pair
    expression into a pre-Generate filter — the corpus was being
    re-split O(tokens) times per row, twice. Through an attribute the
    lambda body is an O(1) array access. Measured on the sf0.1 corpus:
    this stream 14.8 s -> 0.6 s, identical rows."""
    toks = word_tokens(F.col(text_col))
    ws_expr = F.concat(F.array(F.lit(BOS)), toks)
    base = documents.filter(F.size(toks) > 0).select(
        F.col(id_col), *[F.col(c) for c in carry_cols], ws_expr.alias("_ws")
    )
    ws = F.col("_ws")
    # total expression: guarded so it never indexes past ws even if
    # Catalyst's subexpression elimination evaluates it on a filtered
    # (token-less) row — sequence(1, 0) DESCENDS, it is not empty
    pairs = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("w1"),
                F.element_at(ws, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return base.select(
        id_col, *carry_cols, F.explode(pairs).alias("p")
    ).select(id_col, *carry_cols, "p.w1", "p.w2")


def train_bigram_lm(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram count table ``(w1, w2, c12)`` — the trained model.
    One corpus scan, one shuffle (the ``groupBy(w1, w2)``)."""
    return (
        _bigram_stream(documents, text_col, id_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )


def context_counts(lm: DataFrame) -> DataFrame:
    """``(w1, c1)`` — re-aggregate of the MODEL table (vocab-sized),
    never a second corpus pass: c(w1) = sum_w2 c(w1, w2)."""
    return lm.groupBy("w1").agg(F.sum("c12").alias("c1"))


def lm_vocab_size(lm: DataFrame) -> int:
    """V = distinct next-words in the model (BOS is never a w2)."""
    return lm.select(F.countDistinct("w2")).first()[0]


def perplexity(
    documents: DataFrame,
    lm: DataFrame,
    add_k: float = 0.5,
    vocab_size: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document LM score: ``(id, *carry, n_tokens, nll, ppl)``
    where ``nll = round(avg(-ln P), 6)`` and ``ppl = round(exp(nll_raw),
    4)``. Unseen bigrams/contexts score through the same smoothed
    formula (c -> 0), so cross-corpus scoring needs no OOV table.

    ``vocab_size`` is the lazy-hint discipline (``ngram_jaccard``'s
    ``n_docs``): pass it and construction runs ZERO jobs; omit it and
    V is probed from the model (one small-table count).
    The one join rule: at ``V <= BROADCAST_VOCAB_THRESHOLD`` both
    model joins carry a broadcast hint (no corpus shuffle on the
    scoring side); above it there is no hint and Catalyst/AQE choose,
    so a vocabulary bigger than executor memory is never pinned
    broadcast."""
    if add_k <= 0:
        raise ValueError(f"perplexity: add_k must be > 0, got {add_k}")
    v = int(vocab_size) if vocab_size is not None else lm_vocab_size(lm)
    ctx = context_counts(lm)
    if v <= BROADCAST_VOCAB_THRESHOLD:
        lm, ctx = F.broadcast(lm), F.broadcast(ctx)

    big = _bigram_stream(documents, text_col, id_col, carry_cols)
    # double arithmetic ordered exactly as the DuckDB twin:
    # (c12 + k) / (c1 + k*V) with k*V one IEEE multiply
    kv = float(add_k) * float(v)
    p = (
        F.coalesce(F.col("c12"), F.lit(0)).cast("double") + F.lit(float(add_k))
    ) / (F.coalesce(F.col("c1"), F.lit(0)).cast("double") + F.lit(kv))
    scored = (
        big.join(lm, ["w1", "w2"], "left")
        .join(ctx, ["w1"], "left")
        .groupBy(id_col, *carry_cols)
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(-F.log(p)).alias("nll_raw"),
        )
    )
    return scored.select(
        id_col,
        *carry_cols,
        "n_tokens",
        F.round("nll_raw", 6).alias("nll"),
        F.round(F.exp("nll_raw"), 4).alias("ppl"),
    )


def lm_perplexity(
    train_docs: DataFrame,
    score_docs: DataFrame | None = None,
    add_k: float = 0.5,
    vocab_size: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Train on ``train_docs``, score ``score_docs`` (default: the
    training corpus itself — the CCNet self-scoring pass).

    The model is always localCheckpointed FIRST (one eager job at
    construction) so the training aggregation executes once across its
    three consumers (c12 join, c1 re-agg, V probe) — the
    edge-list-first discipline; lazily each consumer recomputes the
    training subtree. The checkpoint is executor-local storage that
    spills to disk; whether the model is then broadcast is decided by
    ``perplexity``'s vocabulary-size gate, not here."""
    lm = train_bigram_lm(train_docs, text_col, id_col).localCheckpoint(eager=True)
    return perplexity(
        score_docs if score_docs is not None else train_docs,
        lm,
        add_k=add_k,
        vocab_size=vocab_size,
        text_col=text_col,
        id_col=id_col,
        carry_cols=carry_cols,
    )


def ccnet_bucket_stats(
    scored: DataFrame,
    by: str = "lang",
    n_buckets: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet head/middle/tail split: per ``by`` group, ntile the
    documents by (nll, id) — deterministic total order — and report
    ``(by, bucket, n_docs, avg_nll, min_nll, max_nll)``. Exact form
    (one sort per group — parallel across groups, bounded by group
    size); at corpus scale use sampled thresholds instead (module
    docstring)."""
    labels = {1: "head", 2: "middle", 3: "tail"}
    w = Window.partitionBy(by).orderBy(F.col("nll").asc(), F.col(id_col).asc())
    nt = F.ntile(n_buckets).over(w)
    bucket = nt if n_buckets != 3 else (
        F.when(nt == 1, labels[1]).when(nt == 2, labels[2]).otherwise(labels[3])
    )
    return (
        scored.select(by, id_col, "nll", bucket.alias("bucket"))
        .groupBy(by, "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
            F.round(F.min("nll"), 6).alias("min_nll"),
            F.round(F.max("nll"), 6).alias("max_nll"),
        )
    )


def lm_ctes_sql(
    add_k: float = 0.5, table: str = "documents"
) -> str:
    """DuckDB CTE block ending in ``scored(doc_id, lang, n_tokens,
    nll, ppl)`` — the oracle twin of ``lm_perplexity(documents,
    carry_cols=('lang',))``. Shared verbatim by the driver oracle and
    the differential tests (the ``_SIMHASH_SQL`` pattern)."""
    k = f"CAST({add_k} AS DOUBLE)"
    return f"""
    lmdocs AS (
      SELECT doc_id, lang,
             ['{BOS}'] || regexp_split_to_array(trim(text), '\\s+') AS ws
      FROM {table}
      WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    big AS (
      SELECT doc_id, lang, ws[i] AS w1, ws[i + 1] AS w2
      FROM lmdocs, UNNEST(range(1, len(ws))) AS t(i)
    ),
    lm AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM lm GROUP BY w1),
    voc AS (SELECT COUNT(DISTINCT w2) AS v FROM lm),
    nlls AS (
      SELECT b.doc_id, b.lang, COUNT(*) AS n_tokens,
             AVG(-LN((CAST(COALESCE(l.c12, 0) AS DOUBLE) + {k})
                   / (CAST(COALESCE(c.c1, 0) AS DOUBLE)
                      + {k} * CAST(voc.v AS DOUBLE)))) AS nll_raw
      FROM big b
      LEFT JOIN lm l ON l.w1 = b.w1 AND l.w2 = b.w2
      LEFT JOIN ctx c ON c.w1 = b.w1
      CROSS JOIN voc
      GROUP BY b.doc_id, b.lang
    ),
    scored AS (
      SELECT doc_id, lang, n_tokens,
             ROUND(nll_raw, 6) AS nll, ROUND(EXP(nll_raw), 4) AS ppl
      FROM nlls
    )"""
