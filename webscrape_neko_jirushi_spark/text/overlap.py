"""Corpus-source overlap via bottom-k (KMV) shingle sketches
(SURVEY.md §2.11 X76).

Mixture design needs to know how much two SOURCES share before
deciding their sampling weights — interleaving Common-Crawl-derived
source A with "curated" source B that is 60% the same bytes double
counts the shared mass. Pairwise exact Jaccard over shingle sets is a
full self-join of the corpus; the bottom-k (k-minimum-values) sketch
(Bar-Yossef et al. 2002; Beyer et al., SIGMOD 2007) answers the same
question from k rows per source, and — because "the k smallest hash
values" is a DETERMINISTIC function of the data, not a random sample —
the estimate is reproducible and engine-portable (the DuckDB twin
computes the identical sketch, so the oracle matches cell-for-cell).

Pipeline:

1. :func:`source_shingle_hashes` — word-k-shingle each doc (the X2
   normalization + shingling, same arithmetic), portable-hash to a
   60-bit int, distinct per (source, h).
2. :func:`bottomk_prune` — EXACT map-side pre-prune: within a task,
   an h that is not among that task's k smallest distinct values for
   a source can never be among the global k smallest, so each task
   emits <= k rows per source it saw (pandas nsmallest per Arrow
   batch, merged across batches — the same bounded-state shape as the
   X75 Misra-Gries pass, except this prune is lossless). The global
   rank then runs over <= k x P x sources rows instead of every
   distinct shingle in the corpus.
3. :func:`bottomk_signatures` — global k smallest per source
   (row_number over the pruned rows).
4. :func:`source_overlap_bottomk` — for every source pair (a < b):
   take the k' = min(k, |union|) smallest of the UNION of the two
   signatures (which equals bottom-k of A union B, since both inputs
   are bottom-k supersets of the union's minima) and estimate
   J(A,B) = |{h in bottom-k'(A u B) : h in A and h in B}| / k'.
   All post-sketch work is s^2 x k rows — driver-trivial even at
   thousands of sources.

The estimator's error is the textbook O(1/sqrt(k)); tests gate it
against exact Jaccard on planted-overlap corpora and gate the prune's
losslessness against the unpruned path.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..operators.dedup import shingles


def source_shingle_hashes(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    k_shingle: int = 5,
) -> DataFrame:
    """(source, h): distinct 60-bit portable hashes of the word
    k-shingles of each source's documents. The shingle array is built
    through ``with_shingles`` (words projected before the slice
    lambda — see ``dedup.shingles``, r6)."""
    from ..operators.dedup import with_shingles

    return (
        with_shingles(docs, text_col, source_col, k_shingle)
        .select(F.col(source_col).alias("source"), F.explode("sh").alias("_sh"))
        .select("source", portable_hash64(F.col("_sh")).alias("h"))
        .distinct()
    )


def source_shingle_hashes_sql(
    docs_expr: str,
    source_col: str = "source",
    text_col: str = "text",
    k_shingle: int = 5,
) -> str:
    """DuckDB twin of :func:`source_shingle_hashes` (nests, no WITH).
    Same normalization/shingling arithmetic as the X2 oracle."""
    norm = f"trim(regexp_replace(lower({text_col}), '\\s+', ' ', 'g'))"
    words = f"regexp_split_to_array({norm}, ' ')"
    shing = f"""(
      CASE WHEN length({words}) < {k_shingle}
           THEN [array_to_string({words}, ' ')]
           ELSE list_transform(range(0, length({words}) - {k_shingle} + 1),
                  i -> array_to_string({words}[i+1:i+{k_shingle}], ' '))
      END)"""
    return f"""
      SELECT DISTINCT {source_col} AS source,
             {portable_hash64_sql('s')} AS h
      FROM {docs_expr}, LATERAL UNNEST({shing}) AS t(s)
    """


def bottomk_prune(
    source_h: DataFrame, k: int = 256
) -> DataFrame:
    """Lossless map-side prune: per task, keep only each source's k
    smallest DISTINCT h values (bounded state: k rows per source seen
    by the task, merged batch-wise over Arrow). The global bottom-k
    per source is invariant under this prune — any dropped h had k
    smaller distinct values for its source within one task alone."""
    if k < 1:
        raise ValueError(f"k={k} (>=1) required")
    schema = StructType(
        [
            StructField("source", source_h.schema["source"].dataType, True),
            StructField("h", LongType(), True),
        ]
    )

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kept = None
        for pdf in batches:
            cur = pdf[["source", "h"]].dropna()
            merged = cur if kept is None else pd.concat([kept, cur])
            merged = merged.drop_duplicates()
            kept = (
                merged.sort_values("h")
                .groupby("source", sort=False)
                .head(k)
            )
        yield kept if kept is not None else pd.DataFrame(
            {"source": [], "h": []}
        )

    return source_h.mapInPandas(body, schema)


def bottomk_signatures(
    source_h: DataFrame, k: int = 256
) -> DataFrame:
    """(source, h): the k smallest distinct shingle hashes per source
    — the KMV sketch. Runs the exact pre-prune first so the ranking
    shuffle sees <= k x tasks x sources rows, never the corpus's
    distinct-shingle count."""
    pruned = bottomk_prune(source_h, k=k).distinct()
    w = Window.partitionBy("source").orderBy(F.asc("h"))
    return (
        pruned.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def bottomk_signatures_sql(source_h_expr: str, k: int = 256) -> str:
    """DuckDB twin of :func:`bottomk_signatures` (global form — the
    prune is lossless so the twin skips it)."""
    return f"""
      SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC) AS _r
        FROM (SELECT DISTINCT source, h FROM {source_h_expr}) d
      ) r WHERE _r <= {k}
    """


def source_overlap_bottomk(sigs: DataFrame, k: int = 256) -> DataFrame:
    """(source_a, source_b, k_eff, shared_topk, est_jaccard) for every
    unordered source pair, from their bottom-k signatures.

    bottom-k'(A u B) for k' = min(k, |sig_a u sig_b|) is exactly the
    k' smallest of the two signatures' union; the estimator counts how
    many of those union-minima both sources contain. Deterministic
    given the hash — the twin reproduces it bit-for-bit.

    The signature table is always localCheckpointed (one eager job at
    construction): this function consumes it FOUR times (both pair
    sides + both broadcast source lists), and lazily each consumer
    re-executes the whole shingle/hash/prune/rank pipeline. The input
    is sketch-sized at any corpus scale (<= k rows per source), and the
    checkpoint is executor-local storage that spills to disk — it forces
    no broadcast. Measured with the checkpoint (r6, sf0.1):
    ``source_overlap_sketch`` 5.52 s -> 1.92 s together with the
    projection fixes."""
    sigs = sigs.localCheckpoint(eager=True)
    a = sigs.select(F.col("source").alias("source_a"), "h")
    b = sigs.select(F.col("source").alias("source_b"), "h")
    # the source list is sketch-sized: broadcast it so the pair
    # expansion is a BroadcastNestedLoopJoin, never a CartesianProduct
    tagged = (
        a.join(F.broadcast(b.select("source_b").distinct()))
        .filter(F.col("source_a") < F.col("source_b"))
        .select("source_a", "source_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            b.join(F.broadcast(a.select("source_a").distinct()))
            .filter(F.col("source_a") < F.col("source_b"))
            .select("source_a", "source_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
        )
    )
    per_h = tagged.groupBy("source_a", "source_b", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    w = Window.partitionBy("source_a", "source_b").orderBy(F.asc("h"))
    ranked = per_h.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= k
    )
    return ranked.groupBy("source_a", "source_b").agg(
        F.count("*").alias("k_eff"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("shared_topk"),
        (
            F.sum(F.col("in_a") * F.col("in_b"))
            / F.count("*")
        ).alias("est_jaccard"),
    )


def source_overlap_bottomk_sql(sigs_expr: str, k: int = 256) -> str:
    """DuckDB twin of :func:`source_overlap_bottomk`."""
    return f"""
      SELECT source_a, source_b,
             COUNT(*) AS k_eff,
             CAST(SUM(in_a * in_b) AS BIGINT) AS shared_topk,
             CAST(SUM(in_a * in_b) AS DOUBLE) / COUNT(*) AS est_jaccard
      FROM (
        SELECT source_a, source_b, h, in_a, in_b,
               ROW_NUMBER() OVER (
                 PARTITION BY source_a, source_b ORDER BY h ASC
               ) AS _r
        FROM (
          SELECT source_a, source_b, h,
                 MAX(in_a) AS in_a, MAX(in_b) AS in_b
          FROM (
            SELECT a.source AS source_a, bb.source_b, a.h,
                   1 AS in_a, 0 AS in_b
            FROM {sigs_expr} a,
                 (SELECT DISTINCT source AS source_b FROM {sigs_expr}) bb
            WHERE a.source < bb.source_b
            UNION ALL
            SELECT aa.source_a, b.source AS source_b, b.h,
                   0 AS in_a, 1 AS in_b
            FROM {sigs_expr} b,
                 (SELECT DISTINCT source AS source_a FROM {sigs_expr}) aa
            WHERE aa.source_a < b.source
          ) t
          GROUP BY source_a, source_b, h
        ) u
      ) r
      WHERE _r <= {k}
      GROUP BY source_a, source_b
    """


def source_overlap_exact(source_h: DataFrame) -> DataFrame:
    """Exact pairwise Jaccard over the full distinct shingle-hash sets
    — the estimator's ground truth (tests) and the small-corpus path.
    Equi-join on h (never all-pairs of shingles): |A n B| from the
    join, |A u B| = |A| + |B| - |A n B|.

    The distinct hash set is always localCheckpointed (one eager job at
    construction): it is consumed THREE times (both join sides +
    sizes), and lazily each consumer re-executes the shingle/hash
    pipeline. The set is corpus-shaped (bounded by distinct shingles),
    but the checkpoint is executor-local storage that spills to disk
    and forces no broadcast: the h equi-join stays a shuffle join.
    Measured with the checkpoint (r6, sf0.1): ``source_overlap_exact``
    5.47 s -> 1.11 s together with the projection fixes."""
    source_h = source_h.localCheckpoint(eager=True)
    sizes = source_h.groupBy("source").agg(F.count("*").alias("n"))
    a = source_h.select(F.col("source").alias("source_a"), "h")
    b = source_h.select(F.col("source").alias("source_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
