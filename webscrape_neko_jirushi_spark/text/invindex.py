"""Positional inverted index + phrase search (SURVEY.md §2.11 X60).

X38's BM25 is deliberately the bounded-literal-query probe — zero
explode, corpus never shuffled. This module is the other half of the
IR story: an index over ARBITRARY vocabulary, the structure a curation
pipeline builds once and probes many times (benchmark-contamination
phrase lookups, boilerplate phrase hunting, quote detection across a
corpus). Lucene's data model re-expressed relationally:

- :func:`postings` — the (term, doc_id, pos) relation: ONE
  ``posexplode`` of the repo-standard tokenization (lowercased trimmed
  whitespace split, blank docs contribute nothing). Everything else is
  plain DataFrame algebra over it.
- :func:`term_stats` — df/cf per term (the vocabulary table; df from
  a count-distinct, cf exact integer count).
- :func:`phrase_match` — exact phrase search as a chain of
  positional equi-joins: occurrences of ``[t0..tk]`` are rows of the
  t0-postings joined to t1-postings on ``(doc_id, pos+1)``, etc. The
  phrase's term postings are filtered FIRST (an ``isin`` over the
  literal terms — predicate-pushable to the parquet scan of a
  persisted index), so join inputs are term-frequency-sized, never
  corpus-sized; k-1 equi-joins for a k-word phrase, each broadcastable
  when the rarest term is rare (AQE decides).
- :func:`build_inverted_index` / :func:`phrase_match_indexed` — the
  persisted form: postings hash-bucketed by term (``portable60 %
  n_buckets``, one file per bucket dir — the repo-wide small-files
  rule), committed through ``IndexManifest``; a phrase probe resolves
  ONLY the phrase terms' buckets from one manifest read
  (O(terms) metadata, the X9/X15 probe discipline) and never scans
  the rest of the index.

Scale notes: postings are ~tokens-sized (the explode is the honest
cost of arbitrary-vocabulary indexing — build once, amortize over
probes); the bucket count follows the corpus (size for target scale,
frozen in the manifest meta). Hot terms skew their bucket — the
phrase path filters to literal terms BEFORE any join, so a stop-word
bucket is read but immediately cut to the probed term's rows.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..operators.index_store import IndexManifest, checked_manifest

TERM_BUCKET_COL = "tb"

# DuckDB twin of `postings` (relation `documents(doc_id, text)` —
# rename upstream if needed): WITH-ORDINALITY positional explode of
# the repo tokenization, 0-based positions.
POSTINGS_SQL = """
  SELECT d.doc_id, u.x.term AS term, u.x.pos AS pos
  FROM documents d,
  LATERAL UNNEST(list_transform(
      regexp_split_to_array(lower(trim(d.text)), '\\s+'),
      (t, i) -> struct_pack(pos := i - 1, term := t))) AS u(x)
  WHERE trim(d.text) <> ''
"""


def postings(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The (doc_id, term, pos) relation; 0-based token positions."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return (
        documents.filter(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos", "term"))
        .select("doc_id", "term", F.col("pos").cast("int").alias("pos"))
    )


def term_stats(post: DataFrame) -> DataFrame:
    """Vocabulary table: exact document frequency and collection
    frequency per term — one hash aggregate (count-distinct plans as
    the two-phase Expand the multi-distinct queries already use)."""
    return post.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("cf"),
    )


def phrase_match(post: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact-phrase occurrences: one row (doc_id, pos) per start
    position. ``phrase`` is tokenized with the same convention
    (lowercase; caller passes the term list)."""
    terms = [t.lower() for t in phrase if t.strip()]
    if not terms:
        raise ValueError("phrase_match: empty phrase")
    # literal-term filter FIRST: join inputs are term-sized, and on a
    # persisted index the isin reaches the parquet scan as pushed
    # filters
    p = post.filter(F.col("term").isin(terms))
    cur = (
        p.filter(F.col("term") == terms[0])
        .select("doc_id", F.col("pos").alias("pos"))
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = p.filter(F.col("term") == t).select(
            F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
        )
        cur = cur.join(
            nxt,
            (cur["doc_id"] == nxt["d2"]) & (nxt["p2"] == cur["pos"] + i),
        ).select("doc_id", "pos")
    return cur


def phrase_match_sql(phrase: list[str], postings_rel: str = "post") -> str:
    """DuckDB twin of :func:`phrase_match` over a postings relation
    CTE named ``postings_rel``; yields a SELECT of (doc_id, pos)."""
    terms = [t.lower() for t in phrase if t.strip()]
    if not terms:
        raise ValueError("phrase_match_sql: empty phrase")
    joins = "\n".join(
        f"JOIN {postings_rel} p{i} ON p{i}.doc_id = p0.doc_id "
        f"AND p{i}.term = '{t}' AND p{i}.pos = p0.pos + {i}"
        for i, t in enumerate(terms[1:], start=1)
    )
    return (
        f"SELECT p0.doc_id, p0.pos FROM {postings_rel} p0 {joins} "
        f"WHERE p0.term = '{terms[0]}'"
    )


def build_inverted_index(
    documents: DataFrame,
    path: str | Path,
    n_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> IndexManifest:
    """Persist the postings, hash-bucketed by term, manifest-committed;
    one file per bucket dir."""
    post = postings(documents, id_col, text_col).withColumn(
        TERM_BUCKET_COL,
        F.pmod(portable_hash64(F.col("term"), salt="inv"), F.lit(n_buckets)).cast(
            "int"
        ),
    )
    return IndexManifest.build(
        post,
        path,
        TERM_BUCKET_COL,
        meta={"kind": "invindex", "n_buckets": n_buckets, "hash": "portable60/inv"},
    )


def _bucket_of(term: str, n_buckets: int) -> int:
    import hashlib

    # mirrors portable_hash64(term, salt="inv"): md5 over "inv"+term
    return int(hashlib.md5(("inv" + term).encode("utf-8")).hexdigest()[:15], 16) % n_buckets


def phrase_match_indexed(
    spark: SparkSession, path: str | Path, phrase: list[str]
) -> DataFrame:
    """Phrase probe over a persisted index: resolves ONLY the phrase
    terms' buckets from one manifest read — O(phrase terms) metadata
    regardless of index size (driver-side md5 mirrors the bucket rule
    bit-exactly; pytest pins it against the Spark column)."""
    m = checked_manifest(
        path, TERM_BUCKET_COL, "invindex", ("n_buckets",), "an inverted",
        f"phrase_match_indexed: no manifest at {path}",
    )
    n_buckets = int(m.meta["n_buckets"])
    terms = [t.lower() for t in phrase if t.strip()]
    buckets = sorted({_bucket_of(t, n_buckets) for t in terms})
    files = m.files_for(buckets)
    if not files:
        return spark.createDataFrame([], "doc_id long, pos int")
    post = spark.read.option("basePath", str(m.root)).parquet(*files)
    return phrase_match(post, terms)
