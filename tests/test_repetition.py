"""Gopher-style repetition rules (text/repetition.py): hand-computed
stats, filter reasons, and the DuckDB twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.functions.hashing import portable_hash64_sql
from webscrape_neko_jirushi_spark.text import repetition

DOCS = [
    # doc 0: no repetition at all (long enough that a single
    # occurrence of the longest bigram stays under the 0.20 threshold)
    (
        0,
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four",
    ),
    # doc 1: one word repeated — dup_word_frac 0.8, top2 'spam spam' x4
    (1, "spam spam spam spam spam"),
    # doc 2: repeated bigram phrase
    (2, "buy now buy now buy now limited offer"),
    # doc 3: shorter than any n-gram
    (3, "single"),
    # doc 4: empty after trim
    (4, "   "),
]


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string").cache()
    yield df
    df.unpersist()


def _stats(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def test_repetition_stats_hand_computed(spark, docs):
    s = _stats(repetition.repetition_stats(docs, ngrams=(2,)))

    assert s[0]["n_words"] == 30 and s[0]["dup_word_frac"] == 0.0
    assert s[0]["top2gram_frac"] < 0.15  # every bigram unique: 1 x len / nch

    # doc 1: 5 words, 1 distinct -> dup 0.8; top bigram 'spam spam'
    # (len 9) occurs 4x over 24 chars -> 36/24 = 1.5 (overlap can
    # exceed 1 — the Gopher fraction is a heuristic, threshold still
    # monotone in repetition)
    assert s[1]["n_words"] == 5
    assert s[1]["dup_word_frac"] == 0.8
    assert s[1]["top2gram_frac"] == round(4 * 9 / 24, 6)

    # doc 2: 'buy now' x3 (len 7) over 37 chars; 'now buy' only x2
    assert s[2]["top2gram_frac"] == round(3 * 7 / len(DOCS[2][1]), 6)

    # doc 3: one word -> no bigram -> 0.0; doc 4: empty -> all zeros
    assert s[3]["top2gram_frac"] == 0.0 and s[3]["n_words"] == 1
    assert s[4]["n_words"] == 0
    assert s[4]["dup_word_frac"] == 0.0 and s[4]["top2gram_frac"] == 0.0

    with pytest.raises(ValueError, match="ngrams"):
        repetition.repetition_stats(docs, ngrams=())


def test_gopher_filter_reasons(spark, docs):
    out = {
        r["doc_id"]: (r["keep"], r["reason"])
        for r in repetition.gopher_repetition_filter(
            docs, min_words=2
        ).collect()
    }
    assert out[0] == (True, None)  # clean doc passes
    assert out[1] == (False, "dup_words")  # 0.8 > 0.3
    assert out[2][0] is False  # repeated phrase rejected
    assert out[3] == (False, "too_few_words")
    assert out[4] == (False, "too_few_words")

    # NULL text: every threshold predicate is NULL under three-valued
    # logic — must reject as null_text, never fall through to keep
    nulldoc = spark.createDataFrame(
        [(9, None)], "doc_id long, text string"
    )
    nr = repetition.gopher_repetition_filter(nulldoc, min_words=2).collect()
    assert [(r["keep"], r["reason"]) for r in nr] == [(False, "null_text")]

    # word-count bounds fire before the gram rules (first-match-wins)
    strict = {
        r["doc_id"]: r["reason"]
        for r in repetition.gopher_repetition_filter(
            docs, min_words=6
        ).collect()
    }
    assert strict[1] == "too_few_words"


def test_repetition_matches_duckdb_twin(spark):
    import duckdb

    # beyond DOCS: bigrams but no trigrams, and the empty string
    twin_docs = DOCS + [(5, "one two"), (6, "")]
    docs = spark.createDataFrame(twin_docs, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in repetition.repetition_stats(docs, ngrams=(2, 3)).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", twin_docs)

    def gram_branch(n: int) -> str:
        h = portable_hash64_sql(f"array_to_string(w[i : i + {n - 1}], ' ')")
        return f"""
          CASE WHEN tt != '' AND len(w) >= {n}
               THEN list_transform(range(1, len(w) - {n} + 2),
                    i -> struct_pack(n := {n}, gh := {h},
                         gl := CAST(length(array_to_string(w[i : i + {n - 1}], ' ')) AS BIGINT)))
               ELSE [] END
        """

    rows = con.execute(
        f"""
        WITH words AS (
          SELECT doc_id, length(text) AS nch, trim(text) AS tt,
                 regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents
        ),
        base AS (
          SELECT doc_id,
            CAST(CASE WHEN tt = '' THEN 0 ELSE len(w) END AS INT) AS n_words,
            CAST(nch AS INT) AS n_chars,
            CASE WHEN tt = '' THEN 0.0
                 ELSE ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
            END AS dup_word_frac
          FROM words
        ),
        grams AS (
          SELECT doc_id, g.n AS n, g.gh AS gh, g.gl AS gl
          FROM words, UNNEST({gram_branch(2)} || {gram_branch(3)}) AS t(g)
        ),
        counted AS (
          SELECT doc_id, n, gh, gl, COUNT(*) AS cnt
          FROM grams GROUP BY doc_id, n, gh, gl
        ),
        tops AS (
          SELECT doc_id, n, cnt, gl FROM (
            SELECT doc_id, n, cnt, gl,
              ROW_NUMBER() OVER (PARTITION BY doc_id, n
                ORDER BY cnt DESC, gl DESC, gh DESC) AS rn
            FROM counted
          ) WHERE rn = 1
        )
        SELECT b.doc_id, b.n_words, b.n_chars, b.dup_word_frac,
          COALESCE(ROUND(CAST(t2.cnt * t2.gl AS DOUBLE) / b.n_chars, 6), 0.0) AS top2gram_frac,
          COALESCE(ROUND(CAST(t3.cnt * t3.gl AS DOUBLE) / b.n_chars, 6), 0.0) AS top3gram_frac
        FROM base b
        LEFT JOIN tops t2 ON t2.doc_id = b.doc_id AND t2.n = 2
        LEFT JOIN tops t3 ON t3.doc_id = b.doc_id AND t3.n = 3
        """
    ).fetchall()
    want = sorted(
        (int(a), int(b), int(c), float(d), float(e), float(f))
        for a, b, c, d, e, f in rows
    )
    assert got == want

