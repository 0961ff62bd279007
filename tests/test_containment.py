"""Shingle-set containment (operators/dedup.py::containment_pairs):
a verbatim excerpt is caught at containment ~1.0 where its Jaccard is
far below the near-dup threshold, candidate-driven == self-join, and
the DuckDB twin."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from webscrape_neko_jirushi_spark.operators import dedup

_LONG = " ".join(f"w{i}" for i in range(60))            # 60 words
_QUOTE = " ".join(f"w{i}" for i in range(20, 36))       # 16-word excerpt
DOCS = [
    (1, _LONG),
    (2, _QUOTE),
    (3, "completely different text about other things entirely here"),
    (4, _LONG + " trailing novelty words appended here"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_excerpt_caught_jaccard_misses(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in dedup.containment_pairs(
            docs, "text", "doc_id", k=5, min_containment=0.8
        ).collect()
    }
    p = pairs[(1, 2)]
    # all 12 of the quote's 5-shingles appear in the long doc
    assert p["containment_b_in_a"] == pytest.approx(1.0)
    jacc = p["n_common"] / (p["n_a"] + p["n_b"] - p["n_common"])
    assert jacc < 0.5  # the ngram_jaccard threshold would miss it
    # doc 4 contains doc 1 verbatim too
    assert pairs[(1, 4)]["containment_a_in_b"] == pytest.approx(1.0)
    # unrelated doc 3 appears in no pair
    assert not any(3 in k for k in pairs)


def test_threshold(docs):
    none = dedup.containment_pairs(
        docs, "text", "doc_id", k=5, min_containment=1.01
    ).collect()
    assert none == []


def test_candidate_driven_parity(spark, docs):
    """The candidate verify (over shingle arrays) returns exactly the
    self-join's rows restricted to the candidate pairs, with NULL,
    empty and shorter-than-k text, a pair that shares no shingle, and
    at threshold 0."""
    odd = spark.createDataFrame(
        [(5, None), (6, ""), (7, "two words")], "doc_id long, text string"
    )
    corpus = docs.unionByName(odd)
    # (1, 3) and (6, 7) share no shingle; (5, 6) share the one "" shingle
    cands = spark.createDataFrame(
        [(1, 2), (1, 4), (2, 4), (1, 3), (5, 6), (6, 7)],
        "id_a long, id_b long",
    )
    for t in (0.8, 0.0):
        full = dedup.containment_pairs(
            corpus, "text", "doc_id", k=5, min_containment=t
        )
        want = sorted(
            tuple(r)
            for r in full.join(cands, ["id_a", "id_b"], "left_semi").collect()
        )
        driven = sorted(
            tuple(r)
            for r in dedup.containment_pairs(
                corpus, "text", "doc_id", k=5, min_containment=t,
                candidates=cands,
            ).collect()
        )
        assert driven == want, t
        if t == 0.8:
            # the candidates cover every true pair, (5, 6) included
            assert driven == sorted(tuple(r) for r in full.collect())
            assert (5, 6, 1, 1, 1, 1.0, 1.0) in driven


def test_duckdb_twin(spark, docs):
    got = sorted(
        tuple(r)
        for r in dedup.containment_pairs(
            docs, "text", "doc_id", k=5, min_containment=0.8
        ).collect()
    )
    con = duckdb.connect()
    con.register("d", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    # the repo's shingle twin shape (normalized text, k=5, short-doc
    # whole-text fallback)
    sh = """
      CASE WHEN length(w) < 5 THEN [array_to_string(w, ' ')]
           ELSE list_transform(range(1, length(w) - 3),
                i -> array_to_string(w[i:i+4], ' ')) END
    """
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"""
            WITH ex AS (
              SELECT DISTINCT doc_id, s.sh
              FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                FROM d
              ) c, LATERAL UNNEST({sh}) AS s(sh)
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
              FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
                   n_common * 1.0 / sa.n_sh AS containment_a_in_b,
                   n_common * 1.0 / sb.n_sh AS containment_b_in_a
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE GREATEST(n_common * 1.0 / sa.n_sh,
                           n_common * 1.0 / sb.n_sh) >= 0.8
            """
        ).fetchall()
    )
    assert got == want
