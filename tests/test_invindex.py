"""X60 positional inverted index: postings/term-stats, phrase joins,
persisted bucket-pruned probes, driver-side bucket-rule parity."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.functions.hashing import portable_hash64
from webscrape_neko_jirushi_spark.operators.index_store import IndexManifest
from webscrape_neko_jirushi_spark.text import invindex as IX

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "quick brown foxes are not the quick brown fox"),
    (3, "  "),
    (4, "fox"),
    (5, "the the the quick brown fox the"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_postings_positions_and_blank_docs(spark, docs):
    post = {(r["doc_id"], r["pos"]): r["term"] for r in IX.postings(docs).collect()}
    assert post[(1, 0)] == "the" and post[(1, 3)] == "fox"
    assert post[(4, 0)] == "fox"
    assert all(d != 3 for d, _ in post)  # blank doc contributes nothing


def test_term_stats_exact(spark, docs):
    st = {r["term"]: (r["df"], r["cf"]) for r in IX.term_stats(IX.postings(docs)).collect()}
    assert st["fox"] == (4, 4)
    assert st["the"] == (3, 7)
    assert st["foxes"] == (1, 1)


def test_phrase_match_multi_and_repeated_terms(spark, docs):
    got = sorted(
        (r["doc_id"], r["pos"])
        for r in IX.phrase_match(IX.postings(docs), ["quick", "brown", "fox"]).collect()
    )
    assert got == [(1, 1), (2, 6), (5, 3)]
    # repeated-word phrase
    got2 = sorted(
        (r["doc_id"], r["pos"])
        for r in IX.phrase_match(IX.postings(docs), ["the", "the"]).collect()
    )
    assert got2 == [(5, 0), (5, 1)]
    with pytest.raises(ValueError):
        IX.phrase_match(IX.postings(docs), ["  "])


def test_phrase_sql_twin(spark, docs):
    post_pd = IX.postings(docs).toPandas()
    con = duckdb.connect()
    con.register("post", post_pd)
    for phrase in (["quick", "brown", "fox"], ["the", "quick"], ["dog"]):
        got = sorted(
            (r["doc_id"], r["pos"])
            for r in IX.phrase_match(IX.postings(docs), phrase).collect()
        )
        want = sorted(
            (int(a), int(b))
            for a, b in con.execute(IX.phrase_match_sql(phrase)).fetchall()
        )
        assert got == want, phrase


def test_indexed_probe_prunes_and_matches(spark, docs, tmp_path):
    path = tmp_path / "inv"
    m = IX.build_inverted_index(docs, path, n_buckets=16)
    assert all(len(fs) == 1 for fs in m.partitions.values())  # small-files rule

    # driver-side bucket rule mirrors the Spark column bit-exactly
    terms = spark.createDataFrame([(t,) for t in ["fox", "the", "foxes"]], "term string")
    spark_b = {
        r["term"]: r["b"]
        for r in terms.select(
            "term",
            F.pmod(portable_hash64(F.col("term"), salt="inv"), F.lit(16))
            .cast("int")
            .alias("b"),
        ).collect()
    }
    for t, b in spark_b.items():
        assert IX._bucket_of(t, 16) == b

    got = sorted(
        (r["doc_id"], r["pos"])
        for r in IX.phrase_match_indexed(spark, path, ["quick", "brown", "fox"]).collect()
    )
    assert got == [(1, 1), (2, 6), (5, 3)]

    # pruning: the probe resolves only the phrase terms' buckets
    probed = {IX._bucket_of(t, 16) for t in ["quick", "brown", "fox"]}
    assert len(m.files_for(sorted(probed))) <= len(probed)
    assert len(probed) < len(m.partitions)

    # absent term -> empty result, no error
    assert IX.phrase_match_indexed(spark, path, ["zzz", "qqq"]).count() == 0


def test_indexed_probe_refuses_another_index_kind(spark, ann_index):
    with pytest.raises(ValueError, match="is not an inverted index"):
        IX.phrase_match_indexed(spark, ann_index, ["quick", "fox"])
