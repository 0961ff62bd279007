"""Round-6 optimization parity gates.

Every r6 restructure changed an operator's *internals* while claiming
bit-identical output; each claim gets a structural test here:

- keep-first as argmin aggregate == keep-first as window (the declared
  query's new form vs the engine operator);
- the candidate verify over shingle arrays (ngram_jaccard_from_sets,
  ngram_jaccard_pairs with candidates) == the candidate-free explode/
  self-join restricted to the candidates, odd inputs included;
- minhash_signatures_from_shingles over distinct sets == the text form;
- simhash_banded_pairs checkpoints its signature table and, with no
  hint, its plan still broadcasts (the checkpoint's statistics decide);
- the cleaning cascades' standalone boolean `keep` == reason.isNull()
  including NULL-input rows;
- fan_out partition arithmetic (no-op at scale, spread when
  under-split).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.operators import dedup
from webscrape_neko_jirushi_spark.operators.fanout import fan_out, scan_splits
from webscrape_neko_jirushi_spark.plans import inspect as P
from webscrape_neko_jirushi_spark.sources.analog import images_analog

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_keep_first_agg_matches_window(spark):
    imgs = images_analog(spark.read.parquet(f"{SF}/lineitem.parquet"))
    windowed = dedup.exact_dedup(
        imgs, "md5", ["doc_id", "image_idx", "src_key"]
    ).select("doc_id", "image_idx", "md5")
    agg = (
        imgs.groupBy("md5")
        .agg(F.min(F.struct("doc_id", "image_idx", "src_key")).alias("_first"))
        .select(
            F.col("_first.doc_id").alias("doc_id"),
            F.col("_first.image_idx").alias("image_idx"),
            "md5",
        )
    )
    assert _rows(agg) == _rows(windowed)


def test_ngram_from_sets_matches_explode_form(spark):
    """Both candidate verifies (``ngram_jaccard_from_sets`` over given
    sets, ``ngram_jaccard_pairs`` with candidates) return exactly the
    rows of the candidate-free shingle self-join restricted to the
    candidate pairs — with NULL, empty and shorter-than-k text, pairs
    that share no shingle, and at threshold 0, where only the shared-
    shingle rule keeps those pairs out."""
    c = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    near = c.limit(40).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    base = c.unionByName(near)
    odd = spark.createDataFrame(
        [
            (900001, None),
            (900002, ""),
            (900003, "two words"),
            (900004, "six words that share no shingle"),
        ],
        "doc_id long, text string",
    )
    corpus = base.unionByName(odd)
    sigs = dedup.minhash_signatures(base, "text", "doc_id", 16, 5)
    # (NULL, empty) share the one shingle "" (Jaccard 1.0); the other
    # two odd pairs share none
    odd_pairs = spark.createDataFrame(
        [(900001, 900002), (900002, 900003), (900003, 900004)],
        "id_a long, id_b long",
    )
    cands = (
        dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4)
        .unionByName(odd_pairs)
        .distinct()
        .localCheckpoint()
    )
    sets = dedup.shingle_sets(corpus, "text", "doc_id", 5)
    for t in (0.5, 0.0):
        ref = dedup.ngram_jaccard_pairs(corpus, "text", "doc_id", 5, t).join(
            cands, ["id_a", "id_b"], "left_semi"
        )
        want = _rows(ref)
        assert (900001, 900002, 1, 1.0) in want
        for new in (
            dedup.ngram_jaccard_from_sets(sets, cands, "doc_id", t),
            dedup.ngram_jaccard_pairs(
                corpus, "text", "doc_id", 5, t, candidates=cands
            ),
        ):
            assert new.columns == ref.columns
            assert [f.dataType for f in new.schema.fields] == [
                f.dataType for f in ref.schema.fields
            ]
            assert _rows(new) == want, t


def test_minhash_from_shingles_matches_text_form(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    old = dedup.minhash_signatures(d, "text", "doc_id", 16, 5)
    new = dedup.minhash_signatures_from_shingles(
        dedup.shingle_sets(d, "text", "doc_id", 5), "doc_id", 16
    )
    assert _rows(new) == _rows(old)


def test_simhash_banded_pairs_checkpoints_and_broadcasts(spark):
    """The pair set is pinned against brute force in test_plans; this
    pins the physical path: both join sides read the checkpointed
    signature table, and its statistics keep the broadcast."""
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    near = d.limit(30).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat("text", F.lit(" x")).alias("text"),
    )
    sigs = dedup.simhash_signatures(d.unionByName(near), "text", "doc_id")
    pairs = dedup.simhash_banded_pairs(sigs, "doc_id", "simhash", 6, 60)
    plan = P.physical_plan(pairs)
    assert P.has_broadcast_join(pairs), plan
    assert "ExistingRDD" in plan and "Scan parquet" not in plan, plan


def test_cascade_keep_equals_reason_null_with_nulls(spark):
    """keep is now an independent boolean; it must remain exactly
    reason.isNull() — including rows with NULL attributes, where a
    CASE chain skips NULL conditions (keep=true) and the disjunction
    form relies on coalesce(..., false) for the same answer."""
    from webscrape_neko_jirushi_spark.operators import cleaning

    rows = [
        # (doc, src, idx, url, filename, ct, size, w, h, mode, amax, tcr, warm, md5)
        ("d1", 1, 1, "u", "ok.jpg", "image/jpeg", 20000, 500, 500, "RGB", 255, 0.1, 0.5, "m"),
        ("d1", 2, 2, "u", "logo.png", "image/png", 20000, 500, 500, "RGB", 255, 0.1, 0.5, "m"),
        ("d2", 3, 1, "u", "a.jpg", "image/jpeg", None, 500, 500, "RGB", 255, 0.1, 0.5, "m"),
        ("d2", 4, 2, "u", "b.jpg", "image/jpeg", 20000, None, None, "RGB", 255, 0.1, 0.5, "m"),
        ("d3", 5, 1, "u", None, "image/jpeg", 20000, 500, 500, None, None, None, 0.5, "m"),
        ("d3", 6, 2, "u", "c.jpg", "image/jpeg", 43, 500, 500, "RGBA", 30, 0.9, 0.5, "m"),
    ]
    schema = (
        "doc_id string, src_key long, image_idx int, url string, "
        "filename string, content_type string, size_bytes long, "
        "width int, height int, mode string, alpha_max int, "
        "top_color_ratio double, warm_ratio double, md5 string"
    )
    imgs = spark.createDataFrame(rows, schema)
    for cascade in (cleaning.advanced_cascade, cleaning.aggressive_cascade):
        got = cascade(imgs).select("src_key", "keep", "reason").collect()
        for r in got:
            assert r["keep"] == (r["reason"] is None), (cascade.__name__, r)


def test_fan_out_is_noop_at_scale(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    # claimed splits already >= target: untouched plan object
    assert fan_out(df, "l_orderkey", target=4, splits=4) is df
    assert fan_out(df, "l_orderkey", target=4, splits=9) is df
    # under-split: hash-repartitioned to the target
    spread = fan_out(df, "l_orderkey", target=4, splits=1)
    assert spread.rdd.getNumPartitions() == 4
    assert _rows(spread.select("l_orderkey", "l_linenumber")) == _rows(
        df.select("l_orderkey", "l_linenumber")
    )


def test_scan_splits_estimates_from_filesystem(spark):
    one = scan_splits(spark, f"{SF}/lineitem.parquet")
    assert one == 1  # single small file -> one split
    assert scan_splits(spark, "hdfs://nowhere/tbl.parquet") == 1  # non-local


def test_boilerplate_strip_stats_parity(spark):
    """The keyed-proxy rewrite of q_boilerplate_strip_stats must equal
    the operator-composed form (boilerplate_keys + strip_boilerplate +
    two count passes) row for row."""
    import __spark_entry__ as entry
    from webscrape_neko_jirushi_spark.text import boilerplate

    spans = entry._bp_spans(spark, SF)
    keys = boilerplate.boilerplate_keys(spans)
    kept = boilerplate.strip_boilerplate(spans, keys)
    before = spans.groupBy("host").agg(F.count("*").alias("n_spans"))
    after = kept.groupBy("host").agg(F.count("*").alias("n_kept"))
    composed = before.join(after, "host", "left").select(
        "host",
        "n_spans",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
    )
    rewritten = entry.queries()["boilerplate_strip_stats"](spark, SF)
    assert _rows(rewritten) == _rows(composed)
