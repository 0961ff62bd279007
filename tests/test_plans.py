"""Plan-quality gates (SURVEY.md §4): pushdown reaches the scan, small
dims broadcast, pure-Column cascades stay Python-free, codegen covers
the relational stages."""

from __future__ import annotations

from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.operators import cleaning
from webscrape_neko_jirushi_spark.plans import inspect as P
from webscrape_neko_jirushi_spark.sources.analog import images_analog

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    pushed = P.pushed_filters(q)
    assert any("l_quantity" in f for f in pushed), pushed


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_orderkey", "l_quantity").groupBy("l_orderkey").count()
    schemas = P.read_schemas(q)
    assert schemas and all("l_extendedprice" not in s for s in schemas), schemas
    assert all("l_orderkey" in s for s in schemas)


def test_broadcast_join_for_small_dim(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    supplier = spark.read.parquet(f"{SF}/supplier.parquet")
    q = li.join(
        F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey
    ).join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
    assert P.has_broadcast_join(q)


def test_cleaning_cascade_is_python_free(spark):
    """The filter cascades are pure Column logic — the plan must contain
    ZERO Python eval nodes and at least one codegen stage."""
    imgs = images_analog(spark.read.parquet(f"{SF}/lineitem.parquet"))
    q = cleaning.cleaning_stats(cleaning.advanced_cascade(imgs), "doc_id")
    assert P.python_eval_count(q) == 0
    assert P.codegen_stage_count(q) >= 1


def test_near_dup_queries_have_no_cartesian_join(spark):
    """The near-dup family must stay on the bucketed equi-join paths:
    no BroadcastNestedLoopJoin / CartesianProduct anywhere in the
    physical plans of simhash / ngram-jaccard / embedding near-dups."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in (
        "simhash_near_dups",
        "ngram_jaccard_pairs",
        "embedding_near_dup_pairs",
        "lsh_candidate_pairs",
    ):
        plan = P.physical_plan(qs[name](spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_simhash_banded_pairs_match_bruteforce(spark):
    """Pigeonhole banding is exact: same pair set as the brute-force
    a x b Hamming join on a planted corpus."""
    from webscrape_neko_jirushi_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
    c = docs.select("doc_id", dedup.simhash64(F.col("text")).alias("simhash"))
    near = c.limit(20).select(
        (F.col("doc_id") + 90000).alias("doc_id"),
        # flip 3 low bits: hamming 3 <= 6 from the original
        F.col("simhash").bitwiseXOR(F.lit(0b111)).alias("simhash"),
    )
    corpus = c.unionByName(near).cache()
    banded = {
        tuple(r)
        for r in dedup.simhash_banded_pairs(corpus, "doc_id").collect()
    }
    a, b = corpus.alias("a"), corpus.alias("b")
    brute = {
        tuple(r)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dedup.hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    corpus.unpersist()
    assert banded == brute
    assert len(banded) >= 20  # the planted pairs are all found


def test_banded_lsh_finds_scaled_duplicates(spark):
    """Exact-direction (scaled) duplicates always share every LSH band
    bucket, so candidate recall on them is 1.0 by construction."""
    from webscrape_neko_jirushi_spark.operators import similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(100)
    base = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    scaled = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 3.0).alias("embedding"),
    )
    cands = similarity.banded_lsh_candidates(
        base.unionByName(scaled), dim=64, n_bands=4, bits_per_band=8
    )
    got = {tuple(r) for r in cands.collect()}
    want = {(r.vec_id, r.vec_id + 10000) for r in base.select("vec_id").collect()}
    assert want <= got


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """Writing state partitioned by a filter key (the 100-TB layout for
    fetch_log/url_seen shards) must prune at the scan: the plan's
    PartitionFilters carries the predicate and only matching partition
    directories are read."""
    out = str(tmp_path / "partitioned_log")
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", (F.col("l_orderkey") % 8).alias("shard")
    )
    li.write.partitionBy("shard").mode("overwrite").parquet(out)
    q = spark.read.parquet(out).filter(F.col("shard") == 3).select("l_orderkey")
    plan = P.physical_plan(q)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "shard" in m.group(1), plan[:2000]
    # and the non-partition column filter still prunes data files
    assert q.count() == li.filter(F.col("shard") == 3).count()


def test_no_cartesian_product_in_any_query_plan(spark):
    """Every registered query must avoid a non-broadcast cartesian
    product. (BroadcastNestedLoopJoin against a 1-row aggregate is the
    intended shape for scalar-join queries and is allowed.)"""
    import __spark_entry__ as entry

    for name, fn in entry.queries().items():
        plan = P.physical_plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_data_images_join_broadcasts_small_side(spark):
    """VERDICT r5 #1: the J5 query must actually plan a broadcast of
    the small side. The old form hinted the PRESERVED side of a
    left-outer join (a build side Spark cannot use — hint silently
    dropped, shuffle join at scale); the r6 form pre-aggregates the
    image side to per-doc counts and broadcasts THAT as the build
    side. Gate: a BroadcastHashJoin, and no sort-merge join of the
    raw image analog."""
    import __spark_entry__ as entry

    q = entry.queries()["data_images_join"](spark, SF)
    plan = P.physical_plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_agg_is_partial_final(spark):
    """Hash aggregation splits map-side partial + final (one shuffle)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = P.physical_plan(q)
    assert plan.count("HashAggregate") >= 2
    assert P.exchange_count(q) <= 2


def test_simhash_wide_banded_pairs_match_bruteforce(spark):
    """120-bit pigeonhole banding is exact: same pair set as the
    brute-force Hamming join over (sim_hi, sim_lo) on a planted
    corpus (flips split across both halves)."""
    from webscrape_neko_jirushi_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
    c = dedup.simhash_signatures_wide(docs, "text", "doc_id")
    near = c.limit(20).select(
        (F.col("doc_id") + 90000).alias("doc_id"),
        # hamming 5 <= 6 split across the halves: 2 hi flips, 3 lo
        F.col("sim_hi").bitwiseXOR(F.lit(0b101)).alias("sim_hi"),
        F.col("sim_lo").bitwiseXOR(F.lit(0b10101)).alias("sim_lo"),
    )
    corpus = c.unionByName(near).cache()
    banded = {
        tuple(r)
        for r in dedup.simhash_wide_banded_pairs(corpus, "doc_id").collect()
    }
    a, b = corpus.alias("a"), corpus.alias("b")
    ham = dedup.hamming64(F.col("a.sim_hi"), F.col("b.sim_hi")) + dedup.hamming64(
        F.col("a.sim_lo"), F.col("b.sim_lo")
    )
    brute = {
        tuple(r)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    corpus.unpersist()
    assert banded == brute
    assert len(banded) >= 20  # every planted pair found


def test_simhash_wide_halves_match_narrow_on_hi(spark):
    """The wide signature's hi half uses the SAME digest bits as the
    60-bit form, so sim_hi == simhash_signatures' signature — the wide
    path is a superset, not a different similarity function."""
    from webscrape_neko_jirushi_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    wide = dedup.simhash_signatures_wide(docs, "text", "doc_id")
    narrow = dedup.simhash_signatures(docs, "text", "doc_id")
    joined = wide.join(narrow, "doc_id").filter(
        F.col("sim_hi") != F.col("simhash")
    )
    assert joined.count() == 0


def test_ngram_restricted_semi_join_is_broadcast(spark):
    """The restrict_candidates semi-join must plan as a broadcast
    LeftSemi below the shingle explode — a sort-merge semi would
    shuffle the full text-bearing base table by id, the exact shuffle
    the restriction exists to avoid (AQE never converts it because the
    build side hides behind an explode+distinct stage)."""
    from webscrape_neko_jirushi_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16, 5)
    cands = dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4)
    q = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", 5, 0.5, cands, restrict_candidates=True
    )
    plan = P.physical_plan(q)
    lines = plan.splitlines()
    assert any("BroadcastHashJoin" in l and "LeftSemi" in l for l in lines)
    assert not any(
        "SortMergeJoin" in l and "LeftSemi" in l for l in lines
    ), [l for l in lines if "LeftSemi" in l]


def test_ngram_n_docs_hint_resolves_auto_gate(spark):
    """The n_docs hint resolves restrict_candidates' auto gate with
    zero construction jobs: above the threshold the restriction
    semi-join appears in the plan, below it it doesn't."""
    from webscrape_neko_jirushi_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16, 5)
    cands = dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4)
    big = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", 5, 0.5, cands, n_docs=1_000_000
    )
    assert any(
        "LeftSemi" in l for l in P.physical_plan(big).splitlines()
    )
    small = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", 5, 0.5, cands, n_docs=10
    )
    assert not any(
        "LeftSemi" in l for l in P.physical_plan(small).splitlines()
    )


def test_round5_text_ops_python_free(spark):
    """The X41-X44 additions are full-corpus maps/joins — their plans
    must contain zero Python eval nodes (JVM codegen end to end)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in (
        "line_dedup_docs",
        "shard_assignment",
        "encoding_quality_stats",
        "encoding_repair_sample",
        "containment_pairs",
        "temperature_mixture_plan",
        "boilerplate_strip_stats",
    ):
        q = qs[name](spark, SF)
        assert P.python_eval_count(q) == 0, name
        assert P.codegen_stage_count(q) >= 1, name


def test_x90_x92_plans(spark):
    """The stitching / takedown / decontamination additions are
    full-corpus maps and joins: zero Python eval nodes; every request
    or eval-side join broadcasts (the small side is small BY DESIGN);
    the prefix-kind takedown match plans as an equi-join with a
    startswith residual, never a nested-loop LIKE over the corpus."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in (
        "page_overlap_profile",
        "stitched_documents",
        "takedown_audit",
        "takedown_survivors",
        "semantic_decontamination",
    ):
        q = qs[name](spark, SF)
        plan = P.physical_plan(q)
        assert P.python_eval_count(q) == 0, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    for name in ("takedown_audit", "takedown_survivors",
                 "semantic_decontamination"):
        assert P.has_broadcast_join(qs[name](spark, SF)), name
