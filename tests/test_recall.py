"""End-to-end RECALL of the near-dup pipelines on planted ground truth.

Oracle parity proves Spark and DuckDB compute the same thing; the plan
gates prove no quadratic join. Neither proves the pipelines FIND the
duplicates they exist to find. The synthetic corpus carries its ground
truth (``base_id``), so recall is directly measurable:

- text: minhash -> LSH banding -> exact Jaccard verify must recover
  most planted (dup, base) pairs. Banding recall at the planted
  Jaccard ~0.76 with 4 bands x 4 rows is ~1-(1-0.76^4)^4 ~ 0.80
  theoretical; the verify stage never drops a true pair (threshold
  0.5 < 0.76), so the pipeline floor asserted here is 0.70.
- embeddings: banded hyperplane LSH -> cosine >= 0.99 verify on
  planted ~0.9998-cosine dups; 4x8-bit bands give per-band agreement
  ~0.9936^8 ~ 0.95, OR-recall ~1 - 0.05^4 ~ 0.999999 — asserted
  floor 0.98.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.operators import dedup, similarity
from webscrape_neko_jirushi_spark.sources.synth_corpus import (
    synth_clustered_embeddings,
    synth_documents,
    synth_embeddings,
)


def test_text_near_dup_pipeline_recall(spark):
    n = 2000
    docs = synth_documents(spark, n, dup_frac=0.10).cache()
    truth = {
        (max(r.doc_id, r.base_id), min(r.doc_id, r.base_id))
        for r in docs.filter(F.col("base_id").isNotNull()).collect()
        if r.doc_id != r.base_id
    }
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16, 5)
    cands = dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4)
    found = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b))
        for r in dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", 5, 0.5, candidates=cands
        ).collect()
    }
    docs.unpersist()
    recall = len(truth & found) / len(truth)
    assert recall >= 0.70, f"text pipeline recall {recall:.3f} < 0.70"
    # and nothing outside the planted structure is reported: every found
    # pair involves a planted dup (no base-base false positives)
    n_base = int(n * 0.9)
    assert all(a >= n_base or b >= n_base for a, b in found)


def test_embedding_near_dup_pipeline_recall(spark):
    n, dim = 1500, 32
    vecs = synth_embeddings(spark, n, dim=dim, dup_frac=0.10).cache()
    e = vecs.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    import hashlib

    n_base = int(n * 0.9)
    truth = set()
    for vid in range(n_base, n):
        h = int(hashlib.md5(f"scale-emb-1|{vid}|base".encode()).hexdigest()[:8], 16)
        truth.add((vid, h % n_base))
    cands = similarity.banded_lsh_candidates(e, dim=dim, n_bands=4, bits_per_band=8)
    found = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b))
        for r in dedup.embedding_near_dups(e, tau=0.99, candidates=cands).collect()
    }
    vecs.unpersist()
    recall = len(truth & found) / len(truth)
    assert recall >= 0.98, f"embedding pipeline recall {recall:.3f} < 0.98"


def test_candidate_output_grows_linearly_not_quadratically(spark):
    """Deterministic twin of BENCH/run_dedup_scale.py's wall-time
    evidence: with constant planted duplicate density, the LSH
    candidate-pair COUNT must grow ~linearly with corpus size. A
    regression to an effectively-quadratic candidate plan (fixed
    bucket space, dropped banding, broken dedup of band matches)
    shows up here as a ~16x jump across a 4x size step — timing-free,
    so immune to shared-host load waves."""
    counts = {}
    for n in (400, 1600):
        docs = synth_documents(spark, n, dup_frac=0.10)
        sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16, 5)
        counts[n] = dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4).count()
    ratio = counts[1600] / max(counts[400], 1)
    assert 2.5 <= ratio <= 7.0, f"pair growth {ratio:.1f}x on 4x data ({counts})"


def _mean_assigned_cosine(spark, vecs, centroids) -> float:
    """The spherical k-means objective: mean cosine between each vector
    and its assigned (nearest) centroid — higher is a better cell
    layout. One Spark pass via the probe's own assignment operator."""
    assigned = similarity.ivf_assign(vecs, centroids)
    per_cell = [
        F.when(
            F.col("cell") == i, similarity.cosine_col(F.col("embedding"), c)
        )
        for i, c in enumerate(centroids)
    ]
    return assigned.select(
        F.coalesce(*per_cell).alias("cos")
    ).agg(F.avg("cos")).collect()[0][0]


def test_ivf_trained_centroids_beat_seed_centroids(spark):
    """VERDICT r4 #1: trained cells must beat seed cells on planted
    clusters — both on the k-means objective and on probe recall."""
    n, c, dim = 2000, 8, 32
    vecs = synth_clustered_embeddings(spark, n, n_clusters=c, dim=dim).cache()
    e = vecs.select("vec_id", "embedding")

    trained = similarity.ivf_train_centroids(e, c, n_iters=10, seed=7)
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < c).orderBy("vec_id").collect()
    ]

    # (1) spherical k-means objective: trained strictly better, and
    # near-perfect on this corpus (every vector ~cosine-1 to its
    # planted center, centers near-orthogonal)
    obj_trained = _mean_assigned_cosine(spark, e, trained)
    obj_seeds = _mean_assigned_cosine(spark, e, seeds)
    assert obj_trained > obj_seeds, (obj_trained, obj_seeds)
    assert obj_trained >= 0.95, obj_trained

    # (2) trained centroids recover the planted partition: every
    # cluster maps to exactly one cell (8 clusters <-> 8 cells) —
    # nprobe=1 probes then see the query's whole true neighbourhood
    cells = (
        similarity.ivf_assign(vecs.select("vec_id", "embedding"), trained)
        .join(vecs.select("vec_id", "cluster"), "vec_id")
        .groupBy("cluster")
        .agg(F.countDistinct("cell").alias("n_cells"))
        .collect()
    )
    assert len(cells) == c
    assert all(r["n_cells"] == 1 for r in cells), cells

    # (3) probe recall@10 vs exact top-10, nprobe=1: trained >= seeds
    # and ~perfect. (Seed cells can accidentally be consistent — two
    # seeds inside ONE planted cluster split it — so the >= is the
    # guaranteed direction; the 0.9 floor is the absolute claim.)
    def recall_at_10(centroids) -> float:
        hits = tot = 0
        for qid in (11, 502, 1203):
            qv = [
                float(x)
                for x in e.filter(F.col("vec_id") == qid).head()["embedding"]
            ]
            exact = {
                r["vec_id"] for r in similarity.cosine_topk(e, qv, k=10).collect()
            }
            got = {
                r["vec_id"]
                for r in similarity.ivf_topk(
                    e, qv, centroids, k=10, nprobe=1
                ).collect()
            }
            hits += len(exact & got)
            tot += len(exact)
        return hits / tot

    r_trained = recall_at_10(trained)
    r_seeds = recall_at_10(seeds)
    vecs.unpersist()
    assert r_trained >= r_seeds, (r_trained, r_seeds)
    assert r_trained >= 0.9, r_trained


def test_ivf_assign_pandas_parity_with_expression_form(spark):
    """The Arrow-matmul assigner (large-C path) must agree cell-for-cell
    with the literal-expression assigner, including on planted near-dup
    vectors (scaled copies probe the norm handling) AND on a zero
    vector: both now share the vnorm==0 -> 1.0 guard, assigning it
    cell 0 — previously the ANSI expression form raised
    DIVIDE_BY_ZERO while pandas assigned, so which behavior training
    got depended only on n_cells."""
    vecs = synth_embeddings(spark, 400, dim=32, dup_frac=0.10)
    zero = spark.createDataFrame(
        [(9999, [0.0] * 32)], "vec_id long, embedding array<double>"
    )
    corpus = vecs.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    ).unionByName(zero)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in corpus.filter(F.col("vec_id") < 6).orderBy("vec_id").collect()
    ]
    expr = {
        r["vec_id"]: r["cell"]
        for r in similarity.ivf_assign(corpus, cents).collect()
    }
    pand = {
        r["vec_id"]: r["cell"]
        for r in similarity.ivf_assign_pandas(corpus, cents).collect()
    }
    assert expr == pand and len(expr) == 401
    assert expr[9999] == 0  # the zero vector: guarded norm -> cell 0


def test_ivf_training_is_deterministic_and_feeds_the_index(spark, tmp_path):
    """Same corpus + seed -> bit-identical centroids; and the trained
    centroids flow end-to-end through build_ivf_index -> manifest ->
    indexed probe with probe/non-indexed parity."""
    vecs = synth_clustered_embeddings(spark, 600, n_clusters=4, dim=16).cache()
    e = vecs.select("vec_id", "embedding")
    c1 = similarity.ivf_train_centroids(e, 4, n_iters=5, seed=11)
    c2 = similarity.ivf_train_centroids(e, 4, n_iters=5, seed=11)
    assert c1 == c2
    # different seed -> different init; on this well-separated corpus
    # Lloyd's still converges to the same partition (directions match)
    c3 = similarity.ivf_train_centroids(e, 4, n_iters=10, seed=12)
    assert len(c3) == 4

    path = str(tmp_path / "ivf_trained")
    similarity.build_ivf_index(e, path, c1)
    qv = [float(x) for x in e.filter(F.col("vec_id") == 77).head()["embedding"]]
    direct = similarity.ivf_topk(e, qv, c1, k=5, nprobe=2).collect()
    indexed = similarity.ivf_topk_indexed(spark, path, qv, k=5, nprobe=2).collect()
    vecs.unpersist()
    assert [tuple(r) for r in direct] == [tuple(r) for r in indexed]


def test_ivf_subset_training_recovers_planted_clusters(spark):
    """``train_sample`` (the 100-TB training path: Lloyd over a
    hash-filtered bounded subset instead of the full corpus) must lose
    nothing on a clusterable corpus: centroids trained on ~1/4 of the
    vectors still reach the near-perfect spherical objective and map
    every planted cluster to exactly one cell. Also pins determinism
    (same seed -> identical centroids, with and without the ``n_vecs``
    count-skipping hint) and that the subset really is a subset."""
    n, c, dim = 2000, 8, 32
    vecs = synth_clustered_embeddings(spark, n, n_clusters=c, dim=dim).cache()
    e = vecs.select("vec_id", "embedding")

    sub = similarity.ivf_train_centroids(
        e, c, n_iters=10, seed=7, train_sample=n // 4
    )
    # hinted n_vecs skips the sizing count job but must select the
    # same threshold, hence the same subset, hence the same centroids
    sub_hinted = similarity.ivf_train_centroids(
        e, c, n_iters=10, seed=7, train_sample=n // 4, n_vecs=n
    )
    assert sub == sub_hinted

    obj = _mean_assigned_cosine(spark, e, sub)
    assert obj >= 0.95, obj
    cells = (
        similarity.ivf_assign(e, sub)
        .join(vecs.select("vec_id", "cluster"), "vec_id")
        .groupBy("cluster")
        .agg(F.countDistinct("cell").alias("n_cells"))
        .collect()
    )
    vecs.unpersist()
    assert len(cells) == c
    assert all(r["n_cells"] == 1 for r in cells), cells


def test_ivf_train_sample_validates_and_bounds(spark):
    vecs = synth_clustered_embeddings(spark, 300, n_clusters=4, dim=16)
    e = vecs.select("vec_id", "embedding")
    with pytest.raises(ValueError, match="train_sample"):
        similarity.ivf_train_centroids(e, 8, train_sample=4)
    # train_sample >= corpus degenerates to full-corpus training
    full = similarity.ivf_train_centroids(e, 4, n_iters=3, seed=5)
    wide = similarity.ivf_train_centroids(
        e, 4, n_iters=3, seed=5, train_sample=10_000
    )
    assert full == wide
