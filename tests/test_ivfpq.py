"""IVF-PQ (similarity.build_ivfpq_index / append_ivfpq_index /
ivfpq_topk): the composed FAISS-style layout. Covers cluster-level
recall vs planted ground truth, a full-probe numpy mirror of the
residual-ADC ranking, append with pinned centroids+codebooks,
JVM-side probe plan, and fail-loud validation."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.operators import similarity
from webscrape_neko_jirushi_spark.sources.synth_corpus import (
    synth_clustered_embeddings,
)

DIM, M, KSUB, C = 32, 8, 8, 8


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    vecs = synth_clustered_embeddings(spark, 800, n_clusters=C, dim=DIM).cache()
    e = vecs.select("vec_id", "embedding")
    cents = similarity.ivf_train_centroids(
        e, n_cells=C, n_iters=3, seed=7, dim=DIM, n_vecs=800
    )
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    similarity.build_ivfpq_index(
        e, path, cents, dim=DIM, m=M, ksub=KSUB, seed=7, n_vecs=800
    )
    yield vecs, e, cents, path
    vecs.unpersist()


def test_ivfpq_recall_vs_planted_clusters(spark, corpus):
    """Same cluster-level contract as the PQ and IVF recall tests:
    probing 2 cells must stay inside the query's planted cluster for
    the top-10 and recover >=90% of the cluster at cluster size."""
    vecs, e, cents, path = corpus
    members = {
        r["vec_id"]: r["cluster"]
        for r in vecs.select("vec_id", "cluster").collect()
    }
    by_cluster: dict[int, set[int]] = {}
    for vid, c in members.items():
        by_cluster.setdefault(c, set()).add(vid)
    for qid in (3, 205, 641):
        qv = [
            float(x)
            for x in e.filter(F.col("vec_id") == qid).head()["embedding"]
        ]
        home = by_cluster[members[qid]]
        top10 = {
            r["vec_id"]
            for r in similarity.ivfpq_topk(spark, path, qv, k=10, nprobe=2).collect()
        }
        assert top10 <= home, top10 - home
        wide = {
            r["vec_id"]
            for r in similarity.ivfpq_topk(
                spark, path, qv, k=len(home), nprobe=2
            ).collect()
        }
        recall = len(wide & home) / len(home)
        assert recall >= 0.9, (qid, recall)


def test_ivfpq_full_probe_matches_numpy_mirror(spark, corpus):
    """nprobe=C makes the probe a full ADC ranking; a driver-side
    numpy recomputation from the SAME pinned manifest state (cells
    taken from the index itself, residual codes re-derived with the
    encode contract, per-cell tables re-derived like the probe
    builds them) must reproduce ids and distances exactly."""
    import numpy as np

    from webscrape_neko_jirushi_spark.operators.index_store import IndexManifest

    vecs, e, cents, path = corpus
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]
    got = [
        (int(r["vec_id"]), round(float(r["pq_dist"]), 9))
        for r in similarity.ivfpq_topk(spark, path, qv, k=15, nprobe=C).collect()
    ]

    m = IndexManifest.load(path)
    books = np.asarray(m.meta["codebooks"])  # (M, KSUB, dsub)
    cmat = np.asarray(m.meta["centroids"])
    dsub = DIM // M
    rows = spark.read.option("basePath", path).parquet(
        *m.files_for(m.partitions.keys())
    ).collect()
    qn = np.asarray(qv)
    qn = qn / (np.linalg.norm(qn) or 1.0)
    # per-cell flat tables exactly as the probe builds them
    tables = {}
    for cell in range(C):
        qr = qn - cmat[cell]
        flat = []
        for j in range(M):
            sub = qr[j * dsub : (j + 1) * dsub]
            for c in books[j]:
                flat.append(float(((sub - c) ** 2).sum()))
        tables[cell] = flat
    scored = []
    for r in rows:
        t = tables[int(r["cell"])]
        d = 0.0
        for j, code in enumerate(r["code"]):
            d += t[j * KSUB + int(code)]
        scored.append((d, int(r["vec_id"])))
    scored.sort(key=lambda x: (x[0], x[1]))
    want = [(vid, round(d, 9)) for d, vid in scored[:15]]
    assert got == want


def test_ivfpq_append_uses_pinned_state_and_completes(spark, corpus, tmp_path):
    """An append must encode with the MANIFEST's centroids+codebooks
    (never retrain): the appended rows' stored codes equal a direct
    pq_encode of their residuals under the pinned state, and a
    full-probe at corpus size sees every id."""
    from webscrape_neko_jirushi_spark.operators.index_store import IndexManifest

    vecs, e, cents, _ = corpus
    path = str(tmp_path / "idx")
    base = e.filter(F.col("vec_id") < 700)
    delta = e.filter(F.col("vec_id") >= 700)
    similarity.build_ivfpq_index(
        base, path, cents, dim=DIM, m=M, ksub=KSUB, seed=7, n_vecs=700
    )
    m0 = IndexManifest.load(path)
    similarity.append_ivfpq_index(delta, path)
    m1 = IndexManifest.load(path)
    assert m1.meta["codebooks"] == m0.meta["codebooks"]

    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]
    all_ids = {
        r["vec_id"]
        for r in similarity.ivfpq_topk(spark, path, qv, k=800, nprobe=C).collect()
    }
    assert all_ids == {r["vec_id"] for r in e.collect()}

    # stored delta codes == direct encode of delta residuals, pinned state
    assigned = similarity.ivf_assign(delta, m0.meta["centroids"])
    res = assigned.select(
        "vec_id",
        similarity._residual_col(
            F.col("embedding"), F.col("cell"), m0.meta["centroids"]
        ).alias("_res"),
    )
    direct = {
        int(r["vec_id"]): [int(c) for c in r["code"]]
        for r in similarity.pq_encode(
            res, m0.meta["codebooks"], "vec_id", "_res", normalize=False
        ).collect()
    }
    stored = {
        int(r["vec_id"]): [int(c) for c in r["code"]]
        for r in spark.read.option("basePath", path)
        .parquet(*m1.files_for(m1.partitions.keys()))
        .filter(F.col("vec_id") >= 700)
        .collect()
    }
    assert stored == direct


def test_ivfpq_probe_is_jvm_side(spark, corpus):
    vecs, e, cents, path = corpus
    qv = [float(x) for x in e.head()["embedding"]]
    plan = (
        similarity.ivfpq_topk(spark, path, qv, k=5, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ivfpq_validation_fails_loudly(spark, corpus, tmp_path):
    from webscrape_neko_jirushi_spark.operators.index_store import IndexManifest

    vecs, e, cents, path = corpus
    qv = [float(x) for x in e.head()["embedding"]]
    with pytest.raises(ValueError, match="query dim"):
        similarity.ivfpq_topk(spark, path, qv[: DIM // 2], k=5)
    # an IVF-flat index is not an IVF-PQ index
    flat = str(tmp_path / "flat")
    similarity.build_ivf_index(e, flat, cents)
    with pytest.raises(ValueError, match="not an IVF-PQ index"):
        similarity.ivfpq_topk(spark, flat, qv, k=5)
    with pytest.raises(ValueError, match="no IVF-PQ manifest"):
        similarity.ivfpq_topk(spark, str(tmp_path / "nope"), qv, k=5)
    # and an IVF-PQ index is not an IVF-flat one: same `cell` key, but
    # the kind tag refuses the append before anything is committed
    v0 = IndexManifest.load(path).version
    with pytest.raises(ValueError):
        similarity.append_ivf_index(e.limit(5), path)
    assert IndexManifest.load(path).version == v0
    with pytest.raises(ValueError):
        similarity.ivf_topk_indexed(spark, path, qv)
