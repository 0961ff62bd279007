"""semantic_dedup: parity vs a numpy mirror of SemDeDup's triu-max
formulation, plus the planted-cluster behavioral contract (base kept,
scaled copies pruned; cross-cluster survivors untouched)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from webscrape_neko_jirushi_spark.operators import dedup


def _mirror(vecs: dict[int, list[float]], centroids: list[list[float]], tau: float):
    """Driver-side SemDeDup: assign -> order (ccos ASC, id ASC) ->
    remove i iff any earlier j has round(cos,9) >= tau."""

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    def r9(x):
        # HALF_UP like F.round
        return math.floor(abs(x) * 1e9 + 0.5) / 1e9 * (1 if x >= 0 else -1)

    assign = {}
    for vid, v in vecs.items():
        scores = [r9(cos(v, c)) for c in centroids]
        best = max(scores)
        assign[vid] = (scores.index(best), best)
    kept = {}
    for cell in set(c for c, _ in assign.values()):
        members = sorted(
            [vid for vid, (c, _) in assign.items() if c == cell],
            key=lambda vid: (assign[vid][1], vid),
        )
        for i, vid in enumerate(members):
            removed = any(
                r9(cos(vecs[members[j]], vecs[vid])) >= tau for j in range(i)
            )
            kept[vid] = not removed
    return assign, kept


@pytest.fixture(scope="module")
def corpus():
    rng = np.random.default_rng(42)
    base = rng.normal(size=(40, 8))
    rows = {}
    for i, v in enumerate(base):
        rows[i] = [float(x) for x in v]
    # planted exact-direction duplicates of every 4th vector (cos == 1.0)
    for i in range(0, 40, 4):
        rows[1000 + i] = [float(x) * 3.0 for x in base[i]]
    # planted near-duplicate (small perturbation) of vector 1
    pert = base[1] + rng.normal(scale=0.01, size=8)
    rows[2001] = [float(x) for x in pert]
    return rows


def test_semantic_dedup_matches_numpy_mirror(spark, corpus):
    centroids = [corpus[0], corpus[1], corpus[2], corpus[3]]
    df = spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in dedup.semantic_dedup(df, centroids, tau=0.9).collect()
    }
    assign, kept = _mirror(corpus, centroids, tau=0.9)
    assert set(got) == set(corpus)
    for vid in corpus:
        assert got[vid][0] == assign[vid][0], f"cell mismatch for {vid}"
        assert got[vid][1] == kept[vid], f"kept mismatch for {vid}"


def test_semantic_dedup_prunes_planted_duplicates(spark, corpus):
    centroids = [corpus[0], corpus[1], corpus[2], corpus[3]]
    df = spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], "vec_id long, embedding array<double>"
    )
    res = {
        r["vec_id"]: r["kept"]
        for r in dedup.semantic_dedup(df, centroids, tau=0.95).collect()
    }
    # every planted scaled copy pairs with its base at cos==1.0 and the
    # SAME ccos: tie-break keeps the lower id (the base)
    for i in range(0, 40, 4):
        assert res[i] or res[1000 + i] is False  # at most one of the pair dies
        assert not (res[i] and res[1000 + i]), f"pair ({i},{1000+i}) both kept"
        assert res[i], f"base {i} should win the tie against {1000+i}"
    # the perturbation dup of 1 is pruned (cos ~0.9998) unless the base
    # itself was pruned first — with distinct directions, base 1 is a
    # centroid-seed so ccos(1)=1.0: it is LAST in its cell's order, so
    # 2001 is earlier; exactly one of the two survives
    assert res[1] != res[2001]


def test_arrow_path_matches_literal_path(spark, corpus):
    """The >128-centroid Arrow matmul assign must be row-identical to
    the literal-Column form (cell, ccos, AND the kept flags) — forced
    here with arrow_threshold=0 on a small centroid list."""
    centroids = [corpus[0], corpus[1], corpus[2], corpus[3]]
    df = spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], "vec_id long, embedding array<double>"
    )
    lit = sorted(
        dedup.semantic_dedup(df, centroids, tau=0.9).collect(),
        key=lambda r: r["vec_id"],
    )
    arrow = sorted(
        dedup.semantic_dedup(df, centroids, tau=0.9, arrow_threshold=0).collect(),
        key=lambda r: r["vec_id"],
    )
    assert [tuple(r) for r in lit] == [tuple(r) for r in arrow]
