"""Bigram LM + CCNet perplexity bucketing (text/lm.py): hand-computed
probabilities, unseen-token smoothing, the DuckDB twin, bucket
determinism, and the broadcast plan gate."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.text import lm

DOCS = [
    (0, "the cat sat", "en"),
    (1, "the cat ran", "en"),
    (2, "the dog sat", "en"),
    (3, "a dog ran far away", "en"),
    (4, "   ", "en"),  # blank: no tokens, no perplexity row
    (5, None, "en"),  # NULL text likewise
    (6, "le chat le chat le chat", "fr"),
    (7, "chat noir", "fr"),
    (8, "un chien", "fr"),
]


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string"
    ).cache()
    yield df
    df.unpersist()


def _counts_dict(df, keycols):
    return {
        tuple(r[k] for k in keycols): r[df.columns[-1]] for r in df.collect()
    }


def test_train_counts_hand_computed(spark, docs):
    model = lm.train_bigram_lm(docs)
    c12 = _counts_dict(model, ("w1", "w2"))
    # '<s> the' opens docs 0-2; 'the cat' in docs 0,1; 'le chat' x3 in doc 6
    assert c12[(lm.BOS, "the")] == 3
    assert c12[("the", "cat")] == 2
    assert c12[("le", "chat")] == 3
    ctx = _counts_dict(lm.context_counts(model), ("w1",))
    assert ctx[("the",)] == 3  # the->cat x2, the->dog x1
    assert ctx[(lm.BOS,)] == 7  # one BOS bigram per non-empty doc
    # V counts distinct NEXT-words; BOS never appears as w2
    vocab = {w for _, t, _ in DOCS if t and t.strip() for w in t.split()}
    assert lm_v(model) == len(vocab)


def lm_v(model):
    return lm.lm_vocab_size(model)


def test_perplexity_hand_computed(spark, docs):
    model = lm.train_bigram_lm(docs)
    v = lm_v(model)
    out = {
        r["doc_id"]: r.asDict()
        for r in lm.perplexity(docs, model, add_k=0.5).collect()
    }
    # blank/NULL docs have no bigrams -> no row
    assert set(out) == {0, 1, 2, 3, 6, 7, 8}
    assert out[0]["n_tokens"] == 3

    def p(c12, c1):
        return (c12 + 0.5) / (c1 + 0.5 * v)

    # doc 0 'the cat sat': (<s>,the) 3/7, (the,cat) 2/3, (cat,sat) 1/2
    nll = -(
        math.log(p(3, 7)) + math.log(p(2, 3)) + math.log(p(1, 2))
    ) / 3
    assert out[0]["nll"] == round(nll, 6)
    assert out[0]["ppl"] == round(math.exp(nll), 4)


def test_unseen_scoring_smooths(spark, docs):
    """Scoring a disjoint corpus: every unseen bigram/context flows
    through the same (0 + k)/(0 + kV) smoothing — no OOV table, no
    NULL leakage from the left joins."""
    model = lm.train_bigram_lm(docs)
    v = lm_v(model)
    new = spark.createDataFrame(
        [(100, "entirely novel words here", "en")],
        "doc_id long, text string, lang string",
    )
    row = lm.perplexity(new, model, add_k=0.5).first()
    # bigram 1 has the seen BOS context (c1=7, c12=0); the rest are
    # fully unseen: p = 0.5/(0.5*v) = 1/v
    exp_nll = -(
        math.log(0.5 / (7 + 0.5 * v)) + 3 * math.log(1.0 / v)
    ) / 4
    assert row["n_tokens"] == 4
    assert row["nll"] == round(exp_nll, 6)


def test_duckdb_twin(spark, docs):
    """Full differential: Spark pipeline vs the shared oracle CTE
    block on the same rows (the driver gate's exact comparison)."""
    got = {
        r["doc_id"]: (r["lang"], r["n_tokens"], r["nll"], r["ppl"])
        for r in lm.lm_perplexity(docs, carry_cols=("lang",)).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(DOCS, columns=["doc_id", "text", "lang"]),
    )
    sql = f"WITH {lm.lm_ctes_sql()} SELECT * FROM scored"
    want = {
        r[0]: (r[1], r[2], r[3], r[4]) for r in con.execute(sql).fetchall()
    }
    assert got == want


def test_vocab_hint_skips_probe_and_matches(spark, docs):
    """vocab_size hint: same results, zero construction-time jobs on
    the model (the lazy-hint discipline)."""
    model = lm.train_bigram_lm(docs).localCheckpoint(eager=True)
    v = lm_v(model)
    a = lm.perplexity(docs, model, vocab_size=v).collect()
    b = lm.perplexity(docs, model).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(ValueError, match="add_k"):
        lm.perplexity(docs, model, add_k=0.0)


def test_broadcast_plan_gate(spark, docs, monkeypatch):
    """Below the vocab threshold both model joins carry the explicit
    broadcast hint (zero corpus shuffle on the scoring side) and the
    hot path stays Python-free. Above it the hint is dropped —
    Catalyst/AQE may still pick broadcast for a small model (fine; the
    gate exists so a huge model can't be pinned into executor memory)
    — so the un-hinted path is checked for result parity, not plan
    shape."""
    model = lm.train_bigram_lm(docs).localCheckpoint(eager=True)
    bcast = lm.perplexity(docs, model)
    plan = bcast._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Python" not in plan  # pure-Column pipeline
    monkeypatch.setattr(lm, "BROADCAST_VOCAB_THRESHOLD", 0)
    shuf = lm.perplexity(docs, model)
    hints = [
        df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")
        for df in (bcast, shuf)
    ]
    assert hints[0] >= 2 and hints[1] == 0, hints
    assert sorted(map(tuple, bcast.collect())) == sorted(
        map(tuple, shuf.collect())
    )


def test_bucket_stats(spark, docs):
    scored = lm.lm_perplexity(docs, carry_cols=("lang",))
    out = lm.ccnet_bucket_stats(scored, by="lang")
    rows = {(r["lang"], r["bucket"]): r.asDict() for r in out.collect()}
    # en: 4 scored docs -> ntile(3) = 2/1/1; fr: 3 -> 1/1/1
    assert rows[("en", "head")]["n_docs"] == 2
    assert rows[("en", "middle")]["n_docs"] == 1
    assert rows[("en", "tail")]["n_docs"] == 1
    assert all(rows[("fr", b)]["n_docs"] == 1 for b in ("head", "middle", "tail"))
    # buckets are ordered: head max <= middle min <= tail min
    assert rows[("en", "head")]["max_nll"] <= rows[("en", "middle")]["min_nll"]
    assert rows[("en", "middle")]["max_nll"] <= rows[("en", "tail")]["min_nll"]
