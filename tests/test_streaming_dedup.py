"""Streaming near-dup maintenance: parity with the batch rebuild,
exactly-once replay semantics, and the real writeStream surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.operators import dedup
from webscrape_neko_jirushi_spark.operators.index_store import IndexManifest
from webscrape_neko_jirushi_spark.sources.synth_corpus import synth_documents
from webscrape_neko_jirushi_spark.streaming.dedup_stream import (
    doc_batch_update_index,
    near_dup_stream_writer,
)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_documents(spark, 1500, dup_frac=0.2, seed="stream-dedup-1")
    docs = docs.localCheckpoint(eager=True)
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs, "text", "doc_id", 16, 5),
            "doc_id",
            16,
            4,
        ).collect()
    }
    return {"docs": docs, "full": full}


def _sink_pairs(spark, sink):
    return {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(str(sink)).collect()
    }


def test_stream_epochs_match_batch_rebuild(spark, corpus, tmp_path, monkeypatch):
    """Two streamed epochs over a pre-built index emit exactly the
    pairs a full rebuild reports for the streamed ids, and the second
    epoch sees the first's docs (cross-epoch pairs present). Each epoch
    signs its batch once: the append commits the probe's banding."""
    docs, full = corpus["docs"], corpus["full"]
    base = docs.filter(F.col("doc_id") < 1350)
    d1 = docs.filter((F.col("doc_id") >= 1350) & (F.col("doc_id") < 1425))
    d2 = docs.filter(F.col("doc_id") >= 1425)
    idx = str(tmp_path / "idx")
    sink = str(tmp_path / "pairs")
    dedup.build_lsh_text_index(base, idx, "text", "doc_id", 16, 4, 5, n_subparts=16)

    calls = []
    sign = dedup.minhash_signatures

    def counted(*args, **kwargs):
        calls.append(1)
        return sign(*args, **kwargs)

    monkeypatch.setattr(dedup, "minhash_signatures", counted)
    assert doc_batch_update_index(d1, 0, idx, sink) is True
    assert len(calls) == 1
    assert doc_batch_update_index(d2, 1, idx, sink) is True
    assert len(calls) == 2

    want = {(a, b) for a, b in full if a >= 1350 or b >= 1350}
    assert _sink_pairs(spark, sink) == want and len(want) > 30
    # cross-epoch evidence: at least one pair spans d1 and d2
    assert any(
        (1350 <= a < 1425 and b >= 1425) or (1350 <= b < 1425 and a >= 1425)
        for a, b in want
    )


def test_replayed_epoch_is_skipped_whole(spark, corpus, tmp_path):
    docs = corpus["docs"]
    base = docs.filter(F.col("doc_id") < 1400)
    d1 = docs.filter(F.col("doc_id") >= 1400)
    idx = str(tmp_path / "idx")
    sink = str(tmp_path / "pairs")
    dedup.build_lsh_text_index(base, idx, "text", "doc_id", 16, 4, 5, n_subparts=16)

    assert doc_batch_update_index(d1, 7, idx, sink) is True
    v = IndexManifest.load(idx).version
    rows = _sink_pairs(spark, sink)
    # at-least-once replay of a committed epoch: no-op, no new version
    assert doc_batch_update_index(d1, 7, idx, sink) is False
    assert IndexManifest.load(idx).version == v
    assert _sink_pairs(spark, sink) == rows
    # an EARLIER epoch id is also a replay (watermark is monotone)
    assert doc_batch_update_index(d1, 3, idx, sink) is False


def test_writestream_available_now(spark, corpus, tmp_path):
    """The real streaming surface: docs land as parquet files, a
    file-source stream drains them through near_dup_stream_writer."""
    docs = corpus["docs"]
    base = docs.filter(F.col("doc_id") < 1400)
    delta = docs.filter(F.col("doc_id") >= 1400)
    idx = str(tmp_path / "idx")
    sink = str(tmp_path / "pairs")
    inbox = str(tmp_path / "inbox")
    dedup.build_lsh_text_index(base, idx, "text", "doc_id", 16, 4, 5, n_subparts=16)
    delta.write.parquet(inbox)

    stream = spark.readStream.schema(delta.schema).parquet(inbox)
    q = (
        near_dup_stream_writer(stream, idx, sink, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    want = {
        (a, b) for a, b in corpus["full"] if a >= 1400 or b >= 1400
    }
    assert _sink_pairs(spark, sink) == want and len(want) > 10
    # the index advanced: manifest carries the stream watermark
    assert int(IndexManifest.load(idx).meta["last_stream_epoch"]) >= 0
