"""Continuous near-dup maintenance over a document stream.

Wires Structured Streaming to the persisted incremental LSH text
index (``dedup.build_lsh_text_index`` family): each micro-batch of
newly-crawled documents is signed + banded ONCE, its near-dup
candidate pairs against everything already indexed (and within the
batch) are emitted to a pairs sink, and the same checkpointed bands
are appended to the index — so the next batch sees it. Per-batch cost is
delta-proportional (the incremental query's whole contract,
``dedup.lsh_candidates_incremental``); the corpus is never re-signed.

At 100 TB this is the shape a production dedup service takes: the
crawl emits documents continuously, and "is this a near-dup of
anything we've ever seen" must be answered against the full history
WITHOUT a nightly full-corpus job. The batch-analytics twin of every
step exists in ``operators/dedup.py`` and is what the driver queries
exercise; this module contributes only the streaming lifecycle —
exactly-once bookkeeping over foreachBatch's at-least-once replays:

- the pairs sink is written to ``epoch=<id>`` partition directories
  with per-directory overwrite, so a replayed epoch REPLACES its own
  output instead of duplicating it (and recomputes identical pairs,
  because the index append below hadn't committed);
- the index append carries ``last_stream_epoch`` into the manifest
  meta in the SAME atomic commit, so "bands are in the index" and
  "epoch is done" cannot be observed apart — a replay of a committed
  epoch is detected from one manifest read and skipped whole.

Crash matrix: die before the sink write -> full replay; die between
sink write and manifest commit -> replay recomputes the same pairs
(index state unchanged) and overwrites the same partition; die after
the commit -> replay no-ops. Orphaned parquet from a torn append is
invisible to manifest-resolved readers and reclaimed by
``index_store`` vacuum.

Maintenance: each committed epoch appends one file per touched pb
dir, so a long-running stream re-grows the per-dir file count the
build's one-file-per-dir writer eliminated. Run
``index_store.compact_index`` periodically (gate on
``IndexManifest.partitions_needing_compaction``) from OUTSIDE the
stream — both are single-writer commits, so pause the stream or run
it between batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import dedup


def doc_batch_update_index(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    pairs_sink: str,
    max_bucket: int | None = None,
) -> bool:
    """foreachBatch body: emit the batch's candidate pairs and commit
    its bands into the index. Returns False when the epoch was already
    committed (replay detected) and nothing was done. Usable directly
    in batch code too — an orchestrated nightly delta is just an epoch
    with a hand-assigned id."""
    m = dedup._checked_index(dedup._MINHASH, index_path)
    if int(m.meta.get("last_stream_epoch", -1)) >= int(epoch_id):
        return False
    # the probe's checkpointed banding is what the append commits: the
    # batch is signed once
    _, delta, pairs, _ = dedup._probe_index(
        batch_df.sparkSession, dedup._MINHASH, batch_df, index_path, max_bucket
    )
    # per-epoch directory + overwrite = replay-idempotent sink
    pairs.write.mode("overwrite").parquet(f"{pairs_sink}/epoch={int(epoch_id)}")
    dedup._commit_delta(
        index_path, delta, meta_update={"last_stream_epoch": int(epoch_id)}
    )
    return True


def near_dup_stream_writer(
    doc_stream: DataFrame,
    index_path: str,
    pairs_sink: str,
    checkpoint_dir: str,
    max_bucket: int | None = None,
):
    """``writeStream`` builder for the continuous dedup loop: start()
    (or trigger(availableNow=True) for catch-up runs) to consume a
    document stream into the index + pairs sink. One micro-batch at a
    time per Structured Streaming's contract, which is what makes the
    epoch watermark in the manifest a total order."""

    def _body(batch_df: DataFrame, epoch_id: int) -> None:
        doc_batch_update_index(
            batch_df, epoch_id, index_path, pairs_sink, max_bucket
        )

    return (
        doc_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_body)
    )
