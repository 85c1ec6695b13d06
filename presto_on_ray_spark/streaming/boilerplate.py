"""Streaming boilerplate strip: clean each arriving micro-batch of
documents against FROZEN corpus-wide segment counts — the
boilerplate analogue of stream_ingest_dedup's frozen-index form: the
counts artifact (operators/pipeline_prep.segment_counts, maintained
across batches by merge_segment_counts) is built offline from the
corpus; the stream pays batch-sized work per trigger.

Batch boundaries cannot change any output row: each document's cut
set depends only on its own segments and the frozen counts, so the
union of per-batch results equals the one-shot
boilerplate_strip_against over all arriving docs (pinned in
tests/test_streaming_boilerplate.py). A deployment that also ADMITS
each batch into the counts runs merge_segment_counts in its sink —
ordering between strip and admit is the sink's policy choice
(strip-then-admit reproduces the frozen semantics; admit-then-strip
would let a batch's own repeats count toward the threshold).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from presto_on_ray_spark.operators.pipeline_prep import (
    _BP_MAX_DF,
    _BP_W,
    boilerplate_strip_against,
)
from presto_on_ray_spark.streaming.ingest import _start


def stream_boilerplate_strip(
    docs_stream: DataFrame,
    counts: DataFrame,
    sink: Callable[[DataFrame, int], None],
    w: int = _BP_W,
    max_df: int = _BP_MAX_DF,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
):
    """Strip every arriving (doc_id, text) micro-batch against the
    frozen ``counts`` relation (PERSIST it — every micro-batch joins
    its over-threshold subset) and hand (doc_id, n_cut_segments,
    clean_text) to ``sink(cleaned_df, batch_id)``. Per-batch persists
    are batch-local (the stream_ingest_dedup keep= discipline), so a
    long-running stream holds O(1) cache state."""
    import contextlib

    def _strip(batch_df: DataFrame, batch_id: int) -> None:
        batch_persists: list[DataFrame] = []

        def keep(df: DataFrame) -> DataFrame:
            batch_persists.append(df.persist())
            return df

        try:
            sink(
                boilerplate_strip_against(
                    batch_df, counts, w=w, max_df=max_df, keep=keep
                ),
                batch_id,
            )
        finally:
            for df in batch_persists:
                with contextlib.suppress(Exception):
                    df.unpersist()

    return _start(docs_stream, _strip, checkpoint_dir, available_now,
                  await_termination)


def stream_segment_counts_admit(
    docs_stream: DataFrame,
    path: str,
    w: int = _BP_W,
    sink: Callable[[DataFrame, int], None] | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
):
    """Exactly-once admission of a streaming (doc_id, text) source
    into a SAVED segment-counts store (pipeline_prep's generation-flip
    layout): each micro-batch is optionally stripped against the
    PRE-admission counts (``sink`` receives the cleaned batch — the
    strip-then-admit ordering, so a batch's own repeats never count
    toward its threshold) and then folded in via
    merge_into_saved_segment_counts(admit_batch_id=batch_id).

    Exactly-once is STRUCTURAL here for the COUNTS ADMISSION, not a
    handshake: the admitted batch-id record lives inside the
    generation directory, so the counts and the admission mark publish
    in one atomic pointer flip — a crash leaves either both or
    neither, and a re-delivered batch whose id is already recorded is
    skipped entirely (no sink call, no merge). The dedup index's admit
    loop gets the same guarantee the same way: its merge records the
    delivery's commit token inside the generation it flips to.

    SINK deliveries, by contrast, are AT-LEAST-ONCE across crashes: a
    crash after sink() but before the merge's generation flip leaves
    the batch unadmitted, so Spark's re-delivery re-runs the sink (the
    skip guard only protects fully admitted batches). This ordering is
    deliberate — sink-then-merge keeps the strip PRE-admission (a
    batch's own repeats never count toward its threshold), at the cost
    of possible duplicate strip output on that crash window. A
    pipeline for which duplicate sink output is worse than
    post-admission strip semantics should idempotency-key the sink on
    (batch_id) or swap to merge-then-sink downstream (ADVICE r12).

    The checkpoint-lineage contract from stream_ingest_admit applies
    unchanged: batch ids restart at 0 under a fresh checkpoint, so
    never point a new checkpoint lineage at a store with recorded
    batches (admitted_count_batches(path) tells you)."""
    from presto_on_ray_spark.operators.pipeline_prep import (
        admitted_count_batches,
        load_segment_counts,
        merge_into_saved_segment_counts,
    )

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in admitted_count_batches(path):
            return  # re-delivery of a fully admitted batch
        batch_df = batch_df.filter(batch_df["text"].isNotNull())
        if sink is not None:
            counts = load_segment_counts(batch_df.sparkSession, path)
            sink(
                boilerplate_strip_against(
                    batch_df, counts, w=w, keep=lambda x: x
                ),
                batch_id,
            )
        merge_into_saved_segment_counts(
            batch_df.sparkSession, path, batch_df, w, admit_batch_id=batch_id
        )

    return _start(docs_stream, _admit, checkpoint_dir, available_now,
                  await_termination)
