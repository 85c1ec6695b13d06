"""Streaming classifier inference (streaming/classifier.py): per-batch
verdicts must equal the batch API on the same rows, null-text rows are
dropped like the batch path, and verdicts are batch-boundary-invariant
(scoring is row-local given the frozen weights)."""

from __future__ import annotations

from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.operators.textstats import (
    classifier_score_biased,
    classifier_train,
    langid_labels,
)
from presto_on_ray_spark.streaming.classifier import stream_classifier_score


def test_stream_batches_match_batch_api(spark, sf_dir, tmp_path):
    docs = t(spark, sf_dir, "documents").filter("text IS NOT NULL")
    # train once in batch; freeze the weights for the stream
    weights = classifier_train(
        docs, langid_labels(docs), epochs=2
    ).persist()

    b1 = docs.filter("doc_id % 3 = 0").select("doc_id", "text")
    b2 = docs.filter("doc_id % 3 = 1").select("doc_id", "text")
    src = tmp_path / "arrivals"
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    got: dict[int, dict] = {}

    def sink(df, batch_id):
        got[batch_id] = {
            r.doc_id: (r.n_tokens, r.logit, r.keep) for r in df.collect()
        }

    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        stream_classifier_score(
            stream, weights, sink, checkpoint_dir=str(tmp_path / "ckpt")
        )
        assert len(got) == 2

        def batch_verdicts(df):
            return {
                r.doc_id: (r.n_tokens, r.logit, r.keep)
                for r in classifier_score_biased(df, weights).collect()
            }

        # batch ids follow file order under maxFilesPerTrigger=1
        assert got[0] == batch_verdicts(b1)
        assert got[1] == batch_verdicts(b2)
        # batch-boundary invariance: the union of the two batches'
        # verdicts equals one batch over the union (row-local scoring)
        union = batch_verdicts(b1.unionByName(b2))
        merged = {**got[0], **got[1]}
        assert merged == union
    finally:
        weights.unpersist()


def test_duplicate_doc_ids_in_one_trigger_collapse(spark, tmp_path):
    """A doc_id redelivered INSIDE one trigger (at-least-once source)
    scores once, with the single-delivery n_tokens — the boundary
    dedupe contract (_unique_batch_docs, ADVICE r15: biased_features
    assumes unique doc_ids; without the dedupe the duplicated doc's
    n_tokens doubles)."""
    weights = (
        spark.range(4097)
        .selectExpr("id AS bucket", "CAST(1 AS LONG) AS wnum")
        .persist()
    )
    rows = [(1, "the cat sat"), (1, "the cat sat"), (3, "dog")]
    src = tmp_path / "arrivals"
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "f1"))
    got = {}

    def sink(df, batch_id):
        got[batch_id] = {r.doc_id: r.n_tokens for r in df.collect()}

    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        stream_classifier_score(
            stream, weights, sink, checkpoint_dir=str(tmp_path / "ckpt")
        )
        assert got == {0: {1: 3, 3: 1}}
    finally:
        weights.unpersist()


def test_conflicting_redelivery_scores_deterministically(spark, tmp_path):
    """One trigger carrying the same doc_id with DIFFERENT text keeps
    the max text, whatever the row order: the same batch delivered
    twice, its rows in opposite orders, scores identically."""
    weights = (
        spark.range(4097)
        .selectExpr("id AS bucket", "CAST(1 AS LONG) AS wnum")
        .persist()
    )
    rows = [(1, "a b"), (1, "z y x w"), (3, "dog")]
    src = tmp_path / "arrivals"
    for name, order in (("f1", rows), ("f2", rows[::-1])):
        spark.createDataFrame(order, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / name))
    got = {}

    def sink(df, batch_id):
        got[batch_id] = {
            r.doc_id: (r.n_tokens, r.logit, r.keep) for r in df.collect()
        }

    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        stream_classifier_score(
            stream, weights, sink, checkpoint_dir=str(tmp_path / "ckpt")
        )
        assert got[0] == got[1]
        assert {d: v[0] for d, v in got[0].items()} == {1: 4, 3: 1}
    finally:
        weights.unpersist()


def test_null_text_rows_dropped_like_batch(spark, tmp_path):
    weights = (
        spark.range(4097)
        .selectExpr("id AS bucket", "CAST(1 AS LONG) AS wnum")
        .persist()
    )
    rows = [(1, "the cat sat"), (2, None), (3, "dog")]
    src = tmp_path / "arrivals"
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "f1"))
    got = {}

    def sink(df, batch_id):
        got[batch_id] = sorted(r.doc_id for r in df.collect())

    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        stream_classifier_score(
            stream, weights, sink, checkpoint_dir=str(tmp_path / "ckpt")
        )
        assert got == {0: [1, 3]}
    finally:
        weights.unpersist()
