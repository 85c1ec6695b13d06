"""Pocket batch perceptron training (round 13): the NumPy twin pins
the integer algorithm bit-for-bit, property tests pin the pocket
selection and the bias feature's role, and the distillation audit is
checked for the accuracy the pocket epoch actually achieved."""

from __future__ import annotations

import pyspark.sql.functions as F

from presto_on_ray_spark import suite
from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.operators.textstats import (
    _CLF_BIAS,
    _CLF_BUCKETS,
    _TRAIN_EPOCHS,
    biased_features,
    classifier_score_biased,
    classifier_train,
    langid_labels,
    text_classifier_distilled,
    text_classifier_train,
)

suite.load_all()


def _numpy_pocket(feat_rows, labels, epochs):
    """Pure-python/NumPy twin of classifier_train: same zero init,
    same batch update over mistakes (y*z <= 0), same pocket selection
    (min training errors, earliest epoch ties). Integer arithmetic
    end-to-end."""
    import numpy as np

    docs = {}
    for d, b, tf in feat_rows:
        docs.setdefault(d, []).append((int(b), int(tf)))
    ids = sorted(docs)
    w = np.zeros(_CLF_BUCKETS + 1, dtype=np.int64)
    # epoch 1 gradient: every featured doc is a mistake under w0 = 0
    for d in ids:
        for b, tf in docs[d]:
            w[b] += labels[d] * tf
    best_err, best_w = None, None
    for e in range(1, epochs + 1):
        errs = [
            d for d in ids
            if labels[d] * sum(tf * w[b] for b, tf in docs[d]) <= 0
        ]
        if best_err is None or len(errs) < best_err:
            best_err, best_w = len(errs), w.copy()
        if e < epochs:
            for d in errs:
                for b, tf in docs[d]:
                    w[b] += labels[d] * tf
    return best_w, best_err


def test_trained_weights_match_numpy_twin(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    feat_rows = [
        (r.doc_id, r.bucket, r.tf) for r in biased_features(d).collect()
    ]
    labels = {r.doc_id: r.y for r in langid_labels(d).collect()}
    tw, _ = _numpy_pocket(feat_rows, labels, _TRAIN_EPOCHS)
    got = {r.bucket: r.wnum for r in text_classifier_train(spark, sf_dir).collect()}
    assert len(got) == _CLF_BUCKETS + 1
    assert all(got[b] == int(tw[b]) for b in range(_CLF_BUCKETS + 1))


def test_pocket_beats_or_equals_final_epoch(spark, sf_dir):
    """The pocket epoch's training error is <= the last epoch's — the
    monotone best-so-far property that motivates the selection (the
    plain batch chain measurably oscillates)."""
    d = t(spark, sf_dir, "documents")
    feat_rows = [
        (r.doc_id, r.bucket, r.tf) for r in biased_features(d).collect()
    ]
    labels = {r.doc_id: r.y for r in langid_labels(d).collect()}
    _, best_err = _numpy_pocket(feat_rows, labels, _TRAIN_EPOCHS)
    # last epoch's error, computed directly
    import numpy as np

    docs = {}
    for dd, b, tf in feat_rows:
        docs.setdefault(dd, []).append((int(b), int(tf)))
    w = np.zeros(_CLF_BUCKETS + 1, dtype=np.int64)
    for dd in sorted(docs):
        for b, tf in docs[dd]:
            w[b] += labels[dd] * tf
    for _ in range(1, _TRAIN_EPOCHS):
        errs = [
            dd for dd in sorted(docs)
            if labels[dd] * sum(tf * w[b] for b, tf in docs[dd]) <= 0
        ]
        for dd in errs:
            for b, tf in docs[dd]:
                w[b] += labels[dd] * tf
    last_err = sum(
        1 for dd in sorted(docs)
        if labels[dd] * sum(tf * w[b] for b, tf in docs[dd]) <= 0
    )
    assert best_err <= last_err


def test_bias_row_participates_in_scoring(spark, sf_dir):
    """classifier_score_biased includes the bias weight in zint but
    excludes the bias tf from n_tokens."""
    d = t(spark, sf_dir, "documents")
    w0 = spark.range(_CLF_BUCKETS + 1).select(
        F.col("id").alias("bucket"), F.lit(0).cast("long").alias("wnum")
    )
    # all-zero weights except a huge positive bias: every featured doc
    # must flip to keep=True
    wb = w0.withColumn(
        "wnum",
        F.when(F.col("bucket") == _CLF_BIAS, F.lit(10**9)).otherwise(0).cast("long"),
    )
    s = classifier_score_biased(d, wb)
    assert s.filter(~F.col("keep")).count() == 0
    # n_tokens equals the real token count (no +1 from the bias row)
    toks = (
        d.select(
            "doc_id",
            F.size(
                F.filter(F.split("text", " "), lambda x: F.length(x) > 0)
            ).cast("long").alias("n_real"),
        )
    )
    bad = (
        s.join(toks, "doc_id")
        .filter(F.col("n_tokens") != F.col("n_real"))
        .count()
    )
    assert bad == 0


def test_distillation_agreement_above_heuristic_floor(spark, sf_dir):
    """The pocket model must beat the trivial always-majority
    classifier on the weak labels (the oscillating plain chain's
    collapse epochs do not)."""
    res = text_classifier_distilled(spark, sf_dir).cache()
    n = res.count()
    ok = res.filter("agree").count()
    maj = (
        langid_labels(t(spark, sf_dir, "documents"))
        .groupBy("y").count().agg(F.max("count")).collect()[0][0]
    )
    res.unpersist()
    assert ok / n > maj / n  # strictly better than majority vote
    assert ok / n >= 0.85


def test_train_returns_dense_weight_relation(spark, sf_dir):
    w = classifier_train(
        t(spark, sf_dir, "documents"),
        langid_labels(t(spark, sf_dir, "documents")),
        epochs=2,
    )
    rows = w.collect()
    assert len(rows) == _CLF_BUCKETS + 1
    assert {r.bucket for r in rows} == set(range(_CLF_BUCKETS + 1))


def test_holdout_trains_only_on_train_split(spark, sf_dir):
    """The holdout key's weights must come from the train split alone:
    training on the full corpus yields DIFFERENT weights (the split is
    a strict subset), and every split appears in the report with a
    sane accuracy."""
    from presto_on_ray_spark.operators.pipeline_prep import (
        split_leakage_safe,
    )
    from presto_on_ray_spark.operators.textstats import (
        text_classifier_holdout,
    )

    rep = text_classifier_holdout(spark, sf_dir).cache()
    rows = {r.split: r for r in rep.collect()}
    assert set(rows) == {"train", "val", "test"}
    for r in rows.values():
        assert 0 <= r.n_agree <= r.n_docs
        assert abs(r.accuracy - r.n_agree / r.n_docs) < 1e-4
    rep.unpersist()

    d = t(spark, sf_dir, "documents")
    splits = split_leakage_safe(spark, sf_dir).select("doc_id", "split")
    train_docs = d.join(
        splits.filter(F.col("split") == "train").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    lab = langid_labels(d)
    w_sub = classifier_train(train_docs, lab, epochs=2)
    w_full = classifier_train(d, lab, epochs=2)
    assert w_sub.exceptAll(w_full).count() > 0  # genuinely different model


def test_holdout_scoring_feature_reuse(spark, sf_dir):
    """r16 (VERDICT r15 #6): scoring from [cached split features union
    freshly featurized held-out docs] equals whole-corpus featurization
    — the holdout keys' reuse seam. Splits partition the corpus and the
    per-doc sums are integer/order-independent, so the relations must
    be row-for-row identical."""
    from presto_on_ray_spark.operators.textstats import (
        _score_biased_feats,
        _train_features,
        demo_weights,
    )

    d = t(spark, sf_dir, "documents")
    lab = langid_labels(d)
    train = d.filter(F.col("doc_id") % 10 < 8)
    held_out = d.filter(F.col("doc_id") % 10 >= 8)
    fl = _train_features(train, lab).persist()
    try:
        w = demo_weights(spark)
        reused = _score_biased_feats(
            fl.select("doc_id", "bucket", "tf").unionByName(
                biased_features(held_out)
            ),
            w,
        )
        fresh = classifier_score_biased(d, w)
        assert reused.exceptAll(fresh).count() == 0
        assert fresh.exceptAll(reused).count() == 0
        assert reused.count() == fresh.count()
    finally:
        fl.unpersist()


def _train_both_tiers(loop_tiers, docs, labels, epochs, **kw):
    """classifier_train's (weights, trace) on the driver-local tier and
    on the distributed tier."""
    from presto_on_ray_spark.caching import release_cached

    def run():
        tr = []
        try:
            w = sorted(
                (r.bucket, r.wnum)
                for r in classifier_train(
                    docs, labels, epochs=epochs, trace=tr, **kw
                ).collect()
            )
        finally:
            release_cached()
        return w, tr

    return loop_tiers(run)


def test_local_tier_equals_distributed(spark, sf_dir, loop_tiers):
    d = t(spark, sf_dir, "documents")
    local, distributed = _train_both_tiers(
        loop_tiers, d, langid_labels(d), _TRAIN_EPOCHS
    )
    assert local == distributed
    assert len(local[1]) == _TRAIN_EPOCHS


def test_local_tier_equals_distributed_val_pocket(spark, sf_dir, loop_tiers):
    d = t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 10 < 8)
    val = d.filter(F.col("doc_id") % 10 >= 8)
    local, distributed = _train_both_tiers(
        loop_tiers, train, langid_labels(d), 4, pocket_docs=val
    )
    assert local == distributed


def test_local_tier_equals_distributed_early_separation(spark, loop_tiers):
    """A linearly separable doc set: epoch 1's weights already classify
    every doc, so both tiers take the early-separation break and pad
    the trace to ``epochs`` rows."""
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog"),
            (2, "a tale of kings to come"),
            (3, "zebra quartz"),
            (4, "lemon violet"),
        ],
        "doc_id long, text string",
    )
    local, distributed = _train_both_tiers(
        loop_tiers, docs, langid_labels(docs), 4
    )
    assert local == distributed
    tr = local[1]
    assert [r["e"] for r in tr] == [1, 2, 3, 4]
    assert tr[0]["err"] == 0
    assert all({**r, "e": 1} == tr[0] for r in tr)
