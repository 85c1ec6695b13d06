"""Round-15 optimization pins: the plan shapes and equalities the
optimization round introduced must not silently regress.

1. The classifier's per-epoch gradient job runs as ONE windowed pass
   over the cached feature relation — no SortMergeJoin semi-join, no
   exchange between the cache scan and the window.
2. connected_components' lazy-checkpoint rounds still produce exact
   components (the fusion changed materialization, never the labels),
   and its driver-local tier agrees with them.
3. _distill_audit_fl (audit from the trainer's cached features) equals
   _distill_audit (audit by re-featurizing) row-for-row.
"""

from __future__ import annotations

import io
import sys

import pytest
from pyspark.sql import functions as F, Window

from presto_on_ray_spark.caching import release_cached, tracked_persist
from presto_on_ray_spark.session import local_relation


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    stdout, sys.stdout = sys.stdout, buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


def test_classifier_epoch_job_is_one_windowed_pass(spark, sf_dir):
    from presto_on_ray_spark.operators.textstats import (
        _CLF_BUCKETS,
        _train_features,
        langid_labels,
    )
    from presto_on_ray_spark.operators._util import t

    d = t(spark, sf_dir, "documents")
    fl = tracked_persist(_train_features(d, langid_labels(d)))
    try:
        fl.count()  # materialize the cache the epochs scan
        wdf = F.broadcast(
            local_relation(
                spark,
                [(b, 1) for b in range(_CLF_BUCKETS + 1)],
                "bucket long, wnum long",
            )
        )
        zin = F.sum(F.col("tf") * F.col("wnum")).over(
            Window.partitionBy("doc_id")
        )
        g = (
            fl.join(wdf, "bucket")
            .withColumn("zint", zin)
            .filter(F.col("y") * F.col("zint") <= 0)
            .groupBy("bucket")
            .agg(F.sum(F.col("y") * F.col("tf")).alias("g"))
        )
        # the numbered operator tree (everything before the first blank
        # line) is the EPOCH plan; the cached relation's own build plan
        # is embedded under its InMemoryRelation node — cut there, the
        # epoch pays the cache build once, not per epoch
        tree = _formatted_plan(g).split("\n\n", 1)[0]
        tree = tree.split("InMemoryRelation", 1)[0]
        assert "SortMergeJoin" not in tree, tree
        assert "ShuffledHashJoin" not in tree, tree
        # exactly one exchange: the tiny per-bucket gradient aggregate
        n_exchanges = sum(
            1 for line in tree.splitlines() if "- Exchange" in line
        )
        assert n_exchanges == 1, tree
        # the window reads the cache directly — no exchange or sort
        # between InMemoryTableScan and Window
        lines = [ln for ln in tree.splitlines()]
        win_i = next(i for i, ln in enumerate(lines) if "Window" in ln)
        scan_i = next(
            i for i, ln in enumerate(lines) if "InMemoryTableScan" in ln
        )
        between = lines[win_i + 1 : scan_i]
        assert not any(
            ("Exchange" in ln or "- Sort" in ln) for ln in between
        ), tree
    finally:
        release_cached()


def test_connected_components_exact_after_lazy_fusion(spark, loop_tiers):
    from presto_on_ray_spark.operators.dedup import connected_components

    # two components {1,2,3,4} (chain) and {10,11}, plus the singleton
    # self-pair 20-20; min-label propagation needs >1 round on the
    # chain, so the lazy per-round materialization is exercised (on the
    # distributed tier; the driver-local tier must agree)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)],
        "doc_a long, doc_b long",
    )
    local, distributed = loop_tiers(
        lambda: {
            (r["node"], r["component_id"])
            for r in connected_components(pairs).collect()
        }
    )
    assert local == distributed == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20),
    }


def test_connected_components_empty_edge_set(spark, loop_tiers):
    from presto_on_ray_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")

    def run():
        comp = connected_components(pairs)
        return comp.schema, comp.collect()

    local, distributed = loop_tiers(run)
    assert local == distributed
    assert local[0].fieldNames() == ["node", "component_id"]
    assert local[1] == []


def test_connected_components_raises_without_fixpoint(spark, monkeypatch):
    """The distributed rounds stop at max_iterations; a 6-node chain
    needs 5 hops plus a confirming round, so 2 rounds must raise
    instead of returning partial labels as components."""
    from presto_on_ray_spark import session
    from presto_on_ray_spark.operators.dedup import connected_components

    monkeypatch.setattr(session, "LOCAL_LOOP_ROWS", 0)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with pytest.raises(ValueError, match="max_iterations=2"):
        connected_components(chain, max_iterations=2).collect()
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(chain, max_iterations=6).collect()
    }
    assert got == {i: 0 for i in range(6)}


def test_distill_audit_fl_equals_refeaturized_audit(spark, sf_dir):
    from presto_on_ray_spark.operators.textstats import (
        _distill_audit,
        _distill_audit_fl,
        _train_features,
        classifier_train,
        langid_labels,
    )
    from presto_on_ray_spark.operators._util import t

    d = t(spark, sf_dir, "documents")
    lab = langid_labels(d)
    fl = tracked_persist(_train_features(d, lab))
    try:
        w = classifier_train(d, lab, fl=fl)
        a = {tuple(r) for r in _distill_audit(d, lab, w).collect()}
        b = {tuple(r) for r in _distill_audit_fl(fl, w).collect()}
        assert a == b
    finally:
        release_cached()
