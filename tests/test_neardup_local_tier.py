"""The near-dup exact tier's driver-local pairs (_local_jaccard_pairs)
against the Spark prefix-join pipeline (_ngram_jaccard_pairs): the same
keeper rows on the fixtures and on hand-built edge cases, and a
fallback to the pipeline on each input the local tier refuses."""

from __future__ import annotations

import pytest

from presto_on_ray_spark import session
from presto_on_ray_spark.caching import release_cached
from presto_on_ray_spark.operators import dedup
from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.session import local_relation

W = [f"w{i}" for i in range(40)]


def _text(*idx) -> str:
    return " ".join(W[i] for i in idx)


def _docs(spark, rows):
    return local_relation(spark, rows, "doc_id long, text string")


@pytest.fixture
def pipeline_calls(monkeypatch):
    """Count runs of the Spark pair pipeline from here on."""
    calls = []
    real = dedup._ngram_jaccard_pairs

    def counted(d):
        calls.append(1)
        return real(d)

    monkeypatch.setattr(dedup, "_ngram_jaccard_pairs", counted)
    return calls


def _keepers_both_tiers(loop_tiers, pipeline_calls, d):
    """_neardup_exact's rows on the driver-local tier and on the Spark
    pipeline, with how many pipeline runs each tier made."""

    def run():
        before = len(pipeline_calls)
        try:
            rows = sorted(tuple(r) for r in dedup._neardup_exact(d).collect())
        finally:
            release_cached()
        return rows, len(pipeline_calls) - before

    return loop_tiers(run)


@pytest.mark.parametrize(
    "fixture, partitions",
    # the fixtures take the local tier, so the partition-stability
    # oracle test no longer reaches the pipeline: these keep it under
    # hostile shuffle-partition counts
    [("sf_dir", None), ("sf_correct", None), ("sf_correct", "7"), ("sf_correct", "1")],
)
def test_local_tier_equals_pipeline_on_fixtures(
    spark, request, loop_tiers, pipeline_calls, fixture, partitions
):
    d = t(spark, request.getfixturevalue(fixture), "documents")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions or prev)
    try:
        (local, local_runs), (spark_rows, spark_runs) = _keepers_both_tiers(
            loop_tiers, pipeline_calls, d
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert (local_runs, spark_runs) == (0, 1)
    assert local == spark_rows
    assert any(not keeper for _, _, keeper in local)


def test_local_tier_equals_pipeline_on_edge_cases(spark, loop_tiers, pipeline_calls):
    rows = [
        # 4 shingles each, 3 shared: Jaccard exactly 3/5 = 0.6, kept
        (1, _text(0, 1, 2, 3, 4, 5)),
        (2, _text(0, 1, 2, 3, 4, 6)),
        # 4 and 5 shingles, 3 shared: Jaccard 0.5, not a pair
        (3, _text(7, 8, 9, 10, 11, 12)),
        (4, _text(7, 8, 9, 10, 11, 13, 14)),
        # exact duplicates
        (5, _text(15, 16, 17, 18)),
        (6, _text(15, 16, 17, 18)),
        # a chain: 20~21 and 21~22 at 6 of 10 shingles, 20 and 22 at 4 of 12
        (20, _text(*range(20, 30))),
        (21, _text(*range(22, 32))),
        (22, _text(*range(24, 34))),
        # no shingles: NULL, empty and under 3 words
        (30, None),
        (31, ""),
        (32, _text(0, 1)),
        (33, _text(0, 1)),
    ]
    (local, local_runs), (spark_rows, spark_runs) = _keepers_both_tiers(
        loop_tiers, pipeline_calls, _docs(spark, rows)
    )
    assert (local_runs, spark_runs) == (0, 1)
    assert local == spark_rows == [
        (1, 1, True), (2, 1, False),
        (5, 5, True), (6, 5, False),
        (20, 20, True), (21, 20, False), (22, 20, False),
    ]


@pytest.mark.parametrize(
    "rows",
    [
        pytest.param([(None, _text(0, 1, 2, 3)), (1, _text(0, 1, 2, 3))], id="null-id"),
        pytest.param([(1, _text(0, 1, 2, 3)), (1, _text(0, 1, 2, 4))], id="repeated-id"),
    ],
)
def test_refused_inputs_fall_back_to_pipeline(
    spark, loop_tiers, pipeline_calls, rows
):
    d = _docs(spark, rows)
    assert dedup._local_jaccard_pairs(dedup._doc_shingles(d), 0.6) is None
    release_cached()
    (local, local_runs), (spark_rows, spark_runs) = _keepers_both_tiers(
        loop_tiers, pipeline_calls, d
    )
    assert (local_runs, spark_runs) == (1, 1)
    assert local == spark_rows


def test_collisions_over_the_bound_fall_back_to_pipeline(
    spark, monkeypatch, pipeline_calls
):
    # 30 one-shingle copies: 30 shingle rows, 30 * 29 / 2 = 435 collisions
    d = _docs(spark, [(i, _text(0, 1, 2)) for i in range(30)])
    sh = dedup._doc_shingles(d)
    try:
        monkeypatch.setattr(session, "LOCAL_LOOP_ROWS", 435)
        assert dedup._local_jaccard_pairs(sh, 0.6).count() == 435
        monkeypatch.setattr(session, "LOCAL_LOOP_ROWS", 434)
        assert dedup._local_jaccard_pairs(sh, 0.6) is None
        rows = dedup._neardup_exact(d).collect()
        assert len(pipeline_calls) == 1
        assert sorted((r.doc_id, r.component_id) for r in rows) == [
            (i, 0) for i in range(30)
        ]
    finally:
        release_cached()
