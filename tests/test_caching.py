"""Unpersist discipline: tracked persists are fully released after a
query is consumed (no storage pinned in a long-lived session), and the
exact pairwise join refuses unbounded input."""

from __future__ import annotations

import pytest

from presto_on_ray_spark import suite
from presto_on_ray_spark.caching import release_cached

suite.load_all()

PERSISTING = ["dedup_minhash_lsh", "dedup_simhash", "similarity_lsh_buckets"]


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", PERSISTING)
def test_release_after_each_query(spark, sf_dir, name):
    """Repeated-run contract: consume a persisting query, release, and
    executor storage is empty again."""
    for _ in range(2):
        df = suite.QUERIES[name](spark, sf_dir)
        df.count()
        assert _n_persistent_rdds(spark) > 0, "query was expected to persist"
        release_cached()
        assert _n_persistent_rdds(spark) == 0


def test_release_cached_idempotent(spark, sf_dir):
    release_cached()
    assert release_cached() == 0


def test_pairwise_threshold_guard_raises(spark, sf_dir):
    from pyspark.sql import functions as F

    from presto_on_ray_spark.operators.similarity import pairwise_threshold, quantized

    e = (
        suite.QUERIES["similarity_pairwise_threshold"]
        and spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )
    v = e.select("vec_id", "label", quantized(F.col("embedding")).alias("qv"))
    with pytest.raises(ValueError, match="O\\(n\\^2\\) join is capped"):
        pairwise_threshold(v, max_rows=10)
    # under the bound it still runs
    assert pairwise_threshold(v.limit(5), max_rows=10).count() >= 0


# -- reuse registry: one near-dup component relation per session -------

# split_leakage_safe's own jobs once the component relation is shared:
# the documents schema reads, the saturation statistic over the cached
# shingle relation and the split's write (8 measured at both fixture
# SFs; 38 when it re-ran the pair join and connected components)
SPLIT_REUSE_MAX_JOBS = 10


def _count_cc(monkeypatch) -> list:
    """Count connected-components runs from here on."""
    from presto_on_ray_spark.operators import dedup

    calls = []
    real = dedup.connected_components

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(dedup, "connected_components", counted)
    return calls


def _jobs_in_group(spark, group: str, action) -> tuple[int, object]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_reuse_builds_once_per_tag_key_and_session(spark):
    from presto_on_ray_spark.caching import tracked_reuse

    release_cached()
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    assert tracked_reuse("t", spark.range(3), build) == 1
    assert tracked_reuse("t", spark.range(3), build) == 1  # same plan
    assert tracked_reuse("u", spark.range(3), build) == 2  # other tag
    assert tracked_reuse("t", spark.range(4), build) == 3  # other plan
    assert tracked_reuse("t", spark.newSession().range(3), build) == 4
    # entries are dropped, but only unpersisted DataFrames are counted
    assert release_cached() == 0
    assert tracked_reuse("t", spark.range(3), build) == 5
    release_cached()


def test_split_after_clusters_reuses_component_relation(spark, sf_dir, monkeypatch):
    """Called after dedup_neardup_clusters in one session,
    split_leakage_safe runs a pinned handful of jobs and no
    connected-components round, and returns the rows a fresh build
    gives."""
    release_cached()
    suite.QUERIES["dedup_neardup_clusters"](spark, sf_dir).count()
    cc = _count_cc(monkeypatch)
    jobs, shared = _jobs_in_group(
        spark, "reuse-split",
        lambda: sorted(suite.QUERIES["split_leakage_safe"](spark, sf_dir).collect()),
    )
    assert cc == []
    assert jobs <= SPLIT_REUSE_MAX_JOBS
    release_cached()
    fresh = sorted(suite.QUERIES["split_leakage_safe"](spark, sf_dir).collect())
    assert len(cc) == 1
    assert shared == fresh
    release_cached()


# dedup_neardup_clusters' jobs when its shingle relation fits the
# driver-local bound: the shingle collect, connected components' edge
# collect (which fills the edge persist), and the write (5 measured at
# sf0.001, as with the earlier eager edge checkpoint; 25 when the
# prefix join and verify ran as Spark jobs)
NEARDUP_LOCAL_MAX_JOBS = 6


def test_neardup_clusters_job_count_on_local_tier(spark, sf_dir):
    clusters = suite.QUERIES["dedup_neardup_clusters"]
    clusters(spark, sf_dir).collect()  # the documents table's first read infers
    release_cached()
    jobs, _ = _jobs_in_group(
        spark, "neardup-local",
        lambda: clusters(spark, sf_dir).write.format("noop").mode("overwrite").save(),
    )
    release_cached()
    assert jobs <= NEARDUP_LOCAL_MAX_JOBS


def test_component_builds_leave_no_persistent_rdds(spark, sf_dir, loop_tiers):
    """connected_components' edge set and rounds are tracked persists:
    after a build on either tier, release_cached() frees them all."""
    from presto_on_ray_spark.operators.dedup import _neardup_exact
    from presto_on_ray_spark.sources.tables import load_table

    def run():
        release_cached()
        _neardup_exact(load_table(spark, sf_dir, "documents")).collect()
        release_cached()
        return _n_persistent_rdds(spark)

    assert loop_tiers(run) == (0, 0)


# The saved ANN admit and top-k when their relations fit the driver-local
# bound: the merge's batch, cents and codebook collects, the
# already-in-index probe and the one-file write (6 measured at sf0.01;
# 10 on the Spark plans); the top-k's query, codes, cents and codebook
# collects (4; 7 on the Spark plans).
ANN_MERGE_LOCAL_MAX_JOBS = 8
ANN_TOPK_LOCAL_MAX_JOBS = 4


def test_ann_admit_and_topk_job_counts_on_local_tier(spark, sf_correct, tmp_path):
    from pyspark.sql import functions as F

    from presto_on_ray_spark.operators import similarity
    from presto_on_ray_spark.sources.tables import load_table

    v = load_table(spark, sf_correct, "embeddings").select(
        "vec_id", similarity.quantized(F.col("embedding")).alias("qv"))
    p = str(tmp_path / "ann")
    similarity.save_ann_index(similarity.build_ann_index(v.filter(F.col("vec_id") < 400)), p)
    release_cached()
    merge_jobs, _ = _jobs_in_group(
        spark, "ann-merge-local",
        lambda: similarity.merge_into_saved_ann_index(
            spark, p, v.filter(F.col("vec_id") >= 400)),
    )
    topk_jobs, top = _jobs_in_group(
        spark, "ann-topk-local",
        lambda: similarity.ivfpq_topk(
            spark, sf_correct, index=similarity.load_ann_index(spark, p)).collect(),
    )
    release_cached()
    assert top
    assert merge_jobs <= ANN_MERGE_LOCAL_MAX_JOBS
    assert topk_jobs <= ANN_TOPK_LOCAL_MAX_JOBS


def test_release_cached_forces_recompute(spark, sf_dir, monkeypatch):
    release_cached()
    cc = _count_cc(monkeypatch)
    clusters = suite.QUERIES["dedup_neardup_clusters"]
    first = sorted(clusters(spark, sf_dir).collect())
    assert sorted(clusters(spark, sf_dir).collect()) == first
    assert len(cc) == 1
    release_cached()
    assert sorted(clusters(spark, sf_dir).collect()) == first
    assert len(cc) == 2
    release_cached()


def test_reuse_never_crosses_sf_dirs_or_tiers(spark, sf_dir, sf_correct, monkeypatch):
    from presto_on_ray_spark.operators.dedup import _lsh_keepers_dialed, _neardup_exact
    from presto_on_ray_spark.sources.tables import load_table

    release_cached()
    cc = _count_cc(monkeypatch)
    d_small = load_table(spark, sf_dir, "documents")
    d_large = load_table(spark, sf_correct, "documents")
    _neardup_exact(d_small)
    _neardup_exact(d_large)
    assert len(cc) == 2
    _lsh_keepers_dialed(d_small, 0.6, 0.98)  # dial (29, 4)
    assert len(cc) == 3
    _lsh_keepers_dialed(d_small, 0.6, 0.999)  # dial (29, 3)
    assert len(cc) == 4
    _lsh_keepers_dialed(d_small, 0.6, 0.98)
    _neardup_exact(d_small)
    _neardup_exact(d_large)
    assert len(cc) == 4
    release_cached()


def test_reuse_rebuilds_under_another_shuffle_partition_count(
    spark, sf_dir, monkeypatch
):
    """A key re-run under another shuffle.partitions runs its
    connected-components rounds again (the partition-stability oracle
    test relies on it); returning to a count already built reuses."""
    release_cached()
    cc = _count_cc(monkeypatch)
    clusters = suite.QUERIES["dedup_neardup_clusters"]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        first = sorted(clusters(spark, sf_dir).collect())
        for n, partitions in enumerate(["7", "1"], start=2):
            spark.conf.set("spark.sql.shuffle.partitions", partitions)
            assert sorted(clusters(spark, sf_dir).collect()) == first
            assert len(cc) == n
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        clusters(spark, sf_dir)
        assert len(cc) == 3
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        release_cached()


def test_reuse_concurrent_with_release(spark):
    """Racing tracked_reuse with release_cached() raises nothing, and
    a build that a release overtook does not outlive it."""
    import sys
    import threading

    from presto_on_ray_spark.caching import tracked_persist, tracked_reuse

    release_cached()
    key = spark.range(3)
    errors = []

    def guarded(fn):
        def run():
            try:
                fn()
            except Exception as e:  # noqa: BLE001 - asserted below
                errors.append(e)
        return run

    def persist_and_release():
        tracked_persist(spark.range(1))
        release_cached()

    def run_all(fns):
        threads = [threading.Thread(target=f) for f in fns]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        run_all(
            [guarded(lambda: tracked_reuse("race", key, object))] * 8
            + [guarded(persist_and_release)] * 8
        )
        assert errors == []
    finally:
        sys.setswitchinterval(old)
        release_cached()

    # a release lands while a build is in progress
    building, released = threading.Event(), threading.Event()

    def slow_build():
        building.set()
        assert released.wait(timeout=60)
        return "stale"

    th = threading.Thread(
        target=guarded(lambda: tracked_reuse("overtaken", key, slow_build))
    )
    th.start()
    assert building.wait(timeout=60)
    release_cached()
    released.set()
    th.join(timeout=60)
    assert errors == []
    assert tracked_reuse("overtaken", key, lambda: "fresh") == "fresh"
    release_cached()
