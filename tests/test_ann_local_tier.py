"""The IVF-PQ driver-local tier (merge_into_saved_ann_index's admit via
_local_admit, ivfpq_topk via _local_ivfpq_topk) against the Spark plans
(_ann_batch_guard + encode_into_ann_index, _ivfpq_scores): the same
code rows, top-k rows and guard errors on the fixtures and on
hand-built indexes, and a fallback to the Spark plan on each input the
local tier refuses."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from presto_on_ray_spark import session
from presto_on_ray_spark.caching import release_cached
from presto_on_ray_spark.operators import similarity
from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.operators.similarity import (
    AnnIndex,
    build_ann_index,
    ivfpq_topk,
    load_ann_index,
    merge_into_saved_ann_index,
    quantized,
    save_ann_index,
)
from presto_on_ray_spark.session import local_relation

from .conftest import SF_CORRECT

SF_LARGE = os.path.join(os.path.dirname(SF_CORRECT), "sf0.1")
DIM = similarity._PQ_M * similarity._PQ_SUB


@pytest.fixture
def spark_calls(monkeypatch):
    """Count runs of the Spark encode and scoring plans from here on."""
    calls = {"encode": 0, "scores": 0}
    encode, scores = similarity.encode_into_ann_index, similarity._ivfpq_scores

    def counted_encode(*a, **kw):
        calls["encode"] += 1
        return encode(*a, **kw)

    def counted_scores(*a, **kw):
        calls["scores"] += 1
        return scores(*a, **kw)

    monkeypatch.setattr(similarity, "encode_into_ann_index", counted_encode)
    monkeypatch.setattr(similarity, "_ivfpq_scores", counted_scores)
    return calls


def _vecs(spark, sf_dir):
    return t(spark, sf_dir, "embeddings").select(
        "vec_id", quantized(F.col("embedding")).alias("qv")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _relations(spark, path):
    idx = load_ann_index(spark, path)
    return tuple(_rows(rel) for rel in idx)


def _topk(spark, sf_dir, index, n_queries, k, nprobe):
    return _rows(ivfpq_topk(spark, sf_dir, n_queries, k, nprobe, index=index))


def _both_tiers(loop_tiers, spark_calls, fn):
    """fn()'s value on the driver-local tier and on the Spark plans,
    with the Spark plan runs each tier made."""

    def run():
        before = dict(spark_calls)
        try:
            out = fn()
        finally:
            release_cached()
        return out, {k: spark_calls[k] - before[k] for k in before}

    return loop_tiers(run)


# -- fixtures: merged relations and top-k rows --------------------------

TOPK_ARGS = [(5, 4, 3), (20, 10, 8), (7, 3, 1), (5, 4, 50)]


@pytest.mark.parametrize("sf", [SF_CORRECT, SF_LARGE])
def test_local_tier_equals_spark_on_fixtures(spark, tmp_path, loop_tiers, spark_calls, sf):
    if not os.path.exists(os.path.join(sf, "embeddings.parquet")):
        pytest.skip(f"no embeddings table under {sf}")
    v = _vecs(spark, sf)
    counter = iter(range(2))

    def run():
        p = str(tmp_path / f"ann{next(counter)}")
        save_ann_index(build_ann_index(v.filter(F.col("vec_id") < 400)), p)
        merge_into_saved_ann_index(spark, p, v.filter(F.col("vec_id") >= 400))
        loaded = load_ann_index(spark, p)
        return _relations(spark, p), [
            _topk(spark, sf, loaded, *args) for args in TOPK_ARGS
        ]

    (local, local_runs), (dist, dist_runs) = _both_tiers(loop_tiers, spark_calls, run)
    assert local_runs == {"encode": 0, "scores": 0}
    assert dist_runs == {"encode": 1, "scores": len(TOPK_ARGS)}
    assert local == dist
    assert len(local[0][2]) > len(local[0][1])  # codes rows were merged
    assert all(local[1])


def test_local_tier_equals_spark_on_a_built_index(spark, sf_dir, loop_tiers, spark_calls):
    (local, local_runs), (dist, _) = _both_tiers(
        loop_tiers, spark_calls, lambda: _rows(ivfpq_topk(spark, sf_dir))
    )
    assert local_runs["scores"] == 0
    assert local == dist and local


# -- hand-built indexes: ties, self-pairs, duplicated and orphan codes --


def _write_embeddings(dirpath, vectors: dict) -> str:
    """An embeddings table whose quantized vectors are ``vectors``."""
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(list(vectors), pa.int64()),
            "embedding": pa.array(
                [[x / 1000 for x in vec] for vec in vectors.values()],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * len(vectors), pa.int32()),
        }),
        os.path.join(dirpath, "embeddings.parquet"),
    )
    return str(dirpath)


def _hand_index(spark, codes):
    """Cells 3 and 5 at -1 and +1 in every dimension, and per subspace
    the codewords 0 (all 0) and 1 (all 2): a zero query is equidistant
    from both cells, and its residual (+1 under cell 3) from both
    codewords."""
    cents = local_relation(
        spark, [(5, [1] * DIM), (3, [-1] * DIM)], "cell long, cv array<long>"
    )
    book = local_relation(
        spark,
        [(j, c, [2 * c] * similarity._PQ_SUB) for j in range(similarity._PQ_M) for c in (1, 0)],
        "j int, c long, cw array<long>",
    )
    return AnnIndex(
        cents, book, local_relation(spark, codes, "vec_id long, cell long, j int, code long")
    )


def _codes_of(vec_id, cell, code_of_j):
    return [(vec_id, cell, j, code_of_j(j)) for j in range(similarity._PQ_M)]


def test_ties_self_pairs_duplicated_and_orphan_codes(spark, tmp_path, loop_tiers, spark_calls):
    sf = _write_embeddings(tmp_path / "emb", {0: [0] * DIM, 1: [4] * DIM})
    codes = (
        _codes_of(0, 3, lambda j: 0)  # the query itself: the self-pair is skipped
        + _codes_of(10, 3, lambda j: j % 2)
        + _codes_of(11, 3, lambda j: 1) * 2  # duplicated rows count twice
        + _codes_of(12, 3, lambda j: 0)
        + _codes_of(13, 5, lambda j: 1)  # in the unprobed tie cell
        + [(14, 99, 0, 0), (14, 3, 0, 77), (14, 3, 9, 0), (12, 3, 1, 5)]  # orphans
    )
    index = _hand_index(spark, codes)

    def run():
        return [_topk(spark, sf, index, 1, 10, nprobe) for nprobe in (1, 2)]

    (local, local_runs), (dist, dist_runs) = _both_tiers(loop_tiers, spark_calls, run)
    assert (local_runs["scores"], dist_runs["scores"]) == (0, 2)
    assert local == dist
    one, two = local
    # the zero query probes cell 3, the smaller of the tied cells; every
    # subspace's two codewords are 8 away from its residual
    assert one == [(0, 10, 64), (0, 11, 128), (0, 12, 64)]
    # under cell 5 the residual is -1: codeword 1 is 72 away
    assert two == one + [(0, 13, 8 * 72)]


def test_admit_ties_decided_alike(spark, tmp_path, loop_tiers, spark_calls):
    index = _hand_index(spark, [(0, 3, 0, 0)])
    batch = local_relation(
        spark, [(20, [0] * DIM), (21, [3] * DIM), (22, [-3] * DIM)], "vec_id long, qv array<long>"
    )
    counter = iter(range(2))

    def run():
        p = str(tmp_path / f"ann{next(counter)}")
        save_ann_index(index, p)
        merge_into_saved_ann_index(spark, p, batch)
        return _relations(spark, p)[2]

    (local, local_runs), (dist, dist_runs) = _both_tiers(loop_tiers, spark_calls, run)
    assert (local_runs["encode"], dist_runs["encode"]) == (0, 1)
    assert local == dist
    # vector 20 is equidistant from both cells and its residual from both
    # codewords: the smallest cell and c win
    assert [r for r in local if r[0] == 20] == _codes_of(20, 3, lambda j: 0)
    assert [r for r in local if r[0] == 21] == _codes_of(21, 5, lambda j: 1)
    assert [r for r in local if r[0] == 22] == _codes_of(22, 3, lambda j: 0)


def test_no_query_rows_give_an_empty_result(spark, sf_dir, loop_tiers, spark_calls):
    idx = build_ann_index(_vecs(spark, sf_dir))
    (local, local_runs), (dist, _) = _both_tiers(
        loop_tiers, spark_calls, lambda: _topk(spark, sf_dir, idx, 0, 4, 3)
    )
    assert local_runs["scores"] == 0
    assert local == dist == []


# -- fallbacks ----------------------------------------------------------


def test_fallback_on_ragged_and_null_vectors(spark, tmp_path, spark_calls):
    index = _hand_index(spark, [(0, 3, 0, 0)])
    schema = "vec_id long, qv array<long>"
    for i, batch in enumerate([
        [(30, [1] * (DIM - 1))],  # ragged dimension
        [(31, [1] * (DIM - 1) + [None])],  # a NULL element
        [(32, None)],  # a NULL vector
    ]):
        p = str(tmp_path / f"ann{i}")
        save_ann_index(index, p)
        before = spark_calls["encode"]
        merge_into_saved_ann_index(spark, p, local_relation(spark, batch, schema))
        assert spark_calls["encode"] == before + 1
    # a ragged centroid sends the query to the Spark plan too
    sf = _write_embeddings(tmp_path / "emb", {0: [0] * DIM})
    ragged = index._replace(cents=local_relation(
        spark, [(3, [-1] * (DIM - 1))], "cell long, cv array<long>"
    ))
    ivfpq_topk(spark, sf, 1, 4, 1, index=ragged).collect()
    assert spark_calls["scores"] == 1
    release_cached()


def test_fallback_over_the_bound(spark, sf_dir, tmp_path, monkeypatch, spark_calls):
    """A batch and a query table under the bound whose codes relation
    is over it run on the Spark plans, with the local tier's rows."""
    v = _vecs(spark, sf_dir)
    idx = build_ann_index(v.filter(F.col("vec_id") < 400))
    want = _topk(spark, sf_dir, idx, 5, 4, 3)
    p = str(tmp_path / "ann")
    save_ann_index(idx, p)
    n_codes = load_ann_index(spark, p).codes.count()
    monkeypatch.setattr(session, "LOCAL_LOOP_ROWS", n_codes - 1)
    assert _topk(spark, sf_dir, idx, 5, 4, 3) == want
    assert spark_calls["scores"] == 1
    # a batch of 100 rows over a bound of 99
    monkeypatch.setattr(session, "LOCAL_LOOP_ROWS", 99)
    merge_into_saved_ann_index(spark, p, v.filter(F.col("vec_id") >= 400))
    assert spark_calls["encode"] == 1
    release_cached()


# -- guards and resume on both tiers -------------------------------------


def test_guards_raise_the_same_errors_on_both_tiers(spark, sf_dir, tmp_path, loop_tiers):
    v = _vecs(spark, sf_dir)
    schema = "vec_id long, qv array<long>"
    cases = [
        (v.filter(F.col("vec_id") == 7), False, "already in the saved index"),
        (local_relation(spark, [(9000, [1] * DIM), (9000, [2] * DIM)], schema), False,
         "appears 2 times in the batch"),
        (local_relation(spark, [(None, [1] * DIM)], schema), False, "NULL vec_ids"),
        (local_relation(spark, [(None, [1] * DIM)], schema), True, "NULL vec_ids"),
    ]
    p = str(tmp_path / "ann")
    save_ann_index(build_ann_index(v.filter(F.col("vec_id") < 400)), p)

    def run():
        errors = []
        for batch, resume, match in cases:
            with pytest.raises(ValueError, match=match) as e:
                merge_into_saved_ann_index(spark, p, batch, resume=resume)
            errors.append(str(e.value))
        return errors

    local, dist = loop_tiers(run)
    assert local == dist
    assert not os.path.exists(os.path.join(p, similarity._ANN_WRITING))
    release_cached()


def test_resume_commits_the_same_generation_on_both_tiers(spark, sf_dir, tmp_path, loop_tiers):
    v = _vecs(spark, sf_dir)
    batch = v.filter(F.col("vec_id") >= 400)
    counter = iter(range(2))

    def run():
        p = str(tmp_path / f"ann{next(counter)}")
        save_ann_index(build_ann_index(v.filter(F.col("vec_id") < 400)), p)
        # an earlier delivery committed part of the batch; the replay
        # skips exactly those ids
        merge_into_saved_ann_index(spark, p, batch.filter(F.col("vec_id") < 450))
        merge_into_saved_ann_index(spark, p, batch, resume=True)
        return _relations(spark, p)

    local, dist = loop_tiers(run)
    assert local == dist
    assert local == tuple(_rows(rel) for rel in build_ann_index(v))
    release_cached()
