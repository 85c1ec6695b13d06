"""The saved-store protocol (presto_on_ray_spark/store.py) under crash
injection: every writer that commits generations — ANN save, merge and
compact, dedup index save, bands attach, stale and strict merge and
compact, segment-counts save and merge, classifier-weights save — is
failed at each protocol step (relation write, pointer flip, sweep).
Before the flip the pointer, the old rows and the marker must be as
they were; after it the new generation is live, the failed sweep warns
and the marker is released. Plus predecessor retention for a lazily
loaded ANN index, and the relation stores' own non-local errors."""

from __future__ import annotations

import os
import random

import pyspark.sql.functions as F
import pytest

from presto_on_ray_spark import store
from presto_on_ray_spark.operators import dedup as dd
from presto_on_ray_spark.operators import pipeline_prep as pp
from presto_on_ray_spark.operators import similarity as sim
from presto_on_ray_spark.operators import textstats as ts
from presto_on_ray_spark.session import local_relation


def _vecs(spark, n):
    rnd = random.Random(7)
    rows = [(i, [rnd.randint(-50, 50) for _ in range(64)]) for i in range(n)]
    return local_relation(spark, rows, "vec_id long, qv array<long>")


def _docs(spark, rows):
    return local_relation(spark, rows, "doc_id long, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ann_rows(spark, p):
    return _rows(sim.load_ann_index(spark, p).codes)


def _counts_rows(spark, p):
    return _rows(pp.load_segment_counts(spark, p))


def _weights_rows(spark, p):
    return _rows(ts.load_classifier_weights(spark, p))


def _dedup_rows(spark, p):
    bands = dd.load_saved_bands(spark, p)
    return [_rows(rel) for rel in dd.load_base_index(spark, p)] + (
        [] if bands is None else [_rows(bands)]
    )


_BASE = [(1, "a b c d e f g h"), (2, "p q r s t u v w")]
_ADMIT = [(3, "a b c d e f x y")]


def _dedup_index(spark, rows):
    return dd.build_base_index(_docs(spark, rows))


def _ann_save(spark, p):
    sim.save_ann_index(sim.build_ann_index(_vecs(spark, 30)), p)
    return sim._ANN_WRITING, _ann_rows, lambda: sim.save_ann_index(
        sim.build_ann_index(_vecs(spark, 34)), p
    )


def _ann_merge(spark, p):
    v = _vecs(spark, 34)
    sim.save_ann_index(sim.build_ann_index(v.filter(F.col("vec_id") < 30)), p)
    return sim._ANN_WRITING, _ann_rows, lambda: sim.merge_into_saved_ann_index(
        spark, p, v.filter(F.col("vec_id") >= 30)
    )


def _ann_compact(spark, p):
    v = _vecs(spark, 34)
    sim.save_ann_index(sim.build_ann_index(v.filter(F.col("vec_id") < 30)), p)
    sim.merge_into_saved_ann_index(spark, p, v.filter(F.col("vec_id") >= 30))
    return sim._ANN_WRITING, _ann_rows, lambda: sim.compact_saved_ann_index(
        spark, p
    )


def _counts_save(spark, p):
    pp.save_segment_counts(pp.segment_counts(_docs(spark, [(0, "x y z w")]), 4), p)
    return pp._COUNTS_WRITING, _counts_rows, lambda: pp.save_segment_counts(
        pp.segment_counts(_docs(spark, [(0, "a b c d e")]), 4), p
    )


def _counts_merge(spark, p):
    pp.save_segment_counts(pp.segment_counts(_docs(spark, [(0, "x y z w")]), 4), p)
    return pp._COUNTS_WRITING, _counts_rows, lambda: (
        pp.merge_into_saved_segment_counts(
            spark, p, _docs(spark, [(1, "x y z w")]), 4, admit_batch_id=3
        )
    )


def _weights_save(spark, p):
    schema = "bucket long, wnum long"
    ts.save_classifier_weights(local_relation(spark, [(0, 1), (1, 2)], schema), p)
    return pp._COUNTS_WRITING, _weights_rows, lambda: ts.save_classifier_weights(
        local_relation(spark, [(0, -1), (1, -2)], schema), p
    )


def _dedup_save(spark, p):
    dd.save_base_index(_dedup_index(spark, _BASE), p)
    return dd._INDEX_WRITING, _dedup_rows, lambda: dd.save_base_index(
        _dedup_index(spark, _BASE + _ADMIT), p
    )


def _dedup_bands(spark, p):
    dd.save_base_index(_dedup_index(spark, _BASE), p)
    return dd._INDEX_WRITING, _dedup_rows, lambda: dd.save_index_bands(spark, p)


def _dedup_merge_stale(spark, p):
    dd.save_base_index(_dedup_index(spark, _BASE), p, with_bands=True)
    return dd._INDEX_WRITING, _dedup_rows, lambda: dd.merge_into_saved_index(
        spark, p, _docs(spark, _ADMIT), rerank=False
    )


def _dedup_merge_strict(spark, p):
    dd.save_base_index(_dedup_index(spark, _BASE), p)
    token = os.path.join(p, "_ADMITTED", "batch-0")
    return dd._INDEX_WRITING, _dedup_rows, lambda: dd.merge_into_saved_index(
        spark, p, _docs(spark, _ADMIT), commit_token=token
    )


def _dedup_compact(spark, p):
    dd.save_base_index(_dedup_index(spark, _BASE), p, with_bands=True)
    dd.merge_into_saved_index(spark, p, _docs(spark, _ADMIT), rerank=False)
    return dd._INDEX_WRITING, _dedup_rows, lambda: dd.compact_saved_index(
        spark, p
    )


WRITERS = {
    "ann_save": _ann_save,
    "ann_merge": _ann_merge,
    "ann_compact": _ann_compact,
    "dedup_save": _dedup_save,
    "dedup_bands": _dedup_bands,
    "dedup_merge_stale": _dedup_merge_stale,
    "dedup_merge_strict": _dedup_merge_strict,
    "dedup_compact": _dedup_compact,
    "counts_save": _counts_save,
    "counts_merge": _counts_merge,
    "weights_save": _weights_save,
}


def _fail_write(monkeypatch):
    real = store.commit

    def commit(os_path, write):
        def torn(gen):
            write(gen)
            raise OSError("injected: relation write")

        return real(os_path, torn)

    monkeypatch.setattr(store, "commit", commit)


def _fail(name):
    def inject(monkeypatch):
        def boom(*args, **kwargs):
            raise OSError(f"injected: {name}")

        monkeypatch.setattr(store, name, boom)

    return inject


STEPS = {"write": _fail_write, "flip": _fail("flip"), "sweep": _fail("sweep")}


@pytest.mark.parametrize("step", list(STEPS))
@pytest.mark.parametrize("writer", list(WRITERS))
def test_crash_matrix(spark, tmp_path, monkeypatch, writer, step):
    p = str(tmp_path / "store")
    marker, read, write = WRITERS[writer](spark, p)
    gen_before = store.live_generation(p)
    rows_before = read(spark, p)

    STEPS[step](monkeypatch)
    if step == "sweep":
        with pytest.warns(UserWarning, match="sweep failed"):
            write()
    else:
        with pytest.raises(OSError, match="injected"):
            write()
    monkeypatch.undo()

    assert not os.path.exists(os.path.join(p, marker))
    if step == "sweep":
        # the flip committed: the new generation is live and complete
        newest = max(int(n[4:]) for n in os.listdir(p) if n.startswith("gen-"))
        assert store.live_generation(p) == f"gen-{newest}" != gen_before
        if not writer.endswith("_compact"):  # compaction keeps the rows
            assert read(spark, p) != rows_before
    else:
        assert store.live_generation(p) == gen_before
        assert read(spark, p) == rows_before
        # and the next writer commits over the failed one's litter
        write()
        assert store.live_generation(p) != gen_before


def test_ann_index_loaded_before_compaction_stays_readable(spark, tmp_path):
    """A compaction keeps the generation it supersedes, so an index
    loaded before it still collects the same codes afterwards."""
    p = str(tmp_path / "ann")
    _ann_compact(spark, p)
    loaded = sim.load_ann_index(spark, p)
    want = _rows(loaded.codes)
    sim.compact_saved_ann_index(spark, p)
    assert _rows(loaded.codes) == want
    assert _ann_rows(spark, p) == want


def test_relation_stores_name_themselves_on_non_local_paths(spark):
    """A counts or weights store on an object store names its own store
    and remedy, not the dedup index's mutation functions."""
    url = "s3://bucket/x"
    rel = local_relation(spark, [(0, 1)], "bucket long, wnum long")
    for call, name in (
        (lambda: pp.counts_live_generation(url), "counts"),
        (lambda: pp.save_segment_counts(rel, url), "counts"),
        (lambda: ts.save_classifier_weights(rel, url), "weights"),
    ):
        with pytest.raises(ValueError, match="not a local path") as exc:
            call()
        msg = str(exc.value)
        assert f"saved {name} store" in msg
        assert "transactional table format" in msg
        assert "merge_into_saved_index" not in msg
