"""Saved ANN (IVF-PQ) index lifecycle: round-trip, frozen-quantizer
append semantics (merge == rebuild when the batch sorts after the
sampled prefix), single-writer marker protocol, torn-write diagnosis,
and compaction. The dedup saved index is the design reference
(tests/test_dedup.py pins its heavier protocol); the ANN variant is
deliberately lighter — quantizers are frozen, so append is the only
mutation — but the loud-failure contracts are the same."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from presto_on_ray_spark.caching import release_cached
from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.operators.similarity import (
    _ANN_WRITING,
    _IVFPQ_CELLS,
    _PQ_K,
    _PQ_M,
    AnnIndex,
    build_ann_index,
    compact_saved_ann_index,
    ivfpq_topk,
    load_ann_index,
    merge_into_ann_index,
    merge_into_saved_ann_index,
    quantized,
    save_ann_index,
    verify_ann_index,
)


def _vecs(spark, sf_dir):
    return t(spark, sf_dir, "embeddings").select(
        "vec_id", quantized(F.col("embedding")).alias("qv")
    )


def _codes_set(codes):
    return {
        (r["vec_id"], r["cell"], r["j"], r["code"]) for r in codes.collect()
    }


def test_ann_index_save_load_round_trip(spark, sf_dir, tmp_path):
    """Saved relations reload byte-equal, and querying against the
    LOADED index reproduces the in-session build's top-k exactly —
    the scoring path genuinely runs off the on-disk codes."""
    v = _vecs(spark, sf_dir)
    idx = build_ann_index(v)
    p = str(tmp_path / "ann")
    save_ann_index(idx, p)
    loaded = load_ann_index(spark, p)
    assert _codes_set(loaded.codes) == _codes_set(idx.codes)
    want = sorted(
        (r["qid"], r["cid"], r["adc_dist"])
        for r in ivfpq_topk(spark, sf_dir, index=idx).collect()
    )
    got = sorted(
        (r["qid"], r["cid"], r["adc_dist"])
        for r in ivfpq_topk(spark, sf_dir, index=loaded).collect()
    )
    assert got == want
    assert verify_ann_index(loaded)["cells"] == _IVFPQ_CELLS

    # the natural in-session flow: merge ON the loaded index, save the
    # result BACK to the same location. The generation-swapped save
    # never overwrites a directory its input is reading from (a direct
    # overwrite hits Spark's overwrite-while-reading refusal and would
    # strand the marker on an intact index).
    extra = spark.createDataFrame(
        [(10_000, [7] * 64), (10_001, [-3] * 64)], "vec_id long, qv array<long>"
    )
    save_ann_index(merge_into_ann_index(loaded, extra), p)
    assert not os.path.exists(os.path.join(p, _ANN_WRITING))
    re_loaded = load_ann_index(spark, p)
    assert verify_ann_index(re_loaded)["vectors"] == len(_codes_set(idx.codes)) // 8 + 2
    release_cached()


def test_ann_merge_equals_rebuild_for_appended_ids(spark, sf_dir):
    """The append contract: when every batch vec_id sorts after the
    sampled prefix (>= n_cells + K), merging into an index built on
    the base equals rebuilding over the union relation-for-relation —
    the frozen quantizers ARE the union's sampled quantizers."""
    v = _vecs(spark, sf_dir)
    base = v.filter(F.col("vec_id") < 400)
    batch = v.filter(F.col("vec_id") >= 400)
    assert batch.count() > 0
    merged = merge_into_ann_index(build_ann_index(base), batch)
    rebuilt = build_ann_index(v)
    assert _codes_set(merged.codes) == _codes_set(rebuilt.codes)
    assert sorted(
        (r["cell"], r["cv"]) for r in merged.cents.collect()
    ) == sorted((r["cell"], r["cv"]) for r in rebuilt.cents.collect())
    assert sorted(
        (r["j"], r["c"], r["cw"]) for r in merged.codebook.collect()
    ) == sorted((r["j"], r["c"], r["cw"]) for r in rebuilt.codebook.collect())
    release_cached()


def test_ann_saved_merge_appends_and_guards_duplicates(spark, sf_dir, tmp_path):
    """merge_into_saved_ann_index appends O(batch) codes equal to the
    in-session merge, releases the writer marker, and REFUSES a
    re-merge of ids already present (duplicate code rows silently
    double ADC scores — the guard is the loud alternative)."""
    v = _vecs(spark, sf_dir)
    base = v.filter(F.col("vec_id") < 400)
    batch = v.filter(F.col("vec_id") >= 400)
    idx = build_ann_index(base)
    p = str(tmp_path / "ann")
    save_ann_index(idx, p)
    prev = _live_codes_dir(p)
    merge_into_saved_ann_index(spark, p, batch)
    assert not os.path.exists(os.path.join(p, _ANN_WRITING))
    # the new generation carries the predecessor's codes by hard links
    carried = [f for f in os.listdir(prev) if not f.startswith(("_", "._"))]
    assert carried and all(
        os.path.samefile(os.path.join(prev, f), os.path.join(_live_codes_dir(p), f))
        for f in carried
    )
    loaded = load_ann_index(spark, p)
    assert _codes_set(loaded.codes) == _codes_set(
        merge_into_ann_index(idx, batch).codes
    )
    verify_ann_index(loaded)
    with pytest.raises(ValueError, match="already in the saved index"):
        merge_into_saved_ann_index(spark, p, batch.limit(1))
    # a guard failure wrote nothing: the marker released cleanly
    assert not os.path.exists(os.path.join(p, _ANN_WRITING))
    # within-batch duplicates would silently collapse in the encode
    # argmin — the same guard job refuses them by name
    with pytest.raises(ValueError, match="appears 2 times in the batch"):
        merge_into_saved_ann_index(
            spark,
            p,
            spark.createDataFrame(
                [(9000, [1] * 64), (9000, [2] * 64)], "vec_id long, qv array<long>"
            ),
        )
    assert not os.path.exists(os.path.join(p, _ANN_WRITING))
    # NULL vec_ids would encode into rows no probe can ever match —
    # refused by name (in both plain and resume mode: the resume
    # anti-join deliberately keeps NULL rows for this probe to see)
    null_batch = spark.createDataFrame(
        [(None, [1] * 64)], "vec_id long, qv array<long>"
    )
    with pytest.raises(ValueError, match="NULL vec_ids"):
        merge_into_saved_ann_index(spark, p, null_batch)
    with pytest.raises(ValueError, match="NULL vec_ids"):
        merge_into_saved_ann_index(spark, p, null_batch, resume=True)
    assert not os.path.exists(os.path.join(p, _ANN_WRITING))
    release_cached()


def test_ann_marker_blocks_readers_and_writers(spark, sf_dir, tmp_path):
    """A held _ANN_WRITING marker: load still reads the live generation,
    save refuses without force, forced save rewrites and clears it."""
    v = _vecs(spark, sf_dir)
    idx = build_ann_index(v.filter(F.col("vec_id") < 100))
    p = str(tmp_path / "ann")
    save_ann_index(idx, p)
    open(os.path.join(p, _ANN_WRITING), "w").close()
    assert _codes_set(load_ann_index(spark, p).codes) == _codes_set(idx.codes)
    with pytest.raises(ValueError, match="_ANN_WRITING is held"):
        save_ann_index(idx, p)
    save_ann_index(idx, p, force=True)
    assert not os.path.exists(os.path.join(p, _ANN_WRITING))
    verify_ann_index(load_ann_index(spark, p))
    release_cached()


def test_ann_verify_detects_torn_and_duplicated_codes(spark, sf_dir, tmp_path):
    """verify_ann_index is the integrity pass: a vector missing a
    subspace row (torn append) and a vector with doubled rows
    (double-merge) both raise naming the vec_id; compaction of such an
    index raises, releases the marker and leaves the store readable."""
    v = _vecs(spark, sf_dir)
    idx = build_ann_index(v.filter(F.col("vec_id") < 200))
    verify_ann_index(idx)

    torn = AnnIndex(
        idx.cents,
        idx.codebook,
        idx.codes.filter(
            ~((F.col("vec_id") == 50) & (F.col("j") == 3))
        ),
    )
    with pytest.raises(ValueError, match="torn or duplicated"):
        verify_ann_index(torn)
    doubled = AnnIndex(
        idx.cents,
        idx.codebook,
        idx.codes.unionByName(idx.codes.filter(F.col("vec_id") == 7)),
    )
    with pytest.raises(ValueError, match="torn or duplicated"):
        verify_ann_index(doubled)

    p = str(tmp_path / "ann")
    save_ann_index(torn, p)
    with pytest.raises(ValueError, match="torn or duplicated"):
        compact_saved_ann_index(spark, p)
    assert not os.path.exists(os.path.join(p, _ANN_WRITING))
    assert _codes_set(load_ann_index(spark, p).codes) == _codes_set(torn.codes)
    release_cached()


def _gen_dirs(p):
    import re

    return sorted(d for d in os.listdir(p) if re.fullmatch(r"gen-\d+", d))


def _live_codes_dir(p):
    gen = open(os.path.join(p, "_CURRENT")).read().strip()
    return os.path.join(p, gen, "codes")


def _codes_files(p):
    return [f for f in os.listdir(_live_codes_dir(p)) if f.endswith(".parquet")]


def test_ann_compact_rewrites_one_generation(spark, sf_dir, tmp_path):
    """Compaction after appends: same rows, fewer files in the LIVE
    generation, superseded generations swept, marker clear."""
    v = _vecs(spark, sf_dir)
    p = str(tmp_path / "ann")
    save_ann_index(build_ann_index(v.filter(F.col("vec_id") < 300)), p)
    for lo, hi in ((300, 350), (350, 400)):
        merge_into_saved_ann_index(
            spark, p, v.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
    before = _codes_set(load_ann_index(spark, p).codes)
    n_files_before = len(_codes_files(p))
    compact_saved_ann_index(spark, p)
    after = load_ann_index(spark, p)
    assert _codes_set(after.codes) == before
    assert len(_codes_files(p)) <= n_files_before
    assert not os.path.exists(os.path.join(p, _ANN_WRITING))
    # the flip swept all but the live generation and its predecessor
    assert len(_gen_dirs(p)) == 2


def test_ann_crashed_save_leaves_old_generation_live(spark, sf_dir, tmp_path):
    """The generational contract: a save that dies BEFORE the atomic
    _CURRENT flip leaves a stranded marker and an orphan gen directory
    — but the old generation stays live and readable, and the next
    forced writer (compact(force=True)) commits a fresh generation and
    sweeps the orphan. Nothing is ever repaired in place and no
    mixed-generation state can exist."""
    v = _vecs(spark, sf_dir)
    idx = build_ann_index(v.filter(F.col("vec_id") < 200))
    p = str(tmp_path / "ann")
    save_ann_index(idx, p)
    want = _codes_set(load_ann_index(spark, p).codes)

    # simulate the crash: a partial next generation + stranded marker
    os.makedirs(os.path.join(p, "gen-2", "cents"))
    open(os.path.join(p, _ANN_WRITING), "w").close()
    assert _codes_set(load_ann_index(spark, p).codes) == want
    compact_saved_ann_index(spark, p, force=True)
    healed = load_ann_index(spark, p)
    assert _codes_set(healed.codes) == want
    # live + predecessor; the orphan gen-2 litter is gone
    assert _gen_dirs(p) == ["gen-0", "gen-3"]
    assert not os.path.exists(os.path.join(p, _ANN_WRITING))
    release_cached()


def test_ann_resume_remerge_skips_committed_ids(spark, sf_dir, tmp_path):
    """Replay after a completed partial delivery: ids an earlier merge
    committed trip the duplicate guard on a plain re-merge, and
    resume=True anti-joins them away so the rest merges."""
    v = _vecs(spark, sf_dir)
    p = str(tmp_path / "ann")
    save_ann_index(build_ann_index(v.filter(F.col("vec_id") < 400)), p)
    batch = v.filter(F.col("vec_id") >= 400)
    # an earlier delivery committed half the batch
    merge_into_saved_ann_index(spark, p, batch.filter(F.col("vec_id") < 450))
    # plain re-merge trips the guard on the committed ids...
    with pytest.raises(ValueError, match="resume=True"):
        merge_into_saved_ann_index(spark, p, batch)
    # ...resume=True skips exactly them
    merge_into_saved_ann_index(spark, p, batch, resume=True)
    merged = load_ann_index(spark, p)
    verify_ann_index(merged)
    assert _codes_set(merged.codes) == _codes_set(
        build_ann_index(v).codes
    )
    release_cached()


def test_ann_flat_legacy_layout_is_diagnosed(spark, sf_dir, tmp_path):
    """A pre-generational flat layout (relations at the top level, no
    _CURRENT) is named with its migration in EVERY entry point — load,
    merge, compact all share the resolver — instead of claiming no
    index exists."""
    p = str(tmp_path / "ann")
    for name in ("cents", "codebook", "codes"):
        os.makedirs(os.path.join(p, name))
    with pytest.raises(ValueError, match="flat relation layout"):
        load_ann_index(spark, p)
    with pytest.raises(ValueError, match="flat relation layout"):
        merge_into_saved_ann_index(
            spark, p, spark.createDataFrame([(1, [1] * 64)], "vec_id long, qv array<long>")
        )
    with pytest.raises(ValueError, match="flat relation layout"):
        compact_saved_ann_index(spark, p)
    # both mutators released their marker on the refusal
    assert not os.path.exists(os.path.join(p, _ANN_WRITING))
    # and a truly-empty location still reads as no index
    with pytest.raises(ValueError, match="no saved ANN index"):
        load_ann_index(spark, str(tmp_path / "empty"))


def test_filtered_topk_over_loaded_index(spark, sf_dir, tmp_path):
    """Composition of the round-13 filtered entry with the saved-ANN
    lifecycle: filtered top-k against a LOADED index equals filtered
    top-k against the freshly built one — the production deployment
    shape (build+save once, serve filtered queries against the loaded
    codes)."""
    import pyspark.sql.functions as F

    from presto_on_ray_spark.operators._util import t
    from presto_on_ray_spark.operators.similarity import (
        build_ann_index,
        ivfpq_rerank_topk,
        quantized,
    )

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    built = build_ann_index(v)
    p = str(tmp_path / "annidx")
    save_ann_index(built, p)
    loaded = load_ann_index(spark, p)
    pred = F.col("label") == 3
    a = ivfpq_rerank_topk(spark, sf_dir, predicate=pred, index=built)
    b = ivfpq_rerank_topk(spark, sf_dir, predicate=pred, index=loaded)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_auto_built_index_saves_loads_and_verifies(spark, sf_dir, tmp_path):
    """r14: an index built at the AUTO cell count (ceil(sqrt n), not
    the session constant 8) must round-trip the saved-store protocol,
    pass verify_ann_index's default (cell count is a build-time
    property of the index, not a session constant — the r14 default
    only enforces non-emptiness + the orphan probes), and serve
    ivfpq_rerank_topk, which reads nprobe off the LOADED index's cents
    relation."""
    from presto_on_ray_spark.operators.similarity import (
        auto_ivf_cells,
        build_ann_index,
        ivfpq_rerank_topk,
        load_ann_index,
        quantized,
        save_ann_index,
        verify_ann_index,
    )

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    nc = auto_ivf_cells(v.count())
    assert nc > 8
    idx = build_ann_index(v, n_cells=nc)
    p = str(tmp_path / "auto_idx")
    save_ann_index(idx, p)
    loaded = load_ann_index(spark, p)
    report = verify_ann_index(loaded)
    assert report["cells"] == nc
    with pytest.raises(ValueError, match="expected 8"):
        verify_ann_index(loaded, n_cells=8)
    res = ivfpq_rerank_topk(spark, sf_dir, index=loaded)
    per_q = res.groupBy("qid").count().collect()
    assert len(per_q) == 5 and all(r["count"] == 4 for r in per_q)


def test_ann_rebuild_advice_tracks_corpus_growth(spark, sf_dir):
    """The advisory fires exactly when merge-appended growth outruns
    the build-time cell sizing: fresh auto build → not due; the same
    quantizers after heavy appends → due, with auto_cells_now telling
    the rebuild what to size to. The frozen 8-cell fixture build is
    'due' by construction (8 cells is the pinned fixture dial, not the
    formula's answer for 500 vectors) — a useful canary that the
    advisory measures sizing, not freshness."""
    from presto_on_ray_spark.operators.similarity import (
        AnnIndex,
        ann_rebuild_advice,
        auto_ivf_cells,
        build_ann_index,
        encode_into_ann_index,
        quantized,
    )

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    n = v.count()

    fresh = build_ann_index(v, n_cells=auto_ivf_cells(n))
    a = ann_rebuild_advice(fresh)
    assert a["vectors"] == n and not a["rebuild_due"]
    assert a["auto_cells_now"] == a["cells"]

    # simulate 9 merge batches under frozen quantizers: 10x corpus,
    # same cells -> per-cell population ~10x design -> due
    base = v.filter(F.col("vec_id") >= 100)
    idx = build_ann_index(base.withColumn("vec_id", F.col("vec_id") - 100),
                          n_cells=auto_ivf_cells(n - 100))
    grown_codes = idx.codes
    for i in range(1, 10):
        batch = base.select(
            (F.col("vec_id") - 100 + i * (n - 100)).alias("vec_id"), "qv"
        )
        grown_codes = grown_codes.unionByName(
            encode_into_ann_index(batch, idx)
        )
    grown = AnnIndex(idx.cents, idx.codebook, grown_codes)
    g = ann_rebuild_advice(grown)
    assert g["vectors"] == 10 * (n - 100) and g["rebuild_due"]
    assert g["auto_cells_now"] > g["cells"]

    assert ann_rebuild_advice(build_ann_index(v))["rebuild_due"]  # frozen 8
