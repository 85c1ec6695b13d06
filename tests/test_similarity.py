"""Similarity-search invariants: brute force is ground truth; LSH is
measured against it (SURVEY §7 risk 6: LSH recall tuning)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from presto_on_ray_spark import suite
from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.operators.similarity import cosine_q, quantized

suite.load_all()


def test_bruteforce_topk_cosine_bounds(spark, sf_dir):
    df = suite.QUERIES["similarity_bruteforce_topk"](spark, sf_dir)
    rows = df.collect()
    assert rows, "no top-k results"
    for r in rows:
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9


def test_bruteforce_self_similarity_is_max(spark, sf_dir):
    """cos(v, v) == 1 must beat every cos(v, other); checked by scoring
    a vector against itself explicitly."""
    e = t(spark, sf_dir, "embeddings").limit(1)
    v = e.select(quantized(F.col("embedding")).alias("q"))
    self_cos = v.select(cosine_q(F.col("q"), F.col("q")).alias("c")).collect()[0].c
    assert abs(self_cos - 1.0) < 1e-12


def test_lsh_bucket_neighbors_recall(spark, sf_dir):
    """Candidate pairs (same bucket in ANY of the 8 hash tables) should
    capture most true top-1 neighbors. Statistical bound, loose
    threshold."""
    from presto_on_ray_spark.operators.similarity import lsh_table_buckets

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    buckets = lsh_table_buckets(v).cache()

    # ground truth: top-1 neighbor by exact cosine for 20 query vectors
    q = v.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qqv")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cosine_q(F.col("qqv"), F.col("qv")).alias("cos"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    top1 = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    qb = buckets.select(
        F.col("vec_id").alias("qid"),
        F.col("table").alias("qtable"),
        F.col("bucket").alias("qbucket"),
    )
    collide = (
        top1.select("qid", F.col("vec_id").alias("nbr_id"))
        .join(qb, "qid")
        .join(
            buckets.alias("bk"),
            (F.col("nbr_id") == F.col("bk.vec_id"))
            & (F.col("qtable") == F.col("bk.table"))
            & (F.col("qbucket") == F.col("bk.bucket")),
            "left_semi",
        )
        .select("qid")
        .distinct()
    )
    n = top1.count()
    hit = collide.count()
    assert hit / n >= 0.5, f"LSH recall of top-1 too low: {hit}/{n}"


def test_pairwise_threshold_symmetric_and_bounded(spark, sf_dir):
    df = suite.QUERIES["similarity_pairwise_threshold"](spark, sf_dir)
    rows = df.collect()
    for r in rows:
        assert r.id_a < r.id_b  # canonical ordering, no dup pairs


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    """IVF with nprobe=4/16 cells should recover most of the true top-3
    (clustered embeddings land whole-neighborhoods in one cell)."""
    from presto_on_ray_spark.operators.similarity import ivf_topk

    from presto_on_ray_spark import suite

    truth = {
        (r.qid, r.cid)
        for r in suite.QUERIES["similarity_bruteforce_topk"](spark, sf_dir).collect()
    }
    got = {(r.qid, r.cid) for r in ivf_topk(spark, sf_dir).collect()}
    # brute force uses vec_id <= 5 (6 queries); ivf uses vec_id < 5 (5);
    # compare on the intersection of query ids
    qids = {q for q, _ in got}
    truth = {(q, c) for q, c in truth if q in qids}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, f"IVF recall too low: {recall} ({truth ^ got})"


def test_embedding_neardup_precision_and_recall(spark, sf_dir):
    """dedup_embedding_neardup: every emitted pair truly exceeds the
    cosine threshold (precision exact by construction), and recall vs
    the brute-force all-pairs relation is high on the fixture."""
    from pyspark.sql import functions as F

    from presto_on_ray_spark import suite
    from presto_on_ray_spark.caching import release_cached
    from presto_on_ray_spark.operators.similarity import cosine_q, quantized

    suite.load_all()
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in suite.QUERIES["dedup_embedding_neardup"](spark, sf_dir).collect()
    }
    release_cached()

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    a, b = v.alias("a"), v.alias("b")
    cos = cosine_q(F.col("a.qv"), F.col("b.qv"))
    truth = {
        (r.id_a, r.id_b): r.cosine
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos > 0.9)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .collect()
    }

    # precision: emitted pairs are a subset of the true relation with
    # identical cosines
    for pair, c in got.items():
        assert pair in truth and truth[pair] == c
    # recall: multi-table LSH must recover most true near-dup pairs
    if truth:
        recall = len(got) / len(truth)
        assert recall >= 0.8, f"recall {recall:.2f} over {len(truth)} true pairs"


def _q1000(a):
    """Quantize like the engine: round(x*1000) half-AWAY-FROM-ZERO,
    matching Spark F.round (BigDecimal HALF_UP) and DuckDB ROUND.
    np.round is half-to-even, and floor(abs+0.5) misrounds the
    binade-crossing double 0.49999999999999994 (adding 0.5 rounds UP
    in IEEE before floor) — the exact comparison form below cannot."""
    import numpy as np

    s = np.asarray(a, dtype=np.float64) * 1000
    mag = np.abs(s)
    f = np.floor(mag)
    return (np.sign(s) * (f + (mag - f >= 0.5))).astype(np.int64)


def _quantized_vecs(rows):
    """(sorted ids, int64 matrix) from collected embedding rows."""
    import numpy as np

    ids = np.array([r["vec_id"] for r in rows])
    order = np.argsort(ids)
    return ids[order], np.array([_q1000(rows[i]["embedding"]) for i in order])


def test_pq_adc_matches_numpy_reference(spark, sf_dir):
    """similarity_pq_adc_topk vs a shared-code-free NumPy reference:
    the same deterministic sampled codebook (first 16 vec_ids'
    subvectors), integer quantization, argmin encode with smallest-id
    ties, ADC table sum, and top-4 — identical output. Also measures
    recall of ADC against TRUE squared-L2 on the quantized vectors
    (the metric PQ approximates) and pins a floor."""
    import numpy as np

    from presto_on_ray_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        similarity_pq_adc_topk,
    )

    rows = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids, vecs = _quantized_vecs(rows)
    subs = vecs.reshape(len(ids), _PQ_M, _PQ_SUB)
    cb = subs[np.searchsorted(ids, np.arange(_PQ_K))]  # (K, M, SUB)
    # encode: argmin over codewords, ties -> smallest codeword id
    # (np.argmin already returns the first minimal index)
    d_all = ((subs[:, None, :, :] - cb[None, :, :, :]) ** 2).sum(axis=3)  # (n, K, M)
    codes = d_all.argmin(axis=1)  # (n, M)
    q_idx = np.searchsorted(ids, np.arange(8))
    expect = {}
    true_l2_top = {}
    for qi in q_idx:
        qid = int(ids[qi])
        # ADC: per subspace, distance from the QUERY subvector to the
        # candidate's codeword
        qtab = ((subs[qi][None, :, :] - cb) ** 2).sum(axis=2)  # (K, M)
        adc = qtab[codes, np.arange(_PQ_M)].sum(axis=1)  # (n,)
        cand = [(int(adc[i]), int(ids[i])) for i in range(len(ids)) if ids[i] != qid]
        expect[qid] = sorted(cand)[:4]
        true = ((vecs - vecs[qi]) ** 2).sum(axis=1)
        true_top = [int(ids[i]) for i in np.argsort(true, kind="stable") if ids[i] != qid][:10]
        true_l2_top[qid] = set(true_top)

    got = {}
    for r in similarity_pq_adc_topk(spark, sf_dir).collect():
        got.setdefault(r["qid"], []).append((r["adc_dist"], r["cid"]))
    assert {q: sorted(v) for q, v in got.items()} == expect

    # recall floor: ADC top-4 against true-L2 top-10 (the sampled
    # 16-codeword codebook is coarse; measured ~0.5-0.9 on fixtures —
    # record the exact number in SCALING.md, pin a conservative floor)
    hits = total = 0
    for qid, top in got.items():
        for _, cid in top:
            total += 1
            hits += cid in true_l2_top[qid]
    recall = hits / total
    print(f"pq adc recall@4-in-true10: {recall:.3f}")
    assert recall >= 0.25


def test_pq_rerank_recovers_true_topk(spark, sf_dir):
    """The rerank stage's quality contract, measured on the STATED
    metric: for each of the 8 PQ queries, how much of the true
    quantized-cosine top-4 (computed independently in NumPy over all
    candidates, same metric and quantization as the engine) the
    64-deep ADC shortlist + exact rerank recovers — the recall dial
    PQ deployments actually turn."""
    import numpy as np

    from presto_on_ray_spark.operators.similarity import (
        similarity_pq_rerank_topk,
    )

    rows = (
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    )
    ids, vecs = _quantized_vecs(rows)
    norms = np.sqrt((vecs * vecs).sum(axis=1).astype(np.float64))
    true_top = {}
    for qid in range(8):
        qi = int(np.searchsorted(ids, qid))
        cos = (vecs @ vecs[qi]).astype(np.float64) / (norms * norms[qi])
        ranked = sorted(
            ((-cos[i], int(ids[i])) for i in range(len(ids)) if ids[i] != qid)
        )
        true_top[qid] = {cid for _, cid in ranked[:4]}

    got = {}
    for r in similarity_pq_rerank_topk(spark, sf_dir).collect():
        got.setdefault(r["qid"], set()).add(r["cid"])
    assert set(got) == set(true_top)
    hits = sum(len(got[q] & true_top[q]) for q in got)
    total = sum(len(true_top[q]) for q in got)
    recall = hits / total
    print(f"pq rerank recall vs true cosine top-4: {recall:.3f}")
    # deterministic pipeline on fixed fixtures: measured 0.875
    # (sf0.001) / 0.8125 (sf0.1); 0.75 clears both with margin while
    # still catching a real shortlist/tie-break regression
    assert recall >= 0.75


def _np_pq_codebook(ids, vecs, k, iters):
    """Shared-code-free NumPy twin of similarity.pq_codebook: same
    sampled init (subvectors of vec_ids 0..k-1), integer squared-L2
    assignment with smallest-c ties (argmin's first-index over
    c-ascending rows), exact integer component sums divided
    half-away-from-zero, empty codewords keeping their centroid, and
    the same exact new==old early stop."""
    import numpy as np

    from presto_on_ray_spark.operators.similarity import _PQ_M, _PQ_SUB

    subs = vecs.reshape(len(ids), _PQ_M, _PQ_SUB)
    cb = {
        (j, c): subs[int(np.searchsorted(ids, c))][j].copy()
        for j in range(_PQ_M)
        for c in range(k)
    }
    for _ in range(iters):
        new_cb = dict(cb)
        for j in range(_PQ_M):
            C = np.array([cb[(j, c)] for c in range(k)])
            d = ((subs[:, j, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                members = subs[assign == c, j, :]
                if len(members):
                    s = members.sum(axis=0, dtype=np.int64)
                    n = len(members)
                    q = (2 * np.abs(s) + n) // (2 * n)
                    new_cb[(j, c)] = np.where(s >= 0, q, -q)
        if all(np.array_equal(new_cb[key], cb[key]) for key in cb):
            break
        cb = new_cb
    return cb


def test_pq_codebook_refinement_properties(spark, sf_dir):
    """pq_codebook (VERDICT r11 #4): (1) iters=0 reproduces the frozen
    sampled codebook exactly, so the refinement is a pure superset of
    the oracle keys' machinery; (2) five Lloyd iterations match the
    NumPy twin bit-for-bit — the integer-determinism convention holds
    through the training loop, not just encode/score; (3) the k-means
    objective (total encode distortion) strictly improves over the
    sampled codebook and improves further with more codewords (the
    production dial). Recall@4 on the 8-query fixture moves BOTH ways
    under refinement (32 samples of a random-ish corpus — noise;
    measured numbers recorded in SCALING.md round 12), so distortion,
    the guaranteed property, is what this pins."""
    import numpy as np

    from pyspark.sql import functions as F

    from presto_on_ray_spark.caching import release_cached
    from presto_on_ray_spark.operators.similarity import (
        _PQ_K,
        _pq_l2sq,
        _pq_subvectors,
        pq_codebook,
        quantized,
    )

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    sub = _pq_subvectors(v).persist()
    sampled = {
        (r["j"], r["c"]): tuple(r["cw"])
        for r in sub.filter(F.col("vec_id") < _PQ_K)
        .select("j", F.col("vec_id").alias("c"), F.col("s").alias("cw"))
        .collect()
    }

    # (1) iters=0 == the frozen sampled codebook
    zero = {
        (r["j"], r["c"]): tuple(r["cw"])
        for r in pq_codebook(v, iters=0).collect()
    }
    assert zero == sampled

    # (2) bit-for-bit twin equality after 5 iterations
    rows = e.select("vec_id", "embedding").collect()
    ids, vecs = _quantized_vecs(rows)
    twin = _np_pq_codebook(ids, vecs, _PQ_K, 5)
    refined = {
        (r["j"], r["c"]): tuple(int(x) for x in r["cw"])
        for r in pq_codebook(v, iters=5).collect()
    }
    assert refined == {
        key: tuple(int(x) for x in val) for key, val in twin.items()
    }

    # (3) distortion: refined < sampled, and k=64 < k=16
    def distortion(cb_rows):
        cb_df = spark.createDataFrame(
            [(j, c, list(cw)) for (j, c), cw in sorted(cb_rows.items())],
            "j int, c int, cw array<bigint>",
        )
        return (
            sub.join(F.broadcast(cb_df), "j")
            .select(
                "vec_id", "j", _pq_l2sq(F.col("s"), F.col("cw")).alias("d2")
            )
            .groupBy("vec_id", "j")
            .agg(F.min("d2").alias("m"))
            .agg(F.sum("m"))
            .first()[0]
        )

    d_sampled = distortion(sampled)
    d_refined = distortion(refined)
    wide = {
        (r["j"], r["c"]): tuple(int(x) for x in r["cw"])
        for r in pq_codebook(v, k=64, iters=5).collect()
    }
    d_wide = distortion(wide)
    print(
        f"pq distortion sampled={d_sampled} refined16={d_refined} "
        f"({d_refined / d_sampled:.3f}x) refined64={d_wide} "
        f"({d_wide / d_sampled:.3f}x)"
    )
    assert d_refined < d_sampled
    assert d_wide < d_refined
    sub.unpersist()
    release_cached()


def test_pq_refined_rerank_machinery_unchanged(spark, sf_dir):
    """similarity_pq_refined_topk shares the frozen rerank key's
    machinery verbatim (_pq_adc_scores + _pq_shortlist_rerank) — so
    its output has the same schema/shape contract (4 rows per query,
    exact quantized cosines), and every returned cosine equals the
    independently recomputed quantized cosine for that pair."""
    import numpy as np

    from presto_on_ray_spark.caching import release_cached
    from presto_on_ray_spark.operators.similarity import (
        similarity_pq_refined_topk,
    )

    rows = (
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    )
    ids, vecs = _quantized_vecs(rows)
    norms = np.sqrt((vecs * vecs).sum(axis=1).astype(np.float64))

    got = similarity_pq_refined_topk(spark, sf_dir).collect()
    release_cached()
    per_q = {}
    for r in got:
        per_q.setdefault(r["qid"], []).append(r)
    assert set(per_q) == set(range(8))
    for qid, rs in per_q.items():
        assert len(rs) == 4
        qi = int(np.searchsorted(ids, qid))
        for r in rs:
            ci = int(np.searchsorted(ids, r["cid"]))
            want = float(vecs[ci] @ vecs[qi]) / (norms[ci] * norms[qi])
            assert abs(r["cosine"] - round(want, 6)) < 1e-9, (qid, r["cid"])


def _np_ivfpq(ids, vecs, n_cells, n_codewords, m, sub):
    """Shared-code-free NumPy twin of the IVF-PQ index build: sampled
    centroids (quantized vectors of vec_ids 0..n_cells-1), integer-L2
    assignment with smallest-cell ties (argmin first-index over
    cell-ascending rows), integer residuals, sampled residual codebook
    (residual subvectors of vec_ids 0..n_codewords-1), argmin encode.
    Returns (cents, cell, cb, codes)."""
    import numpy as np

    cents = vecs[np.searchsorted(ids, np.arange(n_cells))]  # (C, dim)
    d_cent = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    cell = d_cent.argmin(axis=1)  # (n,)
    resid = vecs - cents[cell]
    subs = resid.reshape(len(ids), m, sub)
    # codebook sample starts after the centroid sample (vec_ids
    # n_cells..n_cells+K-1): the first n_cells residuals are zero
    cb = subs[np.searchsorted(ids, np.arange(n_cells, n_cells + n_codewords))]
    d_all = ((subs[:, None, :, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
    codes = d_all.argmin(axis=1)  # (n, M)
    return cents, cell, cb, codes


def test_ivfpq_adc_matches_numpy_reference(spark, sf_dir):
    """similarity_ivfpq_adc_topk vs a shared-code-free NumPy twin of
    the WHOLE IVFADC pipeline — sampled centroids, integer-L2
    assignment, integer residuals, sampled residual codebook, encode,
    3-of-8 probe selection (smallest-cell ties), per-(query, cell)
    ADC tables from the query residual, candidate scoring restricted
    to probed cells, top-4 with (adc, cid) ties — identical output.
    Also measures ADC recall against TRUE squared-L2 (the metric the
    residual quantizer approximates) and pins a floor."""
    import numpy as np

    from presto_on_ray_spark.caching import release_cached
    from presto_on_ray_spark.operators.similarity import (
        _IVFPQ_CELLS,
        _IVFPQ_NPROBE,
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        similarity_ivfpq_adc_topk,
    )

    rows = (
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    )
    ids, vecs = _quantized_vecs(rows)
    cents, cell, cb, codes = _np_ivfpq(
        ids, vecs, _IVFPQ_CELLS, _PQ_K, _PQ_M, _PQ_SUB
    )
    expect = {}
    true_l2_top = {}
    for qid in range(5):
        qi = int(np.searchsorted(ids, qid))
        dq = ((cents - vecs[qi]) ** 2).sum(axis=1)
        probed = np.argsort(dq, kind="stable")[:_IVFPQ_NPROBE]
        cand = []
        for c in probed:
            qres = (vecs[qi] - cents[c]).reshape(_PQ_M, _PQ_SUB)
            qtab = ((qres[None, :, :] - cb) ** 2).sum(axis=2)  # (K, M)
            for i in np.flatnonzero(cell == c):
                if ids[i] == qid:
                    continue
                adc = int(qtab[codes[i], np.arange(_PQ_M)].sum())
                cand.append((adc, int(ids[i])))
        expect[qid] = sorted(cand)[:4]
        true = ((vecs - vecs[qi]) ** 2).sum(axis=1)
        true_l2_top[qid] = {
            int(ids[i])
            for i in np.argsort(true, kind="stable")[:11]
            if ids[i] != qid
        }

    got = {}
    for r in similarity_ivfpq_adc_topk(spark, sf_dir).collect():
        got.setdefault(r["qid"], []).append((r["adc_dist"], r["cid"]))
    release_cached()
    assert {q: sorted(v) for q, v in got.items()} == expect

    # recall floor: IVFADC top-4 against true-L2 top-10 — BOTH the
    # nprobe=3/8 pruning and the 16-codeword residual book cost recall
    # (measured per-SF in SCALING.md; pin a conservative floor)
    hits = total = 0
    for qid, top in got.items():
        for _, cid in top:
            total += 1
            hits += cid in true_l2_top[qid]
    recall = hits / total
    print(f"ivfpq adc recall@4-in-true10: {recall:.3f}")
    assert recall >= 0.2


def test_ivfpq_exhaustive_probe_scores_every_candidate(spark, sf_dir):
    """With nprobe = n_cells the cell pruning is provably inert: every
    non-self candidate receives exactly one ADC score (the structural
    join on (cell, j, code) forms each candidate's M code rows against
    exactly one probed-cell table), so the score relation has n-1 rows
    per query — the IVF analogue of similarity_ivf_exact's
    exhaustive-probe contract."""
    from presto_on_ray_spark.caching import release_cached
    from presto_on_ray_spark.operators.similarity import (
        _IVFPQ_CELLS,
        _ivfpq_scores,
        build_ann_index,
        quantized,
    )

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    n = v.count()
    score = _ivfpq_scores(v, build_ann_index(v), n_queries=3, nprobe=_IVFPQ_CELLS)
    per_q = {
        r["qid"]: r["cnt"]
        for r in score.groupBy("qid").agg(F.count("*").alias("cnt")).collect()
    }
    release_cached()
    assert per_q == {0: n - 1, 1: n - 1, 2: n - 1}


def test_ivfpq_rerank_recovers_true_topk(spark, sf_dir):
    """similarity_ivfpq_rerank_topk's quality contract on the STATED
    metric: recall of the 64-deep IVFADC shortlist + exact rerank
    against the true quantized-cosine top-4 over ALL candidates.
    Unlike the flat-PQ rerank, nprobe=3/8 cell pruning can exclude
    true neighbors from the shortlist entirely — the measured gap IS
    the IVF recall dial (record per-SF numbers in SCALING.md)."""
    import numpy as np

    from presto_on_ray_spark.caching import release_cached
    from presto_on_ray_spark.operators.similarity import (
        similarity_ivfpq_rerank_topk,
    )

    rows = (
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    )
    ids, vecs = _quantized_vecs(rows)
    norms = np.sqrt((vecs * vecs).sum(axis=1).astype(np.float64))
    true_top = {}
    for qid in range(5):
        qi = int(np.searchsorted(ids, qid))
        cos = (vecs @ vecs[qi]).astype(np.float64) / (norms * norms[qi])
        ranked = sorted(
            ((-cos[i], int(ids[i])) for i in range(len(ids)) if ids[i] != qid)
        )
        true_top[qid] = {cid for _, cid in ranked[:4]}

    got = {}
    for r in similarity_ivfpq_rerank_topk(spark, sf_dir).collect():
        got.setdefault(r["qid"], set()).add(r["cid"])
    release_cached()
    assert set(got) == set(true_top)
    hits = sum(len(got[q] & true_top[q]) for q in got)
    total = sum(len(true_top[q]) for q in got)
    recall = hits / total
    print(f"ivfpq rerank recall vs true cosine top-4: {recall:.3f}")
    assert recall >= 0.5


def test_ivfpq_refined_codebook_properties(spark, sf_dir):
    """The IVF-PQ encode-time quality dial: (1) init_offset at iters=0
    reproduces the frozen keys' SAMPLED residual codebook exactly, so
    the refinement is a pure superset of the hash-exact machinery;
    (2) five Lloyd iterations over the residual subvectors match the
    NumPy twin bit-for-bit (the ids are shifted by n_cells so the
    twin's 0..k-1 init window lands on the non-degenerate residuals,
    exactly like init_offset does); (3) the refined book strictly
    improves total encode distortion over the sampled residual book;
    (4) similarity_ivfpq_refined_topk returns well-formed top-4 rows
    whose cosines are exact (the rerank stage is shared, so quality
    changes but correctness machinery does not)."""
    import numpy as np

    from presto_on_ray_spark.caching import release_cached
    from presto_on_ray_spark.operators.similarity import (
        _IVFPQ_CELLS,
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        _encode_sub,
        _ivfpq_residuals,
        _pq_l2sq,
        _pq_subvectors,
        pq_codebook,
        quantized,
        similarity_ivfpq_refined_topk,
    )

    rows = (
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    )
    ids, vecs = _quantized_vecs(rows)
    cents_np, cell, _, _ = _np_ivfpq(ids, vecs, _IVFPQ_CELLS, _PQ_K, _PQ_M, _PQ_SUB)
    resid = vecs - cents_np[cell]
    twin = _np_pq_codebook(ids - _IVFPQ_CELLS, resid, _PQ_K, 5)

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    cents = v.filter(F.col("vec_id") < _IVFPQ_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("qv").alias("cv")
    )
    asg = _ivfpq_residuals(v, cents)
    sub = _pq_subvectors(asg, vec_col="rv", carry=("cell",)).persist()

    sampled = {
        (r["j"], r["c"]): list(r["cw"])
        for r in sub.filter(
            (F.col("vec_id") >= _IVFPQ_CELLS)
            & (F.col("vec_id") < _IVFPQ_CELLS + _PQ_K)
        )
        .select(
            "j", (F.col("vec_id") - _IVFPQ_CELLS).alias("c"), F.col("s").alias("cw")
        )
        .collect()
    }
    zero_iter = {
        (r["j"], r["c"]): list(r["cw"])
        for r in pq_codebook(
            asg, vec_col="rv", sub=sub, iters=0, init_offset=_IVFPQ_CELLS
        ).collect()
    }
    assert zero_iter == sampled  # (1)

    refined_df = pq_codebook(
        asg, vec_col="rv", sub=sub, iters=5, init_offset=_IVFPQ_CELLS
    )
    refined = {
        (r["j"], r["c"]): list(r["cw"]) for r in refined_df.collect()
    }
    assert refined == {key: list(cw) for key, cw in twin.items()}  # (2)

    def distortion(cb_map):
        cb_df = spark.createDataFrame(
            [(j, c, cw) for (j, c), cw in sorted(cb_map.items())],
            "j int, c int, cw array<bigint>",
        )
        d = (
            sub.join(F.broadcast(cb_df), "j")
            .select(
                "vec_id", "j", _pq_l2sq(F.col("s"), F.col("cw")).alias("d2")
            )
            .groupBy("vec_id", "j")
            .agg(F.min("d2").alias("d2"))
            .agg(F.sum("d2").alias("total"))
            .collect()[0]["total"]
        )
        return int(d)
    d_sampled, d_refined = distortion(sampled), distortion(refined)
    print(f"ivfpq residual distortion: sampled {d_sampled} refined {d_refined} "
          f"({d_refined / d_sampled:.3f}x)")
    assert d_refined < d_sampled  # (3)

    got = {}
    for r in similarity_ivfpq_refined_topk(spark, sf_dir).collect():
        got.setdefault(r["qid"], []).append(r)
    sub.unpersist()
    release_cached()
    norms = np.sqrt((vecs * vecs).sum(axis=1).astype(np.float64))
    assert set(got) == set(range(5))
    for qid, rs in got.items():
        assert len(rs) == 4  # (4)
        qi = int(np.searchsorted(ids, qid))
        for r in rs:
            ci = int(np.searchsorted(ids, r["cid"]))
            want = float(vecs[ci] @ vecs[qi]) / (norms[ci] * norms[qi])
            assert abs(r["cosine"] - round(want, 6)) < 1e-9, (qid, r["cid"])


def test_auto_shortlist_depth_tracks_corpus_size(spark):
    """The production default scales with n: floor at small corpora,
    ceil(0.03 * n) above the floor crossover (VERDICT r12 #2)."""
    from presto_on_ray_spark.operators.similarity import auto_shortlist_depth

    def rel(n):
        return spark.range(n).select(F.col("id").alias("vec_id"))

    assert auto_shortlist_depth(rel(100)) == 64     # floor
    assert auto_shortlist_depth(rel(2000)) == 64    # 60 < floor
    assert auto_shortlist_depth(rel(2200)) == 66    # past crossover
    assert auto_shortlist_depth(rel(20000)) == 600  # the sf1 dial
    assert auto_shortlist_depth(rel(20000), floor_depth=32, frac=0.01) == 200


def test_ivfpq_rerank_auto_equals_frozen_at_fixture(spark, sf_dir):
    """At fixture scale the auto depth resolves to the frozen 64, so
    the two keys must return identical rows — the premise for sharing
    the hash-exact oracle."""
    from presto_on_ray_spark.operators.similarity import (
        similarity_ivfpq_rerank_auto,
        similarity_ivfpq_rerank_topk,
    )

    a = similarity_ivfpq_rerank_auto(spark, sf_dir)
    b = similarity_ivfpq_rerank_topk(spark, sf_dir)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pq_shortlist_rerank_depth_param_widens_recall_set(spark, sf_dir):
    """A deeper shortlist can only grow the candidate pool the exact
    rerank sees: the k rows returned at depth d are a subset of the
    union the rerank considers at depth d' > d, so cosine@rank is
    monotonically non-decreasing in depth."""
    from presto_on_ray_spark.operators.similarity import (
        _IVFPQ_NPROBE,
        _ivfpq_scores,
        _pq_shortlist_rerank,
        build_ann_index,
    )

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    score = _ivfpq_scores(v, build_ann_index(v), 5, _IVFPQ_NPROBE).cache()
    shallow = _pq_shortlist_rerank(score, v, 5, 4, shortlist=8)
    deep = _pq_shortlist_rerank(score, v, 5, 4, shortlist=256)
    j = (
        shallow.select("qid", F.col("cosine").alias("c_shallow"))
        .groupBy("qid").agg(F.min("c_shallow").alias("worst_shallow"))
        .join(
            deep.select("qid", F.col("cosine").alias("c_deep"))
            .groupBy("qid").agg(F.min("c_deep").alias("worst_deep")),
            "qid",
        )
    )
    assert j.filter(F.col("worst_deep") < F.col("worst_shallow")).count() == 0


def test_ivfpq_filtered_topk_respects_predicate(spark, sf_dir):
    """Every returned neighbor passes the predicate, self-pairs are
    excluded, and each query gets a full k even at selective
    predicates — the starvation-resistance property post-filtering
    lacks (SCALING.md r13: post-filter recall 0.0 at sf1 where
    pre-filter holds 0.2-0.55)."""
    from presto_on_ray_spark.operators.similarity import (
        _FILTER_LABEL,
        ivfpq_rerank_topk,
        similarity_ivfpq_filtered_topk,
    )

    res = similarity_ivfpq_filtered_topk(spark, sf_dir).cache()
    e = t(spark, sf_dir, "embeddings")
    passing = e.filter(F.col("label") == _FILTER_LABEL).select(
        F.col("vec_id").alias("cid")
    )
    assert res.join(passing, "cid", "left_anti").count() == 0
    assert res.filter(F.col("qid") == F.col("cid")).count() == 0
    per_q = res.groupBy("qid").count().collect()
    assert len(per_q) == 5 and all(r["count"] == 4 for r in per_q)
    res.unpersist()

    # a ~2% predicate still fills k per query because the shortlist is
    # drawn FROM the filtered codes (the adaptive nprobe default goes
    # exhaustive at this nf, so the only possible shortfall would be
    # the predicate itself — at nprobe<n_cells a passing vector in an
    # unprobed cell is correctly pruned, which is ANN cell pruning,
    # not post-filter starvation)
    tiny = ivfpq_rerank_topk(
        spark,
        sf_dir,
        predicate=(F.col("label") == _FILTER_LABEL) & (F.col("vec_id") % 5 == 0),
    )
    per_q = tiny.groupBy("qid").count().collect()
    assert len(per_q) == 5 and all(r["count"] == 4 for r in per_q)


def test_ivfpq_filtered_matches_unfiltered_on_true_predicate(spark, sf_dir):
    """A predicate passing EVERY vector reduces the filtered pipeline
    to the auto-dial unfiltered one exactly: both default to the same
    auto-sized index build, and the depth AND adaptive-nprobe formulas
    see the same n."""
    from presto_on_ray_spark.operators.similarity import ivfpq_rerank_topk

    a = ivfpq_rerank_topk(spark, sf_dir, predicate=F.lit(True))
    b = ivfpq_rerank_topk(spark, sf_dir)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_ivfpq_rerank_with_pinned_dials_runs_no_job(spark, sf_dir):
    """With the index's cell count, nprobe and shortlist all given, no
    dial needs a count, so building the plan starts no Spark job."""
    from presto_on_ray_spark.caching import release_cached
    from presto_on_ray_spark.operators.similarity import ivfpq_rerank_topk
    from tests.test_caching import _jobs_in_group

    t(spark, sf_dir, "embeddings")
    try:
        jobs, _ = _jobs_in_group(
            spark, "ivfpq-pinned",
            lambda: ivfpq_rerank_topk(
                spark, sf_dir, nprobe=3, shortlist=64, n_cells=8
            ),
        )
    finally:
        release_cached()
    assert jobs == 0


def test_fold_substitutes_each_anchor_once_in_order():
    from presto_on_ray_spark.operators.similarity import _fold

    # each step reads the text the previous one left
    assert _fold("a b c", ("a", "x y"), ("x", "z")) == "z y b c"
    with pytest.raises(ValueError, match="0 times"):
        _fold("a b c", ("d", "e"))
    with pytest.raises(ValueError, match="2 times"):
        _fold("a b a", ("a", "e"))
    # a later step sees an anchor an earlier one introduced twice
    with pytest.raises(ValueError, match="2 times"):
        _fold("a b", ("a", "b"), ("b", "c"))


# -- round 14: auto cell/probe dials + adaptive filtered ANN --------------


def test_auto_ivf_dials_track_corpus_size():
    """The r14 dial formulas at the three sf rungs (VERDICT r13 #3):
    cells ~ sqrt(n), nprobe from the 2x-shortlist coverage target,
    clamped to [3, n_cells]. These are the exact values the folded
    SQL oracles resolve to, so a formula drift here is an oracle
    drift there."""
    import math

    from presto_on_ray_spark.operators.similarity import (
        auto_ivf_cells,
        auto_ivf_nprobe,
    )

    expected = {500: (23, 64, 6), 2000: (45, 64, 3), 20000: (142, 600, 9)}
    for n, (nc, sl, np_) in expected.items():
        assert auto_ivf_cells(n) == nc
        assert max(64, math.ceil(0.03 * n)) == sl
        assert auto_ivf_nprobe(n, nc, sl) == np_
    # floors and caps
    assert auto_ivf_cells(10) == 8                  # cell floor
    assert auto_ivf_nprobe(10_000_000, 3163, 300_000) == 190
    assert auto_ivf_nprobe(100, 10, 64) == 10       # cap at n_cells
    assert auto_ivf_nprobe(0, 8, 64) == 8           # empty set: probe all


def test_ivfpq_auto_cells_matches_pinned_dial_build(spark, sf_dir):
    """The full-auto key is exactly ivfpq_rerank_topk with the three
    formulas pre-resolved — no hidden fourth dial."""
    import math

    from presto_on_ray_spark.operators.similarity import (
        auto_ivf_cells,
        auto_ivf_nprobe,
        ivfpq_rerank_topk,
        quantized,
        similarity_ivfpq_auto_cells,
    )

    e = t(spark, sf_dir, "embeddings")
    n = e.count()
    nc = auto_ivf_cells(n)
    sl = max(64, math.ceil(0.03 * n))
    a = similarity_ivfpq_auto_cells(spark, sf_dir)
    b = ivfpq_rerank_topk(
        spark, sf_dir, n_cells=nc, nprobe=auto_ivf_nprobe(n, nc, sl), shortlist=sl
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_filtered_adaptive_recall_sweep_no_decay(spark, sf_dir):
    """VERDICT r13 #4's done-gate: recall@k of the ADAPTIVE filtered
    pipeline vs the EXACT quantized-cosine top-k over each filtered
    set, swept across ~10% / ~1% / ~0.2% selectivities. The adaptive
    nprobe widens as the predicate tightens (10% already caps at
    n_cells on the fixture; the non-exhaustive regime at larger nf is
    exercised by the sf1 rung recorded in SCALING.md r14), so recall
    must NOT decay at low selectivity — the exact failure mode of a
    fixed nprobe=3, where a 0.1% predicate leaves probed cells empty."""
    import numpy as np

    from presto_on_ray_spark.operators.similarity import ivfpq_rerank_topk

    e = t(spark, sf_dir, "embeddings")
    rows = e.select("vec_id", "embedding").collect()
    ids, vecs = _quantized_vecs(rows)
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    cos = (vecs @ vecs.T) / np.outer(norms, norms)

    recalls = []
    for mod in (10, 100, 500):  # ~10%, ~1%, ~0.2% of the 500-row fixture
        pred = (F.col("vec_id") % mod) == 7
        passing = {int(i) for i in ids if i % mod == 7}
        assert passing, f"sweep predicate mod={mod} passes nothing"
        got = {
            (r["qid"], r["cid"])
            for r in ivfpq_rerank_topk(spark, sf_dir, predicate=pred).collect()
        }
        hits = total = 0
        for qid in range(5):
            cand = sorted(
                (c for c in passing if c != qid),
                key=lambda c: (-cos[qid, c], c),
            )[:4]
            for cid in cand:
                total += 1
                hits += (qid, cid) in got
        recalls.append(hits / total)
    # exhaustive-probe limit at fixture scale: exact on every rung,
    # and in particular NOT decaying as selectivity drops
    assert recalls == [1.0, 1.0, 1.0], recalls


def test_filtered_adaptive_key_equals_explicit_dials(spark, sf_dir):
    """similarity_ivfpq_filtered_adaptive == ivfpq_rerank_topk with
    the filtered-set formulas pre-resolved (nf=5 at the fixture: sl=64
    floor, nprobe capped at the 8-cell index — the emergent
    brute-force limit)."""
    from presto_on_ray_spark.operators.similarity import (
        _ADAPT_FILTER_MOD,
        ivfpq_rerank_topk,
        similarity_ivfpq_filtered_adaptive,
    )

    pred = (F.col("vec_id") % _ADAPT_FILTER_MOD) == 7
    a = similarity_ivfpq_filtered_adaptive(spark, sf_dir)
    b = ivfpq_rerank_topk(
        spark, sf_dir, predicate=pred, nprobe=8, shortlist=64, n_cells=8
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_dedup_semantic_auto_cells_same_rule_finer_cells(spark, sf_dir):
    """The auto-cell SemDeDup key keeps the dup RULE and changes only
    the partition layout: every (vec_id) appears exactly once, cells
    span the widened range [0, ceil(sqrt n)), and the within-cell
    pairwise work (sum of pop^2) is strictly below the fixed 8-cell
    layout's — the 100 TB cost term the dial exists to bound."""
    from presto_on_ray_spark.operators.similarity import (
        auto_ivf_cells,
        dedup_semantic,
        dedup_semantic_auto_cells,
    )

    n = t(spark, sf_dir, "embeddings").count()
    nc = auto_ivf_cells(n, 8)
    auto = dedup_semantic_auto_cells(spark, sf_dir).cache()
    assert auto.count() == n
    assert auto.select("vec_id").distinct().count() == n
    cells = [r["cell"] for r in auto.select("cell").distinct().collect()]
    assert max(cells) < nc and min(cells) >= 0 and len(cells) > 8

    def pair_work(df):
        pops = [r["p"] for r in df.groupBy("cell").agg(F.count("*").alias("p")).collect()]
        return sum(p * p for p in pops)

    assert pair_work(auto) < pair_work(dedup_semantic(spark, sf_dir))
    auto.unpersist()


def test_filtered_saved_equals_filtered_adaptive(spark, sf_dir):
    """The saved-store composition changes WHERE the index relations
    come from, never the result: reading the fresh generation back
    must reproduce the in-session adaptive key row-for-row (the
    shared-oracle premise)."""
    from presto_on_ray_spark.operators.similarity import (
        similarity_ivfpq_filtered_adaptive,
        similarity_ivfpq_filtered_saved,
    )

    a = similarity_ivfpq_filtered_saved(spark, sf_dir)
    b = similarity_ivfpq_filtered_adaptive(spark, sf_dir)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
