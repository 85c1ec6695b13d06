"""Plan-shape assertions — the scale contract (SURVEY §4.2).

These tests pin the physical-plan properties that matter at 100 TB:
pushdown reaches parquet, dimension joins broadcast, top-N fuses,
aggregation is partial before the exchange. A correctness-preserving
change that regresses one of these fails here, not in production.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.plans.inspect import explain_formatted, physical_summary
from presto_on_ray_spark import suite

suite.load_all()


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = suite.QUERIES["scan_project_filter"](spark, sf_dir)
    s = physical_summary(df)
    assert s["pushed_filters"], explain_formatted(df)


def test_q1_partial_aggregation_and_pushdown(spark, sf_dir):
    df = suite.QUERIES["q1_pricing_summary"](spark, sf_dir)
    plan = explain_formatted(df)
    assert "HashAggregate" in plan
    # partial agg before the exchange: two HashAggregate nodes
    assert plan.count("HashAggregate") >= 2, plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThanOrEqual" in plan, plan


def test_dim_joins_broadcast(spark, sf_dir):
    df = suite.QUERIES["join_inner_multiway"](spark, sf_dir)
    s = physical_summary(df)
    assert s["broadcast_hash_join"], explain_formatted(df)


def test_topn_fuses_take_ordered(spark, sf_dir):
    df = suite.QUERIES["topn_global"](spark, sf_dir)
    s = physical_summary(df)
    assert s["take_ordered"], explain_formatted(df)


def test_column_pruning(spark, sf_dir):
    # 2-column projection of an 11-column table must read 2 columns.
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = explain_formatted(li)
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read_schema, read_schema
    assert "l_orderkey" in read_schema


def test_no_python_in_relational_hot_path(spark, sf_dir):
    # Core relational queries must stay JVM-side (no Python eval nodes).
    for name in [
        "q1_pricing_summary",
        "join_inner_multiway",
        "window_ranking",
        "topn_global",
        "text_quality_scores",
        "dedup_minhash_lsh",
    ]:
        df = suite.QUERIES[name](spark, sf_dir)
        s = physical_summary(df)
        assert not s["python_udf"], f"{name} fell off the JVM path"


def test_semi_join_plan(spark, sf_dir):
    df = suite.QUERIES["join_semi"](spark, sf_dir)
    plan = explain_formatted(df)
    assert "LeftSemi" in plan, plan


def test_window_group_limit_pushdown(spark, sf_dir):
    # rank<=k filter should engage Spark's WindowGroupLimit optimization.
    df = suite.QUERIES["window_top_n_per_group"](spark, sf_dir)
    plan = explain_formatted(df)
    assert "WindowGroupLimit" in plan, plan


def test_broadcast_respected_for_small_dim_without_hint(spark, sf_dir):
    # Even without an explicit broadcast() hint, a 5-row dim should
    # broadcast under the engine's session defaults.
    li = t(spark, sf_dir, "lineitem")
    n = t(spark, sf_dir, "nation")
    s = t(spark, sf_dir, "supplier")
    df = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("cnt"))
    )
    assert physical_summary(df)["broadcast_hash_join"], explain_formatted(df)


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """AQE evidence: with 32 initial shuffle partitions over tiny data,
    the executed plan must show a coalesced AQEShuffleRead — the
    runtime re-planning SCALING.md leans on."""
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        df = (
            t(spark, sf_dir, "orders")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead" in executed and "coalesced" in executed, executed[:2000]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "4")


def test_aqe_splits_skewed_join(spark, sf_dir):
    """Skew evidence (SCALING.md): a join where one key holds ~90% of
    the probe side must trigger AQE's skew-join split (the executed SMJ
    is marked skew=true). This is the automatic path; operators/skew.py
    salting is the manual fallback."""
    import pyspark.sql.functions as F

    # ~300k rows on one hot key, a few rows elsewhere; force SMJ
    hot = spark.range(300_000).select(
        F.lit(1).alias("k"), (F.col("id") % 97).alias("payload")
    )
    cold = spark.range(2, 50).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("payload")
    )
    left = hot.unionAll(cold)
    right = spark.range(1, 50).select(F.col("id").alias("k"), F.lit("d").alias("v"))
    old_thresholds = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try:
        joined = left.join(right, "k")
        # execute THIS df's own QueryExecution (df.rdd shares it) so the
        # adaptive plan attached to `joined` finalizes
        assert joined.rdd.count() == 300_000 + 48
        executed = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, executed[:2500]
    finally:
        for k, v in old_thresholds.items():
            spark.conf.set(k, v)


def test_mix_sources_window_never_spans_a_source(spark, sf_dir):
    """corpus_mix_sources' per-doc ranking window must partition by
    (source, okey-bucket), never by source alone: a PARTITION BY
    source window with 3 sources is a single-task sort over each
    ENTIRE source at scale (VERDICT r8 flag). The quota windows over
    the bounded 3-row / per-source-bucket relations are exempt — only
    windows whose input is the document relation matter, and every
    document-level window spec here must include the bucket column."""
    df = suite.QUERIES["corpus_mix_sources"](spark, sf_dir)
    plan = explain_formatted(df)
    import re

    row_number_specs = [
        l for l in plan.splitlines() if "row_number()" in l
    ]
    assert row_number_specs, plan
    for spec in row_number_specs:
        # windowspecdefinition lists partition attributes, then order
        # attributes (each tagged ASC/DESC), then the frame. Capture
        # up to the frame and keep only the comma-separated tokens
        # BEFORE the first sort-tagged one — a [^)]* capture stops at
        # the first ')' inside a parenthesized expression (ADVICE r9),
        # and a capture that merely ends at the first ASC would also
        # swallow the first ORDER BY column, false-passing a window
        # whose bucket moved from PARTITION BY into ORDER BY.
        m = re.search(r"windowspecdefinition\((.*?)specifiedwindowframe", spec)
        assert m, spec
        partition_cols = []
        for tok in m.group(1).split(","):
            if " ASC" in tok or " DESC" in tok:
                break
            partition_cols.append(tok)
        assert any("bkt" in tok for tok in partition_cols), spec


def test_substring_spans_two_exchange_shape(spark, sf_dir):
    """The spans/span-list docstrings claim a two-shuffle shape: one
    exchange on the window digest, one on doc_id, with the islands
    groupBy, run-order lag, and per-doc rollup all REUSING the doc_id
    hash partitioning. Pin the exchange count so a regression (e.g. a
    groupBy key change that stops satisfying the doc_id clustering)
    fails here, not at 100 TB."""
    import re

    for name in ("dedup_substring_spans", "dedup_substring_span_list"):
        plan = explain_formatted(suite.QUERIES[name](spark, sf_dir))
        # formatted mode prints exchanges as "(n) Exchange" with the
        # partitioning in an Arguments line — the old adjacent
        # "Exchange hashpartitioning" pattern matched NOTHING in this
        # mode, so the pin was vacuous (always 0 <= 2); measured
        # shape is exactly 2 (window digest, then doc_id)
        n = len(re.findall(r"\(\d+\) Exchange", plan))
        assert 1 <= n <= 2, f"{name}: {n} exchanges\n{plan[:3000]}"


def test_ingest_lsh_plan_shape(spark, sf_dir):
    """The LSH ingest tier's scale contract: candidate generation is a
    hash join keyed on (band, bucket) — NEVER a cartesian/nested-loop
    pairing of the batch against the base — and lsh_bands' grouped
    signature is ONE hash exchange (a single groupBy with k
    map-combined min aggregates, no array materialization)."""
    import re

    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        ingest_batch_lsh,
        lsh_bands,
        shingles,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sh = d.select("doc_id", F.explode(shingles(F.col("text"))).alias("sh"))
    band_plan = explain_formatted(lsh_bands(sh))
    # formatted mode prints exchanges as "(n) Exchange" with the
    # hashpartitioning in an Arguments line
    n = len(re.findall(r"\(\d+\) Exchange", band_plan))
    assert n == 1, f"lsh_bands: {n} exchanges\n{band_plan[:3000]}"
    assert "hashpartitioning(doc_id" in band_plan

    idx = build_base_index(d.filter(F.col("doc_id") % 10 != 0), tracked=False)
    try:
        plan = explain_formatted(
            ingest_batch_lsh(
                d.filter(F.col("doc_id") % 10 == 0), idx, keep=lambda x: x
            )
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the candidate join really is keyed on the band bucket
        assert re.search(r"hashpartitioning\(band#\d+", plan) or re.search(
            r"\[band#\d+[L]?, bucket#\d+", plan
        ), plan[:3000]
    finally:
        idx.release()


def test_pq_plan_shape(spark, sf_dir):
    """The PQ scale contract: codebook and ADC tables join as
    BROADCAST hash joins (both are tiny by construction — M x K rows),
    and nothing in either PQ query's plan degenerates to a cartesian
    or nested-loop pairing of candidates against queries."""
    from presto_on_ray_spark.caching import release_cached

    try:
        for name in ("similarity_pq_adc_topk", "similarity_pq_rerank_topk"):
            plan = explain_formatted(suite.QUERIES[name](spark, sf_dir))
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
            assert "BroadcastHashJoin" in plan, (name, plan[:2000])
    finally:
        release_cached()  # the PQ pipeline tracked-persists its subvectors


def test_ivfpq_plan_shape(spark, sf_dir, monkeypatch):
    """The IVF-PQ scale contract: the ONLY nested-loop passes are the
    two bounded centroid argmins (vectors x n_cells and queries x
    n_cells — an 8-row broadcast side by construction), codebook and
    ADC-table joins are BROADCAST hash joins, no cartesian product
    anywhere, and the exchange count stays bounded (assignment argmin,
    encode argmin, probe window, score groupBy, final top-k window —
    not one per cell or per query). Counts are taken from the
    formatted plan's NUMBERED node section, where each physical node
    appears exactly once (the tree rendering above it repeats shared
    subtrees; counting there double-counts — the vacuous/inflated
    plan-pin trap). The fixtures fit ivfpq_topk's driver-local tier,
    so the Spark tier, the plan that runs above the bound, is forced."""
    import re

    from presto_on_ray_spark import session
    from presto_on_ray_spark.caching import release_cached

    monkeypatch.setattr(session, "LOCAL_LOOP_ROWS", 0)
    try:
        for name in ("similarity_ivfpq_adc_topk", "similarity_ivfpq_rerank_topk"):
            plan = explain_formatted(suite.QUERIES[name](spark, sf_dir))
            bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
            assert bnlj == 2, (name, bnlj)
            assert len(re.findall(r"\(\d+\) CartesianProduct", plan)) == 0, name
            assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2, name
            assert "SortMergeJoin" not in plan, name
            nx = len(re.findall(r"\(\d+\) Exchange", plan))
            assert 3 <= nx <= 8, (name, nx)
    finally:
        release_cached()  # build_ann_index tracked-persists its subvectors


def test_filtered_ann_plan_shape(spark, sf_dir):
    """The filtered-ANN scale contract (round 13): the metadata
    predicate is PUSHED to the embeddings parquet scan (EqualTo on
    label), the codes pre-filter is a broadcast LEFT-SEMI join (the
    'broadcast the passing id set' dispatch — AQE upgrades it to a
    shuffled semi-join when the set is large), and the IVF-PQ invariants
    hold unchanged: exactly the two bounded centroid-argmin nested
    loops, no cartesian product, no sort-merge join. Counts from the
    numbered node section (the tree repeats shared subtrees)."""
    import re

    from presto_on_ray_spark.caching import release_cached

    try:
        plan = explain_formatted(
            suite.QUERIES["similarity_ivfpq_filtered_topk"](spark, sf_dir)
        )
        assert re.search(r"PushedFilters:.*EqualTo\(label,3\)", plan), plan[:500]
        assert re.search(
            r"\(\d+\) BroadcastHashJoin\b[\s\S]{0,200}?Join type: LeftSemi", plan
        ) or "LeftSemi BuildRight" in plan
        bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
        assert bnlj == 2, bnlj
        assert len(re.findall(r"\(\d+\) CartesianProduct", plan)) == 0
        assert "SortMergeJoin" not in plan
    finally:
        release_cached()


def test_classifier_train_job_count_linear_in_epochs(spark, sf_dir, monkeypatch):
    """The distributed training loop's orchestration contract (round
    13): each pocket epoch costs ONE action (dot -> verdicts ->
    gradient+error fused into a single collect), which AQE executes as
    a handful of stage-jobs — so the total Spark-job count is LINEAR in
    epochs with a small constant (measured ~8/epoch under AQE's
    job-per-stage accounting). This pins against both a second action
    sneaking back into the epoch (the pre-fusion shape) and any
    relational-chain regression (whose failure mode is super-linear
    work per epoch). The driver-local tier is forced off: this test
    keeps checking the path large corpora take."""
    from presto_on_ray_spark import session
    from presto_on_ray_spark.caching import release_cached
    from presto_on_ray_spark.operators._util import t as _t
    from presto_on_ray_spark.operators.textstats import (
        classifier_train,
        langid_labels,
    )

    monkeypatch.setattr(session, "LOCAL_LOOP_ROWS", 0)
    sc = spark.sparkContext
    docs = _t(spark, sf_dir, "documents")

    def jobs_for(epochs):
        group = f"train-jobs-{epochs}"
        try:
            sc.setJobGroup(group, "count training jobs")
            classifier_train(docs, langid_labels(docs), epochs=epochs).count()
        finally:
            sc.setJobGroup("train-done", "")
            release_cached()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    j2, j4 = jobs_for(2), jobs_for(4)
    per_epoch = (j4 - j2) / 2
    assert per_epoch <= 10, (j2, j4)
    assert j4 <= 10 * 4 + 6, (j2, j4)


def test_classifier_train_local_tier_job_count_flat_in_epochs(spark, sf_dir):
    """Under the driver-local gate the epochs run in numpy on one
    collected feature relation, so the Spark-job count does not grow
    with the epoch count."""
    from presto_on_ray_spark.caching import release_cached
    from presto_on_ray_spark.operators._util import t as _t
    from presto_on_ray_spark.operators.textstats import (
        classifier_train,
        langid_labels,
    )

    sc = spark.sparkContext
    docs = _t(spark, sf_dir, "documents")

    def jobs_for(epochs):
        group = f"local-train-jobs-{epochs}"
        try:
            sc.setJobGroup(group, "count training jobs")
            classifier_train(docs, langid_labels(docs), epochs=epochs).count()
        finally:
            sc.setJobGroup("train-done", "")
            release_cached()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_for(2) == jobs_for(4)
