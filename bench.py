"""Benchmark runner — prints ONE JSON line with per-query seconds.

Headline queries span the engine's cost centers: scan+agg, multiway
join, window, grouping sets, top-N, set-similarity dedup, minhash LSH,
similarity top-k, text analysis. Runs at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Method: one warmup of a trivial action to pay JVM/codegen startup, then
each query timed as plan-build + execution to a count()-style sink
(results are not collected to the driver — we measure the engine, not
arrow serialization of result sets).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from presto_on_ray_spark import suite  # noqa: E402
from presto_on_ray_spark.caching import release_cached  # noqa: E402
from presto_on_ray_spark.session import get_spark  # noqa: E402

# Round-14 pruning (VERDICT r13 #8): the driver records only the LAST
# 2000 chars of bench output, and the per-key JSON line outgrew that
# window in r12/r13 (parsed: null). Eleven low-information keys whose
# plans are charged by a sibling headline key or fully covered by the
# correctness gates were removed so the line is machine-readable
# again: window_ranking (cov_windows_wide), text_quality_scores /
# text_token_count (text family members; classifier + tfidf headline
# the family), hll_sketch_pipeline (cov_sketch_exact),
# dedup_minhash_lsh (dedup_lsh_keepers is the end-to-end path),
# datetime_mysql_patterns / pii_redact / text_chunking (sub-second
# scalar pipelines), agg_regression (statistical-agg plan shape
# charged by cov_* members), cdc_latest_state (merge_upsert keeps
# the CDC family), corpus_mix_sources
# (corpus_budget_select keeps the selection/mixing cost center),
# sessionize_batch (join_asof + rollup_hypertable keep temporal),
# scd2_history (merge_upsert keeps CDC), corpus_shuffle_shards +
# sequence_length_buckets (sequence_packing keeps epoch prep). All
# remain registered suite keys under the oracle gates; BENCH_FULL.json
# (written every run) carries the complete 3-decimal map regardless.
HEADLINE = [
    "q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume_customer",
    "join_inner_multiway",
    "agg_grouping_sets",
    "window_top_n_per_group",
    "topn_global",
    "streaming_tumbling_window_batch",
    "dedup_exact_survivors",
    "dedup_ngram_jaccard",
    "dedup_neardup_clusters",
    "similarity_bruteforce_topk",
    # breadth: scalar families, set ops, wide windows
    "cov_scalar_lineitem",
    "cov_scalar_documents",
    "cov_setops",
    "cov_windows_wide",
    # temporal + reshape + tfidf (round 3 additions)
    "join_asof",
    "rollup_hypertable",
    "text_tfidf_topk",
    "pivot_event_counts",
    # analytics tail + training prep (round 3, second pass)
    "recursive_cte_hierarchy",
    "sequence_packing",
    # incremental / CDC family (round 4)
    "merge_upsert",
    "text_lm_score",
    "rollup_incremental_refresh",
    "corpus_curation_pipeline",
    "corpus_pagerank",
    # round-5 oracle-bearing approximations
    "cov_sketch_exact",
    "dedup_lsh_keepers",
    "similarity_ivf_exact",
    # round-8: token-budget quality selection
    "corpus_budget_select",
    # round-9: exact substring-window duplication (largest explode in
    # the repo — ~one row per token position)
    "dedup_substring_windows",
    # round-10: span extraction (gaps-and-islands over the dup
    # relation) and ingest-time dedup (two-phase base index)
    "dedup_substring_spans",
    "dedup_incremental_ingest",
    # round-11: the substring family's end decision/action (keep
    # verdict + cut), completing the family in the headline set
    "dedup_substring_keep",
    "dedup_substring_cut",
    # round-11: the self-growing admit loop (classify b1, admit its
    # new docs, classify b2 against the grown base)
    "dedup_ingest_chain",
    # round-12: the PRODUCTION admit chain (stale merge + scheduled
    # compaction — the path stream_ingest_admit defaults to); the
    # strict chain above prices the saturated-vocabulary worst case
    "dedup_ingest_chain_stale",
    # round-12: IVF-PQ ANN, the composed codes-only scale path (cell
    # pruning + residual PQ + shortlist/exact rerank). r15: the frozen-
    # dial rerank_topk slot swapped for the lifecycle key below —
    # rerank_auto keeps the identical plan shape timed (only the dial
    # constants differ), and the pessimistic line budget holds 1900.
    # round-12 continuation: cross-corpus boilerplate strip (aligned-
    # segment document frequency + row-local cut), SemDeDup semantic
    # dedup (cell-bounded pairwise), BM25 retrieval
    # (r15: the frozen-8-cell dedup_semantic slot moved to the local
    # gates when dedup_semantic_ingest joined — the auto-cells variant
    # below is the production dial and keeps the family benched, the
    # same displacement rule as the frozen-dial rerank slot in r15)
    "corpus_boilerplate_strip",
    "text_bm25_topk",
    # round-12 continuation 2: the governance tier — leakage-safe
    # splits (adaptive pair tier), quality-keeper policy, PSI drift,
    # classifier inference, k-center seeds
    "split_leakage_safe",
    "dedup_keep_best",
    "corpus_drift_psi",
    "text_quality_classifier",
    "similarity_kcenter_seeds",
    # round-12 continuation 3: the composed dashboard + CDC chunking
    "corpus_health_report",
    "text_chunking_cdc",
    # round-13: the recall-bounded LSH dedup pipeline (lsh_dial's
    # (29,4) S-curve dial end-to-end: candidates → exact verify → CC)
    "dedup_lsh_keepers_bounded",
    # round-13: the auto-shortlist IVF-PQ production entry (depth ∝
    # corpus from one count aggregate; floor 64 at fixture scales)
    "similarity_ivfpq_rerank_auto",
    # round-13: filtered ANN (predicate semi-join prunes codes BEFORE
    # ADC; post-filtering starves at selective predicates)
    "similarity_ivfpq_filtered_topk",
    # round-13: in-engine classifier training (pocket batch integer
    # perceptron, weak-supervised distillation of the lang-id rule).
    # Only the distilled key carries the headline: it runs the FULL
    # train -> score -> audit pipeline, so adding text_classifier_train
    # would charge the identical training plan twice for no extra
    # plan information (it stays a registered oracle key under the
    # correctness gates; same reasoning keeps the r14 published/
    # holdout_val variants out — train plan + store IO noise).
    "text_classifier_distilled",
    # round-14: the full-auto IVF-PQ dials (cells ~ sqrt n, coverage-
    # target nprobe) and the adaptive-nprobe selective-filter path
    "similarity_ivfpq_auto_cells",
    "similarity_ivfpq_filtered_adaptive",
    # round-14: SemDeDup on the corpus-sized cell dial
    "dedup_semantic_auto_cells",
    # round-15: the saved-ANN maintenance lifecycle (build at 20% →
    # merge-grow 5x → advice fires → rebuild at auto cells → filtered
    # query through the rebuilt generation)
    "similarity_ivfpq_lifecycle_rebuild",
    # round-15: semantic ingest admission (batch vs corpus through
    # probed coarse cells — the embedding twin of the ingest chain)
    "dedup_semantic_ingest",
]


def final_line(full: dict) -> str:
    """The stdout contract line, sized for the driver's 2000-char tail
    window: compact separators + 2-decimal per-key values; if the
    headline ever outgrows the window again, degrade to a summary
    pointing at BENCH_FULL.json rather than printing an unparseable
    truncated map (both branches pinned in tests/test_bench_line.py)."""
    compact = dict(
        full, queries={k: round(v, 2) for k, v in full["queries"].items()}
    )
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        line = json.dumps(
            dict(full, queries={"_full_map": "BENCH_FULL.json"}),
            separators=(",", ":"),
        )
    return line


def aggregate_runs(runs: list[dict]) -> dict:
    """Per-key median/min/max over N single-run ``full`` dicts, plus
    each run's own ``queries`` map (``run_queries``) for quartiles.

    Pure so tests can pin it. Every run carries the same key set (the
    HEADLINE list + layout pair is fixed per tree); the median is per
    key, and the headline ``value`` is the sum of per-key medians so it
    stays consistent with the ``queries`` map it summarizes.
    """
    import statistics

    keys = list(runs[0]["queries"].keys())
    med = {k: round(statistics.median(r["queries"][k] for r in runs), 3) for k in keys}
    return {
        "metric": "suite_seconds",
        "value": round(sum(med.values()), 3),
        "unit": "sec",
        "queries": med,
        "sf": runs[0]["sf"],
        "runs": len(runs),
        "queries_min": {k: min(r["queries"][k] for r in runs) for k in keys},
        "queries_max": {k: max(r["queries"][k] for r in runs) for k in keys},
        "run_totals": [r["value"] for r in runs],
        "run_queries": [r["queries"] for r in runs],
    }


def main_multi(n: int) -> None:
    """--runs N: N COLD child bench processes (each identical to the
    driver's single-run methodology — fresh JVM, same warmup, same
    count() sink), aggregated to per-key medians. One JSON line out,
    same schema as the single-run contract plus a ``runs`` count; the
    full spread (min/max per key, per-run totals and times) goes to
    BENCH_MEDIAN.json and stderr. Additions only: the no-flag default
    path is untouched."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    runs: list[dict] = []
    for i in range(n):
        rc = subprocess.run(
            [sys.executable, os.path.join(here, "bench.py")],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        ).returncode
        if rc != 0:
            print(f"# run {i + 1}/{n} failed rc={rc}", file=sys.stderr)
            continue
        # BENCH_FULL.json has the 3-decimal map (stdout rounds to 2).
        with open(os.path.join(here, "BENCH_FULL.json"), encoding="utf-8") as fh:
            runs.append(json.load(fh))
        print(f"# run {i + 1}/{n}: total {runs[-1]['value']}s", file=sys.stderr)
    if not runs:
        print("# all runs failed", file=sys.stderr)
        sys.exit(1)
    agg = aggregate_runs(runs)
    try:
        with open(os.path.join(here, "BENCH_MEDIAN.json"), "w", encoding="utf-8") as fh:
            json.dump(agg, fh, indent=1)
            fh.write("\n")
    except OSError as exc:
        print(f"# BENCH_MEDIAN.json write failed: {exc}", file=sys.stderr)
    for k in agg["queries"]:
        print(
            f"# {k}: med {agg['queries'][k]}s "
            f"[{agg['queries_min'][k]}, {agg['queries_max'][k]}]",
            file=sys.stderr,
        )
    line_payload = {
        k: agg[k] for k in ("metric", "value", "unit", "queries", "sf", "runs")
    }
    print(final_line(line_payload))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    suite.load_all()
    spark = get_spark(app_name="presto-on-ray-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: JVM, parquet footer reads, codegen paths, and the
    # once-per-session Presto function registration (idempotent —
    # charging it to whichever query happens to call it first would
    # misattribute ~1 s of session setup as query time).
    from presto_on_ray_spark.functions.registry import register_presto_functions

    register_presto_functions(spark)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = suite.QUERIES[name]
        start = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()
        timings[name] = round(time.perf_counter() - start, 3)
        release_cached()  # no storage carried between queries
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)

    # Storage-layout pair (SCALING.md §"Storage layout"): identical
    # predicate over naive vs range-clustered parquet of the events
    # table; the stderr line records footer-measured row-group skipping.
    import tempfile

    from presto_on_ray_spark.layout import layout_scan_demo

    with tempfile.TemporaryDirectory(prefix="layout_bench_") as tmp:
        demo = layout_scan_demo(spark, sf_dir, tmp)
    timings["layout_scan_naive"] = demo["scan_naive_sec"]
    timings["layout_scan_clustered"] = demo["scan_clustered_sec"]
    print(
        f"# layout: clustered {demo['scan_clustered_sec']}s vs naive "
        f"{demo['scan_naive_sec']}s; row groups pruned "
        f"{demo['pruning_clustered']['row_groups_pruned']}/"
        f"{demo['pruning_clustered']['row_groups']} clustered vs "
        f"{demo['pruning_naive']['row_groups_pruned']}/"
        f"{demo['pruning_naive']['row_groups']} naive",
        file=sys.stderr,
    )

    # Multi-dimensional layout (z-order): same 2-d box over a
    # ts-clustered vs a (ts, user) z-ordered copy of events. This
    # writes its OWN ts-clustered copy (32 files) rather than reusing
    # layout_scan_demo's 8-file one: the pruning comparison is only
    # meaningful at equal row-group granularity.
    from presto_on_ray_spark.layout import layout_zorder_demo

    with tempfile.TemporaryDirectory(prefix="layout_zorder_") as tmp:
        zd = layout_zorder_demo(spark, sf_dir, tmp)
    timings["layout_scan_zorder"] = zd["scan_zorder_sec"]
    print(
        f"# zorder: box scan {zd['scan_zorder_sec']}s (1-d clustered "
        f"{zd['scan_clustered_sec']}s); box pruning "
        f"{zd['pruning_box_zorder']['row_groups_pruned']}/"
        f"{zd['pruning_box_zorder']['row_groups']} zorder vs "
        f"{zd['pruning_box_clustered']['row_groups_pruned']}/"
        f"{zd['pruning_box_clustered']['row_groups']} clustered; "
        f"single-dim pruned (ts, user): zorder "
        f"({zd['pruning_ts_zorder']['row_groups_pruned']}, "
        f"{zd['pruning_user_zorder']['row_groups_pruned']}) vs clustered "
        f"({zd['pruning_ts_clustered']['row_groups_pruned']}, "
        f"{zd['pruning_user_clustered']['row_groups_pruned']})",
        file=sys.stderr,
    )

    total = round(sum(timings.values()), 3)
    import re as _re

    m = _re.fullmatch(r"sf([0-9.]+)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else None
    # Full-precision record on disk regardless of stdout-window limits
    # (VERDICT r13 #8: the driver keeps only the last 2000 chars of
    # output, so the artifact must not be the only copy of the map).
    full = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    # The artifact write must never kill the contract line (ADVICE
    # r14): on a read-only checkout or full disk, fall back to the
    # tmp dir, then give up with a stderr note — print() still runs.
    for target_dir in (
        os.path.dirname(os.path.abspath(__file__)),
        tempfile.gettempdir(),
    ):
        try:
            with open(
                os.path.join(target_dir, "BENCH_FULL.json"),
                "w",
                encoding="utf-8",
            ) as fh:
                json.dump(full, fh)
                fh.write("\n")
            break
        except OSError as exc:
            print(f"# BENCH_FULL.json write to {target_dir} failed: {exc}",
                  file=sys.stderr)
    print(final_line(full))
    spark.stop()


if __name__ == "__main__":
    # Additions-only CLI (VERDICT r15 #1): `--runs N [--median]` emits
    # per-key medians over N cold runs with min/max spread; no flags =
    # the original single-run driver contract, byte-for-byte.
    _args = sys.argv[1:]
    _n = 1
    if "--runs" in _args:
        _n = int(_args[_args.index("--runs") + 1])
    if _n > 1:
        main_multi(_n)
    else:
        main()
