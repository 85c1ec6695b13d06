"""bench.py's stdout contract (VERDICT r13 #8): the driver records
only the LAST 2000 chars of bench output, so the final JSON line —
compact separators, 2-decimal values — must fit with headroom even
under pessimistic per-key magnitudes. r12/r13 shipped parsed:null
because the headline list outgrew the window; this pins the budget so
a future headline addition fails HERE, not in the driver artifact."""

from __future__ import annotations

import json

import bench
from presto_on_ray_spark import suite

suite.load_all()


def test_headline_keys_are_registered():
    missing = [k for k in bench.HEADLINE if k not in suite.QUERIES]
    assert missing == [], missing


def test_final_json_line_fits_driver_tail_window():
    keys = list(bench.HEADLINE) + [
        "layout_scan_naive",
        "layout_scan_clustered",
        "layout_scan_zorder",
    ]
    # pessimistic: every key at a 2-digit-seconds magnitude
    q = {k: 99.99 for k in keys}
    line = json.dumps(
        {
            "metric": "suite_seconds",
            "value": 9999.999,
            "unit": "sec",
            "queries": q,
            "sf": 0.1,
        },
        separators=(",", ":"),
    )
    assert len(line) <= 1900, (
        f"bench line {len(line)} chars exceeds the 1900 budget "
        f"({len(keys)} keys) — prune a redundant headline key or rely "
        f"on the BENCH_FULL.json degradation"
    )


def test_final_line_both_branches():
    """final_line emits the full compact map while it fits and the
    BENCH_FULL.json pointer once it would not — never a truncated or
    oversized line."""
    small = {
        "metric": "suite_seconds", "value": 1.0, "unit": "sec",
        "queries": {"q1": 0.123}, "sf": 0.1,
    }
    line = bench.final_line(small)
    parsed = json.loads(line)
    assert parsed["queries"] == {"q1": 0.12} and len(line) < 1900

    huge = dict(small, queries={f"key_with_a_long_name_{i}": 1.234 for i in range(200)})
    line = bench.final_line(huge)
    parsed = json.loads(line)
    assert parsed["queries"] == {"_full_map": "BENCH_FULL.json"}
    assert len(line) < 300


def test_aggregate_runs_medians_and_spread():
    """--runs N aggregation (VERDICT r15 #1): per-key medians, per-key
    min/max spread, value = sum of medians, same line schema + runs."""
    mk = lambda a, b: {
        "metric": "suite_seconds", "value": round(a + b, 3), "unit": "sec",
        "queries": {"q1": a, "q2": b}, "sf": 0.1,
    }
    agg = bench.aggregate_runs([mk(1.0, 10.0), mk(3.0, 30.0), mk(2.0, 20.0)])
    assert agg["queries"] == {"q1": 2.0, "q2": 20.0}
    assert agg["value"] == 22.0
    assert agg["runs"] == 3
    assert agg["queries_min"] == {"q1": 1.0, "q2": 10.0}
    assert agg["queries_max"] == {"q1": 3.0, "q2": 30.0}
    assert agg["run_totals"] == [11.0, 33.0, 22.0]
    assert agg["run_queries"] == [
        {"q1": 1.0, "q2": 10.0}, {"q1": 3.0, "q2": 30.0}, {"q1": 2.0, "q2": 20.0}
    ]
    # the median line itself must satisfy the stdout contract
    payload = {k: agg[k] for k in ("metric", "value", "unit", "queries", "sf", "runs")}
    line = bench.final_line(payload)
    parsed = json.loads(line)
    assert parsed["queries"] == {"q1": 2.0, "q2": 20.0} and parsed["runs"] == 3
