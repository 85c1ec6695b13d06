"""Property-based tests (hypothesis) for the pure-python layers:
dialect translation and the MySQL-pattern translator. These layers are
string→string and easy to fuzz; the Spark layers are covered by the
differential suite instead."""

from __future__ import annotations

import datetime

from hypothesis import given, settings
from hypothesis import strategies as st

from presto_on_ray_spark.dialect import translate
from presto_on_ray_spark.functions.datetime_shim import translate_mysql_pattern

_IDENT = st.from_regex(r"[a-z_][a-z0-9_]{0,10}", fullmatch=True)
_LITERAL_BODY = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126, exclude_characters="'"),
    max_size=20,
)


@given(body=_LITERAL_BODY)
@settings(max_examples=200)
def test_string_literals_never_rewritten(body):
    sql = f"SELECT '{body}' AS s, approx_distinct(x) FROM t"
    out = translate(sql)
    assert f"'{body}'" in out
    assert "approx_count_distinct(x)" in out


@given(ident=_IDENT)
@settings(max_examples=200)
def test_bare_identifiers_never_rewritten(ident):
    # identifiers that happen to share a rename's name but are not a
    # call site (no parenthesis) must pass through
    sql = f"SELECT {ident}, strpos AS {ident}2 FROM cardinality"
    out = translate(sql)
    assert f"SELECT {ident}," in out
    assert "strpos AS" in out  # no '(' → untouched
    assert "FROM cardinality" in out


@given(sql=st.text(alphabet=st.sampled_from(list("abcdefg xyz,()'*=<>.123")), max_size=60))
@settings(max_examples=300)
def test_translate_idempotent(sql):
    once = translate(sql)
    assert translate(once) == once


# MySQL-pattern property: for any pattern built from supported
# specifiers, strftime on a reference datetime must reproduce the
# MySQL-documented rendering of that specifier.
_REF_DT = datetime.datetime(2024, 3, 5, 7, 9, 8, 123456)
_MYSQL_RENDER = {
    "%Y": "2024", "%y": "24", "%m": "03", "%c": "3", "%d": "05", "%e": "5",
    "%H": "07", "%k": "7", "%h": "07", "%I": "07", "%l": "7",
    "%i": "09", "%S": "08", "%s": "08", "%f": "123456",
    "%M": "March", "%b": "Mar", "%j": "065", "%p": "AM",
    "%W": "Tuesday", "%a": "Tue", "%w": "2",
    "%T": "07:09:08", "%r": "07:09:08 AM", "%%": "%",
}


@given(specs=st.lists(st.sampled_from(sorted(_MYSQL_RENDER)), min_size=1, max_size=8))
@settings(max_examples=300)
def test_mysql_pattern_renders_per_spec(specs):
    pattern = "-".join(specs)
    rendered = _REF_DT.strftime(translate_mysql_pattern(pattern))
    expected = "-".join(_MYSQL_RENDER[s] for s in specs)
    assert rendered == expected


def test_dsum_deterministic_across_partitionings(spark):
    """The determinism contract's core claim: decimal-accumulated sums
    are identical for any partitioning of the same multiset."""
    import random

    from presto_on_ray_spark.functions.numeric import dsum

    rng = random.Random(42)
    values = [round(rng.uniform(0, 100000), 2) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    results = set()
    for parts in [1, 3, 7, 32]:
        got = df.repartition(parts).agg(dsum("x").alias("s")).collect()[0].s
        results.add(got)
    assert len(results) == 1, results
    # and equals the exact decimal sum computed in python
    from decimal import Decimal

    exact = float(sum(Decimal(str(v)) for v in values))
    assert results.pop() == exact


def test_minhash_lsh_banding_s_curve(spark):
    """The 8x4 banding's S-curve, measured on synthetic pairs with
    CONTROLLED true Jaccard: candidate probability must be >= 0.95 at
    s = 0.8 (high-similarity pairs almost never slip past the bands —
    the property the dedup_lsh_keepers oracle leans on) and <= 0.30 at
    s = 0.3 (low-similarity pairs rarely waste verify work; theory:
    1-(1-s^4)^8 = 0.985 and 0.063 respectively). Deterministic seed —
    this is a measured bound, not a flaky sample."""
    import random

    from pyspark.sql import functions as F

    from presto_on_ray_spark.operators.dedup import (
        _LSH_BANDS,
        _NUM_HASHES,
        minhash_signature,
    )

    rng = random.Random(20250813)
    k = 60          # shingles per document
    n_pairs = 60    # pairs per similarity level
    rows = []
    for s_idx, s in enumerate([0.3, 0.8]):
        c = round(2 * k * s / (1 + s))  # overlap giving Jaccard ~= s
        for p in range(n_pairs):
            pool = [rng.getrandbits(60) for _ in range(2 * k - c)]
            shared = pool[:c]
            only_a = pool[c : c + (k - c)]
            only_b = pool[c + (k - c) :]
            pid = s_idx * 10_000 + p
            rows.append((pid, "a", shared + only_a))
            rows.append((pid, "b", shared + only_b))
    df = spark.createDataFrame(rows, ["pid", "side", "shingles"])
    sigs = {
        (r.pid, r.side): r.sig
        for r in df.select(
            "pid", "side", minhash_signature(F.col("shingles")).alias("sig")
        ).collect()
    }

    rpb = _NUM_HASHES // _LSH_BANDS
    def collides(pid):
        a, b = sigs[(pid, "a")], sigs[(pid, "b")]
        return any(
            a[i * rpb : (i + 1) * rpb] == b[i * rpb : (i + 1) * rpb]
            for i in range(_LSH_BANDS)
        )

    rate_low = sum(collides(p) for p in range(n_pairs)) / n_pairs
    rate_high = sum(collides(10_000 + p) for p in range(n_pairs)) / n_pairs
    assert rate_high >= 0.95, f"recall at s=0.8 too low: {rate_high}"
    assert rate_low <= 0.30, f"candidate rate at s=0.3 too high: {rate_low}"


def test_connected_components_matches_union_find(spark, loop_tiers):
    """connected_components (min-label propagation, on both the
    driver-local and the distributed tier) vs a reference union-find on
    deterministic random graphs — components and min-id labels must
    agree exactly, including star/chain/cycle shapes longer than one
    propagation hop."""
    import random

    from presto_on_ray_spark.operators.dedup import connected_components

    rng = random.Random(99)
    edges = set()
    # three chains (long diameter), one star, one cycle, random extras
    base = 0
    for length in (9, 5, 7):
        for i in range(length):
            edges.add((base + i, base + i + 1))
        base += length + 10
    hub = base + 50
    for i in range(6):
        edges.add((hub, hub + 1 + i))
    cyc = hub + 100
    for i in range(5):
        edges.add((cyc + i, cyc + (i + 1) % 5))
    for _ in range(30):
        a, b = rng.randrange(0, 400), rng.randrange(0, 400)
        if a != b:
            edges.add((min(a, b), max(a, b)))

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for n in parent:
        expected[n] = find(n)

    df = spark.createDataFrame(sorted(edges), ["doc_a", "doc_b"])
    local, distributed = loop_tiers(
        lambda: {
            r.node: r.component_id
            for r in connected_components(df, max_iterations=50).collect()
        }
    )
    assert local == expected
    assert distributed == expected


# Known non-fixpoints, by design: renames whose TARGET is itself a
# Presto name with different semantics (Presto date_format takes MySQL
# patterns, Presto split takes a literal delimiter), so a second pass
# re-rewrites the target. The engine translates exactly once
# (Engine.sql), so only double-translation — which has no defined
# semantics — observes this.
_TRANSLATE_NON_FIXPOINT = {"regexp_split", "format_datetime", "to_iso8601"}


def test_translate_idempotent_over_audit_samples():
    """translate must be a fixpoint over every audited Presto
    invocation: a second pass over already-translated SQL (renames,
    aggregate compositions, macro names) must change nothing — the
    guard against a rewrite whose own expansion re-matches another
    rewrite's pattern. The three documented name-collision renames are
    excluded (see _TRANSLATE_NON_FIXPOINT)."""
    from tests.test_fn_audit import SAMPLES

    for name, sql in SAMPLES.items():
        if name in _TRANSLATE_NON_FIXPOINT:
            continue
        once = translate(sql)
        assert translate(once) == once, name


@given(
    fn=st.sampled_from(
        [
            "entropy", "map_agg", "multimap_agg", "map_union", "histogram",
            "checksum", "geometric_mean", "reduce_agg", "map_top_n",
            "map_subset", "array_sum", "array_max_by", "none_match",
            "approx_set", "empty_approx_set", "timezone_hour",
        ]
    ),
    body=_LITERAL_BODY,
)
@settings(max_examples=200)
def test_r5_rewrites_shield_literals(fn, body):
    """The round-5 aggregate/lambda rewrites must never touch string
    literals — including literals that LOOK like calls to the very
    functions being rewritten (the r4 ADVICE regression class)."""
    sql = f"SELECT '{body} {fn}(x) tail' AS s, count(*) FROM t"
    out = translate(sql)
    assert f"'{body} {fn}(x) tail'" in out
