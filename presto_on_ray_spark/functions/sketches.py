"""Mergeable sketch values (SURVEY §2.4 approximate / §7 milestone 3).

Presto exposes HyperLogLog as a first-class *value*: ``approx_set(x)``
builds a sketch per group, ``merge(hll)`` unions sketches, and
``cardinality(hll)`` reads the estimate (SURVEY §1.2 lists the HLL type
as a Spark gap). Spark's approx_count_distinct keeps its sketch
internal — so this module implements a real, mergeable HLL on plain
DataFrame primitives:

- a sketch is an ``array<long>`` of 2^p max-rank registers;
- build = groupBy(key, register) max(rank) — partial aggregation
  applies, so the shuffle carries at most |groups|·2^p rows;
- merge = element-wise max (zip_with) — associative, order-free;
- estimate = the standard HLL harmonic-mean formula with small-range
  (linear counting) correction.

Everything is built-in expressions (no UDFs, no external sketch lib),
so sketches serialize naturally to parquet and merge across datasets —
the property the reference's users get from Presto's HLL type.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_P = 8  # 2^8 = 256 registers; standard error ~1.04/sqrt(256) ≈ 6.5%
_M = 1 << _P


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def _register_and_rank(col: Column) -> tuple[Column, Column]:
    """(register index, rank) of one value's 64-bit hash.

    register = low p bits; rank = 1 + leading zeros of the remaining
    (64-p)-bit suffix, computed arithmetically (no loops): for the
    suffix s, floor(log2(s)) gives the top-bit position.
    """
    h = F.xxhash64(col)
    reg = F.pmod(h, F.lit(_M)).cast("int")
    # unsigned-shift the hash right by p bits -> 56-bit suffix
    s = F.shiftrightunsigned(h, _P)
    width = 64 - _P
    rank = F.when(s == 0, F.lit(width + 1)).otherwise(
        width - F.floor(F.log2(s.cast("double")))
    ).cast("int")
    return reg, rank


def approx_set(df: DataFrame, group_cols: list[str], value_col: str, sketch_col: str = "hll") -> DataFrame:
    """Per-group HLL sketch as an array<int> column (Presto approx_set).

    Two-phase: (group, register) max-rank — partial agg collapses most
    rows map-side — then a dense register array via map lookup.
    """
    reg, rank = _register_and_rank(F.col(value_col))
    per_reg = (
        df.select(*group_cols, reg.alias("_reg"), rank.alias("_rank"))
        .groupBy(*group_cols, "_reg")
        .agg(F.max("_rank").alias("_maxrank"))
    )
    regs = F.map_from_entries(F.collect_list(F.struct("_reg", "_maxrank")))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(_M - 1)),
        lambda i: F.coalesce(F.try_element_at(regs, i), F.lit(0)),
    )
    # NOTE: regs is referenced _M times inside the transform — but it is
    # an aggregate result (one row per group), so the cost is per-group,
    # not per-row; no persist barrier needed.
    return per_reg.groupBy(*group_cols).agg(dense.alias(sketch_col))


def hll_merge(a: Column, b: Column) -> Column:
    """Union of two sketches = element-wise max (Presto merge())."""
    return F.zip_with(a, b, lambda x, y: F.greatest(x, y))


def hll_merge_agg(col: Column | str) -> Column:
    """Aggregate form: merge sketches across rows (associative fold).

    Expressed as one MAX aggregate per register (array of 2^p partial
    aggregates), NOT collect_list-then-fold: partial (map-side)
    aggregation applies, so the per-group state is a single sketch
    (2^p ints) no matter how many input sketches merge.

    Plan-size tradeoff: this emits 2^p separate aggregate expressions,
    so codegen cost scales linearly with _P — fine at p=8, hostile at
    higher precision. For DataFrame-level rollups prefer
    ``hll_merge_grouped`` (posexplode shape: one narrow MAX aggregate
    regardless of register count)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array(
        *[F.coalesce(F.max(F.element_at(c, i + 1)), F.lit(0)) for i in range(_M)]
    )


def _densify(key_col: str, val_col: str, m: int, zero: Column) -> Column:
    """Aggregate expression: (key, val) rows of one group → dense
    array[m], missing keys filled with ``zero``."""
    entries = F.map_from_entries(F.collect_list(F.struct(key_col, val_col)))
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.coalesce(F.try_element_at(entries, i), zero),
    )


def hll_merge_grouped(
    df: DataFrame, group_cols: list[str], sketch_col: str, out_col: str = "merged"
) -> DataFrame:
    """Merge sketches across rows per group — the narrow-plan rollup.

    posexplode each sketch to (register, rank) rows, groupBy
    (group, register) MAX — a single aggregate expression, partial-agg
    friendly, plan size independent of 2^p — then re-densify per group
    (the exact shape ``approx_set`` builds with). Shuffle carries at
    most |groups|·2^p rows after map-side combine."""
    exploded = df.select(
        *group_cols, F.posexplode(sketch_col).alias("_reg", "_rank")
    )
    per_reg = exploded.groupBy(*group_cols, "_reg").agg(
        F.max("_rank").alias("_maxrank")
    )
    return per_reg.groupBy(*group_cols).agg(
        _densify("_reg", "_maxrank", _M, F.lit(0)).alias(out_col)
    )


def hll_cardinality_grouped(
    df: DataFrame, group_cols: list[str], sketch_col: str, out_col: str = "cardinality"
) -> DataFrame:
    """Fused merge + estimate: union all sketches per group and read the
    cardinality in ONE narrow aggregation — merge(a,b) is element-wise
    max, so groupBy(group, register).max followed by the harmonic-mean
    formula over (register, rank) rows is exactly
    hll_cardinality(hll_merge_grouped(...)) without materializing the
    merged register array (no densify stage, smaller codegen, same
    estimate bit-for-bit)."""
    exploded = df.select(
        *group_cols, F.posexplode(sketch_col).alias("_reg", "_rank")
    )
    per_reg = exploded.groupBy(*group_cols, "_reg").agg(F.max("_rank").alias("_r"))
    # dense sketches carry explicit rank-0 registers, so every register
    # appears: s = sum(2^-rank), zeros = count(rank == 0)
    agg = per_reg.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("_r").cast("double"))).alias("_s"),
        F.count_if(F.col("_r") == 0).alias("_z"),
    )
    raw = F.lit(_alpha(_M) * _M * _M) / F.col("_s")
    linear = F.lit(float(_M)) * F.log(F.lit(float(_M)) / F.col("_z").cast("double"))
    est = (
        F.when((raw <= 2.5 * _M) & (F.col("_z") > 0), linear).otherwise(raw).cast("long")
    )
    return agg.select(*group_cols, est.alias(out_col))


def hll_pipeline_sparse(
    df: DataFrame,
    fine_cols: list[str],
    coarse_cols: list[str],
    value_col: str,
    out_col: str = "cardinality",
) -> DataFrame:
    """Build-at-fine / merge-to-coarse / read-estimate in the SPARSE
    register form — the fastest shape for the full pipeline when only
    the coarse estimate is consumed.

    A sketch's relational form is its non-zero (register, rank) rows;
    the dense ``array<int>`` of ``approx_set`` is only needed when the
    sketch itself is stored as a value. Staying sparse makes every stage
    a trivial MAX/SUM aggregate (map-side partial-agg friendly, no
    map_from_entries/transform/posexplode codegen), and absent registers
    are algebraically rank-0: with n present registers,
    ``s = Σ2^-rank + (M - n)`` and ``zeros = M - n`` — bit-for-bit the
    estimate the dense path produces.

    Shuffle profile at scale: three hash aggregations whose state is at
    most |fine groups|·2^p, |coarse groups|·2^p, |coarse groups| rows —
    no stage ever carries arrays or per-row Python."""
    reg, rank = _register_and_rank(F.col(value_col))
    fine = (
        df.select(*fine_cols, reg.alias("_reg"), rank.alias("_rank"))
        .groupBy(*fine_cols, "_reg")
        .agg(F.max("_rank").alias("_r"))
    )
    coarse = fine.groupBy(*coarse_cols, "_reg").agg(F.max("_r").alias("_r"))
    agg = coarse.groupBy(*coarse_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("_r").cast("double"))).alias("_sp"),
        F.count("*").alias("_n"),
    )
    s = F.col("_sp") + (F.lit(float(_M)) - F.col("_n"))
    zeros = F.lit(float(_M)) - F.col("_n")
    raw = F.lit(_alpha(_M) * _M * _M) / s
    linear = F.lit(float(_M)) * F.log(F.lit(float(_M)) / zeros)
    est = (
        F.when((raw <= 2.5 * _M) & (zeros > 0), linear).otherwise(raw).cast("long")
    )
    return agg.select(*coarse_cols, est.alias(out_col))


def hll_cardinality(sketch: Column | str) -> Column:
    """Estimate distinct count from a sketch (Presto cardinality(hll)),
    with linear-counting correction for the small range."""
    s = F.col(sketch) if isinstance(sketch, str) else sketch
    raw = F.lit(_alpha(_M) * _M * _M) / F.aggregate(
        s, F.lit(0.0), lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double"))
    )
    zeros = F.size(F.filter(s, lambda r: r == 0))
    linear = F.lit(float(_M)) * F.log(F.lit(float(_M)) / zeros.cast("double"))
    return (
        F.when((raw <= 2.5 * _M) & (zeros > 0), linear).otherwise(raw).cast("long")
    )


# ---------------------------------------------------------------------------
# Quantile sketch (Presto qdigest-lite): fixed-bucket histogram over a
# declared value range. Mergeable by element-wise add (exact), quantile
# read-out accurate to one bucket width. The full qdigest's adaptive
# buckets are traded for pure-expression mergeability.
# ---------------------------------------------------------------------------
_QBUCKETS = 256


def qsketch_agg(df: DataFrame, group_cols: list[str], value_col: str,
                lo: float, hi: float, sketch_col: str = "qsk") -> DataFrame:
    """Per-group quantile sketch: array<long> of _QBUCKETS counts over
    [lo, hi). Out-of-range values clamp to the edge buckets. Built as a
    (group, bucket) count — partial aggregation collapses map-side."""
    v = F.col(value_col).cast("double")
    bucket = F.least(
        F.greatest(
            F.floor((v - F.lit(lo)) / F.lit((hi - lo) / _QBUCKETS)), F.lit(0)
        ),
        F.lit(_QBUCKETS - 1),
    ).cast("int")
    per_bucket = (
        df.select(*group_cols, bucket.alias("_b"))
        .groupBy(*group_cols, "_b")
        .agg(F.count("*").alias("_n"))
    )
    m = F.map_from_entries(F.collect_list(F.struct("_b", "_n")))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(_QBUCKETS - 1)),
        lambda i: F.coalesce(F.try_element_at(m, i), F.lit(0).cast("long")),
    )
    return per_bucket.groupBy(*group_cols).agg(dense.alias(sketch_col))


def qsketch_merge(a: Column, b: Column) -> Column:
    """Merge = element-wise add — exact and associative."""
    return F.zip_with(a, b, lambda x, y: x + y)


def qsketch_merge_grouped(
    df: DataFrame, group_cols: list[str], sketch_col: str, out_col: str = "merged"
) -> DataFrame:
    """Narrow-plan quantile-sketch rollup: posexplode → one SUM
    aggregate over (group, bucket) → densify (see hll_merge_grouped)."""
    exploded = df.select(
        *group_cols, F.posexplode(sketch_col).alias("_b", "_n")
    )
    per_bucket = exploded.groupBy(*group_cols, "_b").agg(F.sum("_n").alias("_sum"))
    return per_bucket.groupBy(*group_cols).agg(
        _densify("_b", "_sum", _QBUCKETS, F.lit(0).cast("long")).alias(out_col)
    )


def qsketch_quantile(sketch: Column | str, p: float, lo: float, hi: float) -> Column:
    """Quantile read-out: first bucket whose cumulative count reaches
    p * total, returned as the bucket's midpoint value. Accuracy:
    ±(hi-lo)/buckets."""
    s = F.col(sketch) if isinstance(sketch, str) else sketch
    total = F.aggregate(s, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.ceil(total.cast("double") * F.lit(p)).cast("long")
    # single fold carrying (cumulative, found_bucket)
    acc0 = F.struct(
        F.lit(0).cast("long").alias("cum"), F.lit(-1).cast("int").alias("idx"),
        F.lit(0).cast("int").alias("pos"),
    )
    walk = F.aggregate(
        s,
        acc0,
        lambda acc, x: F.struct(
            (acc["cum"] + x).alias("cum"),
            F.when((acc["idx"] < 0) & (acc["cum"] + x >= target), acc["pos"])
            .otherwise(acc["idx"])
            .alias("idx"),
            (acc["pos"] + 1).alias("pos"),
        ),
    )
    width = (hi - lo) / _QBUCKETS
    return F.lit(lo) + (walk["idx"].cast("double") + 0.5) * F.lit(width)


# ---------------------------------------------------------------------------
# Adaptive quantile sketch (DDSketch-style log buckets): the qdigest
# upgrade for when fixed-range buckets aren't enough. Bucket index =
# ceil(log_gamma(v)) gives a RELATIVE-error guarantee of (gamma-1)/
# (gamma+1) per quantile with no declared [lo, hi) — magnitudes from
# 1e-9 to 1e9 land in distinct buckets automatically. The sketch is a
# SPARSE map<int,long> (only occupied buckets), merge = bucket-wise
# add (exact, associative), and the build is the same narrow
# (group, bucket) count shape as qsketch_agg — partial aggregation
# collapses map-side, per-group state is bounded by occupied buckets.
# Scope: values <= 0 clamp into a reserved underflow bucket
# (documented; Presto's qdigest on doubles has the same sign split).
# ---------------------------------------------------------------------------
_DD_GAMMA = 1.02  # relative error (γ-1)/(γ+1) ≈ 0.99%
_DD_MIN_BUCKET = -(1 << 20)  # reserved underflow index for v <= 0


def _dd_bucket(v: Column) -> Column:
    ln_gamma = float(__import__("math").log(_DD_GAMMA))
    return (
        F.when(v <= 0, F.lit(_DD_MIN_BUCKET))
        .otherwise(F.ceil(F.log(v.cast("double")) / F.lit(ln_gamma)))
        .cast("int")
    )


def ddsketch_agg(
    df: DataFrame, group_cols: list[str], value_col: str, sketch_col: str = "dds"
) -> DataFrame:
    """Per-group adaptive quantile sketch as a sparse map<int,long>."""
    b = _dd_bucket(F.col(value_col))
    per_bucket = (
        df.select(*group_cols, b.alias("_b"))
        .groupBy(*group_cols, "_b")
        .agg(F.count("*").alias("_n"))
    )
    return per_bucket.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("_b", "_n")))
        ).alias(sketch_col)
    )


def ddsketch_merge_grouped(
    df: DataFrame, group_cols: list[str], sketch_col: str, out_col: str = "merged"
) -> DataFrame:
    """Merge sketches per group: explode to (bucket, count) rows, SUM —
    exact and associative, same narrow plan as qsketch_merge_grouped."""
    exploded = df.select(*group_cols, F.explode(sketch_col).alias("_b", "_n"))
    per_bucket = exploded.groupBy(*group_cols, "_b").agg(F.sum("_n").alias("_sum"))
    return per_bucket.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("_b", "_sum")))
        ).alias(out_col)
    )


def ddsketch_quantile(sketch: Column | str, p: float) -> Column:
    """Quantile read-out: walk the sorted (bucket, count) entries to the
    p-th rank; return the bucket's log-midpoint 2*γ^b/(γ+1), which is
    within (γ-1)/(γ+1) relative error of the true quantile."""
    s = F.col(sketch) if isinstance(sketch, str) else sketch
    entries = F.sort_array(F.map_entries(s))
    total = F.aggregate(
        entries, F.lit(0).cast("long"), lambda acc, e: acc + e["value"]
    )
    target = F.ceil(total.cast("double") * F.lit(p)).cast("long")
    walk = F.aggregate(
        entries,
        F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(None).cast("int").alias("idx"),
        ),
        lambda acc, e: F.struct(
            (acc["cum"] + e["value"]).alias("cum"),
            F.when(
                acc["idx"].isNull() & (acc["cum"] + e["value"] >= target), e["key"]
            )
            .otherwise(acc["idx"])
            .alias("idx"),
        ),
    )
    idx = walk["idx"]
    mid = F.lit(2.0) * F.pow(F.lit(_DD_GAMMA), idx.cast("double")) / F.lit(_DD_GAMMA + 1.0)
    return F.when(idx == _DD_MIN_BUCKET, F.lit(0.0)).otherwise(mid)
