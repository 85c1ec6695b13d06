"""Data layout for scan-efficient storage: range-clustered writes.

At 100 TB the cheapest query is the one that never reads the bytes:
parquet readers prune row groups and files whose min/max statistics
exclude the predicate. That only works if the writer CLUSTERS rows so
each file covers a narrow key range — a shuffled write scatters every
key across every file and the stats prune nothing.

``write_clustered`` is the Spark-first form of the layout pass
(z-order-lite): a range repartition on the leading cluster keys puts
each key range in one output task, and a within-partition sort packs
row groups into monotone runs — so both file-level and row-group-level
min/max become selective. For multi-dimensional locality beyond the
leading key, interleave a computed key (e.g. hour-bucket × type) as
the first cluster column.

Companion to ``sources/tables.py`` (bucketed writes co-locate JOIN
keys; clustered writes co-locate RANGE predicates — different tools
for different reads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from presto_on_ray_spark.sources import read_parquet


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int = 8,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` range-clustered on ``cluster_cols``: each output
    file covers a contiguous key range (repartitionByRange), rows
    inside a file are sorted (sortWithinPartitions) so row-group
    min/max stats are tight. ``num_files`` bounds output file count —
    at scale pick ~(data size / 512 MB)."""
    (
        df.repartitionByRange(num_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.format(fmt)
        .mode("overwrite")
        .save(path)
    )


def _stat_ordinal(v):
    """Map a parquet statistics value onto the number line so spans can
    be compared: numerics pass through, date/datetime use their ordinal
    / epoch position. Strings and binary have no meaningful numeric
    span — callers get a loud ValueError (documented numeric-ish-only
    contract) instead of a TypeError from blind subtraction."""
    import datetime

    if isinstance(v, bool) or not isinstance(
        v, (int, float, datetime.date, datetime.datetime)
    ):
        raise ValueError(
            f"clustering_stats: column statistics of type {type(v).__name__} "
            "have no numeric span; supported types are int/float/date/timestamp"
        )
    if isinstance(v, datetime.datetime):
        return v.timestamp()
    if isinstance(v, datetime.date):
        return v.toordinal()
    return v


def pruning_stats(path: str, column: str, lo, hi) -> dict:
    """How many row groups a ``column BETWEEN lo AND hi`` predicate can
    skip on footer statistics alone — the exact check Spark's parquet
    reader performs per row group when filter pushdown is on. Counts
    are measured from the real footers (no data pages read), so this is
    the layout's scan-cost contract, not an estimate."""
    import glob
    import os

    import pyarrow.parquet as pq

    total = pruned = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    total += 1
                    a = _stat_ordinal(col.statistics.min)
                    b = _stat_ordinal(col.statistics.max)
                    if b < lo or a > hi:
                        pruned += 1
    return {"row_groups": total, "row_groups_pruned": pruned}


def layout_scan_demo(spark, sf_dir: str, base_dir: str, num_files: int = 8) -> dict:
    """The end-to-end layout story, measured: write the events table
    twice — naive (round-robin shuffle: every file spans the whole time
    range) and range-clustered on event time — then run the SAME
    trailing-5%-of-time-range predicate over both and report scan
    seconds plus footer-measured row groups skipped.

    This is the benchable half of the 100 TB storage story (bench keys
    ``layout_scan_naive`` / ``layout_scan_clustered``); the other half
    — bucketBy removing the fact-to-fact join Exchange — is plan-pinned
    in tests/test_bucketing.py. See SCALING.md §"Storage layout"."""
    import os
    import time

    from pyspark.sql import functions as F

    from presto_on_ray_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    naive = os.path.join(base_dir, "events_naive")
    clustered = os.path.join(base_dir, "events_clustered")
    ev.repartition(num_files).write.mode("overwrite").parquet(naive)
    write_clustered(ev, clustered, ["ts_us"], num_files=num_files)

    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    cut = hi - (hi - lo) // 20  # trailing 5% of the time range

    def timed_scan(path: str) -> tuple[float, int]:
        df = read_parquet(spark, path).filter(F.col("ts_us") >= cut)
        start = time.perf_counter()
        n = df.count()
        return time.perf_counter() - start, n

    t_naive, n_naive = timed_scan(naive)
    t_clustered, n_clustered = timed_scan(clustered)
    assert n_naive == n_clustered  # same relation, different layout
    return {
        "scan_naive_sec": round(t_naive, 3),
        "scan_clustered_sec": round(t_clustered, 3),
        "rows_selected": n_clustered,
        "pruning_naive": pruning_stats(naive, "ts_us", cut, hi),
        "pruning_clustered": pruning_stats(clustered, "ts_us", cut, hi),
    }


def footer_stats(path: str, ranges: dict | None = None) -> dict:
    """Footer-only facts about a parquet location (file or dataset
    dir): file/row-group/row counts plus — when ``ranges`` maps columns
    to (lo, hi) bounds, e.g. from a query's pushed filters — how many
    row groups those bounds would prune on min/max statistics alone.
    This is the same per-row-group check pruning_stats() performs,
    generalized to multiple columns; it powers EXPLAIN (TYPE IO)'s
    predicted-pruning column (engine._render_explain). Bounded work:
    footers only, never data pages."""
    import glob
    import os

    import pyarrow.parquet as pq

    targets = (
        [path]
        if os.path.isfile(path)
        else glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    files = row_groups = pruned = 0
    rows = 0
    for f in targets:
        try:
            meta = pq.ParquetFile(f).metadata
        except Exception:
            continue  # non-parquet input (csv/json locations): skip
        files += 1
        rows += meta.num_rows
        for rg_i in range(meta.num_row_groups):
            row_groups += 1
            if not ranges:
                continue
            rg = meta.row_group(rg_i)
            for ci in range(meta.num_columns):
                col = rg.column(ci)
                bounds = ranges.get(col.path_in_schema)
                if bounds is None or col.statistics is None:
                    continue
                lo, hi = bounds
                try:
                    a = _stat_ordinal(col.statistics.min)
                    b = _stat_ordinal(col.statistics.max)
                except ValueError:
                    continue  # non-numeric stats: no span check
                if (hi is not None and a > hi) or (lo is not None and b < lo):
                    pruned += 1
                    break  # one disjoint column prunes the whole group
    return {
        "files": files,
        "row_groups": row_groups,
        "rows": rows,
        "row_groups_pruned": pruned,
    }


def clustering_stats(path: str, column: str) -> dict:
    """Measure how selective the layout is for ``column``: read every
    parquet row group's min/max (footers only — no data pages) and
    report the average fraction of the global value span each row
    group covers. 1.0 = useless stats (every group spans everything);
    near 0 = perfectly clustered. Recurses into partitioned layouts
    (``**/*.parquet``); numeric/date/timestamp columns only (see
    _stat_ordinal)."""
    import glob
    import os

    import pyarrow.parquet as pq

    mins: list = []
    maxs: list = []
    spans: list[tuple] = []
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    st = col.statistics
                    a, b = _stat_ordinal(st.min), _stat_ordinal(st.max)
                    spans.append((a, b))
                    mins.append(a)
                    maxs.append(b)
    if not spans:
        return {"row_groups": 0, "avg_span_fraction": 1.0}
    lo, hi = min(mins), max(maxs)
    width = (hi - lo) if hi != lo else 1
    frac = sum((b - a) / width if hi != lo else 1.0 for a, b in spans) / len(spans)
    return {
        "row_groups": len(spans),
        "global_min": lo,
        "global_max": hi,
        "avg_span_fraction": frac,
    }


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8, rel_err: float = 0.001):
    """Add a Z-order (Morton) key column interleaving ``bits``
    quantile-bucket bits per column — multi-dimensional locality the
    1-d range clustering above cannot give: sorting by the interleaved
    key places rows close in EVERY listed dimension into the same
    files/row groups, so min/max footer stats prune on each dimension
    independently (a ts-clustered layout prunes nothing for a
    user_id-only predicate; a (ts, user_id) z-order prunes both).

    Spark-first construction, one pass + one bounded driver call:
    per-column bucket boundaries come from ONE approxQuantile call
    (2^bits - 1 cut points per column, relative error ``rel_err`` —
    quantile buckets, not min-max scaling, so skew cannot collapse the
    key space); each row's bucket comes from pyspark.ml's Bucketizer
    (JVM binary search over the deduplicated splits — O(bits) per
    value, not a linear scan of 2^bits literals); the Morton
    interleave is bits x len(cols) shift/or terms on longs. NULL and
    NaN both bucket to 0 via a -inf sentinel (the quantile sketch
    ignores them — they cluster together at the low corner); a column
    whose quantile sketch yields NO finite cuts (empty input, all
    NULL/NaN/inf — or so inf-heavy that every probe lands on inf)
    buckets constant 0, with a warning, since it can no longer order
    the key (and an all-degenerate key range-partitions into one
    file). Returns (df_with_key, key_col_name); the key name is
    collision-checked (case-insensitively, matching Spark's column
    resolution) against df's columns.

    Precision bound: bucketing runs in doubles end-to-end, so 64-bit
    integer columns with |v| > 2^53 lose resolution (neighboring ids
    collapse to one double) — cut points beyond that magnitude draw a
    warning for LONG/DECIMAL columns; pre-scale such id columns
    (right-shift constant low bits) to restore locality. Native
    double columns past 2^53 are already at their stored precision
    and stay silent.

    Width contract, refused loudly outside it: 1 <= bits <= 20 AND
    bits * len(cols) <= 63. Position 63 is the long's sign bit
    (negative keys would range-sort before everything) and shifts
    past 63 silently wrap (Java masks the shift amount mod 64);
    past 20 bits the 2^bits - 1 quantile probes and the exactness of
    the bucket rescale stop holding.

    At 100 TB: the approxQuantile sketch is a bounded single pass
    (exactly how Delta's OPTIMIZE ZORDER BY computes its range ids);
    everything after is map-side expression work feeding the same
    repartitionByRange + sortWithinPartitions write as
    write_clustered."""
    from pyspark.ml.feature import Bucketizer
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("zorder_key: at least one column required")
    if bits < 1 or bits > 20 or bits * len(cols) > 63:
        raise ValueError(
            f"zorder_key: need 1 <= bits <= 20 and bits * len(cols) <= 63 "
            f"(got bits={bits}, cols={len(cols)}): bit 63 is the long "
            f"sign bit and Java shift amounts wrap mod 64, so wider keys "
            f"silently destroy z-order locality; past 20 bits the "
            f"2^bits - 1 quantile probes and the rescale product also "
            f"stop being practical/exact"
        )

    # Spark column resolution is case-INSENSITIVE by default, so the
    # collision check must be too, or a user column differing only in
    # case would be silently clobbered and dropped.
    used = {c.lower() for c in df.columns}

    def fresh(name: str) -> str:
        while name.lower() in used:
            name += "_"
        used.add(name.lower())
        return name

    for c in cols:
        if not all(ch.isalnum() or ch == "_" for ch in c):
            raise ValueError(
                f"zorder_key: column name {c!r} contains characters that "
                f"Spark's name-based APIs parse specially (approxQuantile "
                f"and Bucketizer both resolve dotted names as struct "
                f"access) — rename or alias the column to an identifier "
                f"first"
            )
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    boundaries = df.stat.approxQuantile(cols, probs, rel_err)
    import math
    import warnings

    neg_inf = F.lit(float("-inf"))
    splits_arr, srcs, dsts = [], [], []
    sentinels = []
    # per input column: (dst name, max_idx), or (None, 0) = constant 0
    buckets: list = []
    from pyspark.sql.types import DecimalType, LongType

    def _dtype_of(name: str):
        # exact-name match first (correct under spark.sql.caseSensitive
        # = true, where two columns may differ only in case), then the
        # default case-insensitive resolution
        for f in df.schema.fields:
            if f.name == name:
                return f.dataType
        for f in df.schema.fields:
            if f.name.lower() == name.lower():
                return f.dataType
        return None

    def _double_loss_threshold(dt):
        # the magnitude past which the double path stops distinguishing
        # neighboring EXACT values of this type: longs step by 1 (ulp
        # exceeds 1 at 2^53); decimal(p, s) steps by 10^-s, so the
        # threshold scales down by 10^s. Native floats/doubles are
        # already at their stored precision — no threshold, no warning.
        if isinstance(dt, LongType):
            return float(1 << 53)
        if isinstance(dt, DecimalType):
            return float(1 << 53) * (10.0 ** -dt.scale)
        return None

    for c, cuts in zip(cols, boundaries):
        # Bucketizer wants strictly increasing FINITE interior splits:
        # duplicate quantiles (heavy skew) just mean fewer distinct
        # buckets, and +/-inf cuts (a column with many infinities)
        # would collide with the outer sentinels — both filtered here.
        interior = sorted({float(v) for v in cuts if math.isfinite(v)})
        threshold = _double_loss_threshold(_dtype_of(c))
        if (
            threshold is not None
            and interior
            and max(abs(interior[0]), abs(interior[-1])) >= threshold
        ):
            # the whole bucketing path (approxQuantile, the -inf
            # sentinel cast, Bucketizer) runs in doubles: exact values
            # past the type's threshold collapse to shared doubles
            # (longs past 2^53 — fine for unix_micros until year
            # ~2255, wrong for snowflake ids; decimal(p, s) past
            # 2^53 / 10^s), so cut points — and the key's locality —
            # silently lose resolution there. Layout is
            # performance-only, so warn rather than refuse.
            warnings.warn(
                f"zorder_key: column {c!r} has quantile cuts past "
                f"{threshold:.4g}, where the double-based bucketing "
                f"cannot distinguish this exact type's neighboring "
                f"values — bucket boundaries (and z-order locality on "
                f"this column) lose resolution. Pre-scale such id "
                f"columns (e.g. right-shift their constant low bits) "
                f"before z-ordering",
                stacklevel=2,
            )
        if not interior:
            # no finite quantile cuts (empty input, all NULL/NaN/inf,
            # or inf-heavy enough that every probe lands on inf):
            # Bucketizer rejects a 2-element [-inf, inf] splits array,
            # and there is nothing to order on — constant 0, loudly.
            import warnings

            warnings.warn(
                f"zorder_key: column {c!r} produced no finite quantile "
                f"cuts and cannot contribute to the z-order key "
                f"(bucketed constant 0)",
                stacklevel=2,
            )
            buckets.append((None, 0))
            continue
        splits_arr.append([float("-inf")] + interior + [float("inf")])
        src = fresh(f"_z_in_{c}")
        dst = fresh(f"_z_b_{c}")
        srcs.append(src)
        dsts.append(dst)
        buckets.append((dst, len(interior)))
        # NULL and NaN -> -inf -> always bucket 0, the documented
        # low-corner placement. -inf cannot be absorbed by float
        # rounding (a finite sentinel like lowest_cut - 1 silently
        # equals the cut once |cut| >= 2^53) and Bucketizer would
        # reject NULL/NaN outright.
        sentinels.append(
            F.coalesce(F.nanvl(F.col(c).cast("double"), neg_inf), neg_inf)
        )
    work = df.select("*", *[s.alias(n) for s, n in zip(sentinels, srcs)])
    if srcs:
        work = Bucketizer(
            splitsArray=splits_arr, inputCols=srcs, outputCols=dsts
        ).transform(work)
    key = F.lit(0).cast("long")
    for j, (dst, max_idx) in enumerate(buckets):
        if dst is None:
            continue  # constant-0 bucket contributes no set bits
        # deduping the splits shrinks a low-cardinality column's
        # bucket index range to [0, n_distinct_cuts]; left unscaled,
        # those indices occupy only the LOW interleave bits and the
        # column's locality vanishes from the key's high bits. Scale
        # each index back onto the full [0, 2^bits - 1] range (exact
        # in doubles under the bits <= 20 cap: idx * M <= 2^40 <
        # 2^53). max_idx >= 1 here — empty interiors continued above.
        bucket = F.floor(F.col(dst) * ((1 << bits) - 1) / max_idx).cast(
            "long"
        )
        for i in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                    i * len(cols) + j,
                )
            )
    k = fresh("_zkey")
    out = work.withColumn(k, key)
    for tmp in dsts + srcs:
        out = out.drop(tmp)
    return out, k


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 8,
    bits: int = 8,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` Z-ordered on ``cols``: range-repartition and sort
    by the Morton key (zorder_key), drop the key, write. Same shuffle
    shape as write_clustered — ONE range exchange sized by num_files —
    but the resulting footer stats are selective on every listed
    column, not just the leading one."""
    zdf, k = zorder_key(df, cols, bits=bits)
    (
        zdf.repartitionByRange(num_files, k)
        .sortWithinPartitions(k)
        .drop(k)
        .write.format(fmt)
        .mode("overwrite")
        .save(path)
    )


def layout_zorder_demo(spark, sf_dir: str, base_dir: str, num_files: int = 32) -> dict:
    """The multi-dimensional layout story, measured (companion to
    layout_scan_demo): write events range-clustered on time alone vs
    z-ordered on (time, user) and probe both with the SAME 2-d box
    predicate (middle ~20% of each dimension) plus each single-
    dimension predicate. Footer-measured row-group pruning shows the
    trade: the 1-d layout is perfect on its leading key and BLIND on
    user_id (every row group spans all users); the z-order prunes on
    both. Measured at sf0.1 / 32 row groups with the middle-20% box:
    box pruning 24/32 for BOTH layouts, while single-dimension
    pruning is ts 12 + user 19 for z-order vs ts 24 + user 0 for the
    1-d layout. Scan times and row-count equality (layouts are
    semantics-preserving) are returned alongside."""
    import os
    import time

    from pyspark.sql import functions as F

    from presto_on_ray_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    clustered = os.path.join(base_dir, "events_ts_clustered")
    zordered = os.path.join(base_dir, "events_zorder")
    write_clustered(ev, clustered, ["ts_us"], num_files=num_files)
    write_zordered(ev, zordered, ["ts_us", "user_id"], num_files=num_files)

    t_lo, t_hi, u_lo, u_hi = ev.select(
        F.percentile_approx("ts_us", 0.4),
        F.percentile_approx("ts_us", 0.6),
        F.percentile_approx("user_id", 0.4),
        F.percentile_approx("user_id", 0.6),
    ).first()
    box = {"ts_us": (t_lo, t_hi), "user_id": (u_lo, u_hi)}

    def timed_scan(path: str) -> tuple[float, int]:
        df = (
            read_parquet(spark, path)
            .filter(F.col("ts_us").between(t_lo, t_hi))
            .filter(F.col("user_id").between(u_lo, u_hi))
        )
        start = time.perf_counter()
        n = df.count()
        return time.perf_counter() - start, n

    t_c, n_c = timed_scan(clustered)
    t_z, n_z = timed_scan(zordered)
    assert n_c == n_z  # same relation, different layout
    return {
        "scan_clustered_sec": round(t_c, 3),
        "scan_zorder_sec": round(t_z, 3),
        "rows_selected": n_z,
        "box": box,
        "pruning_box_clustered": footer_stats(clustered, box),
        "pruning_box_zorder": footer_stats(zordered, box),
        "pruning_ts_clustered": footer_stats(clustered, {"ts_us": box["ts_us"]}),
        "pruning_ts_zorder": footer_stats(zordered, {"ts_us": box["ts_us"]}),
        "pruning_user_clustered": footer_stats(
            clustered, {"user_id": box["user_id"]}
        ),
        "pruning_user_zorder": footer_stats(zordered, {"user_id": box["user_id"]}),
    }
